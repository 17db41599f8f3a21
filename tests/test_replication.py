"""Incremental replication over the change feed (replication.py):
convergence, compaction-neutrality (rewrites ship zero rows), crash
idempotency recovered from the replica's own log, aggregation-table
convergence through independent collapse schedules, delete/update/
merge and schema-evolution replay, the file-shipping fast path and the
loud safety bounds."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sleeper_spark import replication
from sleeper_spark.properties import TableProperties
from sleeper_spark.schema import Field, Schema
from sleeper_spark.table import SleeperTable


def _schema():
    return Schema(
        row_key_fields=(Field("k", T.LongType()),),
        sort_key_fields=(),
        value_fields=(Field("v", T.LongType()),),
    )


def _rows(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").alias("k"),
                                      (F.col("id") * 10).alias("v"))


def _sorted_rows(t):
    return sorted((r.k, r.v) for r in t.full_scan().collect())


class TestReplication:
    def test_converges_and_ships_only_appends(self, spark, tmp_path):
        src = SleeperTable.create(spark, str(tmp_path / "src"), _schema())
        dst = SleeperTable.create(spark, str(tmp_path / "dst"), _schema())
        src.ingest(_rows(spark, 0, 100))
        src.ingest(_rows(spark, 100, 200))

        steps = replication.sync_cdc_to_head(src, dst)
        assert steps[-1]["caught_up"]
        assert _sorted_rows(dst) == _sorted_rows(src)

        # compaction on the source must ship NOTHING
        src.compact()
        s = replication.sync_cdc(src, dst)
        assert s["files_ingested"] == 0 and s["caught_up"]
        assert _sorted_rows(dst) == _sorted_rows(src)

        # further appends flow; the replica compacts on its own schedule
        src.ingest(_rows(spark, 200, 250))
        replication.sync_cdc_to_head(src, dst)
        dst.compact()
        assert _sorted_rows(dst) == _sorted_rows(src)

    def test_sync_is_idempotent_and_crash_replayable(self, spark,
                                                     tmp_path):
        src = SleeperTable.create(spark, str(tmp_path / "src"), _schema())
        dst = SleeperTable.create(spark, str(tmp_path / "dst"), _schema())
        src.ingest(_rows(spark, 0, 50))
        s1 = replication.sync_cdc(src, dst)
        assert s1["files_ingested"] >= 1

        # caught-up re-run: no-op
        s2 = replication.sync_cdc(src, dst)
        assert s2["files_ingested"] == 0 and s2["caught_up"]

        # crash-after-ingest replay: re-running the SAME range's ingest
        # (what a restarted syncer would do if it died before observing
        # its own commit) dedupes in the state store — zero new refs
        rows, to_seq = src.poll_changes(0)
        job = f"{replication.source_prefix(src)}0-{to_seq}"
        assert dst.ingest(rows, job_id=job) == []
        assert _sorted_rows(dst) == _sorted_rows(src)

    def test_watermark_recovered_from_replica_log(self, spark, tmp_path):
        src = SleeperTable.create(spark, str(tmp_path / "src"), _schema())
        dst = SleeperTable.create(spark, str(tmp_path / "dst"), _schema())
        src.ingest(_rows(spark, 0, 30))
        replication.sync_cdc(src, dst)
        applied = replication.applied_seq(dst)
        assert applied == src.store.current_seq

        # a FRESH handle on the replica path (process restart) sees the
        # same watermark — no side state beyond the transaction log
        dst2 = SleeperTable.load(spark, dst.path)
        assert replication.applied_seq(dst2) == applied

    def test_bounded_catchup_batches(self, spark, tmp_path):
        src = SleeperTable.create(spark, str(tmp_path / "src"), _schema())
        dst = SleeperTable.create(spark, str(tmp_path / "dst"), _schema())
        for i in range(4):
            src.ingest(_rows(spark, i * 10, (i + 1) * 10))
        steps = replication.sync_cdc_to_head(src, dst, max_seqs=1)
        assert len(steps) >= 4  # one source seq at a time
        assert _sorted_rows(dst) == _sorted_rows(src)

    def test_aggregation_tables_converge(self, spark, tmp_path):
        props = TableProperties(aggregations="sum(v)")
        src = SleeperTable.create(spark, str(tmp_path / "src"), _schema(),
                                  props=props)
        dst = SleeperTable.create(spark, str(tmp_path / "dst"), _schema(),
                                  props=props)
        # same keys appended twice: reads collapse via sum
        src.ingest(_rows(spark, 0, 40))
        src.ingest(_rows(spark, 0, 40))
        src.compact()  # source collapses BEFORE replication catches up
        replication.sync_cdc_to_head(src, dst)
        # the feed shipped the RAW appends; the replica's own read-time
        # collapse yields the identical aggregate view
        assert _sorted_rows(dst) == _sorted_rows(src)

    def test_two_sources_one_replica_independent_watermarks(
            self, spark, tmp_path):
        """The default prefix is derived from SOURCE identity: two
        sources with unrelated seq spaces syncing into one replica
        must not corrupt each other's watermark (a shared prefix would
        max the ``to`` across both and silently skip the lagging
        source's data)."""
        a = SleeperTable.create(spark, str(tmp_path / "a"), _schema())
        b = SleeperTable.create(spark, str(tmp_path / "b"), _schema())
        dst = SleeperTable.create(spark, str(tmp_path / "d"), _schema())
        # a runs far ahead in seq space before b syncs at all
        for i in range(4):
            a.ingest(_rows(spark, i * 10, (i + 1) * 10))
        replication.sync_cdc(a, dst)
        b.ingest(_rows(spark, 1000, 1020))
        s = replication.sync_cdc(b, dst)
        assert s["files_ingested"] >= 1  # NOT skipped by a's watermark
        want = sorted(_sorted_rows(a) + _sorted_rows(b))
        assert _sorted_rows(dst) == want
        # each source's watermark is its own
        assert (replication.applied_seq(dst, replication.source_prefix(b))
                == b.store.current_seq)

    def test_schema_drift_refused_then_syncs_after_evolution(
            self, spark, tmp_path):
        src = SleeperTable.create(spark, str(tmp_path / "src"), _schema())
        dst = SleeperTable.create(spark, str(tmp_path / "dst"), _schema())
        src.ingest(_rows(spark, 0, 20))
        replication.sync_cdc(src, dst)

        # the replica drifts with no EVOLVE record in the source window;
        # a sync must refuse LOUDLY (a silent sync would drop the new
        # column from shipped rows) and ship nothing
        extra = Field("extra", T.LongType(), True)
        dst.add_value_column(extra)
        src.ingest(_rows(spark, 20, 30))
        with pytest.raises(ValueError, match="schema"):
            replication.sync_cdc(src, dst)
        assert dst.full_scan().count() == 20

        # evolve the source the same way -> sync flows, column intact
        src.add_value_column(extra)
        src.ingest(_rows(spark, 30, 40).withColumn(
            "extra", F.col("k") * 100))
        steps = replication.sync_cdc_to_head(src, dst)
        assert steps[-1]["caught_up"]
        got = sorted((r.k, r.v, r.extra)
                     for r in dst.full_scan().collect())
        want = sorted((r.k, r.v, r.extra)
                      for r in src.full_scan().collect())
        assert got == want
        assert any(e is not None for _, _, e in got)


def _full_schema():
    return Schema(
        row_key_fields=(Field("k", T.LongType()),),
        sort_key_fields=(),
        value_fields=(Field("v", T.LongType()),
                      Field("s", T.StringType(), True)),
    )


def _frows(spark, lo, hi, tag="a"):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
        F.lit(tag).alias("s"))


def _fsorted(t):
    return sorted((r.k, r.v, r.s) for r in t.full_scan().collect())


class TestSyncCdc:
    def test_converges_through_full_history(self, spark, tmp_path):
        """ingest + delete + update + merge on the source, replica
        hash-equals without a re-seed (r9 VERDICT Next #3)."""
        from sleeper_spark.ranges import Range, Region
        src = SleeperTable.create(spark, str(tmp_path / "s"),
                                  _full_schema(), split_points=[500])
        dst = SleeperTable.create(spark, str(tmp_path / "d"),
                                  _full_schema(), split_points=[500])
        src.ingest(_frows(spark, 0, 400))
        src.ingest(_frows(spark, 400, 1000))
        src.delete_where(regions=[Region.of(Range("k", 100, 150))])
        src.update_where({"s": "upd"},
                         regions=[Region.of(Range("k", 200, 260))])
        merge_src = _frows(spark, 950, 1100, tag="m")
        src.merge_upsert(merge_src)
        src.ingest(_frows(spark, 2000, 2050, tag="late"))
        src.compact()  # rewrites must stay content-neutral
        s = replication.sync_cdc(src, dst)
        assert s["caught_up"]
        assert s["deletes_applied"] == 1
        assert s["updates_applied"] == 1
        assert s["merges_applied"] == 1
        assert _fsorted(dst) == _fsorted(src)
        # steady state: repeated calls no-op
        s2 = replication.sync_cdc(src, dst)
        assert s2["caught_up"] and s2["files_ingested"] == 0
        assert s2["rows_deleted"] == 0

    def test_crash_replay_safe_mid_history(self, spark, tmp_path):
        """Each event is individually durable+idempotent: bounded
        steps (max_seqs=1) replayed from scratch between every step
        must converge to the same state — and re-running a fully
        synced replica changes nothing. Critically, a delete replay
        must NOT re-kill identical rows re-ingested AFTER the delete
        (ordering is enforced by the per-event watermark)."""
        from sleeper_spark.ranges import Range, Region
        src = SleeperTable.create(spark, str(tmp_path / "s"),
                                  _full_schema())
        dst = SleeperTable.create(spark, str(tmp_path / "d"),
                                  _full_schema())
        src.ingest(_frows(spark, 0, 100))
        src.delete_where(regions=[Region.of(Range("k", 10, 20))])
        # re-ingest the EXACT rows the delete removed — the poison
        # case for a replayed delete
        src.ingest(_frows(spark, 10, 20))
        src.update_where({"s": "u2"},
                         regions=[Region.of(Range("k", 50, 60))])
        src.merge_upsert(_frows(spark, 95, 105, tag="m"))
        for _ in range(40):  # one seq at a time, re-entering each time
            s = replication.sync_cdc(src, dst, max_seqs=1)
            if s["caught_up"]:
                break
        assert s["caught_up"]
        assert _fsorted(dst) == _fsorted(src)
        # full-window re-run after convergence: watermark holds
        s2 = replication.sync_cdc(src, dst)
        assert s2["files_ingested"] == 0 and s2["rows_deleted"] == 0
        assert _fsorted(dst) == _fsorted(src)

    def test_aggregation_table_delete_via_key_groups(self, spark,
                                                     tmp_path):
        """On aggregation tables the replica's physical rows differ
        (independent compaction), so the CDC delete applies key-exact
        delete_where — whole key groups, the same unit the source
        delete used."""
        from sleeper_spark.ranges import Range, Region
        props = TableProperties(aggregations="sum(v)")
        src = SleeperTable.create(spark, str(tmp_path / "s"), _schema(),
                                  props=props)
        dst = SleeperTable.create(spark, str(tmp_path / "d"), _schema(),
                                  props=props)
        src.ingest(_rows(spark, 0, 40))
        src.ingest(_rows(spark, 0, 40))  # duplicate keys pre-collapse
        replication.sync_cdc(src, dst)
        dst.compact()  # replica collapses on ITS schedule
        src.delete_where(regions=[Region.of(Range("k", 10, 20))])
        s = replication.sync_cdc(src, dst)
        assert s["caught_up"] and s["deletes_applied"] == 1
        assert _sorted_rows(dst) == _sorted_rows(src)
        assert all(not (10 <= k < 20) for k, _v in _sorted_rows(dst))

    def test_sort_keyed_aggregation_delete_uses_full_key_group(
            self, spark, tmp_path):
        """r10 ADVICE (high): aggregation key groups are row keys +
        SORT keys (processing groups on schema.key_names), and a
        source delete may legally constrain a sort key. Replaying it
        by row keys only would delete EVERY sort-key group sharing
        the row key — here, the 'keep' groups must survive on the
        replica."""
        from sleeper_spark.ranges import Range, Region
        schema = Schema(
            row_key_fields=(Field("k", T.LongType()),),
            sort_key_fields=(Field("g", T.StringType()),),
            value_fields=(Field("v", T.LongType()),),
        )
        props = TableProperties(aggregations="sum(v)")
        src = SleeperTable.create(spark, str(tmp_path / "s"), schema,
                                  props=props)
        dst = SleeperTable.create(spark, str(tmp_path / "d"), schema,
                                  props=props)

        def grows(tag):
            return spark.range(0, 30).select(
                F.col("id").alias("k"), F.lit(tag).alias("g"),
                (F.col("id") * 10).alias("v"))

        src.ingest(grows("del"))
        src.ingest(grows("keep"))
        src.ingest(grows("keep"))  # duplicate pre-collapse rows
        replication.sync_cdc(src, dst)
        dst.compact()  # replica collapses on ITS schedule
        # delete ONE sort-key group of a row-key range on the source
        src.delete_where(regions=[Region.of(
            Range("k", 5, 15), Range("g", "del", "del", True, True))])
        s = replication.sync_cdc(src, dst)
        assert s["caught_up"] and s["deletes_applied"] == 1

        def rows(t):
            return sorted((r.k, r.g, r.v)
                          for r in t.full_scan().collect())
        assert rows(dst) == rows(src)
        # the co-keyed 'keep' group survived the replayed delete
        kept = [(k, g) for k, g, _v in rows(dst) if 5 <= k < 15]
        assert kept == [(k, "keep") for k in range(5, 15)]

    def test_delete_of_nan_rows_converges(self, spark, tmp_path):
        """r10 ADVICE (low): tombstones are the literal removed rows,
        so a source delete whose removed rows hold float NaN must
        still replay (match_nan in the CDC path) instead of raising
        forever and forcing a re-seed."""
        import math

        from sleeper_spark.ranges import Range, Region
        schema = Schema(
            row_key_fields=(Field("k", T.LongType()),),
            sort_key_fields=(),
            value_fields=(Field("v", T.DoubleType(), True),),
        )
        src = SleeperTable.create(spark, str(tmp_path / "s"), schema)
        dst = SleeperTable.create(spark, str(tmp_path / "d"), schema)
        rows = spark.range(0, 40).select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 3 == 0, float("nan"))
            .otherwise(F.col("id") * 1.5).alias("v"))
        src.ingest(rows)
        replication.sync_cdc(src, dst)
        src.delete_where(regions=[Region.of(Range("k", 0, 10))])
        s = replication.sync_cdc(src, dst)  # window holds NaN rows
        assert s["caught_up"] and s["rows_deleted"] == 10

        def canon(t):
            return sorted(
                (r.k, "nan" if r.v is not None and math.isnan(r.v)
                 else r.v) for r in t.full_scan().collect())
        assert canon(dst) == canon(src)
        assert all(k >= 10 for k, _v in canon(dst))

    def test_conditional_merge_replays_pure_deletions(self, spark,
                                                      tmp_path):
        """A merge_when commit can tombstone key groups with NO
        replacement rows (WHEN MATCHED DELETE): the CDC replay must
        ship those as delete_keys, or the deleted groups silently
        survive on the replica."""
        src = SleeperTable.create(spark, str(tmp_path / "s"),
                                  _full_schema())
        dst = SleeperTable.create(spark, str(tmp_path / "d"),
                                  _full_schema())
        src.ingest(_frows(spark, 0, 100))
        replication.sync_cdc(src, dst)
        # conditional merge: delete keys 10-19 outright, bump 20-29,
        # insert 200-204 — one MERGE_FILES commit
        # the table has a column literally named "s": the default
        # source alias would be ambiguous, so pass explicit aliases
        mw_src = _frows(spark, 10, 30, tag="s").unionByName(
            _frows(spark, 200, 205, tag="new"))
        res = src.merge_when(
            mw_src,
            update_set={"s": "'bumped'"},
            update_condition="src.k >= 20",
            delete_condition="src.k < 20",
            target_alias="tgt", source_alias="src")
        assert res["groups_deleted"] == 10
        s = replication.sync_cdc(src, dst)
        assert s["caught_up"] and s["merges_applied"] == 1
        assert _fsorted(dst) == _fsorted(src)
        assert dst.full_scan().where("k >= 10 AND k < 20").isEmpty()
        assert dst.full_scan().where("s = 'bumped'").count() == 10

    def test_inflight_claim_is_barrier(self, spark, tmp_path):
        """A delete claim whose commit has not landed stops the step
        BEFORE its seq (caught_up False); after the commit lands the
        next step applies it in order."""
        src = SleeperTable.create(spark, str(tmp_path / "s"),
                                  _full_schema())
        dst = SleeperTable.create(spark, str(tmp_path / "d"),
                                  _full_schema())
        src.ingest(_frows(spark, 0, 50))
        refs = list(src.store.all_references())
        src.store.assign_job_ids("delete-inflight", refs)
        src.ingest(_frows(spark, 50, 60))
        s = replication.sync_cdc(src, dst)
        assert not s["caught_up"]
        # rows after the barrier are NOT applied yet
        assert all(k < 50 for k, _v, _s in _fsorted(dst))
        src.store.unassign_job_ids("delete-inflight")
        s2 = replication.sync_cdc(src, dst)
        assert s2["caught_up"]
        assert _fsorted(dst) == _fsorted(src)


class TestSyncCdcSchemaEvolution:
    """r10 VERDICT Next #3: source schema evolutions are log records
    (EVOLVE_SCHEMA) that sync_cdc replays onto the replica — an
    evolving source converges without operator intervention."""

    def test_add_column_replays_and_converges(self, spark, tmp_path):
        src = SleeperTable.create(spark, str(tmp_path / "s"), _schema())
        dst = SleeperTable.create(spark, str(tmp_path / "d"), _schema())
        src.ingest(_rows(spark, 0, 50))
        replication.sync_cdc(src, dst)
        src.add_value_column(Field("w", T.StringType(), True))
        src.ingest(spark.range(50, 80).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
            F.lit("wide").alias("w")))
        s = replication.sync_cdc(src, dst)
        assert s["caught_up"] and s["schema_evolutions_applied"] == 1
        assert [f.name for f in dst.schema.all_fields()] \
            == ["k", "v", "w"]

        def rows(t):
            return sorted((r.k, r.v, r.w)
                          for r in t.full_scan().collect())
        assert rows(dst) == rows(src)
        assert any(w == "wide" for _k, _v, w in rows(dst))
        assert any(w is None for _k, _v, w in rows(dst))  # old rows pad
        # steady state: no re-application
        s2 = replication.sync_cdc(src, dst)
        assert s2["schema_evolutions_applied"] == 0 and s2["caught_up"]

    def test_drop_column_replays_and_converges(self, spark, tmp_path):
        src = SleeperTable.create(spark, str(tmp_path / "s"),
                                  _full_schema())
        dst = SleeperTable.create(spark, str(tmp_path / "d"),
                                  _full_schema())
        src.ingest(_frows(spark, 0, 40))
        replication.sync_cdc(src, dst)
        src.drop_value_column("s")
        # post-drop appends no longer carry the column: the replica
        # must apply the drop BEFORE ingesting them (eager replay)
        src.ingest(spark.range(40, 60).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")))
        s = replication.sync_cdc(src, dst)
        assert s["caught_up"] and s["schema_evolutions_applied"] == 1
        assert [f.name for f in dst.schema.all_fields()] == ["k", "v"]
        assert _sorted_rows(dst) == _sorted_rows(src)

    def test_bounded_steps_replay_evolution_in_order(self, spark,
                                                     tmp_path):
        """max_seqs=1 stepping re-enters between every seq: the
        evolution applies exactly once, idempotently across replays,
        and data before/after it ships through the right schema."""
        src = SleeperTable.create(spark, str(tmp_path / "s"), _schema())
        dst = SleeperTable.create(spark, str(tmp_path / "d"), _schema())
        src.ingest(_rows(spark, 0, 30))
        src.add_value_column(Field("w", T.LongType(), True))
        src.ingest(spark.range(30, 50).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
            (F.col("id") + 1).alias("w")))
        steps = replication.sync_cdc_to_head(src, dst, max_seqs=1)
        assert sum(s["schema_evolutions_applied"] for s in steps) == 1

        def rows(t):
            return sorted((r.k, r.v, r.w)
                          for r in t.full_scan().collect())
        assert rows(dst) == rows(src)

    def test_manually_pre_evolved_replica_skips_idempotently(
            self, spark, tmp_path):
        src = SleeperTable.create(spark, str(tmp_path / "s"), _schema())
        dst = SleeperTable.create(spark, str(tmp_path / "d"), _schema())
        src.ingest(_rows(spark, 0, 20))
        replication.sync_cdc(src, dst)
        f = Field("w", T.StringType(), True)
        src.add_value_column(f)
        dst.add_value_column(f)  # operator ran ahead
        src.ingest(spark.range(20, 30).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
            F.lit("x").alias("w")))
        s = replication.sync_cdc(src, dst)
        assert s["caught_up"] and s["schema_evolutions_applied"] == 0

        def rows(t):
            return sorted((r.k, r.v, r.w)
                          for r in t.full_scan().collect())
        assert rows(dst) == rows(src)

    def test_divergent_evolution_refused(self, spark, tmp_path):
        """The replica evolved the SAME name to a different shape:
        replaying the source's record must refuse loudly (re-seed),
        never silently reconcile."""
        src = SleeperTable.create(spark, str(tmp_path / "s"), _schema())
        dst = SleeperTable.create(spark, str(tmp_path / "d"), _schema())
        src.ingest(_rows(spark, 0, 20))
        replication.sync_cdc(src, dst)
        src.add_value_column(Field("w", T.StringType(), True))
        dst.add_value_column(Field("w", T.LongType(), True))
        with pytest.raises(ValueError, match="divergently"):
            replication.sync_cdc(src, dst)

    def test_crash_between_log_record_and_table_json(self, spark,
                                                     tmp_path,
                                                     monkeypatch):
        """Log-first ordering makes the evolution crash-recoverable:
        a source that dies between the EVOLVE_SCHEMA commit and the
        table.json rewrite simply RE-RUNS add_value_column (its schema
        check reads the old table.json, so it does not refuse) — the
        log then holds two identical records, and the replica applies
        the first and skips the second idempotently."""
        import builtins

        src = SleeperTable.create(spark, str(tmp_path / "s"), _schema())
        dst = SleeperTable.create(spark, str(tmp_path / "d"), _schema())
        src.ingest(_rows(spark, 0, 20))
        replication.sync_cdc(src, dst)

        f = Field("w", T.StringType(), True)
        real_open = builtins.open

        def crash_on_table_json(path, *a, **kw):
            if str(path).endswith("table.json.tmp"):
                raise RuntimeError("injected crash before table.json")
            return real_open(path, *a, **kw)

        monkeypatch.setattr(builtins, "open", crash_on_table_json)
        with pytest.raises(RuntimeError, match="injected crash"):
            src.add_value_column(f)
        monkeypatch.setattr(builtins, "open", real_open)
        # the record is in the log; table.json (and the live schema)
        # are still pre-evolution — the documented recovery is re-run
        assert [x.name for x in src.schema.all_fields()] == ["k", "v"]
        src.add_value_column(f)  # re-run does NOT refuse
        assert [x.name for x in src.schema.all_fields()] \
            == ["k", "v", "w"]
        evo_count = sum(
            1 for _s, tx in src.store.transactions_between(0)
            if tx.get("type") == "EVOLVE_SCHEMA")
        assert evo_count == 2  # duplicate records, by design
        src.ingest(spark.range(20, 30).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
            F.lit("x").alias("w")))
        s = replication.sync_cdc(src, dst)
        assert s["caught_up"]
        assert s["schema_evolutions_applied"] == 1  # second one skips

        def rows(t):
            return sorted((r.k, r.v, r.w)
                          for r in t.full_scan().collect())
        assert rows(dst) == rows(src)

    def test_unexplained_drift_still_refused(self, spark, tmp_path):
        """Replica-only drift (no EVOLVE record in the source window)
        keeps the strict refusal, whether or not the window holds
        data."""
        src = SleeperTable.create(spark, str(tmp_path / "s"), _schema())
        dst = SleeperTable.create(spark, str(tmp_path / "d"), _schema())
        src.ingest(_rows(spark, 0, 20))
        replication.sync_cdc(src, dst)
        dst.add_value_column(Field("w", T.StringType(), True))
        with pytest.raises(ValueError, match="schema"):
            replication.sync_cdc(src, dst)  # caught up: nothing to ship
        src.ingest(_rows(spark, 20, 30))
        with pytest.raises(ValueError, match="schema"):
            replication.sync_cdc(src, dst)


def test_cdc_replica_file_count_stays_bounded(spark, tmp_path):
    """r10 VERDICT Next #6: sync_cdc_to_head folds the replica's own
    strategy-gated compact() between steps, so a 50-event replay does
    not accrete 50 generations of small files — the file count stays
    O(leaves), and the replica still hash-equals the source."""
    from sleeper_spark.ranges import Range, Region
    src = SleeperTable.create(spark, str(tmp_path / "s"),
                              _full_schema())
    dst = SleeperTable.create(spark, str(tmp_path / "d"),
                              _full_schema())
    # 50 content events: appends with periodic deletes and updates
    n = 0
    for i in range(40):
        src.ingest(_frows(spark, i * 10, (i + 1) * 10))
        n += 1
        if i % 8 == 3:
            src.delete_where(regions=[
                Region.of(Range("k", i * 10, i * 10 + 3))])
            n += 1
        if i % 8 == 7:
            src.update_where({"s": f"u{i}"}, regions=[
                Region.of(Range("k", i * 10 - 5, i * 10))])
            n += 1
    assert n >= 50
    src.compact()
    steps = replication.sync_cdc_to_head(src, dst, max_seqs=5)
    assert steps[-1]["caught_up"]
    assert _fsorted(dst) == _fsorted(src)
    # bounded: single-leaf table -> a handful of refs, not ~50
    n_refs = len(dst.store.all_references())
    assert n_refs <= 4, f"replica accreted {n_refs} file refs"


def test_sync_cdc_to_head_and_blocked_claim(spark, tmp_path):
    """sync_cdc_to_head converges a multi-event history in bounded
    steps, and reports a non-resolving in-flight claim loudly instead
    of spinning."""
    from sleeper_spark.ranges import Range, Region
    src = SleeperTable.create(spark, str(tmp_path / "s"),
                              _full_schema())
    dst = SleeperTable.create(spark, str(tmp_path / "d"),
                              _full_schema())
    src.ingest(_frows(spark, 0, 80))
    src.delete_where(regions=[Region.of(Range("k", 5, 15))])
    src.ingest(_frows(spark, 80, 120))
    steps = replication.sync_cdc_to_head(src, dst, max_seqs=2)
    assert steps[-1]["caught_up"] and len(steps) >= 2
    assert _fsorted(dst) == _fsorted(src)
    # a stuck claim raises after 3 blocked steps
    refs = list(src.store.all_references())
    src.store.assign_job_ids("delete-stuck", refs)
    src.ingest(_frows(spark, 200, 210))
    with pytest.raises(RuntimeError, match="in-flight"):
        replication.sync_cdc_to_head(src, dst)
    src.store.unassign_job_ids("delete-stuck")
    steps2 = replication.sync_cdc_to_head(src, dst)
    assert steps2[-1]["caught_up"]
    assert _fsorted(dst) == _fsorted(src)


class TestSafetyBounds:
    """Every refusal is loud and names the fix: the caps are patched
    small to test the rules, not the values."""

    def _synced(self, spark, tmp_path, props=None):
        src = SleeperTable.create(spark, str(tmp_path / "s"), _schema(),
                                  props=props)
        dst = SleeperTable.create(spark, str(tmp_path / "d"), _schema(),
                                  props=props)
        src.ingest(_rows(spark, 0, 20))
        replication.sync_cdc(src, dst)
        return src, dst

    def test_aggregation_delete_key_cap(self, spark, tmp_path,
                                        monkeypatch):
        from sleeper_spark.ranges import Range, Region
        src, dst = self._synced(spark, tmp_path,
                                TableProperties(aggregations="sum(v)"))
        monkeypatch.setattr(replication, "DELETE_CAP", 2)
        src.delete_where(regions=[Region.of(Range("k", 0, 5))])
        with pytest.raises(ValueError, match="more than 2 distinct keys"
                           ".*re-seed"):
            replication.sync_cdc(src, dst)
        assert dst.full_scan().count() == 20

    def test_plain_delete_row_cap(self, spark, tmp_path, monkeypatch):
        from sleeper_spark.ranges import Range, Region
        src, dst = self._synced(spark, tmp_path)
        monkeypatch.setattr(replication, "DELETE_CAP", 2)
        src.delete_where(regions=[Region.of(Range("k", 0, 5))])
        with pytest.raises(ValueError, match="more than 2 rows.*re-seed"):
            replication.sync_cdc(src, dst)
        assert dst.full_scan().count() == 20

    def test_merge_key_cap(self, spark, tmp_path, monkeypatch):
        src, dst = self._synced(spark, tmp_path)
        monkeypatch.setattr(replication, "MERGE_CAP", 2)
        src.merge_upsert(_rows(spark, 15, 25))
        with pytest.raises(ValueError, match="more than 2 distinct keys"
                           ".*re-seed"):
            replication.sync_cdc(src, dst)
        assert dst.full_scan().count() == 20

    def test_sync_cdc_to_head_runaway_guard(self, spark, tmp_path,
                                            monkeypatch):
        src, dst = self._synced(spark, tmp_path)
        for i in range(3):
            src.ingest(_rows(spark, 100 + i * 10, 110 + i * 10))
        monkeypatch.setattr(replication, "MAX_STEPS", 2)
        with pytest.raises(RuntimeError, match="still behind after 2 "
                           "sync_cdc steps"):
            replication.sync_cdc_to_head(src, dst, max_seqs=1)
        # the steps taken are durable: the next call resumes and ends
        monkeypatch.setattr(replication, "MAX_STEPS", 10)
        assert replication.sync_cdc_to_head(src, dst)[-1]["caught_up"]
        assert _sorted_rows(dst) == _sorted_rows(src)

    def test_legacy_delete_refusal_names_reseed(self, spark, tmp_path):
        """A pre-tombstone delete (jobless, empty-output replacement)
        carries no removed rows: the step refuses, naming the re-seed."""
        src, dst = self._synced(spark, tmp_path)
        ref = src.store.all_references()[0]
        src.store.replace_file_references_batch(
            [(ref.partition_id, [ref.filename], [])],
            allow_empty_outputs=True)
        with pytest.raises(ValueError, match="legacy pre-tombstone "
                           "delete.*re-seed the replica"):
            replication.sync_cdc(src, dst)


class TestFileShipping:
    """The append-window file-shipping fast path (_ship_append_window):
    committed source files copy byte-for-byte into the replica instead
    of re-sorting rows through an ingest shuffle — with all-or-nothing
    fallback to the row replay."""

    def test_fast_path_copies_files(self, spark, tmp_path):
        src = SleeperTable.create(spark, str(tmp_path / "src"), _schema(),
                                  split_points=[100])
        dst = SleeperTable.create(spark, str(tmp_path / "dst"), _schema(),
                                  split_points=[100])
        refs = src.ingest(_rows(spark, 0, 200))
        s = replication.sync_cdc(src, dst)
        assert s["files_ingested"] == len(refs)
        dfiles = [r for refs_ in dst.store.files.values()
                  for r in refs_.values()]
        # shipped, not re-ingested: one replica file per source file,
        # under the replica's data dir, with its sidecar alongside
        from sleeper_spark import sketches as sk
        import os
        assert len(dfiles) == len(refs)
        for r in dfiles:
            assert r.filename.startswith(dst.data_dir)
            assert "-ship-" in r.filename
            assert os.path.exists(sk.sidecar_path(r.filename))
        assert _sorted_rows(dst) == _sorted_rows(src)
        # the shipped sidecars keep split planning alive on the replica
        from sleeper_spark.sketches import find_split_point_from_sketches
        leaf = dst.store.tree.leaf_for_row({"k": 150})
        lfiles = [r.filename for r in
                  dst.store.references_for_partition(leaf.id)]
        assert find_split_point_from_sketches(
            dst.schema, lfiles, leaf.region) is not None

    def test_falls_back_when_replica_tree_differs(self, spark, tmp_path):
        src = SleeperTable.create(spark, str(tmp_path / "src"), _schema())
        # replica splits INSIDE the source's single leaf: a source file
        # straddles replica leaves -> row-replay path
        dst = SleeperTable.create(spark, str(tmp_path / "dst"), _schema(),
                                  split_points=[50])
        src.ingest(_rows(spark, 0, 100))
        s = replication.sync_cdc(src, dst)
        assert s["files_ingested"] >= 1
        assert all("-ship-" not in fn for fn in dst.store.files)
        assert _sorted_rows(dst) == _sorted_rows(src)

    def test_fast_path_ships_into_finer_tree_when_contained(self, spark,
                                                            tmp_path):
        # per-leaf source files fit inside MATCHING replica leaves even
        # though the replica has an extra split elsewhere
        src = SleeperTable.create(spark, str(tmp_path / "src"), _schema(),
                                  split_points=[100])
        dst = SleeperTable.create(spark, str(tmp_path / "dst"), _schema(),
                                  split_points=[100, 5000])
        src.ingest(_rows(spark, 0, 200))  # values < 2000: leaves map 1:1
        replication.sync_cdc(src, dst)
        assert any("-ship-" in fn for fn in dst.store.files)
        assert _sorted_rows(dst) == _sorted_rows(src)

    def test_replay_is_idempotent(self, spark, tmp_path):
        src = SleeperTable.create(spark, str(tmp_path / "src"), _schema())
        dst = SleeperTable.create(spark, str(tmp_path / "dst"), _schema())
        src.ingest(_rows(spark, 0, 80))
        replication.sync_cdc(src, dst)
        n_files = len(dst.store.files)
        # a crashed-then-replayed window dedupes on the job id
        window = src.store.transactions_between(0, src.store.current_seq)
        job = f"{replication.source_prefix(src)}0-{src.store.current_seq}"
        assert replication._ship_append_window(src, dst, window, job) == []
        assert len(dst.store.files) == n_files
        assert _sorted_rows(dst) == _sorted_rows(src)

    def test_cdc_appends_ship_and_events_still_replay(self, spark,
                                                      tmp_path):
        src = SleeperTable.create(spark, str(tmp_path / "src"), _schema(),
                                  split_points=[100])
        dst = SleeperTable.create(spark, str(tmp_path / "dst"), _schema(),
                                  split_points=[100])
        src.ingest(_rows(spark, 0, 200))
        from sleeper_spark.ranges import Range, Region
        src.delete_where(regions=[Region.of(Range("k", 20, 40))])
        src.ingest(_rows(spark, 200, 260))
        s = replication.sync_cdc(src, dst)
        assert s["caught_up"] and s["deletes_applied"] == 1
        assert any("-ship-" in fn for fn in dst.store.files)
        assert _sorted_rows(dst) == _sorted_rows(src)

    def test_fast_path_refuses_files_of_a_stale_column_type(
            self, spark, tmp_path):
        """A column dropped and re-added with another type keeps its
        name: the pre-drop files match the replica's column NAMES but
        hold the old type. Shipping them would leave files the replica
        cannot read — the guard compares types too, so whatever the
        step does, the replica holds no file of the wrong type and
        still scans."""
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        src = SleeperTable.create(spark, str(tmp_path / "src"), _schema())
        dst = SleeperTable.create(spark, str(tmp_path / "dst"), _schema())
        src.ingest(_rows(spark, 0, 20))
        src.ingest(_rows(spark, 20, 40))
        src.drop_value_column("v")
        src.compact()
        src.add_value_column(Field("v", T.StringType(), True))
        src.ingest(spark.range(40, 60).select(
            F.col("id").alias("k"), F.col("id").cast("string").alias("v")))
        assert src.full_scan().count() == 60
        try:
            replication.sync_cdc(src, dst)
        except Exception:  # noqa: BLE001 - only the replica's state matters
            pass
        want = {f.name: f.dtype for f in dst.schema.all_fields()}
        assert want["v"] == T.StringType()
        for r in dst.store.all_references():
            for f in from_arrow_schema(pq.read_schema(r.filename)).fields:
                assert f.dataType == want[f.name], (r.filename, f)
        dst.full_scan().collect()
