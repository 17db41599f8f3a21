"""Copy-on-write update_where (updates.py): exact value assignment,
atomicity (crash between rewrite and commit leaves the old version
readable), sort/sketch invariants, feeds, and incremental view/index
maintenance through an update."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sleeper_spark import sketches
from sleeper_spark.properties import TableProperties
from sleeper_spark.ranges import Range, Region
from sleeper_spark.schema import Field, Schema
from sleeper_spark.statestore import StateStoreException
from sleeper_spark.table import SleeperTable


def _schema():
    return Schema(
        row_key_fields=(Field("key", T.StringType()),),
        sort_key_fields=(Field("seq", T.LongType()),),
        value_fields=(Field("value", T.LongType()),
                      Field("status", T.StringType(), True)),
    )


def _rows(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.format_string("k-%06d", F.col("id")).alias("key"),
        F.col("id").alias("seq"),
        F.col("id").alias("value"),
        F.lit("new").alias("status"))


@pytest.fixture
def table(spark, tmp_path):
    t = SleeperTable.create(spark, str(tmp_path / "t"), _schema(),
                            split_points=["k-001000"])
    t.ingest(_rows(spark, 0, 1000))     # left partition only
    t.ingest(_rows(spark, 1000, 2000))  # right partition only
    return t


class TestUpdateWhere:
    def test_constant_assignment_exact_rows(self, table):
        pre = table.store.current_seq
        res = table.update_where(
            {"status": "done", "value": -1},
            regions=[Region.of(Range("key", "k-000100", "k-000200"))])
        assert res["rows_updated"] == 100
        assert res["files_untouched"] >= 1  # right partition untouched
        got = table.full_scan()
        assert got.count() == 2000  # update, not delete
        assert got.where("status = 'done'").count() == 100
        assert got.where(
            "key >= 'k-000100' AND key < 'k-000200' "
            "AND (status <> 'done' OR value <> -1)").count() == 0
        # untouched rows byte-identical
        rest = got.where("key < 'k-000100' OR key >= 'k-000200'")
        assert rest.where("status <> 'new'").count() == 0
        # time travel serves the pre-update state
        old = table.as_of(seq=pre).full_scan()
        assert old.where("status = 'done'").count() == 0
        # feeds: old versions in the deletion feed, new in the update
        # feed, nothing in the append feed
        assert table.deleted_rows_between(pre).where(
            "status = 'done'").count() == 0
        assert table.deleted_rows_between(pre).count() == 100
        upd = table.updated_rows_between(pre)
        assert upd.count() == 100
        assert upd.where("status <> 'done'").count() == 0
        assert table.added_rows_between(pre).count() == 0

    def test_callable_assignment_and_null(self, table):
        import pyarrow.compute as pc

        table.update_where(
            {"value": lambda t: pc.add(t.column("value"), 1_000_000),
             "status": None},
            regions=[Region.of(Range("key", "k-000000", "k-000010"))])
        got = table.full_scan().where("key < 'k-000010'").collect()
        assert len(got) == 10
        for r in got:
            assert r.value == r.seq + 1_000_000
            assert r.status is None

    def test_value_range_predicate(self, table):
        table.update_where({"status": "big"},
                           value_ranges=[Range("value", 1500, None)])
        got = table.full_scan()
        assert got.where("status = 'big'").count() == 500
        assert got.where("value >= 1500 AND status <> 'big'").count() == 0

    def test_sort_order_preserved_and_sidecars_rebuilt(self, table):
        import pyarrow.parquet as pq

        table.update_where(
            {"status": "x"},
            regions=[Region.of(Range("key", "k-000500", "k-000600"))])
        refs = list(table.store.all_references())
        for ref in refs:
            tbl = pq.read_table(ref.filename)
            keys = tbl.column("key").to_pylist()
            assert keys == sorted(keys), ref.filename
            assert tbl.num_rows == ref.number_of_rows
            side = sketches.load_sidecar(ref.filename)
            side.pop("minmax")
            assert side == sketches.compute_file_sketch(
                ref.filename, table.schema.key_names,
                table.props.sketch_size), ref.filename
        # the engine paths that rely on sorted leaves still work
        table.compact()
        assert table.full_scan().count() == 2000
        assert table.exact_key_query(key="k-000550").first().status == "x"

    def test_crash_between_rewrite_and_commit_leaves_old_readable(
            self, table, monkeypatch):
        """The verdict's required crash window: every rewrite finished,
        the REPLACE commit did not land. The table must keep serving
        the OLD version (the rewrite outputs are unreferenced bytes on
        disk), and after abandoning the dead job's claim a retry
        completes the update exactly once."""
        before = sorted(tuple(r) for r in table.full_scan().collect())
        store = table.store
        real = store.replace_file_references_batch
        calls = {"n": 0}

        def crashing(*a, **kw):
            calls["n"] += 1
            raise RuntimeError("injected crash before commit")

        monkeypatch.setattr(store, "replace_file_references_batch",
                            crashing)
        with pytest.raises(RuntimeError, match="injected crash"):
            table.update_where(
                {"status": "done"},
                regions=[Region.of(Range("key", "k-000100",
                                         "k-000200"))])
        monkeypatch.setattr(store, "replace_file_references_batch",
                            real)
        assert calls["n"] == 1
        # old version fully readable — nothing changed
        after = sorted(tuple(r) for r in table.full_scan().collect())
        assert after == before
        # the dead update's claim blocks a blind retry (same rule as
        # compaction); abandoning it recovers
        jid = next(r.job_id for r in store.all_references()
                   if r.job_id is not None)
        assert jid.startswith("update-")
        with pytest.raises(StateStoreException, match="claimed"):
            table.update_where(
                {"status": "done"},
                regions=[Region.of(Range("key", "k-000100",
                                         "k-000200"))])
        store.unassign_job_ids(jid)
        res = table.update_where(
            {"status": "done"},
            regions=[Region.of(Range("key", "k-000100", "k-000200"))])
        assert res["rows_updated"] == 100
        assert table.full_scan().where("status = 'done'").count() == 100

    def test_failure_before_commit_releases_claim(self, table):
        """An exception between the claim and the commit (here the
        assignment callable returns the wrong number of values inside
        the rewrite task) releases the claim and removes the job's
        output directory: nothing is left for a recovery step."""
        before = sorted(tuple(r) for r in table.full_scan().collect())
        pre = table.store.current_seq
        with pytest.raises(ValueError,
                           match="returned 1 values for 5 matched rows"):
            table.update_where(
                {"value": lambda tbl: [1]},
                regions=[Region.of(Range("key", "k-000100",
                                         "k-000105"))])
        assert all(r.job_id is None
                   for r in table.store.all_references())
        kinds = [tx.get("type")
                 for _s, tx in table.store.transactions_between(pre)]
        assert kinds == ["ASSIGN_JOB_IDS", "UNASSIGN_JOB_IDS"]
        assert not [d for d in os.listdir(table.data_dir)
                    if d.startswith("update-")]
        assert sorted(tuple(r) for r in table.full_scan().collect()) \
            == before

    def test_guards(self, spark, tmp_path, table):
        with pytest.raises(ValueError, match="at least one"):
            table.update_where({}, regions=[
                Region.of(Range("key", "a", "b"))])
        with pytest.raises(ValueError, match="regions and/or"):
            table.update_where({"status": "x"})
        with pytest.raises(ValueError, match="key column"):
            table.update_where({"key": "nope"}, regions=[
                Region.of(Range("key", "a", "b"))])
        with pytest.raises(ValueError, match="key column"):
            table.update_where({"seq": 0}, regions=[
                Region.of(Range("key", "a", "b"))])
        with pytest.raises(ValueError, match="not a value column"):
            table.update_where({"nope": 1}, regions=[
                Region.of(Range("key", "a", "b"))])
        with pytest.raises(ValueError, match="cannot cast"):
            table.update_where({"value": "not-a-long"}, regions=[
                Region.of(Range("key", "a", "b"))])
        agg_schema = Schema(
            row_key_fields=(Field("key", T.StringType()),),
            value_fields=(Field("value", T.LongType()),))
        agg = SleeperTable.create(
            spark, str(tmp_path / "agg"), agg_schema,
            TableProperties(aggregations="sum(value)"))
        with pytest.raises(ValueError, match="aggregation"):
            agg.update_where({"value": 1}, regions=[
                Region.of(Range("key", "a", "b"))])


class TestIncrementalConsumersThroughUpdate:
    def _mk_view(self, spark, tmp_path, src):
        from sleeper_spark.views import MaterializedView

        vschema = Schema(
            (Field("status", T.StringType()),), (),
            (Field("n", T.LongType()), Field("v", T.LongType())))
        dest = SleeperTable.create(
            spark, str(tmp_path / "view"), vschema,
            TableProperties(aggregations="sum(n), sum(v)"))

        def transform(batch):
            return batch.where(F.col("status").isNotNull()).select(
                "status", F.lit(1).cast("long").alias("n"),
                F.col("value").alias("v"))

        def on_delete(deleted, job_id):
            dest.ingest(transform(deleted)
                        .withColumn("n", -F.col("n"))
                        .withColumn("v", -F.col("v")), job_id=job_id)

        return dest, MaterializedView(src, dest, transform,
                                      on_delete=on_delete)

    def test_sum_view_maintains_through_update(self, spark, tmp_path,
                                               table):
        dest, mv = self._mk_view(spark, tmp_path, table)
        mv.refresh()
        table.update_where(
            {"status": "done", "value": 0},
            regions=[Region.of(Range("key", "k-000100", "k-000200"))])
        table.ingest(_rows(spark, 2000, 2100))  # append after update
        assert mv.refresh() >= 2
        got = {r.status: (r.n, r.v) for r in
               dest.full_scan().collect() if r.n != 0}
        src_now = table.full_scan()
        want = {r.status: (r.n, r.v) for r in
                src_now.groupBy("status")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum("value").alias("v")).collect()}
        assert got == want
        assert got["done"] == (100, 0)

    def test_view_without_handler_refuses_update(self, spark, tmp_path,
                                                 table):
        from sleeper_spark.views import MaterializedView

        vschema = Schema(
            (Field("status", T.StringType()),), (),
            (Field("n", T.LongType()),))
        dest = SleeperTable.create(
            spark, str(tmp_path / "v2"), vschema,
            TableProperties(aggregations="sum(n)"))
        mv = MaterializedView(
            table, dest,
            lambda b: b.where(F.col("status").isNotNull())
            .select("status", F.lit(1).cast("long").alias("n")))
        mv.refresh()
        table.update_where(
            {"status": "done"},
            regions=[Region.of(Range("key", "k-000100", "k-000200"))])
        with pytest.raises(ValueError, match="update_where"):
            mv.refresh()

    def test_secondary_index_maintains_through_update(self, spark,
                                                      tmp_path, table):
        from sleeper_spark.views import SecondaryIndex

        idx = SecondaryIndex.create(table, str(tmp_path / "idx"),
                                    "status")
        idx.refresh()
        assert idx.lookup("new").count() == 2000
        table.update_where(
            {"status": "done"},
            regions=[Region.of(Range("key", "k-000100", "k-000200"))])
        idx.refresh()  # incremental: tombstones out, new postings in
        assert idx.lookup("done").count() == 100
        assert idx.lookup("new").count() == 1900
        # converged with a from-scratch index
        fresh = SecondaryIndex.create(table, str(tmp_path / "idx2"),
                                      "status")
        fresh.refresh()
        a = sorted(tuple(r) for r in idx.index.full_scan().collect())
        b = sorted(tuple(r) for r in fresh.index.full_scan().collect())
        assert a == b


def test_update_assigns_to_schema_evolved_column(spark, tmp_path):
    """Assigning a column ADDED by schema evolution: files written
    before add_value_column lack the column physically; the rewrite
    must materialize it (nulls -> assigned value) instead of crashing
    mid-claim."""
    from sleeper_spark.schema import Field as _Field
    t = SleeperTable.create(spark, str(tmp_path / "evo"), _schema(),
                            split_points=["k-001000"])
    t.ingest(_rows(spark, 0, 100))          # pre-evolution file
    t.add_value_column(_Field("note", T.StringType(), True))
    res = t.update_where(
        {"note": "backfilled"},
        regions=[Region.of(Range("key", "k-000010", "k-000020"))])
    assert res["rows_updated"] == 10
    got = t.full_scan()
    assert got.where("note = 'backfilled'").count() == 10
    assert got.where(
        "key >= 'k-000010' AND key < 'k-000020' AND note IS NULL"
    ).count() == 0
    # untouched rows read NULL for the evolved column
    assert got.where("key < 'k-000010' AND note IS NOT NULL") \
        .count() == 0
    assert got.count() == 100


def test_write_ops_fail_upfront_on_readonly_view(spark, tmp_path):
    """update_where / delete_where on a time-travel view raise
    check_writable BEFORE the candidate scan (same error surface as
    ingest/merge_upsert) — no orphaned rewrite files, old version
    readable (r9 ADVICE updates.py finding)."""
    t = SleeperTable.create(spark, str(tmp_path / "ro"), _schema(),
                            split_points=["k-001000"])
    t.ingest(_rows(spark, 0, 100))
    view = t.as_of(seq=t.store.current_seq)
    data_files_before = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(t.data_dir) for f in fs)
    with pytest.raises(StateStoreException, match="read-only"):
        view.update_where(
            {"status": "nope"},
            regions=[Region.of(Range("key", "k-000000", "k-000050"))])
    with pytest.raises(StateStoreException, match="read-only"):
        view.delete_where(
            regions=[Region.of(Range("key", "k-000000", "k-000050"))])
    data_files_after = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(t.data_dir) for f in fs)
    assert data_files_after == data_files_before  # nothing orphaned
    assert t.full_scan().where("status = 'nope'").count() == 0
    assert view.full_scan().count() == 100


def test_check_constraints_enforced_on_update(spark, tmp_path):
    """r9 VERDICT Next #4: a constrained table re-validates CHECK over
    the updated rows before commit — a violating assignment raises,
    nothing is committed, claims are released, the old version stays
    readable; a conforming assignment (and one whose NULL result
    passes, SQL CHECK semantics) goes through."""
    from sleeper_spark.properties import TableProperties
    t = SleeperTable.create(
        spark, str(tmp_path / "c"), _schema(),
        TableProperties(constraints="value >= 0"),
        split_points=["k-001000"])
    t.ingest(_rows(spark, 0, 100))
    pre = t.store.current_seq
    with pytest.raises(ValueError, match="CHECK constraint"):
        t.update_where(
            {"value": -5},
            regions=[Region.of(Range("key", "k-000010", "k-000020"))])
    # nothing committed: the only log traffic is the claim + release
    kinds = {tx.get("type")
             for _s, tx in t.store.transactions_between(pre)}
    assert kinds <= {"ASSIGN_JOB_IDS", "UNASSIGN_JOB_IDS"}
    assert all(r.job_id is None for r in t.store.all_references())
    assert t.full_scan().where("value < 0").count() == 0
    # conforming update passes; NULL passes (CHECK semantics)
    res = t.update_where(
        {"value": 7},
        regions=[Region.of(Range("key", "k-000010", "k-000020"))])
    assert res["rows_updated"] == 10
    res2 = t.update_where(
        {"status": None},
        regions=[Region.of(Range("key", "k-000030", "k-000040"))])
    assert res2["rows_updated"] == 10
    assert t.full_scan().where(
        "key >= 'k-000010' AND key < 'k-000020' AND value = 7"
    ).count() == 10


def test_check_constraint_reads_evolved_column_as_null(spark, tmp_path):
    """The CHECK re-validation reads the updated files with the declared
    schema: a column added after a file was written reads NULL there,
    so a constraint on it resolves and passes (NULL passes a CHECK)."""
    t = SleeperTable.create(spark, str(tmp_path / "c"), _schema(),
                            split_points=["k-001000"])
    t.ingest(_rows(spark, 0, 100))          # pre-evolution file
    t.add_value_column(Field("w", T.LongType(), True))
    t.props.constraints = "w IS NULL OR w > 0"
    res = t.update_where(
        {"value": 777},
        regions=[Region.of(Range("key", "k-000010", "k-000020"))])
    assert res["rows_updated"] == 10
    assert t.full_scan().where("value = 777 AND w IS NULL").count() == 10
    assert all(r.job_id is None for r in t.store.all_references())
