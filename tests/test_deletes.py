"""Copy-on-write delete_where (deletes.py): correctness, pruning,
time-travel interplay, GC, and guard rails.

The reference removes rows only via ageOff; delete_where extends the
engine Delta-style. Invariants under test: exact row removal, untouched
files never rewritten, sort order preserved (merge paths still work),
pre-delete states readable via as_of, old files garbage-collected."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sleeper_spark import sketches
from sleeper_spark.query import Query
from sleeper_spark.ranges import Range, Region
from sleeper_spark.schema import Field, Schema
from sleeper_spark.statestore import StateStoreException
from sleeper_spark.table import SleeperTable


def _schema():
    return Schema(
        row_key_fields=(Field("key", T.StringType()),),
        sort_key_fields=(Field("seq", T.LongType()),),
        value_fields=(Field("value", T.LongType()),),
    )


def _rows(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.format_string("k-%06d", F.col("id")).alias("key"),
        F.col("id").alias("seq"),
        F.col("id").alias("value"))


@pytest.fixture
def table(spark, tmp_path):
    t = SleeperTable.create(spark, str(tmp_path / "t"), _schema(),
                            split_points=["k-001000"])
    t.ingest(_rows(spark, 0, 1000))     # left partition only
    t.ingest(_rows(spark, 1000, 2000))  # right partition only
    return t


def _assert_sidecars_fresh(t):
    """Every live file's sidecar holds footer min/max plus exactly the
    sketch and Bloom that compute_file_sketch builds from the file."""
    for ref in t.store.all_references():
        side = sketches.load_sidecar(ref.filename)
        assert "bloom" in side and side.pop("minmax")
        assert side == sketches.compute_file_sketch(
            ref.filename, t.schema.key_names, t.props.sketch_size), \
            ref.filename


class TestDeleteWhere:
    def test_key_region_delete(self, table):
        out = table.delete_where(
            regions=[Region.of(Range("key", "k-000100", "k-000200"))])
        assert out["rows_deleted"] == 100
        # only the left-partition file overlaps the range
        assert out["files_rewritten"] == 1
        assert out["files_untouched"] == 1
        assert table.full_scan().count() == 1900
        assert table.exact_key_query(key="k-000150").count() == 0
        assert table.exact_key_query(key="k-000250").count() == 1

    def test_exact_point_delete_bloom_pruned(self, table):
        out = table.delete_where(
            regions=[Region.exact(table.schema, key="k-001234")])
        assert out["rows_deleted"] == 1
        assert out["files_rewritten"] == 1  # bloom spared the other files
        assert table.exact_key_query(key="k-001234").count() == 0
        assert table.full_scan().count() == 1999

    def test_absent_point_delete_touches_nothing(self, table):
        out = table.delete_where(
            regions=[Region.exact(table.schema, key="zzz")])
        assert out == {"rows_deleted": 0, "files_rewritten": 0,
                       "files_removed": 0, "files_untouched": 2,
                       "job_id": None}

    def test_value_range_delete(self, table):
        out = table.delete_where(
            value_ranges=[Range("value", 500, 1500)])
        assert out["rows_deleted"] == 1000
        assert out["files_rewritten"] == 2
        vals = [r.value for r in table.full_scan().collect()]
        assert len(vals) == 1000 and not any(500 <= v < 1500 for v in vals)

    def test_full_reference_delete_removes_file(self, table):
        out = table.delete_where(
            regions=[Region.of(Range("key", "k-001000", None))])
        assert out["rows_deleted"] == 1000
        assert out["files_removed"] == 1 and out["files_rewritten"] == 0
        assert table.full_scan().count() == 1000

    def test_sort_order_preserved_and_sidecars_rebuilt(self, table):
        table.delete_where(
            regions=[Region.of(Range("key", "k-000100", "k-000200"))])
        _assert_sidecars_fresh(table)
        # sorted merge path still serves the table in order
        keys = [row["key"] for row in table.sorted_rows()]
        assert keys == sorted(keys)
        assert len(keys) == 1900

    def test_as_of_serves_pre_delete_state(self, table):
        seq_before = table.store.current_seq
        table.delete_where(
            regions=[Region.exact(table.schema, key="k-000042")])
        assert table.exact_key_query(key="k-000042").count() == 0
        old = table.as_of(seq=seq_before)
        assert old.exact_key_query(key="k-000042").count() == 1

    def test_old_files_garbage_collected(self, table):
        live_before = {r.filename for r in table.store.all_references()}
        table.delete_where(
            regions=[Region.of(Range("key", "k-000000", "k-000500"))])
        removed = table.collect_garbage(now=9e18)
        assert set(removed) & live_before
        for fn in removed:
            assert not os.path.exists(fn)
        assert table.full_scan().count() == 1500

    def test_delete_then_compact_then_query(self, table):
        table.delete_where(value_ranges=[Range("value", 0, 10)])
        table.compact(now_millis=0)
        assert table.full_scan().count() == 1990
        assert table.exact_key_query(key="k-000005").count() == 0

    def test_rejects_empty_predicate(self, table):
        with pytest.raises(ValueError, match="regions and/or value_ranges"):
            table.delete_where()

    def test_rejects_value_ranges_on_aggregation_table(self, spark, tmp_path):
        from sleeper_spark.properties import TableProperties
        t = SleeperTable.create(
            spark, str(tmp_path / "agg"), _schema(),
            props=TableProperties(aggregations="sum(value)"))
        t.ingest(_rows(spark, 0, 100))
        with pytest.raises(ValueError, match="aggregation-configured"):
            t.delete_where(value_ranges=[Range("value", 0, 10)])
        # key-region deletes remain legal on aggregation tables
        out = t.delete_where(
            regions=[Region.exact(t.schema, key="k-000001")])
        assert out["rows_deleted"] == 1

    def test_multi_partition_spanning_file(self, spark, tmp_path):
        # one ingest BEFORE the split: the file's references get split
        # across children; delete must rewrite per-reference, keeping
        # only each reference's own partition rows
        t = SleeperTable.create(spark, str(tmp_path / "t2"), _schema())
        t.ingest(_rows(spark, 0, 2000))
        t.props.partition_split_threshold = 100
        t.split_partitions()
        t.split_file_references()
        n_refs = len(t.store.all_references())
        assert n_refs >= 2
        out = t.delete_where(
            regions=[Region.of(Range("key", "k-000500", "k-001500"))])
        assert out["rows_deleted"] == 1000
        assert t.full_scan().count() == 1000
        keys = sorted(r.key for r in t.full_scan().collect())
        assert keys == sorted(
            [f"k-{i:06d}" for i in list(range(0, 500)) + list(range(1500, 2000))])


class TestDeleteExactRows:
    def test_exact_rows_removed_all_copies(self, spark, table):
        """Full-row match removes every copy; rows differing in ANY
        column survive; untouched partitions are never claimed."""
        # a duplicate copy of one row and a near-miss (same keys,
        # different value)
        extra = spark.createDataFrame(
            [("k-000010", 10, 10),      # exact duplicate of row 10
             ("k-000010", 10, 999)],    # same keys, different value
            "key string, seq long, value long")
        table.ingest(extra)
        victims = spark.createDataFrame(
            [("k-000010", 10, 10), ("k-001500", 1500, 1500)],
            "key string, seq long, value long")
        out = table.delete_exact_rows(victims)
        assert out["rows_deleted"] == 3  # both copies + the k-001500
        got = table.full_scan()
        assert got.where("key = 'k-000010' AND value = 10").count() == 0
        assert got.where("key = 'k-000010' AND value = 999").count() == 1
        assert got.where("key = 'k-001500'").count() == 0
        assert got.count() == 2002 - 3

    def test_noop_reference_releases_claim(self, spark, table):
        """A reference that passes bloom but matches nothing is not
        rewritten and its claim is released (a later delete on it
        must not raise 'claimed')."""
        ghost = spark.createDataFrame(
            [("k-000010", 10, 777777)],  # key exists, row does not
            "key string, seq long, value long")
        out = table.delete_exact_rows(ghost)
        assert out["rows_deleted"] == 0
        assert out["files_rewritten"] == 0 == out["files_removed"]
        assert all(r.job_id is None
                   for r in table.store.all_references())
        # the real delete still works afterwards
        out2 = table.delete_exact_rows(spark.createDataFrame(
            [("k-000010", 10, 10)],
            "key string, seq long, value long"))
        assert out2["rows_deleted"] == 1

    def test_null_safe_match_and_feed(self, spark, tmp_path):
        """NULL value columns match null-safely (SQL equality would
        miss them); the deletion is observable on the tombstone
        feed like any delete_where."""
        sch = Schema(
            row_key_fields=(Field("key", T.StringType()),),
            sort_key_fields=(),
            value_fields=(Field("v", T.StringType(), True),))
        t = SleeperTable.create(spark, str(tmp_path / "n"), sch)
        t.ingest(spark.createDataFrame(
            [("a", None), ("a", "x"), ("b", None)],
            "key string, v string"))
        pre = t.store.current_seq
        out = t.delete_exact_rows(spark.createDataFrame(
            [("a", None)], "key string, v string"))
        assert out["rows_deleted"] == 1
        assert sorted((r.key, r.v) for r in t.full_scan().collect()) \
            == [("a", "x"), ("b", None)]
        dead = t.deleted_rows_between(pre).collect()
        assert [(r.key, r.v) for r in dead] == [("a", None)]

    def test_guards(self, spark, table, tmp_path):
        with pytest.raises(ValueError, match="more than 1 rows"):
            table.delete_exact_rows(_rows(spark, 0, 10), cap=1)
        with pytest.raises(ValueError, match="missing table column"):
            table.delete_exact_rows(
                spark.createDataFrame([("a",)], "key string"))
        agg = SleeperTable.create(
            spark, str(tmp_path / "agg"), _schema(),
            __import__("sleeper_spark.properties",
                       fromlist=["TableProperties"])
            .TableProperties(aggregations="sum(value)"))
        agg.ingest(_rows(spark, 0, 10))
        with pytest.raises(ValueError, match="aggregation-configured"):
            agg.delete_exact_rows(_rows(spark, 0, 1))
        sch = Schema(
            row_key_fields=(Field("key", T.StringType()),),
            sort_key_fields=(),
            value_fields=(Field("f", T.DoubleType(), True),))
        tf = SleeperTable.create(spark, str(tmp_path / "f"), sch)
        tf.ingest(spark.createDataFrame(
            [("a", 1.0), ("b", float("nan")), ("c", 2.0)],
            "key string, f double"))
        nan_row = spark.createDataFrame(
            [("b", float("nan"))], "key string, f double")
        with pytest.raises(ValueError, match="NaN"):
            tf.delete_exact_rows(nan_row)
        # match_nan=True (the CDC tombstone contract): NaN matches NaN,
        # and ONLY the NaN row goes
        res = tf.delete_exact_rows(nan_row, match_nan=True)
        assert res["rows_deleted"] == 1
        assert sorted(r.key for r in tf.full_scan().collect()) \
            == ["a", "c"]


def test_delete_exact_rows_on_schema_evolved_table(spark, tmp_path):
    """Pre-evolution files lack later-added columns physically (they
    read as NULL): exact-row deletion must compare them null-safely
    instead of crashing mid-claim, and only rows whose evolved column
    matches (NULL vs value) are removed."""
    from sleeper_spark.schema import Field as _F
    t = SleeperTable.create(spark, str(tmp_path / "evo"), _schema())
    t.ingest(_rows(spark, 0, 50))              # pre-evolution file
    t.add_value_column(_F("note", T.StringType(), True))
    t.ingest(spark.createDataFrame(
        [("k-000010", 10, 10, "tagged")],
        "key string, seq long, value long, note string"))
    # victim 1: old row (note reads NULL) — null-safe match removes it
    # victim 2: same keys but note='tagged' — removes the new row only
    out = t.delete_exact_rows(spark.createDataFrame(
        [("k-000007", 7, 7, None)],
        "key string, seq long, value long, note string"))
    assert out["rows_deleted"] == 1
    out2 = t.delete_exact_rows(spark.createDataFrame(
        [("k-000010", 10, 10, "tagged")],
        "key string, seq long, value long, note string"))
    assert out2["rows_deleted"] == 1
    got = t.full_scan()
    assert got.where("key = 'k-000007'").count() == 0
    # the ORIGINAL k-000010 row (note NULL) survived
    assert got.where("key = 'k-000010' AND note IS NULL").count() == 1
    assert got.where("note = 'tagged'").count() == 0


def _two_key_schema():
    return Schema(
        row_key_fields=(Field("key", T.StringType()),
                        Field("part", T.LongType())),
        sort_key_fields=(),
        value_fields=(Field("value", T.LongType()),))


def _cow_op(name, t, spark, key, hit):
    """Run copy-on-write operation ``name`` on the row ``(key, 0, 100)``
    (``hit``) or on something the file that holds it cannot match."""
    region = Region.of(Range("key", key, key + "x") if hit
                       else Range("key", key + "x", key + "y"))
    row = spark.createDataFrame(
        [(key, 0 if hit else 1, 100 if hit else -1)],
        "key string, part long, value long")
    if name == "delete_where":
        return t.delete_where(regions=[region])
    if name == "update_where":
        return t.update_where({"value": -5}, regions=[region])
    if name == "delete_exact_rows":
        # miss: same key as a live row, another part and value
        return t.delete_exact_rows(row)
    # miss: the first key passes the Bloom, the (key, part) tuple is new
    return t.merge_upsert(row)


@pytest.mark.parametrize("name", ["delete_where", "delete_exact_rows",
                                  "update_where", "merge_upsert"])
def test_copy_on_write_contract(spark, tmp_path, name):
    """The shared rewriter's contract, for all four operations: a
    candidate reference that passes pruning (it is claimed) but holds no
    matching row stays referenced as it is, keeps no claim and is not
    counted as rewritten; every output file's sidecar is the one
    compute_file_sketch builds from it."""
    t = SleeperTable.create(spark, str(tmp_path / "t"), _two_key_schema(),
                            split_points=["k-001000"])
    t.ingest(_rows(spark, 0, 1000).withColumnRenamed("seq", "part")
             .withColumn("part", F.lit(0).cast("long")))
    t.ingest(_rows(spark, 1000, 2000).withColumnRenamed("seq", "part")
             .withColumn("part", F.lit(0).cast("long")))
    before = {(r.filename, r.partition_id)
              for r in t.store.all_references()}
    pre = t.store.current_seq
    out = _cow_op(name, t, spark, "k-000100", hit=False)
    kinds = [tx.get("type") for _s, tx in t.store.transactions_between(pre)]
    assert "ASSIGN_JOB_IDS" in kinds  # the left file was a candidate
    assert out["files_rewritten"] == 0 == out.get("files_removed", 0)
    assert out["files_untouched"] == len(before)
    assert before <= {(r.filename, r.partition_id)
                      for r in t.store.all_references()}
    assert all(r.job_id is None for r in t.store.all_references())

    out = _cow_op(name, t, spark, "k-000100", hit=True)
    assert out["files_rewritten"] == 1
    assert all(r.job_id is None for r in t.store.all_references())
    _assert_sidecars_fresh(t)


@pytest.mark.parametrize("name", ["delete_where", "delete_exact_rows",
                                  "update_where", "merge_upsert"])
def test_copy_on_write_on_executors(spark, tmp_path, monkeypatch, name):
    """Above ``_DRIVER_SIDE_BYTES`` of candidate input, ``rewrite`` runs
    one executor task per reference instead of driver threads: the rows
    equal the driver-thread rewrite's, every output sidecar is the one
    compute_file_sketch builds, and verify_integrity is clean."""
    from sleeper_spark import deletes

    sc = spark.sparkContext
    rows, jobs = {}, {}
    for side, limit in (("driver", deletes._DRIVER_SIDE_BYTES),
                        ("executor", 0)):
        monkeypatch.setattr(deletes, "_DRIVER_SIDE_BYTES", limit)
        t = SleeperTable.create(spark, str(tmp_path / side),
                                _two_key_schema(), split_points=["k-001000"])
        for lo in (0, 1000):
            t.ingest(_rows(spark, lo, lo + 1000).withColumnRenamed(
                "seq", "part").withColumn("part", F.lit(0).cast("long")))
        group = f"test-deletes-{name}-{side}"
        sc.setJobGroup(group, "job count")
        try:
            assert _cow_op(name, t, spark, "k-000100",
                           hit=True)["files_rewritten"] == 1
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[side] = len(sc.statusTracker().getJobIdsForGroup(group))
        rows[side] = sorted(tuple(r) for r in t.full_scan().collect())
        _assert_sidecars_fresh(t)
        assert t.verify_integrity()["ok"]
    assert jobs["executor"] == jobs["driver"] + 1  # the rewrite's job
    assert rows["executor"] == rows["driver"]


def test_copy_on_write_model(spark, tmp_path):
    """Model test of the copy-on-write surface: random sequences of
    ingest, delete_where, delete_exact_rows, update_where, merge_upsert
    and compact on a tiny table must keep the full scan equal to a
    pure-Python model (``perfbench/model.py``'s PlainModel), keep
    ``verify_integrity`` clean and leave no reference claimed."""
    import itertools
    import sys

    from hypothesis import HealthCheck, settings, strategies as st
    from hypothesis.stateful import (
        RuleBasedStateMachine,
        initialize,
        invariant,
        precondition,
        rule,
        run_state_machine_as_test,
    )

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from perfbench.model import PlainModel

    schema = Schema(
        row_key_fields=(Field("key", T.LongType()),),
        sort_key_fields=(),
        value_fields=(Field("v", T.LongType(), True),
                      Field("s", T.StringType(), True)))
    key_space, max_rows = 120, 200
    row = st.tuples(st.integers(0, key_space - 1), st.integers(0, 3),
                    st.sampled_from(["a", "b"]))
    rows = st.lists(row, min_size=1, max_size=10)
    span = st.tuples(st.integers(0, key_space - 1), st.integers(1, 40))
    names = itertools.count()

    def frame(rs):
        return spark.createDataFrame(rs, schema.to_struct_type())

    class CopyOnWriteModel(RuleBasedStateMachine):
        @initialize(leaves=st.integers(2, 4))
        def create(self, leaves):
            splits = [key_space * i // leaves for i in range(1, leaves)]
            self.table = SleeperTable.create(
                spark, str(tmp_path / f"m{next(names)}"), schema,
                split_points=splits)
            self.model = PlainModel()

        @precondition(lambda self: len(self.model.all_rows()) < max_rows)
        @rule(rs=rows)
        def ingest(self, rs):
            self.table.ingest(frame(rs))
            self.model.ingest(rs)

        @rule(sp=span)
        def delete_where(self, sp):
            lo, hi = sp[0], sp[0] + sp[1]
            out = self.table.delete_where(
                regions=[Region.of(Range("key", lo, hi))])
            assert out["rows_deleted"] == self.model.delete_range(lo, hi)

        @precondition(lambda self: self.model.all_rows())
        @rule(data=st.data())
        def delete_exact_rows(self, data):
            live = self.model.all_rows()
            victims = data.draw(st.lists(st.sampled_from(live),
                                         min_size=1, max_size=3))
            # a row that differs from a live one only in its value
            ghost = (victims[0][0], victims[0][1] + 100, victims[0][2])
            out = self.table.delete_exact_rows(frame(victims + [ghost]))
            gone = set(victims)
            n = 0
            for k in {r[0] for r in gone}:
                kept = [r for r in self.model.rows[k] if r not in gone]
                n += len(self.model.rows[k]) - len(kept)
                self.model.rows[k] = kept
            self.model._dirty()
            assert out["rows_deleted"] == n

        @rule(sp=span, v=st.integers(0, 3))
        def update_where(self, sp, v):
            lo, hi = sp[0], sp[0] + sp[1]
            out = self.table.update_where(
                {"v": v}, regions=[Region.of(Range("key", lo, hi))])
            assert out["rows_updated"] == self.model.update_range(lo, hi, v)

        @rule(rs=rows)
        def merge_upsert(self, rs):
            out = self.table.merge_upsert(frame(rs))
            assert (out["rows_inserted"], out["rows_replaced"]) \
                == self.model.merge(rs)

        @rule()
        def compact(self):
            self.table.compact()

        @invariant()
        def matches_model(self):
            got = sorted(tuple(r) for r in self.table.full_scan().collect())
            assert got == self.model.all_rows()
            assert self.table.verify_integrity()["ok"]
            assert all(r.job_id is None
                       for r in self.table.store.all_references())

    run_state_machine_as_test(CopyOnWriteModel, settings=settings(
        max_examples=6, stateful_step_count=8, derandomize=True,
        deadline=None, suppress_health_check=list(HealthCheck)))
