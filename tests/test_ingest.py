"""Ingest's two branches (ingest.py module doc): the driver branch
(standard ingest) and the Spark branch (local-sort bulk import) write the
same rows and the same sidecars, refuse the same bad rows, and the driver
branch runs one Spark job per ingest or merge."""

import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sleeper_spark import ingest
from sleeper_spark.properties import TableProperties
from sleeper_spark.schema import Field, Schema
from sleeper_spark.sketches import load_sidecar
from sleeper_spark.table import SleeperTable

SIDES = (("driver", None), ("spark", 0))


def _kv_schema():
    return Schema(row_key_fields=(Field("key", T.StringType()),),
                  sort_key_fields=(Field("ts", T.LongType()),),
                  value_fields=(Field("value", T.StringType()),))


def _kv_rows(spark, n, lo=0):
    return spark.range(lo, lo + n).select(
        F.format_string("k-%06d", (F.col("id") * 7919) % 100_000)
        .alias("key"),
        (F.col("id") % 5).alias("ts"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("value"))


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(t):
    return sorted(repr(tuple(r)) for r in t.full_scan().collect())


def _sidecars_by_region(t):
    """Each referenced file's sidecar, keyed by its leaf's region (leaf
    ids differ between two tables split alike)."""
    tree = t.store.tree
    out = {}
    for r in t.store.all_references():
        region = repr(tree[r.partition_id].region)
        assert region not in out  # one file per leaf per ingest
        out[region] = load_sidecar(r.filename)
    return out


def _both_branches(spark, tmp_path, monkeypatch, schema, df,
                   split_points=None, prep=None):
    """Ingest ``df`` through the driver branch and, with the cap patched
    to 0, through the Spark branch; check the tables agree."""
    tables, default = {}, ingest.DRIVER_INGEST_ROWS
    for side, cap in SIDES:
        monkeypatch.setattr(ingest, "DRIVER_INGEST_ROWS",
                            default if cap is None else cap)
        t = SleeperTable.create(spark, str(tmp_path / side), schema,
                                split_points=split_points)
        if prep is not None:
            prep(t)
        t.ingest(df)
        assert t.verify_integrity()["ok"], side
        tables[side] = t
    d, s = tables["driver"], tables["spark"]
    assert _rows(d) == _rows(s)
    assert _sidecars_by_region(d) == _sidecars_by_region(s)
    return tables


def test_parity_eight_leaves(spark, tmp_path, monkeypatch):
    tables = _both_branches(
        spark, tmp_path, monkeypatch, _kv_schema(), _kv_rows(spark, 2000),
        split_points=[f"k-{i * 12_500:06d}" for i in range(1, 8)])
    assert len(tables["driver"].store.all_references()) == 8
    assert all("bloom" in sk
               for sk in _sidecars_by_region(tables["driver"]).values())


def test_parity_many_leaves(spark, tmp_path, monkeypatch):
    """Above 128 leaves the leaf id is the vectorized search column."""
    schema = Schema(row_key_fields=(Field("key", T.LongType()),),
                    value_fields=(Field("value", T.LongType()),))
    splits = list(range(25, 5000, 25))
    assert len(splits) + 1 > 128
    df = spark.range(5000).select(
        ((F.col("id") * 7919) % 5000).alias("key"),
        F.col("id").alias("value"))
    tables = _both_branches(spark, tmp_path, monkeypatch, schema, df,
                            split_points=splits)
    assert len(tables["driver"].store.all_references()) == 200


def test_parity_split_on_second_key(spark, tmp_path, monkeypatch):
    schema = Schema(row_key_fields=(Field("a", T.StringType()),
                                    Field("b", T.LongType())),
                    value_fields=(Field("v", T.LongType()),))
    df = spark.range(1000).select(
        F.format_string("a-%d", F.col("id") % 3).alias("a"),
        ((F.col("id") * 31) % 1000).alias("b"), F.col("id").alias("v"))

    def split_second_key(t):
        for leaf in t.store.tree.leaves():
            left, right = t.store.tree.split(leaf.id, 1, 500)
            t.store.split_partition(t.store.tree[leaf.id], left, right)

    tables = _both_branches(spark, tmp_path, monkeypatch, schema, df,
                            split_points=["a-1"], prep=split_second_key)
    assert len(tables["driver"].store.all_references()) == 4


def test_parity_column_types(spark, tmp_path, monkeypatch):
    """String and binary keys; decimal, double, list and map values, with
    NULLs in the nullable ones (a schema holds no timestamp field)."""
    schema = Schema(
        row_key_fields=(Field("s", T.StringType()),),
        sort_key_fields=(Field("b", T.BinaryType()),),
        value_fields=(
            Field("d", T.DecimalType(12, 3), nullable=True),
            Field("x", T.DoubleType(), nullable=True),
            Field("l", T.ArrayType(T.LongType()), nullable=True),
            Field("m", T.MapType(T.StringType(), T.LongType()),
                  nullable=True)))
    rows = [(f"s-{i % 37:03d}", bytes([i % 256, i // 256]),
             None if i % 13 == 0 else Decimal(i) / 1000,
             None if i % 11 == 0 else i / 7,
             None if i % 19 == 0 else [i, -i],
             None if i % 17 == 0 else {"x": i, "y": -i})
            for i in range(600)]
    df = spark.createDataFrame(rows, schema.to_struct_type())
    _both_branches(spark, tmp_path, monkeypatch, schema, df,
                   split_points=["s-010", "s-020"])


def test_null_value_in_non_nullable_field(spark, tmp_path, monkeypatch):
    """The driver branch keeps the collected nullability, as Spark's
    writer does: a NULL in a value field declared non-nullable lands."""
    schema = Schema(row_key_fields=(Field("k", T.LongType()),),
                    value_fields=(Field("v", T.LongType()),))
    df = spark.createDataFrame([(1, None), (99, 30)], "k long, v long")
    _both_branches(spark, tmp_path, monkeypatch, schema, df,
                   split_points=[50])


@pytest.mark.parametrize("side,cap", SIDES)
@pytest.mark.parametrize("bad,match", [
    ("row", "null key"), ("sort", "null key"),
    ("check", "CHECK constraint violated")])
def test_guards_refuse_on_both_branches(spark, tmp_path, monkeypatch,
                                        side, cap, bad, match):
    if cap is not None:
        monkeypatch.setattr(ingest, "DRIVER_INGEST_ROWS", cap)
    schema = Schema(row_key_fields=(Field("k", T.LongType()),),
                    sort_key_fields=(Field("s", T.LongType()),),
                    value_fields=(Field("v", T.LongType()),))
    t = SleeperTable.create(spark, str(tmp_path / "t"), schema,
                            TableProperties(constraints="v >= 0"),
                            split_points=[50])
    row = {"row": (None, 1, 1), "sort": (2, None, 1),
           "check": (3, 1, -1)}[bad]
    df = spark.createDataFrame([(1, 1, 10), row, (60, 2, 20)],
                               "k long, s long, v long")
    with pytest.raises(Exception, match=match):
        t.ingest(df)
    assert t.store.all_references() == []
    assert os.listdir(t.data_dir) == []


def test_one_spark_job_per_ingest_and_merge(spark, tmp_path):
    t = SleeperTable.create(spark, str(tmp_path / "t"), _kv_schema(),
                            split_points=[f"k-{i * 12_500:06d}"
                                          for i in range(1, 8)])
    src = _kv_rows(spark, 2000)
    refs, jobs = _jobs(spark, "test-ingest-2000", lambda: t.ingest(src))
    assert jobs == 1 and sum(r.number_of_rows for r in refs) == 2000
    merge = _kv_rows(spark, 50, lo=10_000).withColumn("ts", F.lit(9))
    res, jobs = _jobs(spark, "test-ingest-merge",
                      lambda: t.merge_upsert(merge))
    assert jobs == 1 and res["rows_inserted"] == 50
    assert t.full_scan().count() == 2050
    assert t.verify_integrity()["ok"]


def test_spark_branch_runs_no_read_back_job(spark, tmp_path, monkeypatch):
    """The Spark branch writes every file and its sidecar inside its
    write job: a 2,000-row ingest into 4 leaves runs at most 3 Spark
    jobs (the capped collect, the shuffle and the write), the same
    whether or not ``tasks.run_tasks`` would run work on executors."""
    from sleeper_spark import tasks

    monkeypatch.setattr(ingest, "DRIVER_INGEST_ROWS", 0)
    jobs = {}
    for limit in (tasks.DRIVER_SIDE_BYTES, 0):
        monkeypatch.setattr(tasks, "DRIVER_SIDE_BYTES", limit)
        t = SleeperTable.create(spark, str(tmp_path / str(limit)),
                                _kv_schema(), split_points=[
                                    f"k-{i * 25_000:06d}" for i in (1, 2, 3)])
        refs, jobs[limit] = _jobs(spark, f"test-ingest-runs-{limit}",
                                  lambda: t.ingest(_kv_rows(spark, 2000)))
        assert len(refs) == 4 and sum(r.number_of_rows for r in refs) == 2000
        assert t.verify_integrity()["ok"]
    assert jobs[0] == jobs[tasks.DRIVER_SIDE_BYTES] <= 3


def test_driver_slices_written_on_driver_threads(spark, tmp_path,
                                                 monkeypatch):
    """The driver branch's slices are already in driver memory: they are
    written on driver threads even when ``tasks.run_tasks`` would send
    any input that reads from storage to executors."""
    from sleeper_spark import tasks

    monkeypatch.setattr(tasks, "DRIVER_SIDE_BYTES", 1)
    t = SleeperTable.create(spark, str(tmp_path / "t"), _kv_schema(),
                            split_points=[f"k-{i * 12_500:06d}"
                                          for i in range(1, 8)])
    refs, jobs = _jobs(spark, "test-ingest-driver-threads",
                       lambda: t.ingest(_kv_rows(spark, 2000)))
    assert jobs == 1 and sum(r.number_of_rows for r in refs) == 2000
    assert t.verify_integrity()["ok"]


def test_merge_above_cap_takes_spark_branch(spark, tmp_path, monkeypatch):
    """A merge source above the cap is probed once, keyed by a distinct
    collect and written by Spark: the same rows as the driver branch."""
    scans = {}
    for side, cap in SIDES:
        if cap is not None:
            monkeypatch.setattr(ingest, "DRIVER_INGEST_ROWS", cap)
        t = SleeperTable.create(spark, str(tmp_path / side), _kv_schema(),
                                split_points=["k-050000"])
        t.ingest(_kv_rows(spark, 500))
        res = t.merge_upsert(_kv_rows(spark, 100, lo=450)
                             .withColumn("ts", F.lit(9)))
        assert res["rows_inserted"] == 100 and res["rows_replaced"] > 0
        assert t.verify_integrity()["ok"]
        scans[side] = _rows(t)
    assert scans["driver"] == scans["spark"]


@pytest.mark.parametrize("side,cap", SIDES)
def test_empty_and_replayed_ingest(spark, tmp_path, monkeypatch, side, cap):
    if cap is not None:
        monkeypatch.setattr(ingest, "DRIVER_INGEST_ROWS", cap)
    t = SleeperTable.create(spark, str(tmp_path / "t"), _kv_schema(),
                            split_points=["k-050000"])
    assert t.ingest(_kv_rows(spark, 0)) == []
    assert t.store.all_references() == []
    refs = t.ingest(_kv_rows(spark, 100), job_id="ingest-fixed")
    assert sum(r.number_of_rows for r in refs) == 100
    replay, jobs = _jobs(spark, f"test-ingest-replay-{side}",
                         lambda: t.ingest(_kv_rows(spark, 100),
                                          job_id="ingest-fixed"))
    assert replay == [] and jobs == 0
    assert t.full_scan().count() == 100
    assert t.verify_integrity()["ok"]


@pytest.mark.parametrize("cap", ["rows", "bytes"])
def test_parquet_source_above_cap_skips_the_collect(spark, tmp_path,
                                                    monkeypatch, cap):
    """A source whose Parquet footers already count more rows or more
    bytes than the caps goes to the Spark branch without the capped
    collect."""
    from pyspark.sql import DataFrame

    path = str(tmp_path / "src.parquet")
    _kv_rows(spark, 1000).write.parquet(path)
    if cap == "rows":
        monkeypatch.setattr(ingest, "DRIVER_INGEST_ROWS", 999)
    else:
        monkeypatch.setattr(ingest, "DRIVER_INGEST_BYTES", 1000)

    def no_collect(self):
        raise AssertionError("collected a batch above the cap")
    monkeypatch.setattr(DataFrame, "toArrow", no_collect)
    t = SleeperTable.create(spark, str(tmp_path / "t"), _kv_schema(),
                            split_points=["k-050000"])
    refs = t.ingest(spark.read.parquet(path))
    assert sum(r.number_of_rows for r in refs) == 1000
    assert t.verify_integrity()["ok"]


def _driver_writes(monkeypatch):
    """The row counts of the batches the driver branch writes."""
    written, write = [], ingest._write_batch

    def spy(spark, batch, *args):
        written.append(batch.num_rows)
        return write(spark, batch, *args)
    monkeypatch.setattr(ingest, "_write_batch", spy)
    return written


def _wide_rows(spark, n, wide):
    """``_kv_rows`` whose value is 2,000 bytes where ``wide`` holds."""
    return _kv_rows(spark, n).withColumn("value", F.when(
        F.expr(wide), F.repeat(F.lit("w"), 2000))
        .otherwise(F.col("value")))


@pytest.mark.parametrize("rows,wide,driver", [
    (50, "ts = 0", True),  # 10 wide rows: ~20 KiB, inside the byte cap
    (60, "true", False),   # every row wide: ~118 KiB, above it
])
def test_wide_rows_against_the_byte_cap(spark, tmp_path, monkeypatch,
                                        rows, wide, driver):
    """A batch of few rows can still exceed the byte cap. Its wide rows
    come emptied from the first read, which so stays near the cap; a
    batch that fits the cap is then read whole by a second job and
    written on the driver, one that does not takes the Spark branch.
    Either way every row lands."""
    monkeypatch.setattr(ingest, "DRIVER_INGEST_ROWS", 100)
    monkeypatch.setattr(ingest, "DRIVER_INGEST_BYTES", 64 << 10)
    written = _driver_writes(monkeypatch)
    t = SleeperTable.create(spark, str(tmp_path / "t"), _kv_schema(),
                            split_points=["k-050000"])
    df = _wide_rows(spark, rows, wide)
    batch = ingest.collect_batch(df, t.store.tree, t.schema, t.props)
    assert (batch is not None) == driver
    if driver:
        assert batch.num_rows == rows
        assert max(len(v) for v in batch.column("value").to_pylist()) == 2000
    refs, jobs = _jobs(spark, f"test-ingest-wide-{rows}",
                       lambda: t.ingest(df))
    assert sum(r.number_of_rows for r in refs) == rows
    assert written == ([rows] if driver else [])
    if driver:
        assert jobs == 2
    assert _rows(t) == sorted(repr(tuple(r)) for r in df.collect())
    assert t.verify_integrity()["ok"]


def test_leaf_expr_cached_per_application(spark, tmp_path, monkeypatch):
    """The leaf-id expression is built once per leaf set and Spark
    application: above 128 leaves it holds a pandas_udf bound to the
    SparkContext that built it."""
    from pyspark import SparkContext

    t = SleeperTable.create(spark, str(tmp_path / "t"), _kv_schema(),
                            split_points=["k-050000"])
    args = (_kv_rows(spark, 1), t.store.tree, t.schema, t.props)
    first = ingest._leaf_expr(*args)
    assert ingest._leaf_expr(*args) is first
    monkeypatch.setattr(SparkContext, "applicationId",
                        property(lambda self: "another-application"))
    assert ingest._leaf_expr(*args) is not first
