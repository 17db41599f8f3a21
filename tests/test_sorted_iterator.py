"""J1 k-way sorted-merge iterator: total-order streaming without a Spark
sort, with filters and group-adjacent aggregation (A4) applied."""

from pyspark.sql import functions as F
from pyspark.sql import types as T

from sleeper_spark import Field, Schema, SleeperTable
from sleeper_spark.properties import TableProperties
from sleeper_spark.query import Query
from sleeper_spark.ranges import Range, Region

SF = "/root/testdata/sf0.001"


def _table(spark, tmp_path, props=None):
    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "user_id", F.expr("unix_micros(cast(ts as timestamp)) div 1000").alias("ts_ms"),
        F.lit(1).cast("long").alias("n"))
    schema = Schema(
        (Field("event_id", T.LongType()),),
        (),
        (Field("user_id", T.LongType()), Field("ts_ms", T.LongType()),
         Field("n", T.LongType())),
    )
    t = SleeperTable.create(spark, str(tmp_path / "t"), schema,
                            props or TableProperties(), split_points=[300, 600])
    # two overlapping ingests -> multiple sorted runs per leaf to merge
    t.ingest(ev.where(F.col("event_id") % 2 == 0))
    t.ingest(ev.where(F.col("event_id") % 2 == 1))
    return t, ev


def test_global_order_and_completeness(spark, tmp_path):
    t, ev = _table(spark, tmp_path)
    rows = list(t.sorted_rows())
    ids = [r["event_id"] for r in rows]
    assert ids == sorted(ids)
    assert len(ids) == ev.count()


def test_range_query_streaming(spark, tmp_path):
    t, ev = _table(spark, tmp_path)
    q = Query([Region.of(Range("event_id", 100, 700))])
    ids = [r["event_id"] for r in t.sorted_rows(q)]
    assert ids == sorted(ids)
    assert ids == sorted(
        r.event_id for r in ev.where("event_id >= 100 AND event_id < 700").collect())


def test_group_adjacent_aggregation_matches_spark_path(spark, tmp_path):
    """A4 streaming aggregation over the merge == the Spark groupBy path."""
    t, ev = _table(spark, tmp_path, TableProperties(
        aggregations="min(user_id), max(ts_ms), sum(n)"))
    # ingest twice above -> every key has 1 row per ingest parity; aggregate
    streamed = {r["event_id"]: (r["user_id"], r["ts_ms"], r["n"])
                for r in t.sorted_rows(now_millis=0)}
    spark_side = {r.event_id: (r.user_id, r.ts_ms, r.n)
                  for r in t.full_scan(0).collect()}
    assert streamed == spark_side


def test_ageoff_applies_in_stream(spark, tmp_path):
    t, ev = _table(spark, tmp_path, TableProperties(
        filters="ageOff(ts_ms, 1209600000)"))
    now = 1706140800000  # 2024-01-25 UTC, 14-day window
    ids = {r["event_id"] for r in t.sorted_rows(now_millis=now)}
    want = {r.event_id for r in ev.where(
        (F.col("ts_ms").isNotNull())
        & (F.lit(now) - F.col("ts_ms") < 1209600000)).collect()}
    assert ids == want


def test_custom_iterator_chain_applies_in_stream(spark, tmp_path):
    """ADVICE r1: sorted_rows must apply props.iterators like every other
    read path (IteratorFactory.getIterator applies filters -> aggregation
    -> custom on all reads)."""
    t, ev = _table(spark, tmp_path, TableProperties(
        iterators="addition(n, user_id, ts_ms)"))
    streamed = {r["event_id"]: r["n"] for r in t.sorted_rows(now_millis=0)}
    spark_side = {r.event_id: r.n for r in t.full_scan(0).collect()}
    assert streamed == spark_side


def test_security_filter_drops_same_rows_in_stream(spark, tmp_path):
    schema = Schema(
        (Field("k", T.LongType()),),
        (),
        (Field("label", T.StringType(), nullable=True),),
    )
    t = SleeperTable.create(
        spark, str(tmp_path / "sec"), schema,
        TableProperties(iterators="securityFilter(label, public)"))
    rows = [(1, "public"), (2, "secret"), (3, None), (4, ""), (5, "public")]
    t.ingest(spark.createDataFrame(rows, schema.to_struct_type()))
    streamed = [r["k"] for r in t.sorted_rows()]
    spark_side = sorted(r.k for r in t.full_scan().collect())
    assert streamed == spark_side == [1, 3, 4, 5]


def test_unknown_row_iterator_raises(spark, tmp_path):
    t, _ = _table(spark, tmp_path)
    t.props.iterators = "someDataFrameOnlyThing(x)"
    import pytest
    with pytest.raises(ValueError, match="no row-wise form|unknown"):
        next(iter(t.sorted_rows()))


def test_null_sort_keys_and_null_sum(spark, tmp_path):
    """ADVICE r1: null sort-key entries and null agg inputs must not
    TypeError — match Spark's NULLS FIRST sort and null-skipping sum."""
    schema = Schema(
        (Field("k", T.StringType()),),
        (Field("s", T.LongType()),),
        (Field("v", T.LongType(), nullable=True),),
    )
    t = SleeperTable.create(spark, str(tmp_path / "n"), schema)
    rows = [("a", 1, 1), ("a", 5, None), ("b", 1, None), ("b", 2, 7)]
    t.ingest(spark.createDataFrame(rows, schema.to_struct_type()))
    got = [(r["k"], r["s"], r["v"]) for r in t.sorted_rows()]
    assert got == [("a", 1, 1), ("a", 5, None), ("b", 1, None), ("b", 2, 7)]
    # null-tolerant aggregation kernel (nullable value columns are legal;
    # Spark's sum/min/max skip nulls rather than raise)
    import pyarrow as pa

    from sleeper_spark.sorted_scan import _aggregate_chunk_sorted
    chunk = pa.table({"k": ["a", "a", "b", "b", "c", "c"],
                      "v": pa.array([None, 3, 3, None, None, None],
                                    pa.int64())})
    out = _aggregate_chunk_sorted(chunk, {
        "key_names": ["k"], "aggs": [("v", "sum")],
        "column_order": ["k", "v"]})
    assert out.to_pylist() == [{"k": "a", "v": 3}, {"k": "b", "v": 3},
                               {"k": "c", "v": None}]
