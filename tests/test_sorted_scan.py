"""S2: distributed merge-without-resort (sorted_scan module) — zero
shuffle, per-leaf vectorized k-way merge, total order by partition
concatenation."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sleeper_spark import Field, Schema, SleeperTable
from sleeper_spark.properties import TableProperties
from sleeper_spark.query import Query
from sleeper_spark.ranges import Range, Region

SF = "/root/testdata/sf0.001"


def _events_table(spark, tmp_path, props=None, splits=(300, 600)):
    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "user_id", F.expr("unix_micros(cast(ts as timestamp)) div 1000").alias("ts_ms"),
        F.lit(1).cast("long").alias("n"))
    schema = Schema(
        (Field("event_id", T.LongType()),), (),
        (Field("user_id", T.LongType()), Field("ts_ms", T.LongType()),
         Field("n", T.LongType())))
    t = SleeperTable.create(spark, str(tmp_path / "t"), schema,
                            props or TableProperties(), split_points=list(splits))
    t.ingest(ev.where(F.col("event_id") % 2 == 0))
    t.ingest(ev.where(F.col("event_id") % 2 == 1))
    return t, ev


def test_total_order_and_completeness(spark, tmp_path):
    t, ev = _events_table(spark, tmp_path)
    rows = t.sorted_scan().select(
        F.spark_partition_id().alias("pid"), "*").collect()
    # same multiset of rows as the declarative path
    assert len(rows) == ev.count()
    # concatenating partitions in index order IS the total order
    seq = [(r.pid, r.event_id) for r in rows]
    assert seq == sorted(seq)


def test_zero_shuffle_plan(spark, tmp_path):
    t, _ = _events_table(spark, tmp_path)
    df = t.sorted_scan()
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple")
    assert "Exchange" not in plan
    assert "Sort" not in plan  # no Spark-side re-sort either


def test_range_query_pruning_parity(spark, tmp_path):
    t, ev = _events_table(spark, tmp_path)
    q = Query([Region.of(Range("event_id", 100, 700))])
    got = [r.event_id for r in t.sorted_scan(q).collect()]
    assert got == sorted(got)
    assert got == sorted(r.event_id for r in ev.where(
        "event_id >= 100 AND event_id < 700").collect())


def test_aggregation_parity_with_spark_path(spark, tmp_path):
    t, ev = _events_table(spark, tmp_path, TableProperties(
        aggregations="min(user_id), max(ts_ms), sum(n)"))
    t.ingest(ev)  # overlapping third ingest -> real duplicates to collapse
    merged = {r.event_id: (r.user_id, r.ts_ms, r.n)
              for r in t.sorted_scan(now_millis=0).collect()}
    spark_side = {r.event_id: (r.user_id, r.ts_ms, r.n)
                  for r in t.full_scan(0).collect()}
    assert merged == spark_side
    # every key now has 2 duplicate rows summed
    assert set(v[2] for v in merged.values()) == {2}


def test_ageoff_filter_applies(spark, tmp_path):
    t, ev = _events_table(spark, tmp_path, TableProperties(
        filters="ageOff(ts_ms, 1209600000)"))
    now = 1706140800000
    got = {r.event_id for r in t.sorted_scan(now_millis=now).collect()}
    want = {r.event_id for r in ev.where(
        (F.col("ts_ms").isNotNull())
        & (F.lit(now) - F.col("ts_ms") < 1209600000)).collect()}
    assert got == want


def test_chunked_merge_is_exact_across_batch_boundaries(spark, tmp_path):
    """Force tiny merge batches so chunk cuts happen mid-file; the merge
    must still be exact and ordered."""
    import sleeper_spark.sorted_scan as ss
    t, ev = _events_table(spark, tmp_path, TableProperties(
        aggregations="min(user_id), max(ts_ms), sum(n)"))
    t.ingest(ev)  # overlapping ingest -> duplicates straddle batches
    rows = ss.distributed_sorted_scan(t, now_millis=0, batch_rows=37).collect()
    ids = [r.event_id for r in rows]
    assert ids == sorted(ids) and len(ids) == ev.select("event_id").distinct().count()
    assert all(r.n == 2 for r in rows)


def test_custom_iterator_applied_after_merge(spark, tmp_path):
    t, _ = _events_table(spark, tmp_path, TableProperties(
        iterators="addition(n, user_id, ts_ms)"))
    got = {r.event_id: r.n for r in t.sorted_scan(now_millis=0).collect()}
    want = {r.event_id: r.n for r in t.full_scan(0).collect()}
    assert got == want


def test_sorted_scan_map_aggregation(spark, tmp_path):
    """map_* aggregation now runs inside the zero-shuffle sorted scan
    (full Arrow algebra): point-wise merge, sorted canonical key order."""
    schema = Schema((Field("k", T.StringType()),), (),
                    (Field("tags", T.MapType(T.StringType(), T.LongType())),))
    t = SleeperTable.create(spark, str(tmp_path / "m"), schema,
                            TableProperties(aggregations="map_sum(tags)"))
    t.ingest(spark.createDataFrame(
        [("a", {"x": 1, "b": 2}), ("a", {"x": 5}), ("c", {"y": 7})],
        schema.to_struct_type()))
    rows = {r.k: r.tags for r in t.sorted_scan().collect()}
    # (key ORDER through Spark collect() is a Scala Map round-trip and
    # not contractual; file-level canonical order is pinned in
    # test_arrow_compaction.test_arrow_map_agg_values)
    assert rows == {"a": {"b": 2, "x": 6}, "c": {"y": 7}}


def test_bulk_export_zero_shuffle_path(spark, tmp_path):
    """S6 via sorted_scan: export plan has no Exchange, output per-leaf
    sorted and complete."""
    import pyarrow.parquet as pq
    from sleeper_spark import output
    t, ev = _events_table(spark, tmp_path, TableProperties(
        aggregations="min(user_id), max(ts_ms), sum(n)"))
    t.ingest(ev)
    dest = str(tmp_path / "export")
    out = output.bulk_export(t, dest)
    assert set(out) == {p.id for p in t.store.tree.leaves()}
    total = 0
    for leaf_id, f in out.items():
        pdf = pq.read_table(f).to_pandas()
        assert list(pdf["event_id"]) == sorted(pdf["event_id"])
        assert (pdf["n"] == 2).all()  # aggregation applied in export
        total += len(pdf)
    assert total == ev.select("event_id").distinct().count()


def test_bulk_export_fallback_custom_iterator_plus_aggs(spark, tmp_path):
    """A custom iterator combined with aggregation: the zero-shuffle
    export applies filters -> aggs -> custom iterator and exports the
    same view full_scan serves."""
    import pyarrow.parquet as pq
    from sleeper_spark import output
    t, ev = _events_table(spark, tmp_path, TableProperties(
        aggregations="min(user_id), max(ts_ms), sum(n)",
        iterators="addition(n, n, ts_ms)"))
    t.ingest(ev)
    dest = str(tmp_path / "export")
    out = output.bulk_export(t, dest)
    assert set(out) == {p.id for p in t.store.tree.leaves()}
    got = []
    for leaf_id, f in out.items():
        pdf = pq.read_table(f).to_pandas()
        got += [tuple(r) for r in
                pdf[["event_id", "user_id", "ts_ms", "n"]].itertuples(
                    index=False)]
    want = sorted((r.event_id, r.user_id, r.ts_ms, r.n)
                  for r in t.full_scan().collect())
    assert sorted(got) == want and len(want) > 0
