"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship end-to-end lifecycle (ingest → compact →
query on a real SleeperTable). ``queries()`` exposes every implemented
operator from SURVEY.md §2 plus the beyond-reference surface (joins,
windows, SQL scalars, dedup, similarity, text analysis, multimodal
plumbing) as (spark, sf_dir) callables; ``oracle_sql()`` carries the
DuckDB-equivalent ANSI SQL for every SQL-expressible one.

Cross-engine determinism rules used throughout (and mirrored in each
oracle):

- ``events.ts`` is a high-resolution parquet TIMESTAMP whose physical
  unit has varied across driver testdata generations (NANOS, now
  MICROS) — ``_load`` normalises whatever arrives to epoch-micros longs
  + TIMESTAMP_NTZ, matching DuckDB's ``epoch_us`` on the same column.
  Orders/lineitem timestamps are micros → TIMESTAMP_NTZ (tz-free on
  both engines; session tz pinned to UTC anyway).
- Aggregated doubles are summed as DECIMAL (exact, order-independent),
  then cast back to double and rounded — float sums would differ between
  engines in the last ulps and break the value hash.
- Every computed column is aliased identically in Spark and SQL; int-ish
  outputs are cast so Spark (int) and DuckDB (bigint) schemas agree.
"""

from __future__ import annotations

import os
import sys
import tempfile
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sleeper_spark.functions import dedup, multimodal, sampling, similarity, text
from sleeper_spark.iterators import parse_aggregations, parse_filters
from sleeper_spark.processing import apply_aggregations, apply_filters
from sleeper_spark.properties import TableProperties
from sleeper_spark.query import local_rows_df
from sleeper_spark.ranges import Range, Region, regions_to_column
from sleeper_spark.schema import Field, Schema
from sleeper_spark.table import SleeperTable
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# fixture-cost telemetry (r10 VERDICT Next #4)
# ---------------------------------------------------------------------------

#: entry name -> seconds the LAST invocation spent building its fixture
#: (tempdir + table create + ingest + index/view builds + mutations)
#: before the measured operator ran. Lifecycle-heavy entries stamp it
#: (``_t0 = _setup_start()`` ... ``_setup_done(name, _t0)``); bench.py
#: reads it after timing a query so BENCH_DETAIL.json can grade the
#: operator separately from ``tempfile.mkdtemp`` + ingest. Entries
#: that are pure queries never appear here.
SETUP_SEC: dict[str, float] = {}


def _setup_start() -> float:
    import time as _time
    return _time.perf_counter()


def _setup_done(name: str, t0: float) -> None:
    import time as _time
    SETUP_SEC[name] = round(_time.perf_counter() - t0, 3)


# ---------------------------------------------------------------------------
# loading helpers
# ---------------------------------------------------------------------------

#: tables with a high-resolution timestamp column to normalise
_NANOS_TS = {"events": ["ts"]}


def _ts_unit_is_nanos(path: str, col: str) -> bool:
    """Probe the parquet footer for a timestamp column's physical unit."""
    import pyarrow.parquet as _pq

    return "ns" in str(_pq.read_schema(path).field(col).type)


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table with deterministic timestamp handling.

    events.ts surfaces as ``ts_us`` (epoch micros, long), ``ts_ms``
    (epoch millis, long) and ``ts`` (TIMESTAMP_NTZ) regardless of how
    the column is physically stored. The physical unit has drifted
    across driver testdata generations (NANOS <-> MICROS), so the footer
    is probed per read: TIMESTAMP(NANOS) would fail Spark's reader
    outright (PARQUET_TYPE_ILLEGAL, verified on this build) unless
    ``spark.sql.legacy.parquet.nanosAsLong`` is set, under which the
    column arrives as a raw int64-nanos bigint and is divided down;
    TIMESTAMP(MICROS) loads as a Spark timestamp directly. Both routes
    floor to micros — the same floor DuckDB's ``epoch_us`` applies.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name in _NANOS_TS:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong",
                       "true" if _ts_unit_is_nanos(path, _NANOS_TS[name][0])
                       else "false")
    df = spark.read.parquet(path)
    for c in _NANOS_TS.get(name, []):
        if dict(df.dtypes)[c] == "bigint":  # raw nanos
            us = F.expr(f"{c} div 1000")
        else:
            us = F.unix_micros(F.col(c).cast("timestamp"))
        df = df.withColumn(f"{c}_us", us) \
               .withColumn(f"{c}_ms", F.expr(f"{c}_us div 1000")) \
               .withColumn(c, F.timestamp_micros(F.col(f"{c}_us"))
                              .cast("timestamp_ntz"))
    if name in ("documents", "embeddings"):
        # CPU-bound text/vector derivations over a single small parquet
        # file would otherwise run in one task
        df = dedup._spread(df)
    return df


def _dec_sum(col, scale: int = 2, round_to: int | None = None):
    """Exact decimal sum of a double column, back to rounded double."""
    s = F.sum(F.col(col).cast(f"decimal(18,{scale})") if isinstance(col, str) else col.cast(f"decimal(18,{scale})"))
    d = s.cast("double")
    return F.round(d, round_to if round_to is not None else scale)


def _revenue_dec():
    """Exact decimal l_extendedprice * (1 - l_discount): base columns hold
    clean 2-decimal values, so the double->decimal casts are unambiguous;
    the products/sums are then exact and engine-independent."""
    return (F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")))


def _charge_dec():
    return _revenue_dec() * (F.lit(1).cast("decimal(4,2)")
                             + F.col("l_tax").cast("decimal(4,2)"))


def rev_type() -> str:
    """Decimal type used for the zero literal paired with _revenue_dec in
    conditional aggregation (coerced to the revenue decimal by when/otherwise)."""
    return "decimal(18,4)"


_EVENTS_COLS = ["event_id", "ts_us", "user_id", "event_type", "value", "props"]


# ---------------------------------------------------------------------------
# Sleeper-core operators (SURVEY §2.1–2.5, §3.1)
# ---------------------------------------------------------------------------

def q_exact_key(spark: SparkSession, sf: str) -> DataFrame:
    """P2 exact-key lookup: a one-point region on the row key
    (SleeperClient.exact_key_query, python/src/sleeper/client.py:221-260)."""
    ev = _load(spark, sf, "events")
    pred = regions_to_column([Region.of(Range("event_id", 4242, 4243))])
    return ev.where(pred).select(*_EVENTS_COLS)


def q_batch_point_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's headline access pattern — thousands of point
    queries in parallel (README.md:22-24) — as ONE job: the key set
    broadcast-hash-joins the scan instead of building an N-branch OR
    predicate (N-invariant plan; SleeperTable.batch_exact_key_query is
    the table-backed form, pinned in lifecycle tests)."""
    ev = _load(spark, sf, "events")
    keys = local_rows_df(
        spark, [(i * 37,) for i in range(200)], "event_id long")
    return ev.join(F.broadcast(keys), "event_id").select(*_EVENTS_COLS)


def q_range_query(spark: SparkSession, sf: str) -> DataFrame:
    """P2 single-region range query, min-inclusive/max-exclusive
    (Range.java:34-68)."""
    ev = _load(spark, sf, "events")
    pred = regions_to_column([Region.of(Range("event_id", 1000, 2000))])
    return ev.where(pred).select(*_EVENTS_COLS)


def q_multi_region(spark: SparkSession, sf: str) -> DataFrame:
    """P2 multi-region query = OR of region predicates
    (RangeQueryUtils.java:48-120)."""
    ev = _load(spark, sf, "events")
    pred = regions_to_column([
        Region.of(Range("event_id", 1000, 1500)),
        Region.of(Range("event_id", 8000, 8200)),
    ])
    return ev.where(pred).select(*_EVENTS_COLS)


def q_multidim_region(spark: SparkSession, sf: str) -> DataFrame:
    """P2 multi-dimensional region: AND across row-key dimensions
    (Region.java — one Range per dimension)."""
    o = _load(spark, sf, "orders")
    pred = regions_to_column([
        Region((Range("o_orderkey", 100, 5000), Range("o_custkey", 100, 800))),
    ])
    return o.where(pred).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.col("o_orderdate").cast("date").alias("o_orderdate"), "o_orderpriority")


def q_projection(spark: SparkSession, sf: str) -> DataFrame:
    """P1 requested-value-field projection: keys always returned, value
    fields narrowed (LeafPartitionQueryExecutor.java:105-131)."""
    ev = _load(spark, sf, "events")
    pred = regions_to_column([Region.of(Range("event_id", 0, 3000))])
    return ev.where(pred).select("event_id", "event_type", "value")


def q_ageoff_filter(spark: SparkSession, sf: str) -> DataFrame:
    """P3 ageOff(column, maxAge): drop null-or-expired rows with a fixed
    ``now`` (AgeOffFilter.java:82-85; ageoff.rs:40-52). now = 2024-01-25
    00:00 UTC, maxAge = 14 days."""
    now_ms = 1706140800000
    ev = _load(spark, sf, "events")
    filters = parse_filters("ageOff(ts_ms, 1209600000)")
    return apply_filters(ev, filters, now_ms).select("event_id", "user_id", "ts_ms")


def q_aggregation_sum_min_max(spark: SparkSession, sf: str) -> DataFrame:
    """A1/A2/A4 continual key-collapsing aggregation: group by (row keys +
    sort keys), one op per value column (AggregationOp.java:25-105,
    docs/usage/data-processing.md:33-48). Count is sum over a count column
    — the canonical Sleeper pattern."""
    ev = _load(spark, sf, "events").select(
        "user_id", "event_type",
        F.col("value").cast("decimal(18,4)").alias("value_dec"),
        F.lit(1).cast("long").alias("n"),
        "ts_us",
    )
    schema = Schema(
        (Field("user_id", T.LongType()),),
        (Field("event_type", T.StringType()),),
        (Field("value_dec", T.DecimalType(18, 4)), Field("n", T.LongType()),
         Field("ts_us", T.LongType())),
    )
    aggs = parse_aggregations("sum(value_dec), sum(n), min(ts_us)")
    out = apply_aggregations(ev, schema, aggs)
    return out.select(
        "user_id", "event_type",
        F.round(F.col("value_dec").cast("double"), 4).alias("sum_value"),
        F.col("n").alias("n_rows"),
        F.col("ts_us").alias("min_ts_us"),
    )


def q_aggregation_map_sum(spark: SparkSession, sf: str) -> DataFrame:
    """A3 map_sum: point-wise map merge (AggregationOp.java:144-215,
    map_aggregate.rs:28-40), exploded to rows for the oracle compare.
    Map values ride as DECIMAL(18,4) so the sum is exact and
    order-independent across engines (same rule as the scalar sums)."""
    ev = _load(spark, sf, "events").select(
        "user_id",
        F.create_map(F.col("event_type"),
                     F.col("value").cast("decimal(18,4)")).alias("type_values"),
    )
    schema = Schema(
        (Field("user_id", T.LongType()),),
        (),
        (Field("type_values", T.MapType(T.StringType(), T.DecimalType(18, 4))),),
    )
    out = apply_aggregations(ev, schema, parse_aggregations("map_sum(type_values)"))
    return out.select(
        "user_id", F.explode(F.col("type_values")).alias("event_type", "v")
    ).select("user_id", "event_type",
             F.round(F.col("v").cast("double"), 4).alias("sum_value"))


def q_aggregation_map_min_max(spark: SparkSession, sf: str) -> DataFrame:
    """A3 map_min/map_max: point-wise map merges, exploded to rows for the
    oracle (AggregationOp.java:144-215 handleMap)."""
    ev = _load(spark, sf, "events").select(
        "user_id",
        F.create_map(F.col("event_type"), F.col("value")).alias("lo"),
        F.create_map(F.col("event_type"), F.col("value")).alias("hi"),
    )
    schema = Schema(
        (Field("user_id", T.LongType()),),
        (),
        (Field("lo", T.MapType(T.StringType(), T.DoubleType())),
         Field("hi", T.MapType(T.StringType(), T.DoubleType()))),
    )
    out = apply_aggregations(ev, schema,
                             parse_aggregations("map_min(lo), map_max(hi)"))
    lo = out.select("user_id", F.explode("lo").alias("event_type", "min_value"))
    hi = out.select("user_id", F.explode("hi").alias("event_type", "max_value"))
    return lo.join(hi, ["user_id", "event_type"])


def q_string_concat_sum(spark: SparkSession, sf: str) -> DataFrame:
    """A1 sum(string) = concatenation in table sort order
    (AggregationOp.java:25-47): deterministic given a total sort order —
    here (ts_us, event_id) within each user."""
    ev = _load(spark, sf, "events").where(F.col("user_id") < 20)
    ordered = F.array_sort(F.collect_list(
        F.struct(F.col("ts_us"), F.col("event_id"), F.col("event_type"))))
    return ev.groupBy("user_id").agg(
        F.array_join(F.transform(ordered, lambda s: s.getField("event_type")), "")
        .alias("type_concat"))


def q_sleeper_lifecycle(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end engine lifecycle (SURVEY §3.1 + O1/O7): ingest events into
    a real SleeperTable (range-partitioned sorted parquet + transaction
    log), compact with table aggregation `sum(n)`, then full-scan query.
    The DuckDB oracle is a plain GROUP BY — so the whole write/compact/read
    path hash-matches a SQL engine."""
    ev = _load(spark, sf, "events").select(
        F.col("user_id"), F.col("event_type"), F.lit(1).cast("long").alias("n"))
    schema = Schema(
        (Field("user_id", T.LongType()),),
        (Field("event_type", T.StringType()),),
        (Field("n", T.LongType()),),
    )
    tmp = tempfile.mkdtemp(prefix="sleeper_lifecycle_")
    table = SleeperTable.create(
        spark, os.path.join(tmp, "t"), schema,
        TableProperties(aggregations="sum(n)"),
        split_points=[250, 500, 750],
    )
    table.ingest(ev.where(F.col("user_id") % 2 == 0))
    table.ingest(ev.where(F.col("user_id") % 2 == 1))
    table.compact()
    return table.full_scan()


def q_value_filter_skipping(spark: SparkSession, sf: str) -> DataFrame:
    """Value-column file skipping end-to-end (query.py Query.value_ranges):
    events ingested into a SleeperTable in three DISJOINT user_id bands
    (three files with disjoint sidecar footer min/max), then a
    full-key-range query filtered on the user_id VALUE column — the
    planner drops the two provably-out-of-band files before opening any
    footer; the oracle is a plain WHERE over the same rows."""
    ev = _load(spark, sf, "events").select(
        F.col("event_id"), F.col("user_id"), F.col("event_type"))
    schema = Schema(
        (Field("event_id", T.LongType()),),
        (),
        (Field("user_id", T.LongType(), True),
         Field("event_type", T.StringType(), True)),
    )
    _t0 = _setup_start()
    tmp = tempfile.mkdtemp(prefix="sleeper_skip_")
    table = SleeperTable.create(spark, os.path.join(tmp, "t"), schema,
                                TableProperties())
    for lo, hi in ((0, 40), (40, 70), (70, 10**9)):
        band = ev.where((F.col("user_id") >= lo) & (F.col("user_id") < hi))
        table.ingest(band)
    _setup_done("value_filter_skipping", _t0)
    return table.full_scan(
        value_ranges=[Range("user_id", 40, 70)]).select(
        "event_id", "user_id", "event_type")


def q_delete_where(spark: SparkSession, sf: str) -> DataFrame:
    """Copy-on-write DELETE end-to-end (deletes.py): ingest events into
    a SleeperTable in two halves, delete a key region (bloom/minmax
    file-pruned rewrite) and then all 'click' rows by value predicate,
    and full-scan what remains. The oracle is a plain WHERE NOT over the
    same source rows — so the rewrite/swap/GC-queue machinery must be
    exactly row-equivalent to never having had the rows."""
    ev = _load(spark, sf, "events").select(
        F.col("event_id"), F.col("user_id"), F.col("event_type"))
    schema = Schema(
        (Field("event_id", T.LongType()),),
        (),
        (Field("user_id", T.LongType(), True),
         Field("event_type", T.StringType(), True)),
    )
    _t0 = _setup_start()
    tmp = tempfile.mkdtemp(prefix="sleeper_delete_")
    table = SleeperTable.create(spark, os.path.join(tmp, "t"), schema,
                                TableProperties(), split_points=[3000])
    table.ingest(ev.where(F.col("event_id") % 2 == 0))
    table.ingest(ev.where(F.col("event_id") % 2 == 1))
    _setup_done("delete_where", _t0)
    table.delete_where(regions=[Region.of(Range("event_id", 2000, 2500))])
    table.delete_where(value_ranges=[
        Range("event_type", "click", "click", True, True)])
    return table.full_scan().select("event_id", "user_id", "event_type")


def q_table_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Branch diff end-to-end (table.diff): ingest part into a table,
    zero-copy clone it, mutate the BRANCH (delete one key region +
    ingest a price-bumped copy of the low keys), then diff base vs
    branch. Shared hard-linked files are pruned from the diff scan
    (inode identity), so the cost tracks divergence, not table size —
    plan-pinned in tests/test_diff.py. The oracle recomputes both
    change sets straight from the source parquet."""
    part = _load(spark, sf, "part").select(
        "p_partkey", "p_name", "p_size", "p_retailprice")
    schema = Schema(
        (Field("p_partkey", T.LongType()),),
        (),
        (Field("p_name", T.StringType(), True),
         Field("p_size", T.IntegerType(), True),
         Field("p_retailprice", T.DoubleType(), True)),
    )
    _t0 = _setup_start()
    tmp = tempfile.mkdtemp(prefix="sleeper_diff_")
    base = SleeperTable.create(spark, os.path.join(tmp, "base"), schema,
                               TableProperties(),
                               split_points=[100, 200, 300])
    base.ingest(part)
    branch = base.clone(os.path.join(tmp, "branch"))
    branch.delete_where(regions=[Region.of(Range("p_partkey", 120, 180))])
    mod = part.where(F.col("p_partkey") <= 50).withColumn(
        "p_retailprice", F.round(F.col("p_retailprice") + 1000.0, 2))
    branch.ingest(mod)
    _setup_done("table_diff", _t0)
    return base.diff(branch)


def q_materialized_view(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental materialized view (views.py): events land in the
    source table across three ingests with a change-feed refresh after
    each; the per-(user, type) count/sum view is maintained by
    ingesting DELTAS into an aggregation table — each refresh reads
    only the newly appended files, and the engine's own collapse makes
    the view equal the batch recomputation regardless of refresh
    batching. Oracle = that batch GROUP BY."""
    from sleeper_spark.views import MaterializedView
    ev = _load(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "value")
    src_schema = Schema(
        (Field("event_id", T.LongType()),), (),
        (Field("user_id", T.LongType(), True),
         Field("event_type", T.StringType(), True),
         Field("value", T.DoubleType(), True)))
    view_schema = Schema(
        (Field("user_id", T.LongType()),
         Field("event_type", T.StringType())), (),
        (Field("n", T.LongType()), Field("v_cents", T.LongType())))
    tmp = tempfile.mkdtemp(prefix="sleeper_mv_")
    src = SleeperTable.create(spark, os.path.join(tmp, "src"),
                              src_schema, TableProperties(),
                              split_points=[3000, 6000])
    dest = SleeperTable.create(
        spark, os.path.join(tmp, "view"), view_schema,
        TableProperties(aggregations="sum(n), sum(v_cents)"))

    def transform(batch: DataFrame) -> DataFrame:
        # floor() (not round) so both engines take the identical IEEE
        # double through a total, tie-free function
        return batch.select(
            "user_id", "event_type",
            F.lit(1).cast("long").alias("n"),
            F.floor(F.col("value") * 100).cast("long").alias("v_cents"))

    mv = MaterializedView(src, dest, transform)
    for third in range(3):
        src.ingest(ev.where(F.col("event_id") % 3 == third))
        mv.refresh()
    return dest.full_scan()


def q_secondary_index(spark: SparkSession, sf: str) -> DataFrame:
    """Secondary index as a materialized view (views.SecondaryIndex):
    postings keyed (user_id, event_id) maintained through the change
    feed across two source ingests; lookups run an LSM point query on
    the INDEX (partition-pruned + Bloom-skipped) then a
    batch_exact_key_query on the source — no source scan anywhere.
    Returns the union of three user lookups; oracle = plain WHERE
    user_id IN (...)."""
    from sleeper_spark.views import SecondaryIndex
    _t0 = _setup_start()
    ev = _load(spark, sf, "events").select(
        "event_id", "user_id", "event_type")
    schema = Schema(
        (Field("event_id", T.LongType()),), (),
        (Field("user_id", T.LongType(), True),
         Field("event_type", T.StringType(), True)))
    tmp = tempfile.mkdtemp(prefix="sleeper_sidx_")
    src = SleeperTable.create(spark, os.path.join(tmp, "src"), schema,
                              TableProperties(),
                              split_points=[3000, 6000])
    idx = SecondaryIndex.create(src, os.path.join(tmp, "idx"),
                                "user_id", split_points=[50])
    src.ingest(ev.where(F.col("event_id") % 2 == 0))
    idx.refresh()
    src.ingest(ev.where(F.col("event_id") % 2 == 1))
    idx.refresh()
    _setup_done("secondary_index", _t0)
    out = idx.lookup(7)
    for uid in (42, 99):
        out = out.unionByName(idx.lookup(uid))
    return out


def q_composite_index(spark: SparkSession, sf: str) -> DataFrame:
    """COMPOSITE secondary index (views.SecondaryIndex on TWO value
    columns): postings keyed (event_type, user_id, event_id) — the
    multi-column b-tree shape; a lookup supplies both columns and runs
    one LSM point query on the index (partition-pruned on the leading
    column, Bloom-skipped) then batch_exact_key_query on the source.
    Includes a delete_where maintained INCREMENTALLY through the
    tombstone feed before the lookups. Oracle = plain two-column WHERE
    over the surviving rows."""
    from sleeper_spark.views import SecondaryIndex
    _t0 = _setup_start()
    ev = _load(spark, sf, "events").select(
        "event_id", "user_id", "event_type")
    schema = Schema(
        (Field("event_id", T.LongType()),), (),
        (Field("user_id", T.LongType(), True),
         Field("event_type", T.StringType(), True)))
    tmp = tempfile.mkdtemp(prefix="sleeper_cidx_")
    src = SleeperTable.create(spark, os.path.join(tmp, "src"), schema,
                              TableProperties(),
                              split_points=[3000, 6000])
    idx = SecondaryIndex.create(src, os.path.join(tmp, "idx"),
                                ["event_type", "user_id"])
    src.ingest(ev)
    idx.refresh()
    src.delete_where(regions=[Region.of(Range("event_id", 0, 1000))])
    idx.refresh()  # incremental tombstone application, no rebuild
    _setup_done("composite_index", _t0)
    out = idx.lookup(("click", 7))
    for pair in (("view", 42), ("purchase", 99)):
        out = out.unionByName(idx.lookup(pair))
    return out


def q_update_where(spark: SparkSession, sf: str) -> DataFrame:
    """Copy-on-write UPDATE (updates.py, table.update_where): rows in
    a key range get two value columns reassigned (constant + NULL) in
    ONE atomic REPLACE commit — matching rows rewritten with
    assignments applied, kept rows byte-identical, both outputs sorted
    (keys not assignable), old versions tombstoned and new versions
    stamped for the incremental feeds. File-level pruning (partition
    regions, footer min/max, Blooms) bounds the rewrite to the files
    that can match — never the table. Crash-atomicity is pinned by
    tests/test_updates.py (kill between rewrite and commit leaves the
    old version readable). Oracle = CASE WHEN over the same rows."""
    _t0 = _setup_start()
    ev = _load(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "value")
    schema = Schema(
        (Field("event_id", T.LongType()),), (),
        (Field("user_id", T.LongType(), True),
         Field("event_type", T.StringType(), True),
         Field("value", T.DoubleType(), True)))
    tmp = tempfile.mkdtemp(prefix="sleeper_upd_")
    table = SleeperTable.create(spark, os.path.join(tmp, "t"), schema,
                                TableProperties(),
                                split_points=[3000, 6000])
    table.ingest(ev)
    _setup_done("update_where", _t0)
    res = table.update_where(
        {"event_type": "redacted", "value": None},
        regions=[Region.of(Range("event_id", 2000, 2500))])
    # the range holds rows at sf>=0.01 (the driver's oracle gate) and
    # is empty at sf0.001 — the oracle equality holds either way
    assert res["rows_updated"] > 0 or \
        ev.where("event_id >= 2000 AND event_id < 2500").isEmpty()
    return table.full_scan()


def q_functional_index(spark: SparkSession, sf: str) -> DataFrame:
    """FUNCTIONAL secondary index (views.SecondaryIndex with expr= —
    the CREATE INDEX ON expression(...) shape): postings keyed by a
    DERIVED column, here the event's day bucket ``ts_us div
    86400000000``, persisted in the index table's properties so load()
    restores the derivation. The first three days of surviving events
    are answered via lookup_prefix_range on the derived key — index
    partition pruning + batch point lookups on the source, with the
    residual re-derived over source rows. Includes a delete_where
    maintained incrementally (the handler re-derives the expression
    on tombstoned rows). Oracle recomputes the same integer-division
    bucket in SQL."""
    from sleeper_spark.views import SecondaryIndex
    _t0 = _setup_start()
    ev = _load(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "ts_us")
    schema = Schema(
        (Field("event_id", T.LongType()),), (),
        (Field("user_id", T.LongType(), True),
         Field("event_type", T.StringType(), True),
         Field("ts_us", T.LongType(), True)))
    tmp = tempfile.mkdtemp(prefix="sleeper_fidx_")
    src = SleeperTable.create(spark, os.path.join(tmp, "src"), schema,
                              TableProperties(),
                              split_points=[3000, 6000])
    idx = SecondaryIndex.create(
        src, os.path.join(tmp, "idx"), "day",
        expr={"day": "ts_us div 86400000000"})
    src.ingest(ev)
    idx.refresh()
    src.delete_where(regions=[Region.of(Range("event_id", 0, 1000))])
    idx.refresh()  # incremental, re-derives the expression
    _setup_done("functional_index", _t0)
    d0 = ev.agg(F.min(F.expr("ts_us div 86400000000"))).first()[0]
    return idx.lookup_prefix_range([], int(d0), int(d0) + 3)


def q_check_constraints(spark: SparkSession, sf: str) -> DataFrame:
    """Ingest-time CHECK constraints (TableProperties.constraints —
    the Delta CONSTRAINT analog): a SQL boolean over the row enforced
    as a codegen'd guard INSIDE the partition-id expression (zero
    extra scan, same anti-pruning idiom as the null-key guard); a
    violating row fails the write job before anything commits, and
    NULL passes like SQL CHECK. The violation/atomicity/merge-gate
    paths are pinned in tests/test_table_lifecycle.py; this entry
    proves the PASS path end-to-end: a constrained ingest of
    satisfying rows commits and scans back exactly. Oracle = the same
    rows (the constraint validates, never filters)."""
    ev = _load(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "value") \
        .where("event_id < 2000")
    schema = Schema(
        (Field("event_id", T.LongType()),), (),
        (Field("user_id", T.LongType(), True),
         Field("event_type", T.StringType(), True),
         Field("value", T.DoubleType(), True)))
    tmp = tempfile.mkdtemp(prefix="sleeper_ck_")
    table = SleeperTable.create(
        spark, os.path.join(tmp, "t"), schema,
        TableProperties(constraints=(
            "event_id >= 0 AND event_type IN ('click', 'view', "
            "'purchase', 'signup', 'error')")),
        split_points=[1000])
    table.ingest(ev)
    return table.full_scan()


def q_merge_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """Atomic MERGE / full-row upsert (merge.py, table.merge_upsert):
    the warehouse MERGE INTO — target rows for the source's row keys
    REPLACED by the source's rows, unseen keys INSERTED, in ONE
    MERGE_FILES transaction (replace + add components land together;
    no half-upserted window, unlike a delete+ingest composition).
    Candidates pruned by per-key tree descent + Blooms and claimed
    like compactions; insert files come from the standard commit-free
    ingest writer. Crash atomicity and view/index maintenance pinned
    in tests/test_merge_upsert.py. Oracle = anti-join + union over
    the same deterministic source."""
    ev = _load(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "value")
    schema = Schema(
        (Field("event_id", T.LongType()),), (),
        (Field("user_id", T.LongType(), True),
         Field("event_type", T.StringType(), True),
         Field("value", T.DoubleType(), True)))
    _t0 = _setup_start()
    tmp = tempfile.mkdtemp(prefix="sleeper_merge_")
    table = SleeperTable.create(spark, os.path.join(tmp, "t"), schema,
                                TableProperties(),
                                split_points=[3000, 6000])
    table.ingest(ev)
    _setup_done("merge_upsert", _t0)
    src = (ev.where("event_id >= 1000 AND event_id < 1500")
           .select("event_id", "user_id",
                   F.lit("merged").alias("event_type"),
                   (F.col("value") * 2).alias("value"))
           .unionByName(
               ev.where("event_id < 200").select(
                   (F.col("event_id") + 20000000).alias("event_id"),
                   "user_id", F.lit("inserted").alias("event_type"),
                   "value")))
    res = table.merge_upsert(src)
    assert res["rows_inserted"] > 0
    assert res["rows_replaced"] > 0 or \
        ev.where("event_id >= 1000 AND event_id < 1500").isEmpty()
    return table.full_scan()


def q_schema_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """Schema evolution end-to-end (table.add_value_column /
    drop_value_column — metadata-only ADD/DROP COLUMN, now also an
    EVOLVE_SCHEMA log record CDC replication replays): half the events
    ingest BEFORE a ``note`` column exists (those rows must read back
    NULL-padded), half after (carrying real values), then ``value`` is
    DROPPED and a compaction rewrites the files through the evolved
    schema — so the scan crosses pre-evolution files, post-evolution
    files, and physically-materialized rewrites in one result. Oracle
    = CASE on which half each row ingested in."""
    _t0 = _setup_start()
    ev = _load(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "value")
    schema = Schema(
        (Field("event_id", T.LongType()),), (),
        (Field("user_id", T.LongType(), True),
         Field("event_type", T.StringType(), True),
         Field("value", T.DoubleType(), True)))
    tmp = tempfile.mkdtemp(prefix="sleeper_evo_")
    table = SleeperTable.create(spark, os.path.join(tmp, "t"), schema,
                                TableProperties(),
                                split_points=[3000, 6000])
    table.ingest(ev.where("event_id % 2 = 0"))
    table.add_value_column(Field("note", T.StringType(), True))
    table.ingest(ev.where("event_id % 2 = 1").withColumn(
        "note", F.concat(F.lit("n"), F.col("user_id").cast("string"))))
    table.drop_value_column("value")
    table.compact()  # materialize both evolutions physically
    _setup_done("schema_evolution", _t0)
    return table.full_scan()


def q_merge_when(spark: SparkSession, sf: str) -> DataFrame:
    """Conditional MERGE (merge.merge_when, table.merge_when): the
    Delta/ANSI MERGE INTO clause surface in one atomic MERGE_FILES
    commit — WHEN MATCHED AND t.event_type='purchase' THEN DELETE,
    WHEN MATCHED AND t.event_type='click' THEN UPDATE SET (type
    renamed, value = t.value + s.value, expressions over both sides),
    WHEN NOT MATCHED THEN INSERT. Matched rows hitting neither clause
    — and every key group no clause touches — keep their physical
    files (pytest-pinned). Oracle = the same CASE/anti-join algebra
    in SQL."""
    _t0 = _setup_start()
    ev = _load(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "value")
    schema = Schema(
        (Field("event_id", T.LongType()),), (),
        (Field("user_id", T.LongType(), True),
         Field("event_type", T.StringType(), True),
         Field("value", T.DoubleType(), True)))
    tmp = tempfile.mkdtemp(prefix="sleeper_mw_")
    table = SleeperTable.create(spark, os.path.join(tmp, "t"), schema,
                                TableProperties(),
                                split_points=[3000, 6000])
    table.ingest(ev)
    _setup_done("merge_when", _t0)
    src = (ev.where("event_id >= 1000 AND event_id < 1600")
           .select("event_id", "user_id",
                   F.lit("src").alias("event_type"),
                   (F.col("value") * 3).alias("value"))
           .unionByName(ev.where("event_id < 150").select(
               (F.col("event_id") + 25000000).alias("event_id"),
               "user_id", F.lit("inserted").alias("event_type"),
               "value")))
    table.merge_when(
        src,
        update_set={"event_type": "'cond_upd'",
                    "value": "t.value + s.value"},
        update_condition="t.event_type = 'click'",
        delete_condition="t.event_type = 'purchase'")
    return table.full_scan()


def q_delete_exact_rows(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-row deletion (deletes.delete_exact_rows): remove an
    EXPLICIT row set by null-safe full-row equality — the CDC-apply
    primitive behind replication_cdc, here gated directly. Victims
    are every 97th event (full rows, not a predicate pushed to the
    engine: the delete receives the rows themselves); a same-key
    near-miss row is ingested first and must SURVIVE, proving the
    match is full-row, not key-level. Oracle = anti-join on all
    columns."""
    ev = _load(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "value")
    schema = Schema(
        (Field("event_id", T.LongType()),), (),
        (Field("user_id", T.LongType(), True),
         Field("event_type", T.StringType(), True),
         Field("value", T.DoubleType(), True)))
    _t0 = _setup_start()
    tmp = tempfile.mkdtemp(prefix="sleeper_der_")
    table = SleeperTable.create(spark, os.path.join(tmp, "t"), schema,
                                TableProperties(),
                                split_points=[3000, 6000])
    near_miss = ev.where("event_id % 97 = 0").select(
        "event_id", "user_id", F.lit("near_miss").alias("event_type"),
        "value")
    table.ingest(ev.unionByName(near_miss))
    _setup_done("delete_exact_rows", _t0)
    res = table.delete_exact_rows(ev.where("event_id % 97 = 0"))
    assert res["rows_deleted"] > 0
    return table.full_scan()


def q_split_point_advisor(spark: SparkSession, sf: str) -> DataFrame:
    """Split-point advisor (maintenance.suggest_split_points): the 7
    exact order-statistic keys that pre-balance an 8-way table on
    lineitem.l_orderkey BEFORE the first bulk import (the reference
    pre-splits its system-test tables for the same reason) — one
    distributed cumulative-histogram job, percentile_disc semantics,
    duplicates collapsed on skew. Pytest pins that the suggested
    points actually balance an ingest within 2x
    (tests/test_sketches.py). Oracle = the same integer-ceil rank
    arithmetic in SQL."""
    from sleeper_spark.maintenance import suggest_split_points
    li = _load(spark, sf, "lineitem").select("l_orderkey")
    pts = suggest_split_points(li, "l_orderkey", 8)
    return local_rows_df(
        spark, [(i + 1, int(p)) for i, p in enumerate(pts)],
        "rank int, split_point long")


def q_index_lookup_join(spark: SparkSession, sf: str) -> DataFrame:
    """Index-nested-loop JOIN (views.SecondaryIndex.lookup_join): a
    small probe frame joins the events table THROUGH the secondary
    index — probe values broadcast against the narrow postings scan,
    the bounded matched-key set feeds batch_exact_key_query, so only
    the source files holding those keys are read (partition-pruned +
    Bloom-skipped). The 100 TB shape this exists for: a 1k-row probe
    against a 10^5-file table touches a handful of files where a plain
    DataFrame join would scan all of them. Pytest pins both paths
    (bounded + hot fallback) equal to the plain join
    (tests/test_views.py). Oracle = the plain inner join."""
    from sleeper_spark.views import SecondaryIndex
    ev = _load(spark, sf, "events").select(
        "event_id", "user_id", "event_type")
    schema = Schema(
        (Field("event_id", T.LongType()),), (),
        (Field("user_id", T.LongType(), True),
         Field("event_type", T.StringType(), True)))
    _t0 = _setup_start()
    tmp = tempfile.mkdtemp(prefix="sleeper_ilj_")
    src = SleeperTable.create(spark, os.path.join(tmp, "src"), schema,
                              TableProperties(),
                              split_points=[3000, 6000])
    idx = SecondaryIndex.create(src, os.path.join(tmp, "idx"),
                                "user_id", split_points=[50])
    src.ingest(ev)
    idx.refresh()
    _setup_done("index_lookup_join", _t0)
    probe = (ev.where("event_id < 30")
             .select(F.col("user_id").alias("uid")).distinct()
             .withColumn("tag", F.lit("probe")))
    return idx.lookup_join(probe, on={"user_id": "uid"})


def q_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """Time travel (table.as_of, table.py:135; the append-only
    transaction log makes historical reads free): ingest events,
    capture the head seq, delete_where a key range AND compact, then
    read back ``as_of`` the pre-delete seq. The snapshot must return
    the FULL pre-delete dataset even though the current head has both
    dropped rows (tombstone feed) and rewritten files — locking the
    no-lost-history contract behind the oracle gate (GC delay is what
    bounds how far back this stays valid; nothing here is collected).
    Oracle = the plain full dataset."""
    ev = _load(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "value")
    schema = Schema(
        (Field("event_id", T.LongType()),), (),
        (Field("user_id", T.LongType(), True),
         Field("event_type", T.StringType(), True),
         Field("value", T.DoubleType(), True)))
    _t0 = _setup_start()
    tmp = tempfile.mkdtemp(prefix="sleeper_tt_")
    table = SleeperTable.create(spark, os.path.join(tmp, "t"), schema,
                                TableProperties(),
                                split_points=[3000, 6000])
    table.ingest(ev)
    pre_delete_seq = table.store.current_seq
    table.delete_where(
        regions=[Region.of(Range("event_id", 1000, 4000))])
    table.compact()  # rewrite current files; history must survive
    _setup_done("time_travel", _t0)
    assert table.full_scan().where(
        "event_id >= 1000 AND event_id < 4000").isEmpty()
    return table.as_of(seq=pre_delete_seq).full_scan()


def q_table_clone(spark: SparkSession, sf: str) -> DataFrame:
    """Zero-copy table branch (table.clone, table.py:69 — the
    Delta/Iceberg SHALLOW CLONE analog done the LSM way: metadata copy
    with rewritten paths + hard-linked data files, O(files) not
    O(bytes)). Build a table, branch it, then DIVERGE both sides —
    delete_where + compact on the source (rewrites + retires the very
    files the branch hard-links), ingest extra rows into the branch —
    and return both branches' per-type counts tagged by branch name.
    Isolation must hold in BOTH directions for the oracle to match:
    the source must not see the branch's ingest, and the branch must
    still read the pre-delete data through its own links after the
    source compaction replaced them."""
    ev = _load(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "value")
    schema = Schema(
        (Field("event_id", T.LongType()),), (),
        (Field("user_id", T.LongType(), True),
         Field("event_type", T.StringType(), True),
         Field("value", T.DoubleType(), True)))
    _t0 = _setup_start()
    tmp = tempfile.mkdtemp(prefix="sleeper_clone_")
    src = SleeperTable.create(spark, os.path.join(tmp, "src"), schema,
                              TableProperties(),
                              split_points=[3000, 6000])
    src.ingest(ev)
    branch = src.clone(os.path.join(tmp, "branch"))
    # diverge: the source drops a key range and compacts (file rewrite
    # + retire); the branch ingests shifted copies of the low keys
    src.delete_where(
        regions=[Region.of(Range("event_id", 2000, 3000))])
    src.compact()
    branch.ingest(ev.where(F.col("event_id") < 500).select(
        (F.col("event_id") + F.lit(10_000_000)).alias("event_id"),
        "user_id", "event_type", "value"))
    _setup_done("table_clone", _t0)
    out_src = (src.full_scan().groupBy("event_type")
               .agg(F.count(F.lit(1)).alias("n"))
               .withColumn("branch", F.lit("source")))
    out_branch = (branch.full_scan().groupBy("event_type")
                  .agg(F.count(F.lit(1)).alias("n"))
                  .withColumn("branch", F.lit("branch")))
    return out_src.unionByName(out_branch).select(
        "branch", "event_type", "n")


def q_ctas(spark: SparkSession, sf: str) -> DataFrame:
    """CTAS (SleeperTable.create_as, table.py): materialise an
    aggregation result as a NEW pre-balanced sorted table — schema
    derived from the frame, split points from the split-point advisor
    over the frame's own key distribution, sorted bulk import — then
    serve a key-range query from it (partition-pruned + sorted-scan,
    like any native table). The derived table lands balanced across
    its leaves on the FIRST import instead of splitting its way out of
    one root leaf."""
    ev = _load(spark, sf, "events")
    agg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)"))
                .cast("double"), 4).alias("sum_value"))
    _t0 = _setup_start()
    tmp = tempfile.mkdtemp(prefix="sleeper_ctas_")
    t = SleeperTable.create_as(spark, os.path.join(tmp, "t"), agg,
                               row_keys=["user_id"], n_partitions=4)
    _setup_done("ctas", _t0)
    return t.range_key_query([("user_id", 20, 60)])


def q_table_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """Files-metadata table (table.files_manifest, the Iceberg
    ``.files`` analog) + metadata-only row count (table.count_rows):
    ingest events under fixed split points, then answer a per-partition
    row-count audit ENTIRELY from driver-side metadata — zero data
    reads (count_rows is called with allow_scan=False to prove the
    exactness gate opens for a plain table). Oracle recomputes the
    same per-range counts from the raw rows."""
    ev = _load(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "value")
    schema = Schema(
        (Field("event_id", T.LongType()),), (),
        (Field("user_id", T.LongType(), True),
         Field("event_type", T.StringType(), True),
         Field("value", T.DoubleType(), True)))
    _t0 = _setup_start()
    tmp = tempfile.mkdtemp(prefix="sleeper_manifest_")
    t = SleeperTable.create(spark, os.path.join(tmp, "t"), schema,
                            TableProperties(),
                            split_points=[3000, 6000])
    t.ingest(ev)
    _setup_done("table_manifest", _t0)
    man = t.files_manifest()
    per_part = (man.groupBy("min_key")
                .agg(F.sum("n_rows").alias("n_rows")))
    # the metadata count must be exact here WITHOUT a scan fallback
    total = t.count_rows(allow_scan=False)
    assert total == ev.count(), (total, "metadata count diverged")
    return per_part


def q_composite_index_range(spark: SparkSession, sf: str) -> DataFrame:
    """Leading-prefix RANGE lookup on the composite index
    (views.SecondaryIndex.lookup_prefix_range): exact value on the
    leading indexed column + a range on the next one — the b-tree
    ``WHERE a = x AND b BETWEEN lo AND hi`` shape. The prefix columns
    are the postings table's leading row keys, so the region rides the
    index table's own partition pruning + sidecar min/max skipping
    (scan-audit-pinned in tests/test_views.py), then the bounded key
    set feeds batch_exact_key_query on the source with the predicate
    re-applied as a residual. Runs after a delete_where maintained
    incrementally through the tombstone feed, like composite_index.
    Oracle = plain prefix+BETWEEN WHERE over the surviving rows."""
    from sleeper_spark.views import SecondaryIndex
    ev = _load(spark, sf, "events").select(
        "event_id", "user_id", "event_type")
    schema = Schema(
        (Field("event_id", T.LongType()),), (),
        (Field("user_id", T.LongType(), True),
         Field("event_type", T.StringType(), True)))
    _t0 = _setup_start()
    tmp = tempfile.mkdtemp(prefix="sleeper_cidxr_")
    src = SleeperTable.create(spark, os.path.join(tmp, "src"), schema,
                              TableProperties(),
                              split_points=[3000, 6000])
    idx = SecondaryIndex.create(src, os.path.join(tmp, "idx"),
                                ["event_type", "user_id"],
                                split_points=["purchase", "view"])
    src.ingest(ev)
    idx.refresh()
    src.delete_where(regions=[Region.of(Range("event_id", 0, 1000))])
    idx.refresh()  # incremental tombstone application, no rebuild
    _setup_done("composite_index_range", _t0)
    a = idx.lookup_prefix_range(["click"], 100, 5000,
                                max_inclusive=True)
    b = idx.lookup_prefix_range(["view"], 0, 50)
    return a.unionByName(b)


def q_cokeyed_join(spark: SparkSession, sf: str) -> DataFrame:
    """Zero-shuffle co-keyed join (joins.py): orders and a
    lineitem-derived table share row key + split points, so each leaf
    pair merge-joins in ONE task — no Exchange anywhere (plan-pinned
    in tests/test_joins.py), the bucketed-join shape falling out of
    the LSM layout. The b side ingests in two halves so real multi-run
    merges feed the join. Oracle = the plain SQL inner join."""
    orders = _load(spark, sf, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus")
    li = _load(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_quantity", "l_extendedprice")
    sa = Schema((Field("o_orderkey", T.LongType()),), (),
                (Field("o_totalprice", T.DoubleType(), True),
                 Field("o_orderstatus", T.StringType(), True)))
    sb = Schema((Field("o_orderkey", T.LongType()),), (),
                (Field("l_quantity", T.DoubleType(), True),
                 Field("l_extendedprice", T.DoubleType(), True)))
    _t0 = _setup_start()
    tmp = tempfile.mkdtemp(prefix="sleeper_join_")
    splits = [15000, 30000, 45000]
    ta = SleeperTable.create(spark, os.path.join(tmp, "a"), sa,
                             TableProperties(), split_points=splits)
    tb = SleeperTable.create(spark, os.path.join(tmp, "b"), sb,
                             TableProperties(), split_points=splits)
    ta.ingest(orders)
    tb.ingest(li.where(F.col("o_orderkey") % 2 == 0))
    tb.ingest(li.where(F.col("o_orderkey") % 2 == 1))
    _setup_done("cokeyed_join", _t0)
    from sleeper_spark.joins import cokeyed_join
    return cokeyed_join(ta, tb)


def q_upsert_last_writer(spark: SparkSession, sf: str) -> DataFrame:
    """Last-writer-wins upsert via the max_by aggregation
    (iterators.py/processing.py): events collapse on (user_id,
    event_type) keeping the newest ts and ITS value — versioned-row
    semantics the reference's sum/min/max algebra can't express. Ties
    on ts break deterministically on the value (lexicographic struct
    extremum), which the oracle replays as ORDER BY ts DESC, value
    DESC. Ingested in two halves and compacted, so the collapse runs
    through the real engine path (the auto engine picks Arrow
    compaction, whose kernels keep max_by's (order, value) pair)."""
    ev = _load(spark, sf, "events").select(
        F.col("user_id"), F.col("event_type"),
        F.col("ts_us"), F.col("value"))
    schema = Schema(
        (Field("user_id", T.LongType()),),
        (Field("event_type", T.StringType()),),
        (Field("ts_us", T.LongType()),
         Field("value", T.DoubleType())),
    )
    tmp = tempfile.mkdtemp(prefix="sleeper_upsert_")
    table = SleeperTable.create(
        spark, os.path.join(tmp, "t"), schema,
        TableProperties(aggregations="max(ts_us), max_by(value, ts_us)"),
        split_points=[500],
    )
    table.ingest(ev.where(F.col("event_id") % 2 == 0))
    table.ingest(ev.where(F.col("event_id") % 2 == 1))
    table.compact()
    return table.full_scan()


def q_sql_stage(spark: SparkSession, sf: str) -> DataFrame:
    """Q1 post-query SQL stage: user SELECT over ``query_results``
    (rust/query_sql/src/lib.rs:28-55), end-to-end through a SleeperTable."""
    ev = _load(spark, sf, "events").select(
        F.col("event_id"), F.col("event_type"), F.col("value"))
    schema = Schema(
        (Field("event_id", T.LongType()),),
        (),
        (Field("event_type", T.StringType(), True),
         Field("value", T.DoubleType(), True)),
    )
    _t0 = _setup_start()
    tmp = tempfile.mkdtemp(prefix="sleeper_sql_")
    table = SleeperTable.create(spark, os.path.join(tmp, "t"), schema,
                                TableProperties(), split_points=[5000])
    table.ingest(ev)
    _setup_done("sql_stage", _t0)
    return table.sql(
        "SELECT event_type, count(*) AS n, "
        "round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS total "
        "FROM query_results WHERE event_id < 4000 GROUP BY event_type",
        regions=[Region.of(Range("event_id", 0, 8000))])


def q_bulk_export(spark: SparkSession, sf: str) -> DataFrame:
    """S6 bulk export: whole table through the compaction read path, one
    sorted file per leaf, re-read for the oracle compare."""
    from sleeper_spark import output as output_mod
    ev = _load(spark, sf, "events").select(
        F.col("user_id"), F.col("event_type"), F.lit(1).cast("long").alias("n"))
    schema = Schema(
        (Field("user_id", T.LongType()),),
        (Field("event_type", T.StringType()),),
        (Field("n", T.LongType()),),
    )
    _t0 = _setup_start()
    tmp = tempfile.mkdtemp(prefix="sleeper_export_")
    table = SleeperTable.create(
        spark, os.path.join(tmp, "t"), schema,
        TableProperties(aggregations="sum(n)"), split_points=[250, 500, 750])
    table.ingest(ev)
    _setup_done("bulk_export", _t0)
    files = output_mod.bulk_export(table, os.path.join(tmp, "export"))
    return spark.read.schema(schema.to_struct_type()).parquet(*files.values())


def q_security_iterator(spark: SparkSession, sf: str) -> DataFrame:
    """U1/P5 custom iterator at query time: securityFilter keeps only the
    caller's authorised label values (event_type standing in for the
    security label; SecurityFilteringIterator.java)."""
    from sleeper_spark.query import Query as SQuery
    ev = _load(spark, sf, "events").select(
        F.col("event_id"), F.col("event_type"), F.col("user_id"))
    schema = Schema(
        (Field("event_id", T.LongType()),),
        (),
        (Field("event_type", T.StringType(), True),
         Field("user_id", T.LongType(), True)),
    )
    _t0 = _setup_start()
    tmp = tempfile.mkdtemp(prefix="sleeper_security_")
    table = SleeperTable.create(spark, os.path.join(tmp, "t"), schema,
                                TableProperties(), split_points=[5000])
    table.ingest(ev)
    _setup_done("security_iterator", _t0)
    q = SQuery([Region.of(Range("event_id", 0, 6000))],
               query_time_iterators="securityFilter(event_type, click, purchase)")
    return table.query(q)


# ---------------------------------------------------------------------------
# SQL surface: joins / windows / set ops / scalars (SURVEY §2.3, 2.6-2.9)
# ---------------------------------------------------------------------------

def q_tpch_q1(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 pricing summary: wide aggregation with decimal-exact sums
    (beyond-reference SQL stage, SURVEY §2.9/§7 phase 4)."""
    li = _load(spark, sf, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
    # exact decimal arithmetic on the (2-decimal) base columns: decimalizing
    # the double PRODUCT instead would round near-midpoint mantissas
    # differently across engines
    disc_price = _revenue_dec()
    charge = _charge_dec()
    g = li.groupBy("l_returnflag", "l_linestatus").agg(
        _dec_sum("l_quantity", 2).alias("sum_qty"),
        _dec_sum("l_extendedprice", 2).alias("sum_base_price"),
        # round the EXACT decimal, then cast: rounding after the double
        # cast hits the half-cent hazard (a sum ending .xx5 has no exact
        # double; Spark rounds the shortest repr, DuckDB the binary
        # expansion — they disagree exactly at midpoints)
        F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
        F.round(F.sum(charge), 2).cast("double").alias("sum_charge"),
        F.round((F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
                 / F.count(F.lit(1))), 4).alias("avg_qty"),
        F.round((F.sum(F.col("l_discount").cast("decimal(18,4)")).cast("double")
                 / F.count(F.lit(1))), 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return g


def q_join_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-way join with broadcast dims (TPC-H Q5 shape): revenue per
    nation. Dims (region/nation/supplier) broadcast — no shuffle of the
    fact table except the final group-by."""
    li = _load(spark, sf, "lineitem")
    s = _load(spark, sf, "supplier")
    n = _load(spark, sf, "nation")
    r = _load(spark, sf, "region")
    revenue = _revenue_dec()
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


def q_tpch_q3(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shipping priority: join + agg + deterministic top-10
    (order by revenue desc, key)."""
    c = _load(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _load(spark, sf, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp_ntz"))
    li = _load(spark, sf, "lineitem").where(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp_ntz"))
    revenue = _revenue_dec()
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", F.col("o_orderdate").cast("date").alias("o_orderdate"),
                 "o_orderpriority")
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def q_tpch_q5(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 local-supplier volume: the 6-table join shape (region →
    nation → customer/supplier → orders → lineitem) with the
    c_nationkey = s_nationkey locality constraint. Dimensions broadcast;
    Catalyst orders the joins. Decimal revenue keeps the sum exact."""
    r = _load(spark, sf, "region").where(F.col("r_name") == "ASIA")
    n = _load(spark, sf, "nation")
    c = _load(spark, sf, "customer")
    s = _load(spark, sf, "supplier")
    o = _load(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz")))
    li = _load(spark, sf, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, (o.o_custkey == c.c_custkey)
              & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(_revenue_dec()), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


def q_tpch_q15(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 top supplier: revenue per supplier over a quarter, then
    the supplier(s) equal to the MAX — the derived-aggregate-joined-
    to-its-own-max shape (the reference view becomes a broadcast of one
    1-row aggregate, never a second scan-wide shuffle)."""
    li = _load(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz")))
    s = _load(spark, sf, "supplier")
    rev = (li.groupBy("l_suppkey")
           .agg(F.round(F.sum(_revenue_dec()), 2).cast("double")
                .alias("total_revenue")))
    # window max instead of a rev->max self-join: ONE lineitem scan
    # (the view-reused-twice shape scaled 3.3x at sf1 because the
    # quarter agg ran twice). The window's input is one row per
    # supplier — dimension-bounded, so the single-partition global max
    # is over an aggregate, never the fact table.
    rev = rev.withColumn(
        "__max", F.max("total_revenue").over(
            Window.partitionBy(F.lit(1))))
    return (
        rev.where(F.col("total_revenue") == F.col("__max"))
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select(F.col("s_suppkey"), F.col("s_name"), "total_revenue")
        .orderBy("s_suppkey")
    )


def q_tpch_q18(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 large-volume customers: aggregate-then-semijoin (the
    HAVING subquery becomes a broadcastable filtered key set), then the
    3-table join + deterministic top-100."""
    li = _load(spark, sf, "lineitem")
    o = _load(spark, sf, "orders")
    c = _load(spark, sf, "customer")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum(qty).alias("__sumq"))
           .where(F.col("__sumq") > 150)
           .select("l_orderkey"))
    osum = (li.join(F.broadcast(big), "l_orderkey")
            .groupBy("l_orderkey")
            .agg(F.round(F.sum(qty).cast("double"), 2).alias("total_qty")))
    return (
        osum.join(o, osum.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "c_custkey", "l_orderkey",
                F.col("o_orderdate").cast("date").alias("o_orderdate"),
                "o_totalprice", "total_qty")
        .orderBy(F.col("o_totalprice").desc(), F.col("l_orderkey"))
        .limit(100)
    )


def q_tpch_q4(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 order-priority checking, adapted to the fixture's
    columns (no l_commitdate: "late" means l_shipdate > o_orderdate +
    60 days): orders in 1996-Q1 with at least one late line, counted
    per priority. The EXISTS becomes a left-semi join on a
    pre-aggregated key set — no row explosion from multi-line orders."""
    o = _load(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz")))
    li = _load(spark, sf, "lineitem")
    late = (li.join(o.select("o_orderkey", "o_orderdate"),
                    li.l_orderkey == F.col("o_orderkey"))
            .where(F.col("l_shipdate") >
                   F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
            .select("o_orderkey").distinct())
    return (
        o.join(late, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q_tpch_q6(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 forecasting revenue change: the pure filter-aggregate —
    every predicate pushes to the Parquet scan, the aggregation is one
    partial+final pass, no joins, no shuffle beyond the final combine."""
    li = _load(spark, sf, "lineitem")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & disc.between(F.lit("0.05").cast("decimal(4,2)"),
                           F.lit("0.07").cast("decimal(4,2)"))
            & (F.col("l_quantity") < 24))
        .agg(F.round(F.sum(F.col("l_extendedprice").cast("decimal(12,2)")
                           * disc).cast("double"), 2).alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


def q_tpch_q7(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 volume shipping: revenue flowing between two nations
    (supplier nation -> customer nation), per year, both directions.
    Both nation dims broadcast; the fact table shuffles once for the
    final group-by."""
    n1 = _load(spark, sf, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = _load(spark, sf, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    s = _load(spark, sf, "supplier")
    c = _load(spark, sf, "customer")
    o = _load(spark, sf, "orders")
    li = _load(spark, sf, "lineitem")
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2") \
        | (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").alias("l_year"))
        # round-then-cast: see q_tpch_q1 — a .xx5 revenue sum rounds
        # differently across engines after a lossy double cast
        .agg(F.round(F.sum(_revenue_dec()), 2).cast("double")
             .alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_tpch_q10(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 returned-item reporting: revenue lost to returns
    (l_returnflag = 'R') per customer in 1995-Q4 orders, top 20 by lost
    revenue. Customer/nation dims broadcast."""
    c = _load(spark, sf, "customer")
    o = _load(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-10-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp_ntz")))
    li = _load(spark, sf, "lineitem").where(F.col("l_returnflag") == "R")
    n = _load(spark, sf, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(_revenue_dec()), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def q_tpch_q19(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 discounted revenue, adapted to the fixture's part
    columns: three OR'd (brand, size-range, quantity-range) branches.
    The disjunctive predicate still rides ONE broadcast hash join on
    p_partkey — the OR branches are a post-join filter, never a
    nested-loop join."""
    li = _load(spark, sf, "lineitem")
    p = _load(spark, sf, "part")
    qty = F.col("l_quantity")
    branch = (
        ((F.col("p_brand") == "Brand#12") & (F.col("p_size").between(1, 5))
         & qty.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & (F.col("p_size").between(1, 10))
           & qty.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & (F.col("p_size").between(1, 15))
           & qty.between(20, 30))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .where(branch)
        .agg(F.round(F.sum(_revenue_dec()), 2).cast("double").alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


def q_tpch_q2(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 minimum-cost supplier, adapted to the fixture (no
    partsupp table: the part-supplier supply relation is derived from
    lineitem, cost = the cheapest extended price ever offered for the
    pair). The correlated MIN subquery becomes an aggregate joined back
    to the qualifying rows; every dimension broadcasts, and parts are
    filtered BEFORE the per-part minimum so the min join's build side is
    only the qualifying slice."""
    li = _load(spark, sf, "lineitem")
    p = _load(spark, sf, "part").where(
        (F.col("p_size") <= 15) & (F.col("p_type") == "LARGE"))
    s = _load(spark, sf, "supplier")
    n = _load(spark, sf, "nation")
    r = _load(spark, sf, "region").where(F.col("r_name") == "EUROPE")
    ps = (li.groupBy("l_partkey", "l_suppkey")
          .agg(F.min(F.col("l_extendedprice").cast("decimal(12,2)"))
               .alias("__cost")))
    eu = (ps.join(F.broadcast(s), ps.l_suppkey == s.s_suppkey)
          .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
          .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
          .join(F.broadcast(p), ps.l_partkey == p.p_partkey))
    mn = eu.groupBy("l_partkey").agg(F.min("__cost").alias("__min_cost"))
    return (
        eu.join(F.broadcast(mn), "l_partkey")
        .where(F.col("__cost") == F.col("__min_cost"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
                "s_suppkey",
                F.round(F.col("__cost").cast("double"), 2).alias("supplycost"))
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name",
                 "p_partkey", "s_suppkey")
        .limit(100)
    )


def q_tpch_q8(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 national market share: NATION_3's share of PROMO-part
    revenue sold into AMERICA, per year. The share is one conditional
    decimal sum over the same joined rows as the total — one pass, one
    final division. Dimensions broadcast; the fact shuffles once for
    the per-year group-by."""
    li = _load(spark, sf, "lineitem")
    p = _load(spark, sf, "part").where(F.col("p_type") == "PROMO")
    o = _load(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz")))
    c = _load(spark, sf, "customer")
    s = _load(spark, sf, "supplier")
    n1 = _load(spark, sf, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = _load(spark, sf, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk"))
    r = _load(spark, sf, "region").where(F.col("r_name") == "AMERICA")
    rev = _revenue_dec()
    nat = F.when(F.col("supp_nation") == "NATION_3", rev) \
        .otherwise(F.lit(0).cast(rev_type()))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(r), F.col("c_rk") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(nat).cast("double")
                     / F.sum(rev).cast("double"), 6).alias("mkt_share"))
        .orderBy("o_year")
    )


def q_tpch_q9(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 product-type profit, adapted (no ps_supplycost: unit
    cost is modeled as 10% of p_retailprice). Profit per supplier
    nation per year over '%rod%' parts; all arithmetic decimal-exact
    until the final rounded double."""
    li = _load(spark, sf, "lineitem")
    p = _load(spark, sf, "part").where(F.col("p_name").like("%rod%"))
    s = _load(spark, sf, "supplier")
    n = _load(spark, sf, "nation")
    o = _load(spark, sf, "orders")
    cost = (F.col("p_retailprice").cast("decimal(12,2)")
            * F.col("l_quantity").cast("decimal(12,2)")
            * F.lit("0.1").cast("decimal(2,1)"))
    amount = _revenue_dec() - cost
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(amount), 2).cast("double").alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


def q_tpch_q11(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 important stock, adapted (part value = lineitem
    extended price supplied by NATION_7 suppliers). The HAVING
    fraction-of-total is the global scalar broadcast against the
    per-part aggregate — exact decimal on both sides of the
    comparison."""
    li = _load(spark, sf, "lineitem")
    s = _load(spark, sf, "supplier")
    n = _load(spark, sf, "nation").where(F.col("n_name") == "NATION_7")
    v = (li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
         .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
         .groupBy("l_partkey")
         .agg(F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
              .alias("__val")))
    tot = v.agg(F.sum("__val").alias("__tot"))
    return (
        v.join(F.broadcast(tot))
        .where(F.col("__val")
               > F.col("__tot") * F.lit("0.0005").cast("decimal(6,4)"))
        .select(F.col("l_partkey").alias("partkey"),
                F.round(F.col("__val").cast("double"), 2).alias("part_value"))
        .orderBy(F.col("part_value").desc(), "partkey")
    )


def q_tpch_q12(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12 shipping-priority lateness, adapted (no l_shipmode:
    classes are l_returnflag; "late" is l_shipdate > o_orderdate + 30
    days). Two conditional counts in one pass."""
    li = _load(spark, sf, "lineitem")
    o = _load(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz")))
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(F.col("l_shipdate")
               > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy("l_returnflag")
        .agg(F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
             F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count"))
        .orderBy("l_returnflag")
    )


def q_tpch_q13(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 customer order-count distribution: LEFT OUTER join so
    zero-order customers keep c_count = 0, then the double aggregation
    (count per customer, customers per count)."""
    c = _load(spark, sf, "customer")
    o = _load(spark, sf, "orders").where(
        F.col("o_orderpriority") != "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def q_tpch_q14(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 promotion revenue share for one month: conditional
    decimal sum over the part join, single final division."""
    li = _load(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz")))
    p = _load(spark, sf, "part")
    rev = _revenue_dec()
    promo = F.when(F.col("p_type") == "PROMO", rev) \
        .otherwise(F.lit(0).cast(rev_type()))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(F.round(F.lit(100.0) * F.sum(promo).cast("double")
                     / F.sum(rev).cast("double"), 4).alias("promo_revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


def q_tpch_q16(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 supplier count by part descriptor, adapted (supply
    relation from lineitem; the complaint exclusion is suppliers with
    negative balance, expressed as a left-anti join on a broadcast key
    set). Distinct pairs first so multi-line repeats never reach the
    count-distinct."""
    li = _load(spark, sf, "lineitem")
    p = _load(spark, sf, "part").where(
        (F.col("p_brand") != "Brand#45") & (F.col("p_type") != "PROMO"))
    bad = (_load(spark, sf, "supplier")
           .where(F.col("s_acctbal") < 0).select("s_suppkey"))
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    return (
        pairs.join(F.broadcast(p), pairs.l_partkey == p.p_partkey)
        .join(F.broadcast(bad), pairs.l_suppkey == bad.s_suppkey,
              "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


def q_tpch_q17(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 small-quantity-order revenue: the correlated AVG
    subquery becomes a per-part aggregate joined back; the comparison
    l_quantity < 0.2 * avg is multiplied through to
    5 * qty * count < sum so it stays exact integer/decimal arithmetic
    (no engine-dependent float-average boundary)."""
    li = _load(spark, sf, "lineitem")
    p = _load(spark, sf, "part").where(F.col("p_brand") == "Brand#23")
    agg = (li.groupBy(F.col("l_partkey").alias("__pk"))
           .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)"))
                .alias("__sq"),
                F.count(F.lit(1)).alias("__cnt")))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(agg, li.l_partkey == F.col("__pk"))
        .where(F.lit(5) * F.col("l_quantity").cast("decimal(12,2)")
               * F.col("__cnt") < F.col("__sq"))
        .agg(F.round(F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
                     .cast("double") / 7.0, 2).alias("avg_yearly"),
             F.count(F.lit(1)).alias("n_items"))
    )


def q_tpch_q20(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 potential part promotion, adapted (availability from
    lineitem: suppliers who shipped >30% of a small-part's 1996 volume).
    A semi-join chain — qualifying pairs -> distinct suppliers ->
    supplier/nation — with the share test multiplied through to stay
    exact."""
    li = _load(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz")))
    psmall = (_load(spark, sf, "part")
              .where(F.col("p_name").like("small%")).select("p_partkey"))
    s = _load(spark, sf, "supplier")
    n = _load(spark, sf, "nation").where(F.col("n_name") == "NATION_5")
    ps = (li.join(F.broadcast(psmall), li.l_partkey == F.col("p_partkey"))
          .groupBy("l_partkey", "l_suppkey")
          .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)"))
               .alias("__q")))
    # per-part total as a window over the grouped relation — one extra
    # shuffle by l_partkey instead of a grouped self-join (two joins at
    # scale); the window partition is per-part supplier counts, bounded
    from pyspark.sql.window import Window
    tot_w = F.sum("__q").over(Window.partitionBy("l_partkey"))
    big = (ps.withColumn("__tq", tot_w)
           .where(F.col("__q") * 10 > F.col("__tq") * 3)
           .select("l_suppkey").distinct())
    return (
        s.join(F.broadcast(big), s.s_suppkey == big.l_suppkey, "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_name", "s_suppkey")
    )


def q_tpch_q21(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 suppliers who kept orders waiting, adapted ("late" is
    l_shipdate > o_orderdate + 60 days). The EXISTS/NOT-EXISTS pair is
    one per-order aggregate: orders with >1 distinct supplier and
    EXACTLY one distinct late supplier attribute the wait to that
    supplier — no self-join explosion over lineitem."""
    o = _load(spark, sf, "orders").where(F.col("o_orderstatus") == "F") \
        .select("o_orderkey", "o_orderdate")
    li = _load(spark, sf, "lineitem")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    s = _load(spark, sf, "supplier")
    per_order = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("__ns"),
             F.countDistinct(F.when(late, F.col("l_suppkey")))
             .alias("__nl"),
             F.max(F.when(late, F.col("l_suppkey"))).alias("__latesk")))
    return (
        per_order.where((F.col("__ns") > 1) & (F.col("__nl") == 1))
        .groupBy("__latesk")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(s), F.col("__latesk") == s.s_suppkey)
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_name", "s_suppkey")
        .limit(100)
    )


def q_tpch_q22(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 global sales opportunity, adapted (country code =
    c_nationkey mod 10; "no orders" -> "no URGENT orders", since every
    fixture customer has orders). Above-average balance is multiplied
    through (bal * n > sum) to stay decimal-exact; the NOT EXISTS is a
    left-anti join on the distinct urgent-customer key set."""
    c = _load(spark, sf, "customer").withColumn(
        "cntrycode", (F.col("c_nationkey") % 10).cast("int"))
    cust = c.where(F.col("cntrycode").isin(1, 2, 3, 4, 5, 6, 7))
    pos = (cust.where(F.col("c_acctbal") > 0)
           .agg(F.sum(F.col("c_acctbal").cast("decimal(12,2)")).alias("__s"),
                F.count(F.lit(1)).alias("__n")))
    urgent = (_load(spark, sf, "orders")
              .where(F.col("o_orderpriority") == "1-URGENT")
              .select("o_custkey").distinct())
    return (
        cust.join(F.broadcast(pos))
        .where(F.col("c_acctbal").cast("decimal(12,2)") * F.col("__n")
               > F.col("__s"))
        .join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(F.count(F.lit(1)).alias("numcust"),
             _dec_sum("c_acctbal", 2).alias("totacctbal"))
        .orderBy("cntrycode")
    )


def q_rollup_agg(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP hierarchy totals over (returnflag, linestatus) with
    grouping indicators — subtotal/grand-total rows in one pass."""
    li = _load(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"),
             _dec_sum("l_quantity").alias("sum_qty"),
             F.grouping("l_returnflag").cast("int").alias("g_rf"),
             F.grouping("l_linestatus").cast("int").alias("g_ls"))
        .select("l_returnflag", "l_linestatus", "n", "sum_qty",
                "g_rf", "g_ls")
    )


def q_window_lag_lead(spark: SparkSession, sf: str) -> DataFrame:
    """Window-function breadth on one pass: lag/lead navigation, ntile
    quartiles, percent_rank — per user over event time. percent_rank's
    (rank-1)/(n-1) is exact rational-over-double on both engines."""
    ev = _load(spark, sf, "events").select("event_id", "user_id",
                                           "ts_us", "value")
    # event_id tie-break: scaled testdata replicates (user_id, ts) pairs,
    # and lag/lead/ntile are only deterministic under a total order
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").asc(), F.col("event_id").asc())
    return ev.select(
        "event_id", "user_id",
        F.round(F.lag("value", 1).over(w), 4).alias("prev_value"),
        F.round(F.lead("value", 1).over(w), 4).alias("next_value"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


def q_window_topn(spark: SparkSession, sf: str) -> DataFrame:
    """Window ranking (SURVEY §2.6 — absent in reference, native in Spark):
    top-3 orders per customer by (totalprice desc, orderkey)."""
    o = _load(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def q_window_running_sum(spark: SparkSession, sf: str) -> DataFrame:
    """Analytic frame: per-user running total of value over event time
    (decimal-exact, explicit ROWS frame)."""
    ev = _load(spark, sf, "events").where(F.col("user_id") < 50)
    w = (Window.partitionBy("user_id").orderBy("ts_us", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return ev.select(
        "user_id", "event_id", "ts_us",
        F.round(F.sum(F.col("value").cast("decimal(18,4)")).over(w)
                .cast("double"), 4).alias("running_value"),
    )


def q_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    """Set operations (SURVEY §2.7), all three in one tagged union:
    EXCEPT (users who clicked>90 but never purchased>90), INTERSECT
    (users who both clicked and purchased), and UNION ALL with a
    provenance tag (J6 concatenation analog)."""
    ev = _load(spark, sf, "events")
    nul = F.lit(None).cast("long")
    clicked90 = ev.where((F.col("event_type") == "click") & (F.col("value") > 90)) \
                  .select("user_id").distinct()
    purchased90 = ev.where((F.col("event_type") == "purchase") & (F.col("value") > 90)) \
                    .select("user_id").distinct()
    ex = clicked90.subtract(purchased90).select(
        F.lit("except").alias("op"), "user_id", nul.alias("event_id"))
    inter = (ev.where(F.col("event_type") == "click").select("user_id")
             .intersect(ev.where(F.col("event_type") == "purchase").select("user_id"))
             .select(F.lit("intersect").alias("op"), "user_id", nul.alias("event_id")))
    ua = ev.where(F.col("event_type") == "click").select(
        F.lit("union_c").alias("op"), "user_id", "event_id")
    ub = ev.where(F.col("event_type") == "purchase").select(
        F.lit("union_p").alias("op"), "user_id", "event_id")
    return ex.unionAll(inter).unionAll(ua).unionAll(ub)


def q_scalar_functions(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar library (SURVEY §2.8 — none in reference, stock Spark):
    string/math functions over part."""
    p = _load(spark, sf, "part").where(F.col("p_partkey") < 500)
    return p.select(
        "p_partkey",
        F.upper(F.col("p_name")).alias("name_upper"),
        F.substring(F.col("p_type"), 1, 6).alias("type_prefix"),
        F.length(F.col("p_name")).cast("int").alias("name_len"),
        F.concat_ws("|", F.col("p_brand"), F.col("p_type")).alias("brand_type"),
        (F.col("p_partkey") % 7).cast("long").alias("key_mod7"),
        F.floor(F.col("p_retailprice")).cast("long").alias("price_floor"),
        F.round(F.sqrt(F.col("p_retailprice")), 6).alias("price_sqrt"),
        F.abs(F.col("p_size") - 25).cast("int").alias("size_dev"),
    )


def q_date_json_functions(spark: SparkSession, sf: str) -> DataFrame:
    """Date/time scalar functions + JSON extraction in one pass over
    events (timestamp_ntz → tz-free on both engines)."""
    ev = _load(spark, sf, "events").where(F.col("event_id") < 2000)
    d = F.col("ts").cast("date")
    return ev.select(
        "event_id",
        F.year(d).cast("int").alias("e_year"),
        F.month(d).cast("int").alias("e_month"),
        F.dayofmonth(d).cast("int").alias("e_day"),
        F.date_trunc("month", F.col("ts")).cast("date").alias("month_start"),
        F.datediff(d, F.lit("2024-01-01").cast("date")).cast("int").alias("days_since_24"),
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("k_value"),
    )


def q_distinct_count(spark: SparkSession, sf: str) -> DataFrame:
    """COUNT(DISTINCT) per group + HAVING post-aggregation filter (exact
    distinct; the approx variant is approx_count_distinct, not
    oracle-checkable)."""
    ev = _load(spark, sf, "events")
    return (ev.groupBy("user_id").agg(
        F.countDistinct("event_type").alias("n_types"),
        F.count(F.lit(1)).alias("n_events"))
        .where(F.col("n_events") > 80))


def q_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top-k = ORDER BY ... LIMIT with a unique tie-break (SURVEY §2.4 —
    Spark plans this as TakeOrderedAndProject, no global sort)."""
    o = _load(spark, sf, "orders")
    return (o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
            .limit(20)
            .select("o_orderkey", "o_custkey", "o_totalprice"))


def q_semi_join(spark: SparkSession, sf: str) -> DataFrame:
    """LEFT SEMI join (Q4 shape): orders with >=1 deep-discount lineitem,
    counted by priority. Catalyst plans the IN-subquery as a semi join."""
    o = _load(spark, sf, "orders")
    li = _load(spark, sf, "lineitem").where(F.col("l_discount") > 0.09)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def q_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): customers with no URGENT order."""
    c = _load(spark, sf, "customer")
    o = _load(spark, sf, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
    )


def q_correlated_subquery(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated scalar subquery (Q17 shape) through the SQL parser:
    parts priced above their brand's average."""
    _load(spark, sf, "part").createOrReplaceTempView("part")
    return spark.sql(
        "SELECT p_partkey, p_brand FROM part p WHERE p_retailprice > "
        "(SELECT avg(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand)")


def q_exists_subquery(spark: SparkSession, sf: str) -> DataFrame:
    """EXISTS subquery through the SQL parser (decorrelated to a semi
    join by Catalyst)."""
    _load(spark, sf, "orders").createOrReplaceTempView("orders")
    _load(spark, sf, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        "SELECT o_orderstatus, count(*) AS n FROM orders WHERE EXISTS ("
        "SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 49) "
        "GROUP BY o_orderstatus")


def q_conditional_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Conditional aggregation (Q14 promo-share shape): one-row global
    ratio of promo revenue, decimal-exact."""
    li = _load(spark, sf, "lineitem")
    p = _load(spark, sf, "part")
    rev = _revenue_dec()
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0).cast(rev_type()))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(F.round(F.lit(100.0) * F.sum(promo).cast("double")
                     / F.sum(rev).cast("double"), 4).alias("promo_share"))
    )


def q_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot: per-user event-type totals as columns (fixed pivot value
    list → stable schema)."""
    ev = _load(spark, sf, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.round(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4))
    )


def q_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit GROUPING SETS through the SQL parser — the four sets
    cover ROLLUP(status, priority) plus the (priority) slice, with
    decimal-exact totals at every level."""
    _load(spark, sf, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        "SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders, "
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_price "
        "FROM orders GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), "
        "(o_orderstatus), (o_orderpriority), ())")


def q_tumbling_window(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling event-time window (1 day) via F.window — the batch form of
    the Structured Streaming windowed aggregation (SURVEY §2.10)."""
    ev = _load(spark, sf, "events")
    w = ev.groupBy(F.window(F.col("ts"), "1 day").alias("w")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4)
        .alias("sum_value"),
    )
    return w.select(F.col("w.start").cast("date").alias("day"), "n_events", "sum_value")


def q_cube_agg(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE aggregation — all 2^2 grouping combinations of
    (status, priority) in one pass (completes the GROUPING SETS /
    ROLLUP family; Spark expands the cube map-side into the same
    partial-aggregate shape, so it stays one shuffle)."""
    orders = _load(spark, sf, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double"), 2).alias("total_price"))


def q_source_lang_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-composition audit: Shannon entropy (bits) of each
    source's language distribution — the mixing metric a pretraining
    data pipeline tracks per domain (a source collapsing to one
    language reads as entropy -> 0). Two tiny aggregates over
    (source, lang) cells; nothing scales with document count except
    the first groupBy."""
    doc = _load(spark, sf, "documents")
    c = doc.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    tot = Window.partitionBy("source")
    p = c.withColumn("p", F.col("n") / F.sum("n").over(tot))
    return (p.groupBy("source").agg(
        F.round(-F.sum(F.col("p") * F.log2("p")), 4)
        .alias("lang_entropy_bits"),
        F.sum("n").cast("bigint").alias("n_docs")))


def q_path_mining(spark: SparkSession, sf: str) -> DataFrame:
    """Sequential pattern mining: the 20 most frequent consecutive
    3-step event paths across user streams (two lead() steps per user,
    then a count over at most |event_type|^3 distinct paths — the
    final top-k window sorts a bounded model table, not the corpus)."""
    ev = _load(spark, sf, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    s = (ev.select("user_id", "event_type", "ts_us", "event_id")
         .withColumn("e2", F.lead("event_type", 1).over(w))
         .withColumn("e3", F.lead("event_type", 2).over(w)))
    c = (s.where(F.col("e3").isNotNull())
         .groupBy(F.col("event_type").alias("step1"),
                  F.col("e2").alias("step2"),
                  F.col("e3").alias("step3"))
         .agg(F.count(F.lit(1)).alias("n")))
    w2 = Window.orderBy(F.col("n").desc(), "step1", "step2", "step3")
    return (c.withColumn("rank", F.row_number().over(w2).cast("int"))
            .where(F.col("rank") <= 20))


def q_cumulative_distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    """Exact cumulative distinct users per day — the growth-curve query
    — via the FIRST-SEEN idiom: a user contributes to the running
    distinct count only on their first-appearance day, so the answer is
    a running SUM over per-day first-seen counts. The naive form
    (re-COUNT DISTINCT over an ever-growing prefix per day) rescans
    Θ(days × corpus); this shape is one distinct-shrink, one tiny
    per-day aggregate, and a running sum over |days| rows — the only
    full-data shuffle is the user-level distinct."""
    ev = _load(spark, sf, "events").where(F.col("ts").isNotNull())
    first = (ev.select("user_id", F.col("ts").cast("date").alias("day"))
             .groupBy("user_id").agg(F.min("day").alias("first_day")))
    per_day = first.groupBy("first_day").agg(
        F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("first_day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return (per_day.withColumn(
        "cum_distinct_users", F.sum("new_users").over(w))
        .select(F.col("first_day").alias("day"), "new_users",
                "cum_distinct_users"))


def q_stats_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Statistical aggregates (avg/stddev/variance) per event type."""
    ev = _load(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.round(F.stddev_samp("value"), 4).alias("sd_value"),
        F.round(F.var_samp("value"), 4).alias("var_value"),
    )


def q_hopping_window(spark: SparkSession, sf: str) -> DataFrame:
    """Hopping (sliding) event-time window — 1 h window, 15 min hop:
    every event lands in size/hop = 4 overlapping windows (F.window's
    slide form, the batch twin of a streaming hopping aggregation; the
    oracle reproduces the window explosion with a 4-offset cross join
    over the same floor-to-hop arithmetic). Output keyed by window
    start in epoch micros. One shuffle on the window key; the 4×
    fan-out happens map-side inside the partial aggregate, so the
    exchange carries per-(window,task) partials, not 4× the events."""
    ev = _load(spark, sf, "events").where(F.col("ts").isNotNull())
    agg = ev.groupBy(
        F.window(F.col("ts"), "1 hour", "15 minutes").alias("w")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4)
        .alias("sum_value"))
    return agg.select(
        F.unix_micros(F.col("w.start").cast("timestamp")).alias("ws_us"),
        "n_events", "sum_value")


def q_event_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition model over each user's event
    stream: lag() per user ordered by event time, transition counts and
    row-normalised probabilities per predecessor state. One shuffle on
    user_id for the lag; the (prev, next) re-aggregation is
    |event_type|² rows — independent of corpus size, so the model fits
    on one reducer at ANY scale."""
    ev = _load(spark, sf, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    s = (ev.select("user_id", "event_type", "ts_us", "event_id")
         .withColumn("prev_type", F.lag("event_type").over(w)))
    c = (s.where(F.col("prev_type").isNotNull())
         .groupBy("prev_type", F.col("event_type").alias("next_type"))
         .agg(F.count(F.lit(1)).alias("n")))
    tot = Window.partitionBy("prev_type")
    return (c.withColumn(
        "prob", F.round(F.col("n") / F.sum("n").over(tot), 4))
        .select("prev_type", "next_type", "n", "prob"))


# ---------------------------------------------------------------------------
# training-data pipeline operators (beyond-reference, BASELINE.json north star)
# ---------------------------------------------------------------------------

def q_dedup_exact_groups(spark: SparkSession, sf: str) -> DataFrame:
    doc = _load(spark, sf, "documents")
    return dedup.exact_duplicates(doc)


def q_dedup_exact_keep(spark: SparkSession, sf: str) -> DataFrame:
    doc = _load(spark, sf, "documents")
    return dedup.drop_exact_duplicates(doc).select("doc_id")


def q_text_quality(spark: SparkSession, sf: str) -> DataFrame:
    doc = _load(spark, sf, "documents")
    return text.quality_features(doc).select(
        "doc_id", F.col("n_chars_computed").cast("int").alias("n_chars_computed"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "mean_token_len", "punct_ratio",
        F.col("distinct_stopwords").cast("int").alias("distinct_stopwords"))


def q_language_id(spark: SparkSession, sf: str) -> DataFrame:
    doc = _load(spark, sf, "documents")
    return text.language_id(doc).select("doc_id", "predicted_lang")


def q_token_counts(spark: SparkSession, sf: str) -> DataFrame:
    doc = _load(spark, sf, "documents")
    return doc.select(
        "doc_id",
        text.token_count("text").cast("int").alias("n_tokens"),
        text.whitespace_token_count("text").cast("int").alias("n_ws_tokens"),
    )


def q_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Whitespace-normalized content fingerprint (md5 flavor so the oracle
    can reproduce it; xxhash64 flavor exercised in tests)."""
    doc = _load(spark, sf, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return doc.select("doc_id", F.md5(norm).alias("fp"))


def q_sample_fraction(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic ~7% corpus sample (functions/sampling.py): pure
    arithmetic bucket filter — no shuffle, reproducible across engines
    (same rows in the DuckDB oracle)."""
    doc = _load(spark, sf, "documents")
    return sampling.sample_fraction(doc, "doc_id", 7) \
        .select("doc_id", "lang", "source")


def q_sample_stratified(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed 5-docs-per-(lang, source) deterministic sample via ranked
    window over the portable bucket; tie-broken by doc_id so the picked
    set is total-order deterministic."""
    doc = _load(spark, sf, "documents")
    return sampling.stratified_sample(doc, ["lang", "source"], "doc_id", 5) \
        .select("lang", "source", "doc_id")


def q_sample_reservoir(spark: SparkSession, sf: str) -> DataFrame:
    """Global fixed-size-100 deterministic sample: order by (bucket,
    doc_id), limit 100 -> TakeOrderedAndProject (per-partition heads,
    O(100) driver memory at any scale)."""
    doc = _load(spark, sf, "documents")
    return sampling.reservoir_sample(doc, "doc_id", 100) \
        .select("doc_id", "lang")


def q_grouped_reservoir(spark: SparkSession, sf: str) -> DataFrame:
    """Exact 3-docs-per-language deterministic reservoir
    (sampling.grouped_reservoir): rows rank by (md5(doc_id), doc_id)
    inside their group — an engine-portable scramble, so DuckDB picks
    the IDENTICAL rows; WindowGroupLimit truncates each group to 3
    map-side before the shuffle."""
    doc = _load(spark, sf, "documents")
    return sampling.grouped_reservoir(doc, ["lang"], "doc_id", 3,
                                      rank_col="rk") \
        .select("lang", "doc_id", F.col("rk").cast("long").alias("rk"))


def q_grouped_equidepth(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group quantile binning (stats.grouped_equidepth_buckets):
    event values cut at each event type's OWN exact quartile fences —
    per-domain feature binning. Fences collapse to one array row per
    group, join back adaptively, assignment is a codegen'd
    count-of-fences over the array. Output is the per-(type, bucket)
    histogram with cents-long value sums."""
    from sleeper_spark.functions import stats

    ev = _load(spark, sf, "events").select("event_type", "value")
    b = stats.grouped_equidepth_buckets(ev, ["event_type"], "value",
                                        n_buckets=4, out_col="bucket",
                                        pin_broadcast=True)  # few types
    return b.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).alias("n"),
        # floor, not round: both engines share the float64 product, so
        # floor is bit-identical; round's half-rule is not
        F.sum(F.floor(F.col("value") * 1_000_000).cast("long"))
        .alias("sum_value_micros"))


def q_grouped_split(spark: SparkSession, sf: str) -> DataFrame:
    """Exact per-group train/val/test split (sampling.grouped_exact_split):
    every language contributes floor-exact 75/12.5/12.5 proportions —
    arithmetic counts, not binomial ones, so rare languages keep their
    val share. Rank scramble is (md5(doc_id), doc_id), portable to any
    engine. Output: per-(lang, split) counts plus an id-sum coverage
    check that pins the exact row assignment, not just the sizes."""
    doc = _load(spark, sf, "documents").select("lang", "doc_id")
    s = sampling.grouped_exact_split(
        doc, ["lang"], "doc_id",
        # exact binary cumulative fractions (0.75, 0.875): the fence
        # products are the same float64 in every engine
        {"train": 0.75, "val": 0.125, "test": 0.125})
    return s.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"))


def q_interleave_domains(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic round-robin training order
    (sampling.interleave_domains): pos = (rank_in_source - 1) * D +
    source_index — reading by pos cycles web/code/wiki instead of
    streaming each source en bloc. No global row_number (the classic
    single-partition choke): one domain-partitioned window plus a pure
    per-row position formula. Value-pinned by the full (doc_id, pos)
    assignment."""
    doc = _load(spark, sf, "documents").select("source", "doc_id")
    return (sampling.interleave_domains(doc, "source", "doc_id")
            .select("doc_id", "source", "pos"))


def q_rolling_features(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing event-time features (timeseries.rolling_features): per
    user, count and micro-long value sum over the past hour and past
    day at EVERY event — feature-store materialisation. All spans share
    one shuffle + sort on user_id (RANGE frames over a single
    partitioned ordering); sums are per-item floored micros so window
    accumulation order cannot move the result. Rolled up per event_type
    to keep the pinned output compact while covering every row."""
    from sleeper_spark.functions import timeseries

    ev = _load(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "value", "ts_us")
    r = timeseries.rolling_features(
        ev, ["user_id"], "ts_us", "value",
        {"1h": 3_600_000_000, "1d": 86_400_000_000})
    return r.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_1h").alias("sum_n_1h"),
        F.sum("n_1d").alias("sum_n_1d"),
        F.sum("sum_1h_micros").alias("sum_v_1h_micros"),
        F.sum("sum_1d_micros").alias("sum_v_1d_micros"))


def q_gap_fill(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series gap filling (timeseries.gap_fill): per-user DAILY
    buckets over the events span, one row per day INCLUDING days with
    no events, value carried forward (LOCF) across the gaps and
    ``n_rows=0`` marking filled buckets — the densification a
    featurizer needs before windowed models. One (user, bucket)
    groupBy, a sequence+explode dense spine (rows ∝ span/step), a
    co-keyed left join, one window pass; no UDF, no driver loop.
    Oracle = the same spine via generate_series + last_value IGNORE
    NULLS in SQL."""
    from sleeper_spark.functions import timeseries

    ev = _load(spark, sf, "events").select("user_id", "value", "ts_us")
    return timeseries.gap_fill(
        ev, ["user_id"], "ts_us", 86_400_000_000, "value")


def q_props_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured props analytics: the JSON ``props`` column's
    ``$.k`` field extracted JVM-side (get_json_object — codegen'd
    Jackson path, no Python) and histogrammed per decile bucket with
    event counts — schema-on-read over an opaque payload column, the
    shape every event pipeline needs before promoting a JSON field to
    a real column. NULL / non-numeric extracts bucket NULL."""
    ev = _load(spark, sf, "events").select("props")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (ev.withColumn("k", k)
            .withColumn("bucket",
                        F.when(F.col("k").isNull(), F.lit(None)
                               .cast("long"))
                        .otherwise(F.expr("k div 10")))
            .groupBy("bucket").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("k").alias("sum_k"),
                F.min("k").alias("min_k"),
                F.max("k").alias("max_k")))


def q_boilerplate_ngrams(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language boilerplate phrases
    (corpus.grouped_boilerplate_ngrams): each language's top-3
    trigrams by DOCUMENT frequency (min 3 docs) — the C4 chrome
    detector, per domain so small languages aren't drowned by the
    global top-k. Per-doc distinct grams -> one hash agg -> group-
    partitioned rank truncated map-side (WindowGroupLimit);
    deterministic tie-break on the gram string."""
    from sleeper_spark.functions import corpus

    doc = _load(spark, sf, "documents").select("lang", "doc_id", "text")
    return corpus.grouped_boilerplate_ngrams(
        doc, ["lang"], n=3, k=3, min_df=3).select(
        "lang", "ngram", "df", F.col("rank").cast("int").alias("rank"))


def q_grouped_cdf(spark: SparkSession, sf: str) -> DataFrame:
    """Percentile-rank transform (stats.grouped_cdf): every event's
    value mapped to P(X <= x) within its own event type — rank-based
    feature normalisation, invariant to per-group scale and outliers.
    Histogram + group-partitioned cumsum + join back; raw rows never
    enter a window. cdf = cum/n is a long/long IEEE division, so
    cume_dist() in any engine reproduces it bit-for-bit; pinned via
    floored-micros sums per type."""
    from sleeper_spark.functions import stats

    ev = _load(spark, sf, "events").select("event_type", "value")
    c = stats.grouped_cdf(ev, ["event_type"], "value", out_col="cdf")
    return c.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("cdf").isNull().cast("long")).alias("n_null_cdf"),
        F.sum(F.floor(F.col("cdf") * 1_000_000).cast("long"))
        .alias("sum_cdf_micros"))


def q_table_profile(spark: SparkSession, sf: str) -> DataFrame:
    """One-pass data profiling (functions/profile.py): per-column
    row/null/exact-distinct counts for the whole lineitem table in ONE
    aggregation job (multi-distinct EXPAND) — the ANALYZE TABLE
    tripwire before trusting a new drop. The 100 TB steady state reads
    the same numbers from per-file HLL/sidecar summaries
    (cardinality.py, sketches.py); this is the exact ad-hoc tier."""
    from sleeper_spark.functions import profile

    li = _load(spark, sf, "lineitem")
    return profile.profile_columns(li)


# contact text derived from real customer columns with the SAME SQL
# expression on both engines (this testdata's customer has no
# phone/comment columns): a third of rows carry an email + a phone, a
# third an IPv4 plus a non-address decoy (1234.5.6.7 — four digits
# break the \b anchor), a third are clean — so the audit counts and the
# masking are both non-trivially value-pinned
_PII_CONTACT = (
    "CASE WHEN c_custkey % 3 = 0 THEN "
    "concat('reach ', c_name, ' at user', CAST(c_custkey AS STRING), "
    "'@mail.example.org or ', CAST(10 + c_custkey % 80 AS STRING), "
    "'-', lpad(CAST(c_custkey % 1000 AS STRING), 3, '0'), "
    "'-', lpad(CAST(c_custkey * 7 % 1000 AS STRING), 3, '0'), "
    "'-', lpad(CAST(c_custkey * 13 % 10000 AS STRING), 4, '0')) "
    "WHEN c_custkey % 3 = 1 THEN "
    "concat(c_name, ' last seen from ', "
    "CAST(c_custkey % 256 AS STRING), '.', "
    "CAST(c_nationkey % 256 AS STRING), '.0.', "
    "CAST(c_custkey * 3 % 256 AS STRING), ' build 1234.5.6.7') "
    "ELSE concat(c_name, ' segment ', c_mktsegment, ' opted out') END"
)


def q_pii_scan(spark: SparkSession, sf: str) -> DataFrame:
    """PII audit sweep (text.pii_counts): per-row email/ipv4/phone
    match counts over derived customer contact text, rolled up per
    market segment — the masking-debt report a corpus owner reads
    before shipping a shard. Pure codegen'd regexp_count, zero shuffle
    before the final rollup; patterns restricted to the
    Java-regex/RE2 shared subset so the SQL oracle is exact."""
    from sleeper_spark.functions import text as pii

    cu = _load(spark, sf, "customer").select(
        "c_mktsegment", F.expr(_PII_CONTACT).alias("contact"))
    c = pii.pii_counts(cu, "contact")
    return c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_email").alias("n_email"),
        F.sum("n_ipv4").alias("n_ipv4"),
        F.sum("n_phone").alias("n_phone"),
        F.sum((F.col("n_pii") > 0).cast("long")).alias("n_affected"))


def q_pii_redact(spark: SparkSession, sf: str) -> DataFrame:
    """PII masking (text.pii_redact): every email/ipv4/phone span in the
    contact text replaced by its kind token, applied in fixed order
    (masks contain no digits/@ so later patterns cannot re-match inside
    an earlier mask). One codegen'd projection — the oracle compares
    the FULL redacted strings row by row, so the masking itself is
    value-pinned, not just counted."""
    from sleeper_spark.functions import text as pii

    cu = _load(spark, sf, "customer").select(
        "c_custkey", F.expr(_PII_CONTACT).alias("contact"))
    return (pii.pii_redact(cu, "contact", out_col="redacted")
            .select("c_custkey", "redacted"))


def q_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Exact heavy hitters (stats.heavy_hitters): the document tokens
    with frequency > n/40, found with a per-partition Misra-Gries
    candidate pass (bounded memory, O(k x P) candidate rows) and an
    exact broadcast-semi recount — never a full-cardinality shuffle.
    The integer count*k > n cut makes the output an exact function of
    the data, so the plain GROUP BY oracle hash-matches."""
    from sleeper_spark.functions import stats

    tok = (_load(spark, sf, "documents")
           .select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
           .where(F.col("tok") != ""))
    return stats.heavy_hitters(tok, "tok", k=40).select(
        F.col("v").alias("tok"), "n_rows")


def q_robust_scale(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group robust feature scaling (stats.grouped_robust_scale):
    (value - median_type) / MAD_type with EXACT per-type order
    statistics — RobustScaler semantics, deterministic where a
    float-summed z-score is not. Output pins the scaled doubles via
    floored-micros sums per type (shared IEEE operands -> identical
    quotients in any engine). Zero-MAD and NULL rows scale NULL."""
    from sleeper_spark.functions import stats

    ev = _load(spark, sf, "events").select("event_type", "value")
    s = stats.grouped_robust_scale(ev, ["event_type"], "value",
                                   out_col="scaled",
                                   pin_broadcast=True)  # few types
    return s.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("scaled").isNull().cast("long")).alias("n_null"),
        F.sum(F.floor(F.col("scaled") * 1_000_000).cast("long"))
        .alias("sum_scaled_micros"))


def q_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """Backward as-of join (functions/timeseries.py): each click event
    picks up the user's most recent at-or-before purchase value. Union +
    sort + last-carry — one shuffle on user_id, no range join, no UDF;
    oracle is DuckDB's native ASOF LEFT JOIN."""
    from sleeper_spark.functions import timeseries

    ev = _load(spark, sf, "events")
    clicks = ev.where(F.col("event_type") == "click") \
        .select("event_id", "user_id", "ts_us")
    # rights unique per (user_id, ts): deterministic winner
    purchases = ev.where(F.col("event_type") == "purchase") \
        .groupBy("user_id", "ts_us") \
        .agg(F.round(F.max("value"), 4).alias("last_purchase_value"))
    out = timeseries.asof_join(clicks, purchases, ["user_id"],
                               "ts_us", "ts_us")
    return out.select("event_id", "user_id", "last_purchase_value")


def q_rolling_window(spark: SparkSession, sf: str) -> DataFrame:
    """Time-based rolling aggregate: per user, value-sum and count over
    the trailing hour (RANGE frame on epoch micros). Decimal sum keeps
    the result order-independent and engine-exact."""
    from pyspark.sql import Window as W

    ev = _load(spark, sf, "events").select("event_id", "user_id",
                                           "ts_us", "value")
    w = (W.partitionBy("user_id").orderBy(F.col("ts_us").asc())
         .rangeBetween(-3_600_000_000, 0))
    dec = F.col("value").cast("decimal(18,2)")
    return ev.select(
        "event_id", "user_id",
        F.round(F.sum(dec).over(w).cast("double"), 2).alias("hour_sum"),
        F.count(F.lit(1)).over(w).alias("hour_n"),
    )


def q_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Gaps-and-islands sessionization (functions/timeseries.py): per
    user, a new session when >30 min passes between events. One shuffle
    on user_id, two window passes, no UDF."""
    from sleeper_spark.functions import timeseries

    ev = _load(spark, sf, "events").select("event_id", "user_id", "ts_us")
    # event_id tie-break: duplicate timestamps exist at sf>=1 (replica
    # generation), and without a total order a boundary tie group can
    # split across sessions differently per engine (sessionize docstring)
    out = timeseries.sessionize(ev, ["user_id"], "ts_us", 1_800_000_000,
                                order_cols=["event_id"])
    return out.select("event_id", "user_id", "session_id")


def q_range_join(spark: SparkSession, sf: str) -> DataFrame:
    """Containment join via bucketed equi-join: clicks falling inside
    any [purchase, purchase + 1h) window of the same user. The bucket
    trick keeps Catalyst on a hash join — a raw BETWEEN condition would
    plan as a nested loop (plan-pinned in tests)."""
    from sleeper_spark.functions import timeseries

    ev = _load(spark, sf, "events")
    clicks = ev.where(F.col("event_type") == "click") \
        .select("event_id", "user_id", "ts_us")
    hour_us = 3_600_000_000
    windows = ev.where(F.col("event_type") == "purchase") \
        .select("user_id", F.col("ts_us").alias("w_start"),
                (F.col("ts_us") + hour_us).alias("w_end")).distinct()
    out = timeseries.range_join(clicks, windows, ["user_id"],
                                "ts_us", "w_start", "w_end", hour_us)
    return out.select("event_id", "user_id", "w_start")


def q_pack_token_budget(spark: SparkSession, sf: str) -> DataFrame:
    """Contiguous token-budget sharding per source (the training-data
    sharding step before sequence packing): each doc goes to the shard
    where its first token lands. Integer arithmetic, deterministic, one
    shuffle on the strata."""
    doc = _load(spark, sf, "documents").withColumn(
        "n_tokens", text.token_count("text").cast("long"))
    return sampling.pack_token_budget(
        doc, "n_tokens", 2000, ["source"], "doc_id") \
        .select("doc_id", "source", "n_tokens", "shard_id")


def q_keyword_search_all(spark: SparkSession, sf: str) -> DataFrame:
    """Zero-shuffle all-terms keyword search (functions/search.py):
    distinct-token intersection against a literal term array inside
    codegen — cost is one scan of (doc_id, text), term count free."""
    from sleeper_spark.functions import search
    doc = _load(spark, sf, "documents")
    return search.keyword_search(
        doc, ["vector", "merge", "scan"], mode="all")


def q_keyword_search_any(spark: SparkSession, sf: str) -> DataFrame:
    """Any-term variant: n_matched >= 1, same scan-only shape."""
    from sleeper_spark.functions import search
    doc = _load(spark, sf, "documents")
    return search.keyword_search(
        doc, ["quantile", "customer"], mode="any")


_BM25_TERMS = ["vector", "merge", "scan"]


def q_bm25_search(spark: SparkSession, sf: str) -> DataFrame:
    """BM25-ranked keyword search (search.bm25_search): per-term tf in
    codegen over one tokenization, corpus stats as a single 1-row
    aggregate broadcast back — two scan passes, no explode, no collect.
    Scores round to 6 digits for cross-engine hash parity."""
    from sleeper_spark.functions import search
    doc = _load(spark, sf, "documents")
    return search.bm25_search(doc, _BM25_TERMS)


def _bm25_oracle_sql() -> str:
    """Replay bm25_search in DuckDB with the identical expression tree:
    integer-exact tf/df/N/dl, one avgdl double division, same
    association order, round 6."""
    terms = _BM25_TERMS
    tfs = ", ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(terms))
    dfs = ", ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(terms)))
    score = " + ".join(
        f"ln(1.0 + (CAST(n AS DOUBLE) - CAST(df{i} AS DOUBLE) + 0.5) "
        f"/ (CAST(df{i} AS DOUBLE) + 0.5)) "
        f"* (CAST(tf{i} AS DOUBLE) * 2.2) "
        f"/ (CAST(tf{i} AS DOUBLE) + 1.2 * (0.25 "
        f"+ (0.75 * CAST(dl AS DOUBLE)) "
        f"/ (CAST(dlsum AS DOUBLE) / CAST(n AS DOUBLE))))"
        for i in range(len(terms)))
    anytf = " + ".join(f"tf{i}" for i in range(len(terms)))
    return (
        "WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), "
        "'[a-z0-9]+') AS toks FROM documents), "
        f"f AS (SELECT doc_id, len(toks) AS dl, {tfs} FROM t), "
        "s AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS dlsum, "
        f"{dfs} FROM f) "
        f"SELECT doc_id, round(0.0 + {score}, 6) AS score "
        f"FROM f, s WHERE {anytf} > 0")


def q_lm_quality_scores(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style LM quality signal (functions/lm.py): corpus-trained
    bigram model with Lidstone smoothing, per-document average
    log-probability. Per-bigram log-probs round to micro-unit longs so
    document totals are exact integer sums; the oracle replays
    counts + smoothing + micro arithmetic."""
    from sleeper_spark.functions import lm
    doc = _load(spark, sf, "documents")
    return lm.bigram_lm_scores(doc, alpha=0.1)


def q_dsir_logweights(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance log-weights (functions/dsir.py, Xie et al. 2023):
    target domain = lang='en' documents, raw = the whole corpus; hashed
    unigram+bigram bag models with Lidstone smoothing. Per-bucket
    log-weights round to micro-unit longs so each document's weight is
    an exact integer sum; the oracle recomputes the md5 bucket hashing,
    smoothing, and micro arithmetic bit-for-bit."""
    from sleeper_spark.functions import dsir
    doc = _load(spark, sf, "documents")
    target = doc.where(F.col("lang") == "en")
    return dsir.dsir_logweights(doc, target, n_buckets=512, alpha=0.5)


def q_dsir_resample(spark: SparkSession, sf: str) -> DataFrame:
    """Gumbel-top-k importance RESAMPLE over the DSIR weights: the 50
    documents maximising ``logweight/τ + gumbel(doc_id)`` with a
    deterministic portable Gumbel (uniform from md5 of the id), τ=2.
    The sort key floors a shared IEEE double — no round-half hazard —
    and Spark executes the top-k as TakeOrderedAndProject. The oracle
    replays the identical noise, so even the 'random' sample
    hash-matches."""
    from sleeper_spark.functions import dsir
    doc = _load(spark, sf, "documents")
    target = doc.where(F.col("lang") == "en")
    scored = dsir.dsir_logweights(doc, target, n_buckets=512, alpha=0.5)
    return dsir.dsir_resample(scored, k=50, temperature=2.0)


def q_nb_classifier(spark: SparkSession, sf: str) -> DataFrame:
    """Closed-form multinomial Naive Bayes (functions/classify.py):
    train on the corpus's own ``lang`` labels and classify every
    document — training is two hash aggregates, scoring an
    explode → broadcast-label fan-out → count join → per-doc argmax.
    Per-token log-likelihoods are micro-unit longs (exact integer
    document scores); argmax ties break on label order."""
    from sleeper_spark.functions import classify
    doc = _load(spark, sf, "documents")
    return classify.nb_classify(doc, label_col="lang", alpha=1.0)


def q_contamination_safe_split(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster-aware train/eval split (functions/dedup.py): near-dup
    clusters from the LSH pair graph each land WHOLLY in train or eval
    (bucket of the component id), so paraphrase duplicates can never
    leak eval answers into training. Docs in no pair are singleton
    clusters. Oracle = recursive-CTE transitive closure over the exact
    ground-truth pair set + the same arithmetic bucket."""
    doc = _load(spark, sf, "documents")
    pairs = dedup.minhash_candidate_pairs(doc, num_hashes=32, bands=8)
    return dedup.contamination_safe_split(doc, pairs, eval_pct=10)


def q_kmeans_assign(spark: SparkSession, sf: str) -> DataFrame:
    """Whole-corpus DISTRIBUTED k-means (similarity.kmeans_distributed):
    Lloyd's iterations as Spark aggregates over micro-quantized integer
    vectors — assignment is k codegen'd literal-centroid distances,
    the update one posexplode sum; integer arithmetic end-to-end makes
    the result independent of partitioning and bit-reproducible in the
    SQL oracle (which replays both iterations and the final
    assignment). Driver state = k x dim centroid longs per round."""
    from sleeper_spark.functions import similarity
    emb = _load(spark, sf, "embeddings")
    out = similarity.kmeans_distributed(emb, k=8, iterations=2)
    return out.select("vec_id", F.col("cluster").cast("long")
                      .alias("cluster"))


def q_hybrid_search(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval: BM25 keyword ranking + cosine vector ranking
    fused by reciprocal rank (search.rrf_fuse). Each list caps at its
    top-20 via TakeOrdered (no global sort), ranks tie-break on id, and
    contributions are integer 1e9 DIV (60 + rank) so the fused score is
    an exact long sum — bit-stable across engines. The id domains are
    the dense doc_id/vec_id testdata keys; the operator fuses any
    rankings sharing an id domain."""
    from sleeper_spark.functions import search, similarity
    doc = _load(spark, sf, "documents")
    emb = _load(spark, sf, "embeddings")
    text_rank = search.bm25_search(doc, _BM25_TERMS)
    qv = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qv"))
    v = F.col("embedding").cast("array<double>")
    vec_rank = (emb.crossJoin(F.broadcast(qv))
                .where(F.col("vec_id") != 0)
                .select(F.col("vec_id").alias("doc_id"),
                        F.round(similarity.cosine_similarity(
                            v, F.col("qv")), 6).alias("score")))
    return search.rrf_fuse([text_rank, vec_rank], k=10, k_each=20)


def _hybrid_oracle_sql() -> str:
    """Replay hybrid_search in DuckDB: the BM25 oracle and a one-query
    cosine ranking as derived tables, each capped at 20 by
    (score desc, id), integer RRF contributions, exact long fusion."""
    bm = _bm25_oracle_sql()
    vec = (
        "SELECT vec_id AS doc_id, "
        "round(list_dot_product(cv, qv) / "
        "(sqrt(list_sum(list_transform(cv, x -> x * x))) * "
        "sqrt(list_sum(list_transform(qv, x -> x * x)))), 6) AS score "
        "FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv "
        "FROM embeddings WHERE vec_id <> 0) c CROSS JOIN "
        "(SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings "
        "WHERE vec_id = 0) q")

    def ranked(src: str, name: str) -> str:
        return (
            f"{name} AS (SELECT doc_id, 1000000000 // (60 + rank) AS c "
            "FROM (SELECT doc_id, CAST(row_number() OVER "
            "(ORDER BY score DESC, doc_id) AS INTEGER) AS rank "
            f"FROM (SELECT * FROM ({src}) z "
            "ORDER BY score DESC, doc_id LIMIT 20) zz) r)")

    return (
        "WITH " + ranked(bm, "tr") + ", " + ranked(vec, "vr") + " "
        "SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf_score "
        "FROM (SELECT * FROM tr UNION ALL SELECT * FROM vr) u "
        "GROUP BY doc_id ORDER BY rrf_score DESC, doc_id LIMIT 10")


def q_inverted_index_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Inverted-index build + per-term stats: explode -> partial-combine
    hash aggregate -> (term, df, tf_total), top 50 by document
    frequency (term tiebreak for a deterministic LIMIT)."""
    from sleeper_spark.functions import search
    doc = _load(spark, sf, "documents")
    idx = search.inverted_index(doc)
    return (search.posting_stats(idx)
            .orderBy(F.col("df").desc(), "term").limit(50))


def q_line_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-wide line dedup (functions/corpus.py dedup_lines — the C4
    boilerplate-line removal step). Docs are pre-split into sentence
    lines so the planted near-duplicate docs genuinely share lines;
    first occurrence (doc_id, line_no) wins, via a combine-friendly
    hash agg, never a hot-key window sort."""
    from sleeper_spark.functions import corpus

    doc = _load(spark, sf, "documents").withColumn(
        "text", F.regexp_replace(F.col("text"), r"\. ", ".\n"))
    return corpus.dedup_lines(doc)


def q_boilerplate_strip(spark: SparkSession, sf: str) -> DataFrame:
    """Boilerplate removal (corpus.strip_boilerplate_lines) — the C4
    cleaning step AFTER detection: every line appearing in >= 3
    distinct documents of its language is chrome and ALL its
    occurrences are dropped (dedup_lines keeps the first; cleaning
    keeps none). Docs pre-split into sentence lines like line_dedup so
    the planted near-duplicates genuinely share lines. Per-group line
    document frequency by hash agg + anti-join back — no hot-key
    window; the oracle replays the same shared detected set in one
    SQL expression."""
    from sleeper_spark.functions import corpus

    doc = _load(spark, sf, "documents").withColumn(
        "text", F.regexp_replace(F.col("text"), r"\. ", ".\n"))
    return corpus.strip_boilerplate_lines(
        doc.select("lang", "doc_id", "text"), ["lang"], min_df=3)


def q_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrub (functions/text.py pii_scrub): emails/IPs/phone runs
    redacted by chained regexp_replace, counted before replacement. The
    fixture text is PII-free, so deterministic PII is planted per doc;
    patterns are RE2-and-Java-compatible so the oracle reproduces the
    scrub byte-for-byte."""
    doc = _load(spark, sf, "documents")
    planted = doc.withColumn(
        "text2",
        F.concat_ws(
            "", F.col("text"), F.lit(" contact u"),
            F.col("doc_id").cast("string"), F.lit("@ex.co ip 10.0.0."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(" tel +1 555 0100 ok")))
    return text.pii_scrub(planted, "text2", "doc_id")


def q_zorder_key(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order (Morton) clustering key over (user_id, hour bucket)
    (functions/layout.py): the sort key that gives every row group a
    tight min/max box in BOTH dimensions, so 2-D range queries prune at
    the Parquet-statistics level. Pure bit arithmetic — the oracle
    recomputes every key; the row-group-pruning win itself is pinned by
    tests/test_functions.py::test_zorder_layout_prunes_better."""
    from sleeper_spark.functions import layout

    ev = _load(spark, sf, "events")
    hour_us = 3_600_000_000
    c = F.col("ts_us")
    hour = ((c - F.pmod(c, F.lit(hour_us))) / hour_us).cast("long")
    z = layout.zorder_key([F.col("user_id"), hour], bits=16)
    return ev.select("event_id", z.alias("zkey"))


def q_corpus_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic training-order permutation key
    (functions/layout.py shuffle_rows): a seeded overflow-free
    congruential hash per doc — re-runs see the identical epoch order,
    and the oracle reproduces it with plain integer arithmetic. The
    sort itself is Spark's range-partitioned orderBy (one shuffle)."""
    from sleeper_spark.functions import layout

    doc = _load(spark, sf, "documents")
    return doc.select(
        "doc_id", "source",
        layout.shuffle_key("doc_id", seed=7).alias("shuffle_key"))


def q_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact n-gram Jaccard similarity over consecutive doc pairs — the
    verify step of the dedup pipeline, oracle-checked."""
    doc = _load(spark, sf, "documents")
    # localCheckpoint: tokenize+shingle each document ONCE. Without it
    # Catalyst recomputes the shingle projection on BOTH sides of the
    # self-join (no ReusedExchange across the differing join keys), and
    # tokenization is the dominant cost of this query.
    sh = doc.select(F.col("doc_id"), dedup.shingles("text", 3).alias("sh")) \
        .localCheckpoint()
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .select("id_a", "id_b",
                F.round(dedup.jaccard_similarity(F.col("sh_a"), F.col("sh_b")), 4)
                .alias("jaccard"))
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH candidate pairs, verified against GROUND TRUTH: the
    testdata's planted near-duplicates are exactly the pairs with
    3-shingle Jaccard >= 0.7 (next-closest pair is ~0.1, so the planted
    set is unambiguous). The oracle computes that set exactly in DuckDB
    via a shared-shingle equi-join; a hash match therefore proves LSH
    recall AND precision = 1.0 on the planted duplicates."""
    doc = _load(spark, sf, "documents")
    return (dedup.minhash_candidate_pairs(doc, num_hashes=32, bands=8)
            .select("id_a", "id_b"))


def q_incremental_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental MinHash dedup (dedup.incremental_minhash_pairs): the
    corpus is split into an existing index (banded_buckets over 80% of
    docs — the persisted state an ongoing pipeline carries) and a new
    batch (doc_id % 5 == 0); only pairs touching the batch are
    produced, and old text is never re-read. On the planted-duplicate
    fixture the candidates equal ground truth restricted to
    batch-touching pairs, so the oracle is the exact shared-shingle
    Jaccard join with that restriction — a hash match proves recall AND
    precision 1.0 for the incremental path too."""
    doc = _load(spark, sf, "documents")
    old = doc.where(F.col("doc_id") % 5 != 0)
    new = doc.where(F.col("doc_id") % 5 == 0)
    idx = dedup.banded_buckets(old, num_hashes=32, bands=8)
    return (dedup.incremental_minhash_pairs(idx, new,
                                            num_hashes=32, bands=8)
            .select("id_a", "id_b"))


def q_simhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-duplicates within Hamming distance 3. Uses the
    portable md5-based shingle hash so the DuckDB oracle RECOMPUTES the
    whole operator — identical 64-bit fingerprints, pigeonhole block
    join, and Hamming filter — and the value hash checks fingerprint
    math bit-for-bit. (Production default stays the faster xxhash64
    flavor; same algorithm either way.)"""
    doc = _load(spark, sf, "documents")
    out = dedup.simhash_near_duplicates(doc, max_hamming=3, portable_hash=True)
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


def q_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup pairs resolved into keep-one clusters: distributed
    min-label propagation over the LSH pair graph (the step a training
    pipeline runs after pair-finding). Oracle = recursive-CTE transitive
    closure over the same ground-truth pair set; component id = min
    reachable doc id, so the hash match proves the clustering exactly."""
    doc = _load(spark, sf, "documents")
    pairs = dedup.minhash_candidate_pairs(doc, num_hashes=32, bands=8)
    return dedup.connected_components(pairs)


def q_near_dup_keep_one(spark: SparkSession, sf: str) -> DataFrame:
    """The dedup pipeline's final act: the RETAINED corpus after keep-one
    resolution — every document except non-canonical members of a
    near-dup cluster (anti-join against the cluster table; the cluster
    representative, min doc id, survives). This is the operator a
    training-data pipeline actually feeds downstream."""
    doc = _load(spark, sf, "documents")
    pairs = dedup.minhash_candidate_pairs(doc, num_hashes=32, bands=8)
    clusters = dedup.connected_components(pairs)
    drop = clusters.where(F.col("doc_id") != F.col("component_id")) \
        .select("doc_id")
    return (doc.join(drop, "doc_id", "left_anti")
            .select("doc_id", F.length("text").cast("int").alias("text_len")))


def q_near_dup_verified(spark: SparkSession, sf: str) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact Jaccard >= 0.7.
    Oracle = the exact all-pairs Jaccard >= 0.7 set (ground truth), so a
    hash match proves the end-to-end pipeline loses nothing."""
    doc = _load(spark, sf, "documents")
    return dedup.verified_near_duplicates(doc, threshold=0.7)


def q_similarity_join(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT thresholded Jaccard self-join (prefix filtering, AllPairs/
    PPJoin family) at t=0.5 — below the LSH knee the near-dup pipeline
    tunes for, so this exercises pairs LSH is allowed to miss. The
    oracle is the same exact all-pairs ground truth; a hash match here
    proves EXACTNESS (no candidate the prefix bound should find is
    lost), not just recall."""
    doc = _load(spark, sf, "documents")
    return dedup.similarity_join(doc, threshold=0.5)


def q_embedding_norms(spark: SparkSession, sf: str) -> DataFrame:
    """Vector math primitives (zip_with/aggregate, JVM-side): L2 norms."""
    emb = _load(spark, sf, "embeddings")
    v = F.col("embedding").cast("array<double>")
    return emb.select(
        "vec_id",
        F.size("embedding").cast("int").alias("dim"),
        F.round(similarity.l2_norm(v), 4).alias("l2_norm"),
    )


def q_ann_brute_force(spark: SparkSession, sf: str) -> DataFrame:
    """Exact cosine top-k: broadcast queries, map-side scoring, window
    prune (ranks computed on rounded scores for cross-engine stability)."""
    emb = _load(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return similarity.brute_force_topk(emb, queries, k=10)


def q_ann_filtered(spark: SparkSession, sf: str) -> DataFrame:
    """Filtered vector search (similarity.attribute_filtered_topk):
    metadata predicate + exact cosine top-k — candidates must share
    the query's ``label`` (the vector-DB "filtered search"). The
    crossJoin becomes a broadcast equi-join on the attribute, so the
    candidate set shrinks BEFORE scoring (pre-filter: recall within
    the group exact by construction, where post-filtering an
    unfiltered top-k under-fills selective filters). Oracle = the
    brute-force cosine SQL with the label join added."""
    emb = _load(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "label", "embedding")
    return similarity.attribute_filtered_topk(
        emb, queries, ["label"], k=10)


def q_table_ann_filtered(spark: SparkSession, sf: str) -> DataFrame:
    """Filtered vector search THROUGH the table layout
    (similarity.table_filtered_topk, r10 VERDICT Next #5): the corpus
    lives in a SleeperTable whose row keys LEAD with the attribute
    column (label, vec_id), split on label — so the queries' distinct
    labels become exact key regions and the scan PRUNES to the files
    holding those labels (partition pruning + Bloom skipping, the
    explain_query tiers) before any vector is read. The entry asserts
    the file-level pruning it claims (pruned scan ≪ total files), then
    scores exactly within groups like ann_filtered. Oracle = the same
    label-equi-join brute-force cosine SQL — pruning must not change a
    single result row."""
    emb = _load(spark, sf, "embeddings")
    schema = Schema(
        (Field("label", T.IntegerType()), Field("vec_id", T.LongType())),
        (),
        (Field("embedding", T.ArrayType(T.FloatType()), True),))
    _t0 = _setup_start()
    tmp = tempfile.mkdtemp(prefix="sleeper_annflt_")
    t = SleeperTable.create(spark, os.path.join(tmp, "t"), schema,
                            TableProperties(),
                            split_points=list(range(1, 10)))
    t.ingest(emb.select("label", "vec_id", "embedding"))
    _setup_done("table_ann_filtered", _t0)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "label", "embedding")
    # scan audit: the queries' labels must prune at the FILE level
    from sleeper_spark.query import Query
    q_labels = [r.label for r in
                queries.select("label").distinct().collect()]
    audit = t.explain_query(Query([
        Region.exact(t.schema, label=lb) for lb in q_labels]))
    assert 0 < audit["files_after_bloom"] < audit["files_total"], (
        f"expected file-level pruning: {audit['files_after_bloom']} "
        f"of {audit['files_total']} files survive for labels "
        f"{sorted(q_labels)}")
    return similarity.table_filtered_topk(t, queries, ["label"], k=10)


def q_ann_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """LSH-bucketed ANN (random-hyperplane signatures). The hyperplanes
    are seeded driver-side; the oracle embeds the SAME plane values as
    SQL literals (shortest-repr doubles round-trip exactly), so DuckDB
    recomputes identical buckets, candidate sets, and rankings."""
    emb = _load(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return similarity.lsh_topk(emb, queries, dim=64, k=10, bits=8)


#: IVF driver-entry parameters — shared verbatim by the Spark query and
#: the DuckDB oracle builder so centroids match bit-for-bit
_IVF = dict(dim=64, k=10, nlist=8, nprobe=2, seed=42, train_rows=2048)

#: PQ parameters, same sharing contract
_PQ = dict(dim=64, m=4, ksub=8, k=10, seed=42, train_rows=2048)


def _pq_codebooks_from_parquet(sf_dir: str) -> list[list[list[float]]]:
    """Recompute the EXACT per-subspace codebooks the Spark-side trainer
    produces, from the same bounded sample, without a Spark session."""
    import duckdb
    import numpy as np

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' "
        f"ORDER BY vec_id LIMIT {_PQ['train_rows']}").fetchall()
    X = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    dsub = _PQ["dim"] // _PQ["m"]
    return [
        [[float(x) for x in c] for c in similarity.kmeans_l2(
            X[:, s * dsub:(s + 1) * dsub], _PQ["ksub"], _PQ["seed"] + s)]
        for s in range(_PQ["m"])
    ]


def _lsh_query_probes(spark: SparkSession, q_local: DataFrame,
                      planes: list, max_probe: int) -> list:
    """Per-query LSH probe buckets, evaluated ONCE with the LARGEST
    nprobe of a sweep: ``query_probe_buckets`` orders probes [signature
    bucket, then flips by ascending margin], so every smaller nprobe's
    probe set is a PREFIX of this list — one tiny evaluation prices and
    probes every config. Returns collected rows ``(query_id, embedding,
    __probes)``; bucket values come from the exact Spark expressions the
    per-config plans would have evaluated."""
    return (similarity._with_norm(
        q_local.select("query_id",
                       F.col("embedding").alias("__emb"),
                       F.col("embedding").cast("array<double>")
                       .alias("__qvec")),
        "__qvec", "__qnorm")
        .select("query_id", "__emb",
                similarity.query_probe_buckets(
                    F.col("__qvec"), planes, max_probe).alias("__probes"))
        .collect())


def _ivf_centroids(emb: DataFrame, cache: dict | None = None) -> list:
    """IVF coarse-quantizer training. ``cache`` is an INVOCATION-LOCAL
    dict for entries that consume the centroids more than once in one
    plan build (ann_recall's tier thunks); it never outlives the
    query invocation, so every bench rep and every entry retrains from
    the parquet inputs."""
    key = ("ivf", _IVF["nlist"], _IVF["seed"], _IVF["train_rows"])
    if cache is None:
        cache = {}
    if key not in cache:
        cache[key] = similarity.train_ivf_centroids(
            emb, _IVF["nlist"], seed=_IVF["seed"],
            train_rows=_IVF["train_rows"])
    return cache[key]


def _pq_codebooks(emb: DataFrame, cache: dict | None = None) -> list:
    """PQ codebook training; same invocation-local cache contract as
    :func:`_ivf_centroids`."""
    key = ("pq", _PQ["dim"], _PQ["m"], _PQ["ksub"], _PQ["seed"],
           _PQ["train_rows"])
    if cache is None:
        cache = {}
    if key not in cache:
        cache[key] = similarity.train_pq_codebooks(
            emb, dim=_PQ["dim"], m=_PQ["m"], ksub=_PQ["ksub"],
            seed=_PQ["seed"], train_rows=_PQ["train_rows"])
    return cache[key]


def q_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ANN (ADC): vectors compress to m sub-codes,
    queries score them with table lookups. Codebooks train on the same
    bounded lowest-id sample contract as IVF; encode + score are pure
    codegen'd expressions (no UDF, no shuffle beyond the top-k)."""
    emb = _load(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    books = _pq_codebooks(emb)
    return similarity.pq_topk(emb, queries, books, k=_PQ["k"])


def _ivf_centroids_from_parquet(sf_dir: str) -> list[list[float]]:
    """Recompute the EXACT centroids the Spark-side trainer produces:
    the same train_rows lowest-vec_id sample (float32 values widen to
    identical doubles on both readers) through the same numpy k-means
    (similarity.kmeans_spherical). Lets the oracle embed centroids as
    SQL literals without a Spark session."""
    import duckdb
    import numpy as np

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' "
        f"ORDER BY vec_id LIMIT {_IVF['train_rows']}").fetchall()
    X = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    cents = similarity.kmeans_spherical(X, _IVF["nlist"], _IVF["seed"])
    return [[float(x) for x in c] for c in cents]


def q_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-Flat ANN. The coarse quantizer trains on a BOUNDED sample
    (train_rows lowest-id vectors via orderBy+limit — a
    TakeOrderedAndProject, never a full-corpus collect); the oracle
    recomputes identical centroids from the same sample with the same
    numpy k-means and embeds them as SQL literals."""
    emb = _load(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    cents = _ivf_centroids(emb)
    return similarity.ivf_topk(
        emb, queries, dim=_IVF["dim"], k=_IVF["k"], nlist=_IVF["nlist"],
        nprobe=_IVF["nprobe"], centroids=cents)


def q_table_ann_search(spark: SparkSession, sf: str) -> DataFrame:
    """Persistent IVF index ON THE TABLE ENGINE
    (SleeperTable.build_ann_index / ann_search): embeddings ingest into
    a keyed table, the index build trains coarse centroids on the same
    bounded sample as q_ivf_topk and rewrites each leaf cell-clustered,
    and the search probes 2 cells through the sidecar file skipper
    (files of unprobed cells are never opened) before an exact cosine
    rerank. The oracle replays probe + rerank over the raw parquet with
    recomputed centroid literals — table plumbing must not change a
    single row or score."""
    from sleeper_spark.schema import Field, Schema
    emb = _load(spark, sf, "embeddings").select("vec_id", "embedding")
    schema = Schema(
        (Field("vec_id", T.LongType()),), (),
        (Field("embedding", T.ArrayType(T.FloatType()), True),
         Field("ann_cell", T.IntegerType(), True)))
    _t0 = _setup_start()
    tmp = tempfile.mkdtemp(prefix="sleeper_ann_")
    t = SleeperTable.create(spark, os.path.join(tmp, "t"), schema,
                            TableProperties(), split_points=[1500])
    t.ingest(emb.withColumn("ann_cell", F.lit(-1)))
    t.build_ann_index("embedding", "ann_cell", nlist=_IVF["nlist"],
                      seed=_IVF["seed"], train_rows=_IVF["train_rows"],
                      files_per_leaf=4)
    _setup_done("table_ann_search", _t0)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 7)
          .select("embedding").collect()[0][0]]
    return t.ann_search(qv, k=10, nprobe=2)


def _table_ann_oracle_sql() -> str:
    """Replay SleeperTable.ann_search in DuckDB: same centroid literals
    as _ivf_oracle_sql (identical training sample and k-means), probe
    the query vector's top-2 cells with the same (dot DESC, cell ASC)
    stable rule, exact cosine over probed members (self INCLUDED —
    point-lookup semantics), top-10 by (cosine DESC, vec_id)."""
    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    cents = _ivf_centroids_from_parquet(sf_dir)
    values = ", ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents))
    cos = _COS_SQL.format(a="cl.v", b="q.qv")
    return (
        "WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings), "
        f"cents(ci, cv) AS (VALUES {values}), "
        "a AS (SELECT c.vec_id, c.v, ci, list_dot_product(c.v, cv) AS d "
        "FROM c CROSS JOIN cents), "
        "cell AS (SELECT vec_id, v, ci AS cell FROM ("
        "SELECT vec_id, v, ci, row_number() OVER ("
        "PARTITION BY vec_id ORDER BY d DESC, ci) AS rn FROM a) "
        "WHERE rn = 1), "
        "q AS (SELECT v AS qv FROM c WHERE vec_id = 7), "
        "probe AS (SELECT ci AS cell FROM ("
        "SELECT ci, row_number() OVER ("
        "ORDER BY list_dot_product(qv, cv) DESC, ci) AS rn "
        "FROM q CROSS JOIN cents) WHERE rn <= 2), "
        "s AS (SELECT cl.vec_id, "
        f"{cos} AS cosine "
        "FROM cell cl JOIN probe p ON cl.cell = p.cell CROSS JOIN q) "
        "SELECT vec_id, cosine FROM s "
        "ORDER BY cosine DESC, vec_id LIMIT 10")


#: IVF-PQ query-time probe width (coarse layer shares _IVF's centroids,
#: code layer shares _PQ's codebooks)
_IVFPQ_NPROBE = 3


def q_ivf_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-PQ composite ANN: IVF cells prune the candidate set, PQ codes
    make each candidate m lookups. Shares _IVF's centroid training and
    _PQ's codebook training verbatim, so the oracle recomputes both
    layers from the same bounded sample."""
    emb = _load(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    cents = _ivf_centroids(emb)
    books = _pq_codebooks(emb)
    return similarity.ivf_pq_topk(
        emb, queries, dim=_PQ["dim"], k=_PQ["k"], nlist=_IVF["nlist"],
        nprobe=_IVFPQ_NPROBE, m=_PQ["m"], ksub=_PQ["ksub"],
        centroids=cents, codebooks=books)


def q_ann_lsh_multiprobe(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-probe LSH ANN (similarity.query_probe_buckets): each query
    probes its signature bucket PLUS the two single-bit flips with the
    smallest hyperplane margins — recall rises without lowering bits
    (i.e. without growing every bucket). The oracle reproduces margins,
    probe sets, and rankings from the same plane literals."""
    emb = _load(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return similarity.lsh_topk(emb, queries, dim=64, k=10, bits=8, nprobe=3)


def q_ann_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Recall@10 of every approximate ANN tier (LSH, multi-probe LSH,
    IVF-Flat, PQ-ADC, IVF-PQ) against brute-force ground truth — the
    deploy-gate metric of a real embedding pipeline
    (similarity.recall_at_k). All join inputs are Q×k-row top-k tables,
    so the recall computation is broadcast-sized at any corpus scale;
    the tiers themselves reuse the exact parameters of their own
    oracle-checked driver entries."""
    emb = _load(spark, sf, "embeddings")
    q5 = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    q3 = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    # invocation-local training cache: the ivf/ivf_pq/pq tiers share
    # centroid/codebook training WITHIN this one plan build (that
    # sharing is the algorithm — one index, many consumers); nothing
    # survives the invocation, so every bench rep retrains from the
    # parquet inputs.
    tcache: dict = {}
    cents = _ivf_centroids(emb, tcache)
    books = _pq_codebooks(emb, tcache)

    # ONE materialized index table for EVERY tier (vector + norm + LSH
    # bucket + IVF cell + PQ codes in one projection): the per-family
    # index tables each paid their own scan/checkpoint of the corpus
    # for assignments that all key off the same vector
    c_all = similarity.ann_index_corpus(emb, cents, books, dim=64,
                                        bits=8).localCheckpoint(
                                            eager=False)

    # one query collect with the nprobe=3 probe superset: the lsh tier's
    # probe set (nprobe=1) is its prefix, so BOTH lsh tiers are rows of
    # one probe frame feeding a single scoring join (configs as data,
    # same trick as ann_index_selection); IVF probe cells driver-side at
    # the LARGEST nprobe of the sweep (stable argsort: smaller nprobe =
    # prefix), exactly as ivf_topk derives them
    planes = similarity._hyperplanes(64, 8, 42)
    qx = _lsh_query_probes(spark, q5, planes, max_probe=3)
    cents_np = similarity.np.asarray(cents, dtype="float64")
    max_nprobe = max(_IVF["nprobe"], _IVFPQ_NPROBE)
    ivf_cells = {
        r["query_id"]: similarity._probe_cells(
            similarity.np.asarray(r["__emb"], dtype="float64"),
            cents_np, max_nprobe)
        for r in qx}
    qid_t = q5.schema["query_id"].dataType
    emb_t = q5.schema["embedding"].dataType
    probe_schema = T.StructType([
        T.StructField("__cfg", T.StringType(), False),
        T.StructField("query_id", qid_t),
        T.StructField("__fam", T.StringType(), False),
        T.StructField("__jkey", T.LongType()),
        T.StructField("embedding", emb_t)])

    tier_names = ("ivf", "ivf_pq", "lsh", "lsh_multiprobe", "pq")

    # configs AND families as probe-frame DATA (local frames): the
    # exact-scoring tiers (brute force, both lsh probes, ivf) are rows
    # of ONE cosine probe join against c_all, the two PQ tiers rows of
    # ONE ADC join — 2 scoring joins + 2 windows where the stacked plan
    # had 5 branches + 4 windows (the branch count was the dominant
    # Catalyst-analysis cost here)
    cos_probe = local_rows_df(spark, (
        [("exact", r["query_id"], "all", 0, r["__emb"]) for r in qx]
        + [(name, r["query_id"], "lsh", b, r["__emb"])
           for name, p in (("lsh", 1), ("lsh_multiprobe", 3))
           for r in qx for b in r["__probes"][:p]]
        + [("ivf", r["query_id"], "ivf", c, r["__emb"])
           for r in qx
           for c in ivf_cells[r["query_id"]][:_IVF["nprobe"]]]),
        probe_schema)
    adc_probe = local_rows_df(spark, (
        [("ivf_pq", r["query_id"], "ivfpq", c, r["__emb"])
         for r in qx if r["query_id"] < 3
         for c in ivf_cells[r["query_id"]][:_IVFPQ_NPROBE]]
        + [("pq", r["query_id"], "all", 0, r["__emb"])
           for r in qx if r["query_id"] < 3]),
        probe_schema)

    # every top-k table is Q×k rows BY CONSTRUCTION (Q<=5, k=10), so
    # collecting is bounded at any corpus scale; WITHOUT the collect,
    # each union branch + each recall join re-evaluates its full corpus
    # scan (measured 10 brute-force evaluations of the ground truth
    # alone). All six tables (5 tiers + exact) come back from ONE
    # stacked action over the two fused joins.
    stacked = (
        similarity.multi_family_topk(c_all, cos_probe, k=10)
        .withColumnRenamed("__cfg", "tier")
        .unionByName(
            similarity.multi_family_adc_topk(c_all, adc_probe, books,
                                             k=10)
            .withColumnRenamed("__cfg", "tier")))
    schema = T.StructType([
        T.StructField("query_id", qid_t),
        T.StructField("vec_id", emb.schema["vec_id"].dataType),
        T.StructField("rank", T.IntegerType(), False)])
    by_tier: dict = {n: [] for n in ("exact", *tier_names)}
    for r in stacked.collect():
        by_tier[r["tier"]].append((r["query_id"], r["vec_id"], r["rank"]))
    # re-stack the materialized rows under the tier label and evaluate
    # recall in ONE join+aggregate pass (tier_col) — per-tier
    # recall_at_k calls cost 5x the stage-scheduling overhead for
    # identical results. The rebuilt tables are local frames of ~280
    # rows of driver data.
    exact = local_rows_df(spark, by_tier["exact"], schema)
    tier_schema = T.StructType(
        [T.StructField("tier", T.StringType(), False), *schema.fields])
    approx_all = local_rows_df(
        spark,
        [(name, *t) for name in tier_names for t in by_tier[name]],
        tier_schema)
    out = similarity.recall_at_k(exact, approx_all, k=10,
                                 tier_col="tier")
    return out.select("tier", "query_id", "n_exact", "n_hits", "recall")


def q_ann_index_selection(spark: SparkSession, sf: str) -> DataFrame:
    """Recall-gated index selection (similarity.select_ann_tier): sweep
    LSH nprobe ∈ {1,3} and IVF nprobe ∈ {1,2,4}, score each config's
    recall@10 against brute-force ground truth and its candidate
    fraction (share of corpus scored per query, from the bucket/cell
    histograms), and choose the cheapest config meeting the 0.7 target —
    the decision a real embedding pipeline automates before deploying an
    index. One materialized index table per tier family feeds every
    config, the histogram and the corpus count (the assignment is
    nprobe-independent — rebuilding it per consumer paid ~8 corpus
    passes for one index); all six top-k tables (5 configs + exact
    ground truth) come from ONE stacked action (configs ride the probe
    frame as data — probe lists are prefix-ordered so one evaluation at
    the largest nprobe serves every config), the two histograms +
    corpus count from a second, and the five candidate totals are
    priced driver-side from the collected histograms with the identical
    integer arithmetic. Candidate fractions are histogram-sized at any
    corpus scale."""
    emb = _load(spark, sf, "embeddings")
    q5 = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    cents = _ivf_centroids(emb)

    configs = (("lsh", 1), ("lsh", 3), ("ivf", 1), ("ivf", 2), ("ivf", 4))

    # ONE materialized index table for every family (bucket + cell +
    # norms over one scan/checkpoint): the stacked sweep AND the
    # histograms read it instead of re-deriving the corpus side per
    # consumer; lazy checkpoint — the first (stacked) action
    # materializes it
    c_all = similarity.ann_index_corpus(emb, cents, None, dim=64,
                                        bits=8).localCheckpoint(
                                            eager=False)

    # one query-set collect (with the nprobe=3 probe superset — every
    # smaller nprobe's probe set is a prefix) shared by every config's
    # probe derivation, the candidate pricing and the brute-force query
    # side
    planes = similarity._hyperplanes(64, 8, 42)
    qx = _lsh_query_probes(spark, q5, planes, max_probe=3)
    qid_t = q5.schema["query_id"].dataType
    vid_t = emb.schema["vec_id"].dataType
    emb_t = q5.schema["embedding"].dataType

    # IVF probe cells per query at the LARGEST nprobe (stable argsort:
    # smaller nprobe = prefix), driver-side numpy exactly as ivf_topk
    # derives them
    cents_np = similarity.np.asarray(cents, dtype="float64")
    ivf_cells = {
        r["query_id"]: similarity._probe_cells(
            similarity.np.asarray(r["__emb"], dtype="float64"),
            cents_np, 4)
        for r in qx}

    # configs AND families are DATA, not plan branches: one local
    # probe frame carries every config's (cfg, query, family,
    # bucket/cell) rows plus the brute-force ground truth as the 'all'
    # family, so the stacked sweep plans ONE scoring join instead of 6
    # separate tier plans
    probe_schema = T.StructType([
        T.StructField("__cfg", T.StringType(), False),
        T.StructField("query_id", qid_t),
        T.StructField("__fam", T.StringType(), False),
        T.StructField("__jkey", T.LongType()),
        T.StructField("embedding", emb_t)])
    probe = local_rows_df(spark, (
        [("exact@0", r["query_id"], "all", 0, r["__emb"]) for r in qx]
        + [(f"lsh@{p}", r["query_id"], "lsh", b, r["__emb"])
           for p in (1, 3) for r in qx for b in r["__probes"][:p]]
        + [(f"ivf@{p}", r["query_id"], "ivf", c, r["__emb"])
           for p in (1, 2, 4) for r in qx
           for c in ivf_cells[r["query_id"]][:p]]),
        probe_schema)

    # all six top-k tables (5 configs + exact ground truth) from ONE
    # stacked action over ONE fused join; per-(cfg, query) windows
    # reproduce each config's standalone tier rows bit-for-bit
    stacked = similarity.multi_family_topk(c_all, probe, k=10)
    topk_schema = T.StructType([
        T.StructField("query_id", qid_t),
        T.StructField("vec_id", vid_t),
        T.StructField("rank", T.IntegerType(), False)])
    by_cfg: dict = {c: [] for c in configs + (("exact", 0),)}
    for r in stacked.collect():
        t_, p_ = r["__cfg"].split("@")
        by_cfg[(t_, int(p_))].append(
            (r["query_id"], r["vec_id"], r["rank"]))

    def provider(tier, p):
        return local_rows_df(spark, by_cfg[(tier, p)], topk_schema)

    exact = provider("exact", 0)

    # histograms + corpus count in ONE action off the materialized
    # index tables (the histogram is groupBy(bucket/cell).count() on
    # the index frame — nprobe-independent, <=2^bits/nlist rows)
    stat_rows = (
        c_all.groupBy(F.col("__bucket").alias("key"))
        .agg(F.count(F.lit(1)).alias("count"))
        .select(F.lit("lsh").alias("fam"), "key", "count")
        .unionByName(
            c_all.groupBy(F.col("__cell").cast("long").alias("key"))
            .agg(F.count(F.lit(1)).alias("count"))
            .select(F.lit("ivf").alias("fam"), "key", "count"))
        .unionByName(
            c_all.agg(F.count(F.lit(1)).alias("count"))
            .select(F.lit("n").alias("fam"),
                    F.lit(0).cast("long").alias("key"), "count"))
    ).collect()
    n_corpus = next(int(r["count"]) for r in stat_rows if r["fam"] == "n")
    hist_lsh = {r["key"]: r["count"] for r in stat_rows
                if r["fam"] == "lsh"}
    hist_ivf = {int(r["key"]): r["count"] for r in stat_rows
                if r["fam"] == "ivf"}

    # candidate totals priced driver-side from the collected histograms
    # (the exact integer arithmetic of lsh_/ivf_candidate_count: per
    # query, sum of probed buckets'/cells' occupancies minus self, then
    # summed over queries) — the stacked count plans this replaces were
    # corpus-independent joins of <=5-row probe sets against <=2^bits-row
    # histograms, a full Spark action for bounded-driver arithmetic
    totals = {}
    for p in (1, 3):
        totals[("lsh", p)] = sum(
            sum(hist_lsh.get(b, 0) for b in r["__probes"][:p]) - 1
            for r in qx)
    for p in (1, 2, 4):
        totals[("ivf", p)] = sum(
            sum(hist_ivf.get(c, 0) for c in ivf_cells[r["query_id"]][:p])
            - 1 for r in qx)

    return similarity.select_ann_tier(
        emb, q5, dim=64, k=10, recall_target=_ANN_SELECT_TARGET,
        lsh_bits=8, lsh_probes=(1, 3), ivf_nlist=_IVF["nlist"],
        ivf_probes=(1, 2, 4), centroids=cents, topk_provider=provider,
        exact=exact, candidate_totals=totals, n_corpus=n_corpus,
        n_queries=len(qx))


def q_hll_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """HyperLogLog distinct-count sketch of events.user_id (p=8): the
    (register, rho_max) table itself, which the oracle reproduces
    BIT-FOR-BIT from the same md5 + string arithmetic — stronger than
    checking the estimate within a tolerance band. One scan, <=256
    output rows at any input size; per-file sidecar variant on
    SleeperTable.approx_distinct (functions/cardinality.py)."""
    from sleeper_spark.functions import cardinality
    ev = _load(spark, sf, "events")
    return cardinality.distinct_count_sketch(ev, "user_id", p=8)


def q_bpe_pair_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer-training primitive: adjacent character-pair counts
    weighted by word frequency — the argmax statistic of the first BPE
    merge (functions/corpus.py). Pairs explode over the DISTINCT-word
    vocabulary, never the corpus, so the data-sized step is one word
    count; the full merge-loop trainer (learn_bpe_merges/bpe_segment)
    runs on the bounded vocab and is pytest-verified."""
    from sleeper_spark.functions import corpus
    doc = _load(spark, sf, "documents")
    return corpus.bpe_pair_counts(doc, top=50)


def q_hot_keys(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT top-10 heaviest event users via sharded two-phase top-k
    (functions/frequency.py): one hash agg, then a per-shard
    WindowGroupLimit prune bounds the final ordering input at
    shards×k rows whatever the cardinality. The oracle replays the
    md5 shard + prune + (n desc, v) order bit-for-bit, proving the
    prune loses nothing. Per-file sidecar variant with count BOUNDS
    on SleeperTable.hot_keys / advise_salting."""
    from sleeper_spark.functions import frequency
    ev = _load(spark, sf, "events")
    return frequency.sharded_top_items(ev, "user_id", k=10, shards=16)


def q_embedding_near_duplicates(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH-bucketed self-join.
    The synthetic embeddings plant no >0.9-cosine twins, so the driver
    entry runs at threshold 0.35 to produce a non-trivial pair set.
    Bits AUTO-SCALE with corpus size (similarity.auto_bits, target
    occupancy 32, floor 4): per-bucket pair work stays flat as the
    corpus grows instead of exploding quadratically — at sf0.01 this
    resolves to the same 4 bits as before; at 10x/100x it adds ~3/~7
    bits. The oracle derives the identical bit count from the same
    corpus count, then recomputes buckets from the same seeded
    hyperplane literals and the exact cosine filter."""
    emb = _load(spark, sf, "embeddings")
    return similarity.embedding_near_duplicates(
        emb, dim=64, threshold=0.35, bits=4, target_bucket_size=32)


_SEMDEDUP = dict(nlist=64, seed=42, train_rows=2048, threshold=0.35)


def _semdedup_centroids(emb: DataFrame) -> list:
    return similarity.train_ivf_centroids(
        emb, _SEMDEDUP["nlist"], seed=_SEMDEDUP["seed"],
        train_rows=_SEMDEDUP["train_rows"])


def q_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup (similarity.semantic_dedup): k-means cells from the
    bounded lowest-id training sample, then drop any vector whose
    cosine to a lower-id cell member clears the threshold; returns the
    kept (vec_id, cell) manifest. nlist=64 keeps mean cell occupancy
    ~n/64 so the cell-local pair space stays quadratic-in-occupancy,
    not in corpus size (SemDeDup runs 50k clusters at LAION-440M). The
    synthetic embeddings plant no >0.9 twins, so the driver entry runs
    at threshold 0.35 (same rationale as embedding_near_duplicates).
    The oracle recomputes identical centroids from the same sample and
    replays assignment + pairwise drop in SQL."""
    emb = _load(spark, sf, "embeddings")
    cents = _semdedup_centroids(emb)
    return similarity.semantic_dedup(
        emb, cents, threshold=_SEMDEDUP["threshold"])


def q_negative_sampling(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic cross-label negative sampling for every corpus row
    (similarity.negative_sampling): Knuth-multiplicative bucket on the
    vector id, negatives = same bucket + different label, k=3 chosen by
    partner-id order. Bucket count scales with the corpus (occupancy
    ~16 at any sf) so candidate pairs stay Θ(n·16), never Θ(n²); the
    oracle derives the identical bucket count from its own corpus
    count inline."""
    emb = _load(spark, sf, "embeddings")
    return similarity.negative_sampling(emb, per_bucket=16, k=3)


def q_hard_negative_mining(spark: SparkSession, sf: str) -> DataFrame:
    """Hard-negative mining (similarity.hard_negative_mining): for each
    of 20 anchor vectors, the 5 corpus vectors MOST cosine-similar to
    the anchor among those with a DIFFERENT label — broadcast anchors,
    map-side scoring under the label-inequality theta join, partial
    WindowGroupLimit prune before the exchange."""
    emb = _load(spark, sf, "embeddings")
    anchors = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "label", "embedding")
    return similarity.hard_negative_mining(emb, anchors, k=5)


def _semdedup_centroids_from_parquet(sf_dir: str) -> list[list[float]]:
    """Oracle-side replica of _semdedup_centroids: same bounded
    lowest-id sample, same numpy k-means (see
    _ivf_centroids_from_parquet for why this round-trips exactly)."""
    import duckdb
    import numpy as np

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' "
        f"ORDER BY vec_id LIMIT {_SEMDEDUP['train_rows']}").fetchall()
    X = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    cents = similarity.kmeans_spherical(
        X, _SEMDEDUP["nlist"], _SEMDEDUP["seed"])
    return [[float(x) for x in c] for c in cents]


def _semantic_dedup_oracle_sql() -> str:
    """Replay semantic_dedup in DuckDB: literal centroids, the same
    raw-dot argmax assignment (row_number over dot DESC, ci ASC — numpy
    argmax takes the first maximum), the same rounded-cosine threshold
    on lower-id cell members, anti-join to the kept manifest."""
    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    cents = _semdedup_centroids_from_parquet(sf_dir)
    values = ", ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents))
    cos = _COS_SQL.format(a="x.v", b="y.v")
    return (
        "WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings), "
        f"cents(ci, cv) AS (VALUES {values}), "
        "a AS (SELECT vec_id, v, ci FROM ("
        "SELECT c.vec_id, c.v, ci, row_number() OVER ("
        "PARTITION BY c.vec_id "
        "ORDER BY list_dot_product(c.v, cv) DESC, ci) AS rn "
        "FROM c CROSS JOIN cents) WHERE rn = 1), "
        "d AS (SELECT DISTINCT x.vec_id AS vid FROM a x "
        "JOIN a y ON x.ci = y.ci AND x.vec_id > y.vec_id "
        f"WHERE {cos} >= {_SEMDEDUP['threshold']}) "
        "SELECT a.vec_id, CAST(a.ci AS INTEGER) AS cell "
        "FROM a LEFT JOIN d ON a.vec_id = d.vid WHERE d.vid IS NULL")


def q_multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal plumbing: binary payload column + metadata struct →
    Arrow-batched mapInPandas feature extraction with the deterministic
    fake codec (sha256-derived 8x8 grid). Features are exact multiples
    of 1/8 / 1/64 plus an integer range, so the hex-decoding DuckDB
    oracle reproduces every value bit-for-bit; output exploded to
    (doc_id, i, value) rows for the driver compare."""
    doc = _load(spark, sf, "documents")
    payload = doc.select(
        "doc_id", F.encode(F.md5(F.col("text")), "utf-8").alias("payload"))
    payload = multimodal.attach_media_metadata(payload, "payload", "image", "fake")
    feats = multimodal.extract_image_features(
        payload, decoder=multimodal.fake_image_decoder)
    return feats.select(
        "doc_id", F.posexplode(F.col("features")).alias("i", "value")
    ).select("doc_id", F.col("i").cast("int").alias("i"),
             F.col("value").cast("double").alias("value"))


def q_multimodal_frames(spark: SparkSession, sf: str) -> DataFrame:
    """Frame-sampling plumbing over binary video payloads: chunked
    mapInPandas splitter, every-2nd-frame sampling. Payloads are the
    utf-8 text bytes (pure ASCII), so the oracle reproduces frames with
    character arithmetic; frames surface as strings for the compare."""
    doc = _load(spark, sf, "documents").where(F.col("doc_id") < 100)
    payload = doc.select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    frames = multimodal.sample_video_frames(payload, every_nth=2)
    return frames.select(
        "doc_id", F.col("frame_index").cast("int").alias("frame_index"),
        F.decode(F.col("frame_payload"), "utf-8").alias("frame_text"))


# ---------------------------------------------------------------------------
# streaming operators run to completion (availableNow) and hash-checked
# ---------------------------------------------------------------------------

_EVENTS_READ_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    # raw int64 view of the parquet TIMESTAMP column (micros or nanos —
    # see _events_ts_per_us); reading the physical int64 keeps the
    # stream source schema static
    T.StructField("ts", T.LongType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


def _events_ts_per_us(sf: str) -> int:
    """Stored ts units per microsecond (1 = TIMESTAMP(MICROS),
    1000 = TIMESTAMP(NANOS) / int64 nanos), probed from the footer."""
    import pyarrow.parquet as _pq

    t = _pq.read_schema(os.path.join(sf, "events.parquet")).field("ts").type
    return 1 if "us" in str(t) else 1000


def _events_stream(spark: SparkSession, sf: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    d = tempfile.mkdtemp(prefix="stream_src_")
    import shutil
    shutil.copy(os.path.join(sf, "events.parquet"), os.path.join(d, "events.parquet"))
    per_us = _events_ts_per_us(sf)
    # a NANOS-stored ts needs the legacy conf even under a forced
    # LongType read schema (PARQUET_TYPE_ILLEGAL otherwise); harmless
    # for MICROS, where the forced-long read works either way
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong",
                   "true" if per_us == 1000 else "false")
    df = spark.readStream.schema(_EVENTS_READ_SCHEMA).parquet(d)
    return df.withColumn("ts", F.expr(f"ts div {per_us}"))  # → epoch micros


def _stream_session(spark: SparkSession) -> SparkSession:
    """Cloned session (shared SparkContext, private conf + catalog)
    whose shuffle partitioning — which for a streaming query fixes the
    number of STATE STORES per micro-batch, locked in when the
    checkpoint is created — tracks the harness's stream volume instead
    of the batch core count. 32 near-empty state partitions are pure
    per-batch commit/instantiation overhead at bench volume (measured
    9.4s -> 2.4s on the stream-stream join when this was first applied
    there in r7; the same shape holds for every applyInPandasWithState
    entry: one 32-task stateful stage dominated its micro-batch). A
    100 TB deployment sizes this to its real throughput the same way —
    parameterised via $SPARK_GRAFT_STREAM_STATE_PARTITIONS (default 8,
    scale-adaptive rather than a constant tuned to local[32])."""
    s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions",
                os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "8"))
    return s2


def _run_stream_to_view(out: DataFrame, name: str, mode: str) -> None:
    ckpt = tempfile.mkdtemp(prefix="stream_ckpt_")
    q = (out.writeStream.format("memory").queryName(name).outputMode(mode)
         .trigger(availableNow=True).option("checkpointLocation", ckpt).start())
    q.awaitTermination(300)


def q_streaming_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """Watermarked stream-stream interval join
    (streaming.interval_join_streams): each view event matched to the
    same user's click events within the following hour, run to
    completion with availableNow. State per side is bounded by the
    1-hour delay at any stream length; the batch oracle is the plain
    time-bounded self-join, which the append-mode stream must equal
    exactly."""
    from sleeper_spark import streaming as streaming_mod

    # a stream-stream join keeps FOUR state stores per partition, so
    # near-empty state partitions hurt 4x here — see _stream_session
    # (measured 9.4s -> 2.4s when first applied in r7)
    s2 = _stream_session(spark)

    def side(et: str, ts_name: str, id_name: str) -> DataFrame:
        s = _events_stream(s2, sf)
        return s.where(F.col("event_type") == et).select(
            "user_id", F.timestamp_micros(F.col("ts")).alias(ts_name),
            F.col("event_id").alias(id_name))

    out = streaming_mod.interval_join_streams(
        side("view", "view_ts", "view_id"),
        side("click", "click_ts", "click_id"),
        on=["user_id"], left_ts="view_ts", right_ts="click_ts",
        max_delay="1 hour")
    _run_stream_to_view(out, "q_streaming_ivj", "append")
    # the memory sink registered in the CLONE's catalog
    return s2.sql(
        "SELECT view_id, click_id, user_id, "
        "unix_micros(click_ts) - unix_micros(view_ts) AS lag_us "
        "FROM q_streaming_ivj")


def q_streaming_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming last-writer-wins: the events stream micro-batch-ingests
    into a max_by-aggregated SleeperTable (stream_ingest's exactly-once
    deterministic job ids), then one compaction physically collapses to
    the newest-ts value per (user_id, event_type). The materialised
    upsert view must equal the batch oracle REGARDLESS of how the
    stream was batched — the collapse is associative and
    order-insensitive (lexicographic (ts, value) extremum), which is
    exactly what makes streaming upsert safe."""
    from sleeper_spark import streaming as streaming_mod
    stream = _events_stream(spark, sf).select(
        F.col("user_id"), F.col("event_type"),
        F.col("ts").alias("ts_us"), F.col("value"))
    schema = Schema(
        (Field("user_id", T.LongType()),),
        (Field("event_type", T.StringType()),),
        (Field("ts_us", T.LongType()),
         Field("value", T.DoubleType())),
    )
    tmp = tempfile.mkdtemp(prefix="sleeper_supsert_")
    table = SleeperTable.create(
        spark, os.path.join(tmp, "t"), schema,
        TableProperties(aggregations="max(ts_us), max_by(value, ts_us)"),
        split_points=[500],
    )
    q = streaming_mod.stream_ingest(
        table, stream, tempfile.mkdtemp(prefix="supsert_ckpt_"))
    q.awaitTermination(300)
    table.compact()
    return table.full_scan()


def q_streaming_window(spark: SparkSession, sf: str) -> DataFrame:
    """Structured Streaming tumbling-window aggregation (SURVEY §2.10
    parity-plus), run to completion with availableNow and hash-checked
    against the batch SQL oracle."""
    from sleeper_spark import streaming as streaming_mod
    s2 = _stream_session(spark)  # state partitions sized to volume
    stream = _events_stream(s2, sf).withColumn(
        "ts", F.timestamp_micros(F.col("ts")))
    out = streaming_mod.windowed_aggregate(stream, "ts", window="1 day",
                                           watermark="1 hour")
    _run_stream_to_view(out, "q_streaming_window", "complete")
    return s2.sql(
        "SELECT CAST(window_start AS DATE) AS day, n_events "
        "FROM q_streaming_window")


def q_streaming_hopping_window(spark: SparkSession, sf: str) -> DataFrame:
    """Structured Streaming HOPPING-window aggregation (SURVEY §2.10
    parity-plus; streaming.windowed_aggregate's slide form under a
    watermark): 1 h windows every 15 min, each event feeding 4
    overlapping windows' state. State is bounded by the watermark
    horizon × 4 open windows regardless of stream length. Run to
    completion with availableNow; must hash-match the BATCH hopping
    oracle on the same data."""
    from sleeper_spark import streaming as streaming_mod
    s2 = _stream_session(spark)  # state partitions sized to volume
    stream = _events_stream(s2, sf).where(
        F.col("ts").isNotNull()).withColumn(
        "ts", F.timestamp_micros(F.col("ts")))
    out = streaming_mod.windowed_aggregate(
        stream, "ts", window="1 hour", slide="15 minutes",
        watermark="1 hour",
        aggs=[F.count(F.lit(1)).alias("n_events"),
              F.round(F.sum(F.col("value").cast("decimal(18,4)"))
                      .cast("double"), 4).alias("sum_value")])
    _run_stream_to_view(out, "q_streaming_hopping_window", "complete")
    return s2.sql(
        "SELECT unix_micros(CAST(window_start AS TIMESTAMP)) AS ws_us, "
        "n_events, sum_value FROM q_streaming_hopping_window")


def q_streaming_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Continuous conversion funnel (streaming.streaming_funnel):
    per-user reach depth maintained across micro-batches via
    applyInPandasWithState (sorted per-step event-time state, chain
    re-derived per batch — exact under any arrival order). Run to
    completion with availableNow; final counts must hash-match the
    BATCH funnel oracle on the same data. Depth updates are monotone,
    so final depth = max over the update stream; per-step counts are
    one conditional aggregate over the depth table."""
    from sleeper_spark import streaming as streaming_mod

    steps = ["view", "click", "purchase"]
    s2 = _stream_session(spark)  # state partitions sized to volume
    stream = _events_stream(s2, sf).select(
        "user_id", "event_type", "ts")
    out = streaming_mod.streaming_funnel(
        stream, steps, user_col="user_id", step_col="event_type",
        ts_col="ts")
    _run_stream_to_view(out, "q_streaming_funnel", "update")
    depth = s2.sql("SELECT user, max(depth) AS d "
                   "FROM q_streaming_funnel GROUP BY user")
    row = depth.agg(*[
        F.sum((F.col("d") >= i + 1).cast("long")).alias(f"c{i}")
        for i in range(len(steps))]).first()
    return local_rows_df(
        spark, [(s, i, int(row[f"c{i}"] or 0)) for i, s in enumerate(steps)],
        "step string, step_index int, n_users long")


def q_streaming_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Continuous heavy-hitter mining
    (streaming.streaming_heavy_hitters): document tokens stream
    through bucketed Misra-Gries state (O(k) per bucket at any stream
    length), then finalize_heavy_hitters recounts the drained
    candidate union exactly — the streaming candidates plus the batch
    cut give EXACTLY the tokens with freq > n/40, so the result
    hash-matches the plain GROUP BY oracle (and the batch
    heavy_hitters operator) on the same data."""
    import shutil
    import tempfile as _tf

    from sleeper_spark import streaming as streaming_mod

    d = _tf.mkdtemp(prefix="stream_hh_")
    shutil.copy(os.path.join(sf, "documents.parquet"),
                os.path.join(d, "documents.parquet"))
    doc_schema = ("doc_id long, text string, lang string, "
                  "source string, n_chars long")
    s2 = _stream_session(spark)  # state partitions sized to volume
    stream = (s2.readStream.schema(doc_schema).parquet(d)
              .select(F.explode(F.split(F.col("text"), " "))
                      .alias("tok"))
              .where(F.col("tok") != ""))
    out = streaming_mod.streaming_heavy_hitters(stream, "tok", k=40)
    _run_stream_to_view(out, "q_streaming_hh", "update")
    batch = (_load(s2, sf, "documents")
             .select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
             .where(F.col("tok") != ""))
    return streaming_mod.finalize_heavy_hitters(
        s2.table("q_streaming_hh"), batch, "tok", k=40) \
        .select(F.col("v").alias("tok"), "n_rows")


def q_streaming_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Continuous sessionization (streaming.streaming_sessionize):
    per-user session count / span / largest session maintained across
    micro-batches, gaps-and-islands RE-DERIVED per batch over sorted
    per-key event-time state so late bridge events merge sessions
    exactly. Final answer = latest update per key (max_by on the
    monotone upd counter); the batch gaps-and-islands oracle over
    DISTINCT (user, ts) must hash-match. 30-minute gap."""
    from sleeper_spark import streaming as streaming_mod

    s2 = _stream_session(spark)  # state partitions sized to volume
    stream = _events_stream(s2, sf).select("user_id", "ts")
    out = streaming_mod.streaming_sessionize(
        stream, "user_id", "ts", gap=1_800_000_000)
    _run_stream_to_view(out, "q_streaming_sessionize", "update")
    return (s2.table("q_streaming_sessionize").groupBy("key")
            .agg(F.max_by("n_sessions", "upd").alias("n_sessions"),
                 F.max_by("span_micros", "upd").alias("span_micros"),
                 F.max_by("max_session_len", "upd")
                 .alias("max_session_len"))
            .select(F.col("key").alias("user_id"),
                    F.col("n_sessions").cast("long").alias("n_sessions"),
                    "span_micros",
                    F.col("max_session_len").cast("long")
                    .alias("max_session_len")))


def q_streaming_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Continuous cohort retention (streaming.streaming_retention):
    per-user sorted distinct activity periods maintained across
    micro-batches, cohort + offsets RE-DERIVED per batch so a late
    earlier event re-cohorts the user exactly (incremental counters
    cannot undo a cohort shift). Final table = latest update per user
    (max_by on the monotone upd counter), exploded and counted — must
    hash-match the batch retention_cohorts oracle on the same data.
    Day periods over epoch-micro timestamps."""
    from sleeper_spark import streaming as streaming_mod

    s2 = _stream_session(spark)  # state partitions sized to volume
    stream = _events_stream(s2, sf).select("user_id", "ts")
    out = streaming_mod.streaming_retention(
        stream, "user_id", "ts", period=86_400_000_000)
    _run_stream_to_view(out, "q_streaming_retention", "update")
    return (s2.table("q_streaming_retention").groupBy("user")
            .agg(F.max_by("cohort", "upd").alias("cohort"),
                 F.max_by("offsets", "upd").alias("offsets"))
            .select("cohort",
                    F.explode("offsets").alias("period_offset"))
            .groupBy("cohort", "period_offset")
            .agg(F.count(F.lit(1)).alias("n_users")))


def q_streaming_running_totals(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): final
    per-user running totals equal the batch aggregate. Values stream as
    integer CENTS (the 2-decimal source is exact in cents), so the
    stateful float64 accumulation is integer-exact and order-independent
    — same determinism rule as the decimal scalar sums."""
    from sleeper_spark import streaming as streaming_mod
    s2 = _stream_session(spark)  # state partitions sized to volume
    stream = _events_stream(s2, sf).withColumn(
        "value", F.round(F.col("value") * 100).cast("double"))
    out = streaming_mod.stateful_running_totals(stream, "user_id", "value")
    _run_stream_to_view(out, "q_streaming_running", "update")
    # updates are monotone (cents are positive); final state = max
    return (s2.sql("SELECT * FROM q_streaming_running")
            .groupBy(F.col("key").alias("user_id"))
            .agg(F.max("n_total").alias("n_total"),
                 F.round(F.max("value_total") / 100.0, 4).alias("value_total")))


def q_streaming_approx_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming per-window approximate distinct users
    (streaming.windowed_approx_distinct): HLL register state bounded at
    2^p rows per window instead of one state row per distinct key. Run
    to completion with availableNow; the oracle reproduces the daily
    register tables bit-for-bit from the same md5 string arithmetic."""
    from sleeper_spark import streaming as streaming_mod
    s2 = _stream_session(spark)  # state partitions sized to volume
    stream = _events_stream(s2, sf).withColumn(
        "ts", F.timestamp_micros(F.col("ts")))
    out = streaming_mod.windowed_approx_distinct(
        stream, "ts", "user_id", window="1 day", watermark="1 hour", p=8)
    _run_stream_to_view(out, "q_streaming_approx_distinct", "complete")
    return s2.sql(
        "SELECT CAST(window_start AS DATE) AS day, register, rho_max "
        "FROM q_streaming_approx_distinct")


def q_doc_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping token-window chunking (functions/corpus.py): 40-token
    chunks every 30 tokens, the pre-packing step of a training pipeline.
    Zero shuffle (posexplode over a per-row transform); chunk text is
    md5'd so the oracle's value hash checks content, not just counts."""
    from sleeper_spark.functions import corpus

    doc = _load(spark, sf, "documents")
    out = corpus.chunk_documents(doc, "text", "doc_id", window=40, stride=30)
    return out.select(
        "doc_id", F.col("chunk_id").cast("int").alias("chunk_id"),
        F.col("n_chunk_tokens").cast("int").alias("n_chunk_tokens"),
        F.md5("chunk_text").alias("chunk_md5"))


def q_verbatim_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document verbatim-copy share (functions/corpus.py
    verbatim_overlap_share): fraction of 20-token rolling windows (every
    10) that appear in another document — the scalable stand-in for
    exact-substring dedup (Lee et al. 2022) as hash aggregation instead
    of a corpus suffix array. Docs shorter than one window carry no
    signal and are excluded by construction."""
    from sleeper_spark.functions import corpus

    doc = _load(spark, sf, "documents")
    out = corpus.verbatim_overlap_share(doc, "text", "doc_id",
                                        window=20, stride=10)
    return out.select("doc_id", "n_spans",
                      F.col("n_dup_spans").cast("long").alias("n_dup_spans"),
                      "dup_share")


def q_tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 TF-IDF terms per document. Integer tf/df into one ln() and
    one multiply keeps the double bit-identical across engines; the
    per-doc top-k is a WindowGroupLimit, not a global sort."""
    from sleeper_spark.functions import corpus

    doc = _load(spark, sf, "documents")
    return corpus.tfidf_top_terms(doc, "text", "doc_id", k=3)


def q_contamination_check(spark: SparkSession, sf: str) -> DataFrame:
    """Train/test contamination scan (functions/corpus.py): test split =
    doc_id % 10 == 0, train = the rest; a test doc is contaminated when
    it shares a 5-token shingle with any training doc. Shingle-bucketed
    equi-join — never pairwise over the corpora; shingles whose
    train-side doc frequency exceeds 1000 are dropped pre-join (C4-style
    boilerplate guard, mirrored in the oracle)."""
    from sleeper_spark.functions import corpus

    doc = _load(spark, sf, "documents")
    test = doc.where(F.col("doc_id") % 10 == 0)
    train = doc.where(F.col("doc_id") % 10 != 0)
    out = corpus.contamination_check(test, train, "text", "doc_id", ngram=5)
    return out.select(
        "test_id",
        F.col("n_train_docs").cast("int").alias("n_train_docs"),
        F.col("n_shared_shingles").cast("int").alias("n_shared_shingles"))


def q_embedding_quantize(spark: SparkSession, sf: str) -> DataFrame:
    """Per-vector int8 scalar quantization (functions/similarity.py) —
    embedding compression before an ANN index ships. Pure higher-order
    expressions over doubles; the oracle recomputes every code."""
    emb = _load(spark, sf, "embeddings")
    return similarity.quantize_embeddings(emb, "embedding", "vec_id")


def q_sketch_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable quantile-sketch tier (stats.sketch_quantiles): ad-hoc
    percentiles of lineitem's RAW near-unique double price column in
    O(sketch), not O(distinct) — mapInArrow per-partition equi-depth
    summaries, an applyInPandas tree-merge level capping driver
    transfer at merge_groups*(k+1) rows however many partitions the
    scan has, and a driver rank-union pick (reference analog: per-file
    DataSketches sidecars unioned driver-side, Sketches.java:45-62).

    The sketch value is deterministic only per file layout (never per
    q-on-paper), so the ORACLE checks the documented guarantee instead:
    each estimate's exact rank interval [count(<v)+1, count(<=v)],
    measured by ONE codegen'd verification aggregate, must intersect
    target±budget with budget = sketch_rank_budget(n). All other output
    columns (n, target_rank, budget) are integer-exact data functions
    DuckDB recomputes."""
    from sleeper_spark.functions import stats

    li = _load(spark, sf, "lineitem").select("l_extendedprice") \
        .where(F.col("l_extendedprice").isNotNull())
    rational_qs = [("p25", 1, 4), ("p50", 1, 2),
                   ("p95", 19, 20), ("p99", 99, 100)]
    vals, n = stats.sketch_quantiles(
        li, "l_extendedprice", [num / den for _, num, den in rational_qs])
    budget = stats.sketch_rank_budget(n)
    aggs = []
    for i, v in enumerate(vals):
        aggs.append(F.sum((F.col("l_extendedprice") < F.lit(v))
                          .cast("long")).alias(f"lt{i}"))
        aggs.append(F.sum((F.col("l_extendedprice") <= F.lit(v))
                          .cast("long")).alias(f"le{i}"))
    row = li.agg(*aggs).first()
    out = []
    for i, (qname, num, den) in enumerate(rational_qs):
        target = max(1, (num * n + den - 1) // den)  # exact ceil(q*n)
        ok = (row[f"le{i}"] >= target - budget
              and row[f"lt{i}"] < target + budget)
        out.append((qname, n, target, budget, bool(ok)))
    return local_rows_df(
        spark, out, "qname string, n long, target_rank long, budget long, "
                    "ok boolean")


def q_grouped_sketch_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """PER-GROUP mergeable sketch quantiles
    (stats.grouped_sketch_quantiles): lineitem's raw near-unique
    double price column per l_returnflag in O(sketch) per group —
    mapInArrow per-(partition, group) equi-depth summaries, an
    applyInPandas merge level bounding any task's input at
    merge_groups*(k+1) rows per group at any partition count, and a
    final per-group rank-union (no driver collection; one row per
    group). The grouped twin of sketch_quantiles, for when
    grouped_quantiles' exact per-(group, value) histograms degenerate
    on continuous data.

    Like the global sketch, the estimate is layout-deterministic, not
    q-on-paper-deterministic, so the ORACLE checks the documented
    per-group rank budget: each estimate's exact rank interval
    [count(<v)+1, count(<=v)] within its group must intersect
    target±budget, budget = sketch_rank_budget(n_g). All other output
    columns are integer-exact functions of the data."""
    from sleeper_spark.functions import stats

    li = _load(spark, sf, "lineitem").select(
        "l_returnflag", "l_extendedprice") \
        .where(F.col("l_extendedprice").isNotNull())
    rational_qs = [("p50", 1, 2), ("p95", 19, 20)]
    res = stats.grouped_sketch_quantiles(
        li, ["l_returnflag"], "l_extendedprice",
        {qn: num / den for qn, num, den in rational_qs})
    groups = sorted(res.collect(), key=lambda r: r.l_returnflag)
    aggs = []
    for i, r in enumerate(groups):
        cond = F.col("l_returnflag") == F.lit(r.l_returnflag)
        for qn, _, _ in rational_qs:
            v = F.lit(r[qn])
            aggs.append(F.sum(
                (cond & (F.col("l_extendedprice") < v)).cast("long")
            ).alias(f"lt{i}_{qn}"))
            aggs.append(F.sum(
                (cond & (F.col("l_extendedprice") <= v)).cast("long")
            ).alias(f"le{i}_{qn}"))
    row = li.agg(*aggs).first()
    out = []
    for i, r in enumerate(groups):
        n = r.n
        budget = stats.sketch_rank_budget(n)
        for qn, num, den in rational_qs:
            target = max(1, (num * n + den - 1) // den)
            ok = (row[f"le{i}_{qn}"] >= target - budget
                  and row[f"lt{i}_{qn}"] < target + budget)
            out.append((r.l_returnflag, qn, n, target, budget,
                        bool(ok)))
    return local_rows_df(
        spark, out, "l_returnflag string, qname string, n long, "
                    "target_rank long, budget long, ok boolean")


def q_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group exact interpolated percentiles (median / p95 of event
    value per event type) — the distribution-sanity profile a pipeline
    runs over incoming data. Spark percentile() and DuckDB
    quantile_cont() share the linear-interpolation definition."""
    ev = _load(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
        F.count(F.lit(1)).alias("n"))


def q_winsorize(spark: SparkSession, sf: str) -> DataFrame:
    """Winsorized aggregates (functions/stats.py): l_extendedprice
    clipped to its EXACT [p05, p95] order statistics — thresholds from
    a distributed cumulative histogram (distinct-value hash-agg +
    range-partitioned prefix sum; no single-partition window, no
    approxQuantile nondeterminism), the clip a codegen'd
    least/greatest over the scan. Sums in cents-longs so both engines
    agree bit-for-bit."""
    from sleeper_spark.functions import stats

    li = _load(spark, sf, "lineitem").select(
        "l_returnflag", "l_extendedprice") \
        .where(F.col("l_extendedprice").isNotNull())
    clipped = stats.winsorize(li, "l_extendedprice", 0.05, 0.95,
                              out_col="clip")
    return clipped.groupBy("l_returnflag").agg(
        F.sum(F.round(F.col("clip") * 100).cast("long"))
        .alias("sum_clip_cents"),
        F.min(F.round(F.col("clip") * 100).cast("long"))
        .alias("min_clip_cents"),
        F.max(F.round(F.col("clip") * 100).cast("long"))
        .alias("max_clip_cents"),
        F.count(F.lit(1)).alias("n"))


def q_mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Robust outlier quarantine (stats.mad_outliers): flag rows where
    |x - median| > 3 * MAD, both thresholds EXACT order statistics from
    distributed prefix-sum histograms — a corrupt extreme row cannot
    drag the fence the way it drags a stddev. Flag is one codegen'd
    comparison; output is the per-type quarantine tally."""
    from sleeper_spark.functions import stats

    ev = _load(spark, sf, "events").select("event_type", "value") \
        .where(F.col("value").isNotNull())
    flagged = stats.mad_outliers(ev, "value", k=3.0)
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("is_outlier").cast("long")).alias("n_outliers"))


def q_grouped_winsorize(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group winsorization (stats.grouped_winsorize): each return
    flag clipped to ITS OWN exact [p05, p95] — per-domain tail taming,
    where one heavy-tailed group must not set the fences for all.
    Thresholds are one grouped_quantiles pass broadcast-joined back;
    the clip is codegen'd. Cents-long sums for bit parity."""
    from sleeper_spark.functions import stats

    li = _load(spark, sf, "lineitem").select(
        "l_returnflag", "l_extendedprice") \
        .where(F.col("l_extendedprice").isNotNull())
    c = stats.grouped_winsorize(li, ["l_returnflag"], "l_extendedprice",
                                0.05, 0.95, out_col="clip",
                                pin_broadcast=True)  # 3 known groups
    cents = F.round(F.col("clip") * 100).cast("long")
    return c.groupBy("l_returnflag").agg(
        F.sum(cents).alias("sum_clip_cents"),
        F.min(cents).alias("min_clip_cents"),
        F.max(cents).alias("max_clip_cents"),
        F.count(F.lit(1)).alias("n"))


def q_equidepth_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Quantile binning (stats.equidepth_buckets): l_extendedprice cut
    at its exact quartile order statistics; assignment is a codegen'd
    count-of-fences over a 3-literal array (no join, no second
    shuffle). Output is the bucket histogram with cents-long bounds."""
    from sleeper_spark.functions import stats

    li = _load(spark, sf, "lineitem").select("l_extendedprice") \
        .where(F.col("l_extendedprice").isNotNull())
    b = stats.equidepth_buckets(li, "l_extendedprice", 4)
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(cents).alias("min_cents"),
        F.max(cents).alias("max_cents"))


def q_grouped_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact per-group order statistics (stats.grouped_quantiles): p50
    and p95 of event value per event type as percentile_disc order
    statistics — one per-group histogram + PARTITIONED window prefix
    sum (distributes by group; contrast the `quantiles` query, whose
    interpolated percentile is a different definition)."""
    from sleeper_spark.functions import stats

    ev = _load(spark, sf, "events").select("event_type", "value")
    return stats.grouped_quantiles(
        ev, ["event_type"], "value", {"p50": 0.5, "p95": 0.95})


def q_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered conversion funnel (timeseries.funnel_counts): users who
    viewed, then clicked strictly after their first view, then
    purchased after that reach — k-1 shrinking hash-agg/join stages,
    per-user state never on the driver."""
    from sleeper_spark.functions import timeseries

    ev = _load(spark, sf, "events").select(
        "user_id", "event_type", "ts_us").where(
        F.col("ts_us").isNotNull())
    return timeseries.funnel_counts(
        ev, ["view", "click", "purchase"],
        user_col="user_id", step_col="event_type", ts_col="ts_us")


def q_funnel_windowed(spark: SparkSession, sf: str) -> DataFrame:
    """Conversion-window funnel (timeseries.funnel_counts max_gap):
    each hop must land within 1 day of the previous stage's reach —
    the production funnel shape (unbounded funnels overcount stale
    conversions). Same shrinking hash-agg stages; the gap is one extra
    codegen'd predicate in each join."""
    from sleeper_spark.functions import timeseries

    ev = _load(spark, sf, "events").select(
        "user_id", "event_type", "ts_us").where(
        F.col("ts_us").isNotNull())
    return timeseries.funnel_counts(
        ev, ["view", "click", "purchase"],
        user_col="user_id", step_col="event_type", ts_col="ts_us",
        max_gap=86_400_000_000)


def q_typo_dedup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Bounded edit-distance pair join (dedup.edit_distance_pairs):
    12-char document-prefix keys within 1 Levenshtein edit — the
    typo-duplicate class shingle methods structurally miss at short
    lengths. SymSpell deletion-neighborhood candidates, exact JVM
    levenshtein refilter; oracle = all-pairs with a length prefilter
    (feasible DuckDB-side at oracle scale; the engine never goes
    all-pairs)."""
    from sleeper_spark.functions import dedup

    doc = _load(spark, sf, "documents").select(
        "doc_id",
        F.substring(F.lower(F.col("text")), 1, 12).alias("k"))
    return dedup.edit_distance_pairs(doc, "k", "doc_id", max_dist=1)


def q_retention_cohorts(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention (timeseries.retention_cohorts): users cohorted
    by first-activity day, per-day activity counts per cohort. The raw
    event volume collapses to distinct (user, day) in the FIRST hash
    aggregation — the only full pass; everything after joins
    aggregate-sized tables."""
    from sleeper_spark.functions import timeseries

    ev = _load(spark, sf, "events").select("user_id", "ts_us")
    return timeseries.retention_cohorts(
        ev, user_col="user_id", ts_col="ts_us", period=86_400_000_000)


def q_grouped_mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group MAD quarantine (stats.grouped_mad_outliers): each
    event type gets ITS OWN median/MAD fence — segment-local outliers
    a global fence misses. Two grouped-quantile passes broadcast back;
    per-type tallies."""
    from sleeper_spark.functions import stats

    ev = _load(spark, sf, "events").select("event_type", "value") \
        .where(F.col("value").isNotNull())
    flagged = stats.grouped_mad_outliers(ev, ["event_type"], "value",
                                         k=3.0,
                                         pin_broadcast=True)  # few types
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("is_outlier").cast("long")).alias("n_outliers"))


def q_containment_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric containment decontamination (corpus.containment_pairs):
    eval excerpts (first 40 tokens of every 10th document) checked for
    containment INSIDE full train documents — the leak Jaccard misses
    (a short eval question pasted into a long train doc has near-zero
    Jaccard but containment ~1). Shingle-bucketed equi-join, hot-shingle
    guard, work ∝ shared content — never pairwise."""
    from sleeper_spark.functions import corpus
    from sleeper_spark.functions.text import tokens

    doc = _load(spark, sf, "documents")
    test = doc.where(F.col("doc_id") % 10 == 0).select(
        "doc_id",
        F.array_join(F.slice(tokens("text"), 1, 40), " ").alias("text"))
    out = corpus.containment_pairs(test, doc, "text", "doc_id",
                                   ngram=5, threshold=0.8)
    return out.select(
        "test_id", "train_id",
        F.col("n_shared").cast("int").alias("n_shared"),
        F.col("n_test_shingles").cast("int").alias("n_test_shingles"),
        "containment")


def q_secondary_index_hot(spark: SparkSession, sf: str) -> DataFrame:
    """Secondary-index lookup on a SKEWED value (views.SecondaryIndex
    with postings above the hot threshold): the lookup must abandon the
    driver key set for a distributed LEFT SEMI join — same rows as the
    cold path, no driver materialisation. Events remapped so ~80% of
    rows share one hot user id (oracle: plain WHERE over the remap)."""
    from sleeper_spark.views import SecondaryIndex
    ev = _load(spark, sf, "events").select(
        "event_id",
        F.when(F.col("event_id") % 10 < 8, F.lit(7))
        .otherwise(F.col("user_id")).alias("user_id"),
        "event_type")
    schema = Schema(
        (Field("event_id", T.LongType()),), (),
        (Field("user_id", T.LongType(), True),
         Field("event_type", T.StringType(), True)))
    _t0 = _setup_start()
    tmp = tempfile.mkdtemp(prefix="sleeper_sidxh_")
    src = SleeperTable.create(spark, os.path.join(tmp, "src"), schema,
                              TableProperties(),
                              split_points=[3000, 6000])
    idx = SecondaryIndex.create(src, os.path.join(tmp, "idx"),
                                "user_id", split_points=[50])
    src.ingest(ev)
    idx.refresh()
    _setup_done("secondary_index_hot", _t0)
    return idx.lookup(7, hot_threshold=100)


def q_grouped_collect(spark: SparkSession, sf: str) -> DataFrame:
    """Set-valued aggregation: per user, the sorted distinct event types
    (array_sort makes the collected set deterministic and hashable)."""
    ev = _load(spark, sf, "events")
    return ev.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("types"),
        F.count(F.lit(1)).alias("n"))


def q_value_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-bin histogram per event type via width_bucket — the
    distribution profile a pipeline materialises for monitoring."""
    ev = _load(spark, sf, "events")
    return (ev.groupBy(
        "event_type",
        F.width_bucket(F.col("value"), F.lit(0.0), F.lit(1000.0), F.lit(20))
        .cast("int").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n")))


def q_full_outer_join(spark: SparkSession, sf: str) -> DataFrame:
    """Full outer join with null-side indicators: customers vs the
    distinct buyer set — unmatched rows survive from BOTH sides."""
    c = _load(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    buyers = _load(spark, sf, "orders").groupBy(
        F.col("o_custkey")).agg(F.count(F.lit(1)).alias("n_orders"))
    out = c.join(buyers, c.c_custkey == buyers.o_custkey, "full_outer")
    return out.select(
        "c_custkey", "o_custkey", "c_mktsegment",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        (F.col("c_custkey").isNull()).cast("int").alias("left_missing"),
        (F.col("o_custkey").isNull()).cast("int").alias("right_missing"))


def q_streaming_session_window(spark: SparkSession, sf: str) -> DataFrame:
    """Structured Streaming native session windows (session_window with
    a 30-min gap) run to completion — per (user, session): event count.
    The oracle derives identical sessions with the batch gaps-and-
    islands construction, proving the two formulations agree."""
    s2 = _stream_session(spark)  # state partitions sized to volume
    stream = _events_stream(s2, sf).withColumn(
        "ts", F.timestamp_micros(F.col("ts")))
    agged = (stream.withWatermark("ts", "1 hour")
             .groupBy(F.session_window("ts", "30 minutes").alias("w"),
                      "user_id")
             .agg(F.count(F.lit(1)).alias("n_events")))
    out = agged.select(
        "user_id",
        F.unix_micros(F.col("w.start")).alias("session_start_us"),
        "n_events")
    # complete mode: append would withhold sessions still open at the
    # final watermark (last-hour sessions never close on a finite file)
    _run_stream_to_view(out, "q_streaming_session", "complete")
    return s2.sql(
        "SELECT user_id, session_start_us, n_events FROM q_streaming_session")


def q_ngram_top_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-wide top-100 bigram frequency table (functions/corpus.py)
    — the C4-style boilerplate-detection scan. One hash agg with
    map-side partial combine; the take is TakeOrderedAndProject."""
    from sleeper_spark.functions import corpus

    doc = _load(spark, sf, "documents")
    return corpus.ngram_top_counts(doc, "text", n=2, k=100)


def q_repetition_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style within-doc repetition signals: duplicate-trigram and
    duplicate-line fractions. Pure per-row expressions, no shuffle."""
    from sleeper_spark.functions import corpus

    doc = _load(spark, sf, "documents")
    out = corpus.repetition_scores(doc, "text", "doc_id", ngram=3)
    return out.select(
        "doc_id", F.col("n_ngrams").cast("int").alias("n_ngrams"),
        "dup_ngram_frac", "dup_line_frac")


def q_longdoc_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Long-document repetition scores: the corpus regrouped into 64
    synthetic multi-kilotoken documents (doc_id residue groups, texts
    joined in doc_id order — deterministic on both engines), then the
    Gopher duplicate-trigram / duplicate-line signals. Added in r12 so
    the bind_once class of wins — O(tokens) vs O(tokens^2) per doc,
    invisible on the ~100-token sf docs — is a TIMED, regressable
    number (r11 VERDICT Next #6): a tokenizer tree captured inside any
    HOF lambda makes this entry quadratically slower, and the r12 plan
    lint pins the invariant structurally."""
    from sleeper_spark.functions import corpus

    doc = _load(spark, sf, "documents")
    long_docs = (
        doc.groupBy((F.col("doc_id") % 64).alias("gid"))
        .agg(F.array_join(F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
            lambda s: s["text"]), "\n").alias("text")))
    out = corpus.repetition_scores(long_docs, "text", "gid", ngram=3)
    return out.select(
        "gid", F.col("n_ngrams").cast("int").alias("n_ngrams"),
        "dup_ngram_frac", "dup_line_frac")


def q_source_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Domain-mixing sample (functions/sampling.py mix_sample): each
    source keeps a target percentage (10/30/50% cycling by source id) —
    the corpus-reweighting step before training. One codegen'd filter,
    reproduced row-for-row by the oracle."""
    doc = _load(spark, sf, "documents")
    pct = F.lit(10) + (F.expr("cast(substring(source, 4) as int)") % 3) * 20
    return sampling.mix_sample(doc, "doc_id", pct).select("doc_id", "source")


def q_quality_filter(spark: SparkSession, sf: str) -> DataFrame:
    """The ship-able Gopher-rules composite: token-count window +
    punctuation ratio + duplicate-trigram fraction + mean token length
    as one codegen'd keep predicate; returns the retained corpus ids.
    The oracle reruns the identical arithmetic."""
    from sleeper_spark.functions import corpus

    doc = _load(spark, sf, "documents")
    return corpus.quality_filter(
        doc, min_tokens=25, max_punct_ratio=0.1,
        max_dup_ngram_frac=0.4, min_mean_token_len=4.2,
        max_mean_token_len=9.0).select("doc_id", "lang", "source")


def q_corpus_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The composed corpus-construction pipeline as ONE declarative
    plan: Gopher-rules quality filter → exact-dup keep-one →
    deterministic train/eval split → per-(split, lang) shipping stats
    (doc counts + token totals). No stage materialises: Catalyst fuses
    the filter into the scan, the dedup is one hash-agg + semi-join,
    and the split is an arithmetic expression — the end-to-end shape a
    pretraining data pipeline runs nightly over 100 TB. Oracle replays
    every stage's arithmetic."""
    from sleeper_spark.functions import corpus
    from sleeper_spark.functions.sampling import bucket_expr
    from sleeper_spark.functions.text import token_count

    doc = _load(spark, sf, "documents")
    kept = corpus.quality_filter(
        doc, min_tokens=25, max_punct_ratio=0.1,
        max_dup_ngram_frac=0.4, min_mean_token_len=4.2,
        max_mean_token_len=9.0)
    uniq = dedup.drop_exact_duplicates(kept)
    return (uniq.select(
                F.when(bucket_expr("doc_id", 100, 7) < 10,
                       F.lit("eval")).otherwise(F.lit("train"))
                .alias("split"),
                "lang", token_count("text").alias("n_toks"))
            .groupBy("split", "lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_toks").cast("long").alias("tokens_total")))


def q_skewed_join(spark: SparkSession, sf: str) -> DataFrame:
    """Salted skew-safe join (functions/skew.py): purchases join a
    per-user stats side on a (hypothetically hot) user_id, the left
    salted 8 ways and the right replicated — result provably identical
    to the plain join, which is exactly what the oracle runs."""
    from sleeper_spark.functions import skew

    ev = _load(spark, sf, "events")
    purchases = ev.where(F.col("event_type") == "purchase") \
        .select("event_id", "user_id", "value")
    stats = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("user_events"))
    out = skew.salted_join(purchases, stats, ["user_id"], salts=8)
    return out.select("event_id", "user_id", "user_events")


def q_streaming_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming exact dedup (streaming.dedup_stream): first arrival of
    each (user_id, event_type) wins, state bounded by a watermark. Run
    to completion with availableNow; the emitted key set equals the
    batch DISTINCT, which is the oracle."""
    from sleeper_spark import streaming as streaming_mod

    s2 = _stream_session(spark)  # state partitions sized to volume
    stream = _events_stream(s2, sf).withColumn(
        "ts", F.timestamp_micros(F.col("ts")))
    out = streaming_mod.dedup_stream(
        stream, ["user_id", "event_type"], ts_col="ts", watermark="1 hour")
    _run_stream_to_view(out, "q_streaming_dedup", "append")
    # DISTINCT guards the oracle against within-watermark semantics: a
    # key re-arriving after its state was evicted re-emits by design
    return s2.sql(
        "SELECT DISTINCT user_id, event_type FROM q_streaming_dedup")


def q_streaming_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Exactly-once CDC stream merge (streaming.stream_merge,
    streaming.py): a file-source CDC stream — three parquet files,
    maxFilesPerTrigger=1, so three real micro-batches — applies to a
    SleeperTable as atomic MERGE upserts under deterministic
    ``merge-<ckpt>-batch-<id>`` job ids (replayed batches dedupe via
    the merge replay contract, pytest-pinned in
    tests/test_merge_upsert.py). Each CDC key appears in exactly one
    batch, so the final table state is batching-independent: base rows
    whose keys the CDC touched are replaced, unseen keys inserted.
    Oracle = anti-join base to the CDC key set + union of the CDC
    rows."""
    from sleeper_spark import streaming as streaming_mod
    ev = _load(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "value")
    schema = Schema(
        (Field("event_id", T.LongType()),), (),
        (Field("user_id", T.LongType(), True),
         Field("event_type", T.StringType(), True),
         Field("value", T.DoubleType(), True)))
    tmp = tempfile.mkdtemp(prefix="sleeper_smerge_")
    table = SleeperTable.create(spark, os.path.join(tmp, "t"), schema,
                                TableProperties(),
                                split_points=[3000, 6000])
    table.ingest(ev)
    # three disjoint-key CDC files -> three micro-batches
    src_dir = os.path.join(tmp, "cdc")
    os.makedirs(src_dir)
    batches = [
        ev.where("event_id >= 1000 AND event_id < 1400").select(
            "event_id", "user_id", F.lit("merged").alias("event_type"),
            (F.col("value") * 2).alias("value")),
        ev.where("event_id < 150").select(
            (F.col("event_id") + 20000000).alias("event_id"),
            "user_id", F.lit("inserted").alias("event_type"), "value"),
        ev.where("event_id >= 5000 AND event_id < 5300").select(
            "event_id", "user_id",
            F.lit("merged2").alias("event_type"),
            (F.col("value") * 3).alias("value")),
    ]
    for i, b in enumerate(batches):
        b.coalesce(1).write.parquet(os.path.join(src_dir, f"b{i}"))
    import glob as _glob
    files = sorted(_glob.glob(os.path.join(src_dir, "*", "*.parquet")))
    flat = os.path.join(tmp, "cdc_flat")
    os.makedirs(flat)
    import shutil as _sh
    for i, f in enumerate(files):
        _sh.copy(f, os.path.join(flat, f"cdc-{i}.parquet"))
    stream = (spark.readStream
              .schema("event_id long, user_id long, "
                      "event_type string, value double")
              .option("maxFilesPerTrigger", "1").parquet(flat))
    q = streaming_mod.stream_merge(
        table, stream, tempfile.mkdtemp(prefix="smerge_ckpt_"))
    q.awaitTermination(300)
    return table.full_scan()


def q_replication_cdc(spark: SparkSession, sf: str) -> DataFrame:
    """Delete/update/merge-aware replication (replication.sync_cdc):
    the source ingests events in two halves, then delete_where a key
    range, update_where an assignment, merge_upsert a CDC batch, and
    compacts; ONE sync_cdc call replays the full content history onto
    a replica — appends ingest, the delete applies as exact-row
    deletion of the tombstone feed, the update as delete-old +
    ingest-new, the merge as a replica-side merge — strictly in log
    order, each event individually durable and idempotent
    (crash-replay pytest-pinned in tests/test_replication.py). The
    source then EVOLVES its schema (add_value_column — an
    EVOLVE_SCHEMA log record) and ingests wider rows; the same
    sync_cdc call replays the evolution onto the replica before the
    wider appends (r10 VERDICT Next #3). The returned frame is the
    REPLICA's full scan; oracle = SQL of the net source state
    (historic rows read the new column as NULL), which the replica
    must equal without ever being re-seeded."""
    from sleeper_spark import replication
    ev = _load(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "value")
    schema = Schema(
        (Field("event_id", T.LongType()),), (),
        (Field("user_id", T.LongType(), True),
         Field("event_type", T.StringType(), True),
         Field("value", T.DoubleType(), True)))
    _t0 = _setup_start()
    tmp = tempfile.mkdtemp(prefix="sleeper_repcdc_")
    src = SleeperTable.create(spark, os.path.join(tmp, "src"), schema,
                              TableProperties(),
                              split_points=[3000, 6000])
    dst = SleeperTable.create(spark, os.path.join(tmp, "dst"), schema,
                              TableProperties(),
                              split_points=[3000, 6000])
    src.ingest(ev.where("event_id < 4000"))
    src.ingest(ev.where("event_id >= 4000"))
    src.delete_where(
        regions=[Region.of(Range("event_id", 1000, 2000))])
    src.update_where(
        {"event_type": "upd"},
        regions=[Region.of(Range("event_id", 4000, 4500))])
    src.merge_upsert(
        ev.where("event_id >= 2000 AND event_id < 2300").select(
            "event_id", "user_id", F.lit("merged").alias("event_type"),
            (F.col("value") * 2).alias("value"))
        .unionByName(ev.where("event_id < 100").select(
            (F.col("event_id") + 30000000).alias("event_id"),
            "user_id", F.lit("inserted").alias("event_type"),
            "value")))
    # schema evolution mid-history: the EVOLVE_SCHEMA record replays
    # onto the replica before the wider appends ship
    src.add_value_column(Field("repl_note", T.StringType(), True))
    src.ingest(ev.where("event_id >= 2300 AND event_id < 2400").select(
        (F.col("event_id") + 40000000).alias("event_id"), "user_id",
        F.lit("wide").alias("event_type"), "value",
        F.concat(F.lit("n"), F.col("user_id").cast("string"))
        .alias("repl_note")))
    src.compact()  # rewrites must stay content-neutral in the replay
    _setup_done("replication_cdc", _t0)
    s = replication.sync_cdc(src, dst)
    # the delete/update ranges hold rows at sf>=0.01 (the driver's
    # oracle gate) and are empty at sf0.001 — the replica equals the
    # oracle either way, so gate on convergence + the evolution replay
    assert s["caught_up"]
    assert s["schema_evolutions_applied"] == 1
    return dst.full_scan()


def q_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    """UNPIVOT / melt: widen-to-long over the lineitem charge
    components (base price, discount amount, tax amount), then
    re-aggregate per (returnflag, charge). `DataFrame.unpivot` expands
    map-side — no shuffle beyond the final hash aggregate, and the
    expansion is a constant 3x regardless of corpus size. Amounts stay
    exact decimals until the final round (the tpch_q1 idiom: decimal
    products of the clean 2-decimal base columns are engine-exact)."""
    li = _load(spark, sf, "lineitem")
    ep = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    m = li.select(
        "l_returnflag",
        ep.cast("decimal(18,6)").alias("base_price"),
        (ep * disc).cast("decimal(18,6)").alias("discount_amt"),
        ((ep * (F.lit(1).cast("decimal(4,2)") - disc)) * tax)
        .cast("decimal(18,6)").alias("tax_amt"))
    up = m.unpivot(["l_returnflag"],
                   ["base_price", "discount_amt", "tax_amt"],
                   "charge", "amount")
    return (up.groupBy("l_returnflag", "charge")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("amount"), 2).cast("double")
                 .alias("total_amount")))


def q_rolling_interval_window(spark: SparkSession, sf: str) -> DataFrame:
    """Value-range window frame: per-customer rolling 90-day spend at
    every order (RANGE BETWEEN 89 PRECEDING AND CURRENT ROW on epoch
    day — a frame by VALUE, not row count, so gaps in the order history
    are handled correctly and peers on the same day share one frame).
    One shuffle on o_custkey; the frame scan is per-partition
    sequential. Completes the window-family coverage (rows frames:
    window_running_sum / rolling_window; interval frames: here)."""
    o = _load(spark, sf, "orders")
    d = o.select(
        "o_orderkey", "o_custkey",
        F.expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')")
        .alias("day"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"))
    w = (Window.partitionBy("o_custkey").orderBy("day")
         .rangeBetween(-89, 0))
    return d.select(
        "o_orderkey", "o_custkey", "day",
        F.round(F.sum("price").over(w), 2).cast("double")
        .alias("spend_90d"),
        F.count(F.lit(1)).over(w).alias("n_orders_90d"))


def q_graph_reachability(spark: SparkSession, sf: str) -> DataFrame:
    """Transitive closure with min-hop distances over the event-type
    transition graph — the iterative-algorithm class (semi-naive
    datalog / BFS), oracle-checked against a recursive CTE.

    The graph is STATE-scale, not data-scale: nodes are event types,
    edges are transitions whose row-normalised probability is >= 0.05
    (scale-invariant threshold — the distribution, not the count, picks
    the edges). One data-scale pass builds the edges (lag + two tiny
    aggregates); the closure then iterates frontier-join rounds on a
    <=|V|^2-row DataFrame with `localCheckpoint` cutting lineage each
    round. New pairs found in round k get hops=k (BFS ==> min), the
    anti-join keeps the frontier monotone, and the loop stops on an
    empty frontier or after 9 rounds (the oracle's recursion bound)."""
    edges = _transition_edges(spark, sf)
    dist = edges.withColumn("hops", F.lit(1))
    frontier = dist
    for _ in range(8):  # hops < 9, matching the oracle's bound
        step = (frontier.alias("f")
                .join(edges.alias("e"), F.col("f.dst") == F.col("e.src"))
                .select(F.col("f.src").alias("src"),
                        F.col("e.dst").alias("dst"),
                        (F.col("f.hops") + 1).alias("hops")))
        frontier = (step
                    .join(dist.select("src", "dst"), ["src", "dst"],
                          "left_anti")
                    .groupBy("src", "dst").agg(F.min("hops").alias("hops"))
                    .localCheckpoint())
        if frontier.isEmpty():
            break
        # both sides are themselves checkpointed, so the accumulated
        # union stays <=9 nodes deep — checkpointing the union itself
        # trips a Spark attribute-rebind bug (key not found: src#N)
        dist = dist.unionByName(frontier)
    return dist.select("src", "dst",
                       F.col("hops").cast("int").alias("min_hops"))


def q_pareto_frontier(spark: SparkSession, sf: str) -> DataFrame:
    """Skyline / Pareto frontier: parts not dominated on (retail price
    down, size up) — a part is dominated if some part is <= on price,
    >= on size, and strictly better on at least one. Computed WITHOUT
    the O(n^2) self-join: collapse to one row per distinct price (max
    size), take the running max over strictly-cheaper prices, and keep
    rows that beat it — the group table is |distinct prices| rows
    (value-domain-scale, not corpus-scale), so the single-partition
    prefix window is safe at any corpus size. The oracle states the
    same frontier as the naive NOT EXISTS, cross-checking the
    reformulation, not just the arithmetic."""
    p = _load(spark, sf, "part")
    per_price = (p.groupBy("p_retailprice")
                 .agg(F.max("p_size").alias("gmax")))
    wp = (Window.orderBy("p_retailprice")
          .rowsBetween(Window.unboundedPreceding, -1))
    pm = per_price.withColumn("prefix_max", F.max("gmax").over(wp))
    return (p.join(F.broadcast(pm), "p_retailprice")
            .where((F.col("p_size") == F.col("gmax"))
                   & (F.col("prefix_max").isNull()
                      | (F.col("prefix_max") < F.col("p_size"))))
            .select("p_partkey", "p_brand", "p_size", "p_retailprice"))


def _ck(df: DataFrame) -> DataFrame:
    """Materialise (localCheckpoint) a category-scale intermediate that
    is referenced more than once downstream — typically a grouped
    frame feeding both its own grand total and the final projection.
    Catalyst shares no subtrees across references, so without the cut
    the parent's full data-scale chain executes once PER REFERENCE
    (guide §3.3: materialising an intermediate truncates the plan; at
    100 TB each spare reference is a spare corpus pass). Every frame
    passed here is |categories|-rows — executor-resident copies are
    free next to the pass they remove. Lazy: the first consuming action
    materialises the blocks (the checkpoint RDD is marked persistent at
    creation, so a second reference inside the same job reads the cache
    instead of recomputing) — an eager checkpoint paid one standalone
    materialisation job per entry for the same reuse."""
    return df.localCheckpoint(eager=False)


def q_assoc_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket association rules over user event baskets:
    antecedent -> consequent support / confidence / lift for every
    ordered pair of distinct event types co-occurring in a user's
    history. The co-occurrence join is keyed on user_id after a
    distinct (so each side is <=|types| rows per user); the rule table
    that comes out is |types|^2 rows — constant in corpus size. Both
    marginals and the total ride broadcast joins onto it."""
    ev = _load(spark, sf, "events")
    ut = _ck(ev.select("user_id", "event_type").distinct())
    per_type = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    tot = ut.agg(F.countDistinct("user_id").alias("n_users"))
    pairs = (ut.alias("a").join(ut.alias("b"), "user_id")
             .where(F.col("a.event_type") != F.col("b.event_type"))
             .groupBy(F.col("a.event_type").alias("antecedent"),
                      F.col("b.event_type").alias("consequent"))
             .agg(F.count(F.lit(1)).alias("n_both")))
    res = (pairs
           .join(F.broadcast(per_type
                             .withColumnRenamed("event_type", "antecedent")
                             .withColumnRenamed("n_t", "n_a")), "antecedent")
           .join(F.broadcast(per_type
                             .withColumnRenamed("event_type", "consequent")
                             .withColumnRenamed("n_t", "n_c")), "consequent")
           .crossJoin(F.broadcast(tot)))
    return res.select(
        "antecedent", "consequent", "n_both",
        F.round(F.col("n_both").cast("double") / F.col("n_users"), 4)
        .alias("support"),
        F.round(F.col("n_both").cast("double") / F.col("n_a"), 4)
        .alias("confidence"),
        F.round(F.col("n_both").cast("double") * F.col("n_users")
                / (F.col("n_a") * F.col("n_c")), 4).alias("lift"))


def _transition_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Shared state-graph edge builder (graph_reachability /
    pagerank_states): transitions whose row-normalised probability is
    >= 0.05, self-loops excluded. One data-scale pass (lag + two tiny
    aggregates); the result is <=|event types|^2 rows,
    localCheckpointed so iterative callers don't re-lag the corpus."""
    ev = _load(spark, sf, "events").where(F.col("ts_us").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    s = (ev.select("user_id", "event_type", "ts_us", "event_id")
         .withColumn("prev_type", F.lag("event_type").over(w)))
    c = (s.where(F.col("prev_type").isNotNull())
         .groupBy(F.col("prev_type").alias("src"),
                  F.col("event_type").alias("dst"))
         .agg(F.count(F.lit(1)).alias("n")))
    tot = Window.partitionBy("src")
    return (c.withColumn("p", F.col("n") / F.sum("n").over(tot))
            .where((F.col("p") >= 0.05) & (F.col("src") != F.col("dst")))
            .select("src", "dst")
            .localCheckpoint())


def q_pagerank_states(spark: SparkSession, sf: str) -> DataFrame:
    """PageRank over the event-type transition graph — the canonical
    iterative fixpoint, made ORACLE-EXACT by integer micro arithmetic:
    ranks live in micro units (1e-6), each step is
    ``r' = 150000 div |V| + (85 * sum(r div outdeg)) div 100``
    (damping 0.85, floor division throughout), so every iteration is
    pure integer algebra — no float accumulation order to diverge
    between Spark and the oracle's unrolled 10-step CTE chain.
    Dangling-node leakage is accepted (not redistributed) on both
    sides. Only the edge build scans data; the graph itself is
    MODEL-state (<= |event types|^2 edges — a bounded enum domain, the
    same boundedness class as k-means' k×dim centroid state), so the
    ten fixpoint rounds run as driver integer arithmetic over the
    collected edge list instead of ten join-aggregate Spark jobs each
    fenced by an eager localCheckpoint (measured ~0.35s of pure
    scheduling per round on an under-10-row frame; at ANY corpus scale
    these rounds never touch data again, so there is nothing to
    distribute — guide §1.2 step 1: don't run jobs that do no work)."""
    edge_rows = [(r["src"], r["dst"])
                 for r in _transition_edges(spark, sf).collect()]
    nodes = sorted({s for s, _ in edge_rows} | {d for _, d in edge_rows})
    nn = len(nodes)
    od: dict[str, int] = {}
    for s, _ in edge_rows:
        od[s] = od.get(s, 0) + 1
    r = {n: 1_000_000 // nn for n in nodes}
    for _ in range(10):
        c: dict[str, int] = {}
        for s, d in edge_rows:
            c[d] = c.get(d, 0) + r[s] // od[s]
        r = {n: 150_000 // nn + (85 * c.get(n, 0)) // 100
             for n in nodes}
    return local_rows_df(
        spark, [(n, r[n]) for n in nodes], "node string, rank_micro long")


def q_gini_activity(spark: SparkSession, sf: str) -> DataFrame:
    """Gini coefficient of per-user activity within each event type —
    the inequality audit a pipeline runs to spot traffic concentrating
    on few users (bot detection / skew watch). Sorted-index formula
    ``G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n`` with i ranked ascending
    by (count, user_id); equal counts commute in sum(i*x_i), so the
    tiebreak cannot change the value. The rank window is partitioned
    by event_type — parallel across types at any user count."""
    ev = _load(spark, sf, "events")
    cnt = (ev.groupBy("event_type", "user_id")
           .agg(F.count(F.lit(1)).alias("x")))
    w = Window.partitionBy("event_type").orderBy("x", "user_id")
    r = cnt.withColumn("i", F.row_number().over(w))
    return (r.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.sum("x").alias("total_events"),
                 F.sum(F.col("i").cast("long") * F.col("x")).alias("s"))
            .select("event_type", "n_users", "total_events",
                    F.round(F.lit(2.0) * F.col("s")
                            / (F.col("n_users") * F.col("total_events"))
                            - (F.col("n_users") + 1)
                            / F.col("n_users").cast("double"), 4)
                    .alias("gini")))


def q_ks_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the value
    distributions of 'view' and 'purchase' events — the distribution-
    drift gate a pipeline runs between two sources or time slices.
    Collapse to distinct values first (per-value counts for each
    side), then one cumulative window gives both ECDFs; D = max
    |F_a - F_b| evaluated after ties are fully absorbed. The window
    rides the VALUE DOMAIN (<= cents-grain distinct values), not the
    event count, so the single-partition cumulative scan is bounded
    at any corpus size; integer cumulative counts make each ECDF
    step a single shared-double division — engine-exact."""
    ev = (_load(spark, sf, "events")
          .where(F.col("event_type").isin("view", "purchase")))
    pv = _ck(ev.groupBy("value")
             .agg(F.sum(F.when(F.col("event_type") == "view", 1)
                        .otherwise(0)).alias("ca"),
                  F.sum(F.when(F.col("event_type") == "purchase", 1)
                        .otherwise(0)).alias("cb")))
    tot = pv.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    cum = (pv.crossJoin(F.broadcast(tot))
           .withColumn("fa", F.sum("ca").over(w).cast("double")
                       / F.col("na"))
           .withColumn("fb", F.sum("cb").over(w).cast("double")
                       / F.col("nb")))
    return cum.agg(F.max("na").alias("n_view"),
                   F.max("nb").alias("n_purchase"),
                   F.round(F.max(F.abs(F.col("fa") - F.col("fb"))), 4)
                   .alias("ks_stat"))


def q_ewma_volume(spark: SparkSession, sf: str) -> DataFrame:
    """Truncated exponentially-weighted moving average of daily event
    volume (alpha = 1/2, 20-day horizon) — trend smoothing with an
    ENGINE-EXACT float story: weights are powers of two built from an
    integer shift (1.0 / (1 << k)), counts are <= 2^13-scale integers,
    and with the horizon capped at 20 the weighted terms span < 53
    mantissa bits — every partial sum is exact, so accumulation order
    cannot perturb the result (the reason the horizon is truncated
    rather than infinite). Day-distance weights handle calendar gaps
    correctly; the pair join rides the calendar-scale series."""
    ev = _load(spark, sf, "events").where(F.col("ts_us").isNotNull())
    daily = (ev.groupBy(F.expr("ts_us div 86400000000").alias("day"))
             .agg(F.count(F.lit(1)).alias("n")))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (a.join(b, (F.col("b.day") <= F.col("a.day"))
                    & (F.col("b.day") >= F.col("a.day") - 20))
             .select(F.col("a.day").alias("day"),
                     F.col("a.n").alias("n"),
                     F.col("b.n").alias("bn"),
                     (F.col("a.day") - F.col("b.day")).cast("int")
                     .alias("k")))
    two_k = "CAST(shiftleft(CAST(1 AS BIGINT), k) AS DOUBLE)"
    return (pairs.groupBy("day")
            .agg(F.max("n").alias("n"),
                 F.round(F.sum(F.expr(f"CAST(bn AS DOUBLE) / {two_k}"))
                         / F.sum(F.expr(f"1.0 / {two_k}")), 4)
                 .alias("ewma")))


def q_rfm_segments(spark: SparkSession, sf: str) -> DataFrame:
    """RFM customer segmentation — the marketing-analytics classic:
    per-customer Recency (latest order day), Frequency (order count),
    Monetary (decimal-exact total spend), each cut into quartiles with
    ntile(4) under a FULLY-ORDERED window (tiebreak on custkey, so the
    assignment is deterministic in any engine), composed into a
    3-digit segment code and aggregated to segment sizes. The ntile
    windows ride the customer table — one shuffle each, no data-scale
    sort wider than the customer dimension."""
    o = _load(spark, sf, "orders")
    rfm = (o.groupBy("o_custkey")
           .agg(F.max(F.expr(
               "datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')"))
               .alias("r"),
               F.count(F.lit(1)).alias("f"),
               F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
               .alias("m")))
    seg = rfm.select(
        "o_custkey",
        F.ntile(4).over(Window.orderBy("r", "o_custkey")).alias("rq"),
        F.ntile(4).over(Window.orderBy("f", "o_custkey")).alias("fq"),
        F.ntile(4).over(Window.orderBy("m", "o_custkey")).alias("mq"))
    return (seg.groupBy((F.col("rq") * 100 + F.col("fq") * 10
                         + F.col("mq")).alias("segment"))
            .agg(F.count(F.lit(1)).alias("n_customers")))


def q_histogram2d(spark: SparkSession, sf: str) -> DataFrame:
    """2-D binned heatmap: order count and decimal-exact revenue per
    (order month x totalprice decile-width band) cell — the
    density-grid shape behind every heatmap dashboard. Bands come from
    integer flooring against a fixed width (engine-exact), months from
    date parts; the grid is bounded by the domain, the scan is one
    aggregate."""
    o = _load(spark, sf, "orders")
    return (o.groupBy(
        F.month(F.col("o_orderdate").cast("date")).alias("month"),
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 "
               "AS BIGINT) div 5000000").alias("price_band"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
             .cast("double").alias("revenue")))


def q_snapshot_rollback(spark: SparkSession, sf: str) -> DataFrame:
    """Write-path time travel (table.rollback): ingest events, capture
    the head seq, then damage the table (range delete + a foreign
    ingest + compaction rewrites) and RESTORE to the captured seq as
    one atomic set-difference MERGE_FILES commit. The scan after
    rollback must equal the original dataset exactly — and because
    the rollback is itself a log entry, the damaged states stay
    readable via as_of (asserted before returning). Oracle = the
    original rows."""
    ev = _load(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "value")
    schema = Schema(
        (Field("event_id", T.LongType()),), (),
        (Field("user_id", T.LongType(), True),
         Field("event_type", T.StringType(), True),
         Field("value", T.DoubleType(), True)))
    _t0 = _setup_start()
    tmp = tempfile.mkdtemp(prefix="sleeper_rb_")
    table = SleeperTable.create(spark, os.path.join(tmp, "t"), schema,
                                TableProperties(),
                                split_points=[3000, 6000])
    table.ingest(ev)
    good_seq = table.store.current_seq
    table.delete_where(
        regions=[Region.of(Range("event_id", 1000, 4000))])
    table.ingest(ev.select(
        (F.col("event_id") + 50_000_000).alias("event_id"), "user_id",
        F.lit("junk").alias("event_type"), "value"))
    table.compact()
    damaged_seq = table.store.current_seq
    _setup_done("snapshot_rollback", _t0)
    stats = table.rollback(good_seq)
    # the junk ingest is always rolled off; restored_refs is only
    # nonzero when the delete/compact actually rewrote original files
    # (the range holds rows at sf>=0.01, is empty at sf0.001)
    assert stats["removed_refs"] > 0
    # the damaged state is still time-travel-readable (history intact)
    assert not table.as_of(seq=damaged_seq).full_scan().where(
        "event_type = 'junk'").isEmpty()
    return table.full_scan()


def q_mann_whitney(spark: SparkSession, sf: str) -> DataFrame:
    """Mann–Whitney U rank-sum statistic between the 'view' and
    'purchase' value samples — the nonparametric drift companion to
    ks_drift (U reacts to location shift, KS to any shape change).
    Tied values take the average rank of their block: with integer
    cumulative counts that average is an exact half-integer, so rank
    sums are exact dyadic doubles — no accumulation-order hazard. All
    ranking happens on the value-domain grid; the corpus is touched by
    one aggregate."""
    ev = (_load(spark, sf, "events")
          .where(F.col("event_type").isin("view", "purchase")))
    pv = (ev.groupBy("value")
          .agg(F.sum(F.when(F.col("event_type") == "view", 1)
                     .otherwise(0)).alias("ca"),
               F.sum(F.when(F.col("event_type") == "purchase", 1)
                     .otherwise(0)).alias("cb")))
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    g = (pv.withColumn("hi", F.sum(F.col("ca") + F.col("cb")).over(w))
         .withColumn("avg_rank",
                     (2 * F.col("hi") - F.col("ca") - F.col("cb") + 1)
                     / 2.0))
    tot = (g.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"),
                 F.sum(F.col("ca") * F.col("avg_rank")).alias("ra")))
    return tot.select(
        F.col("na").cast("long").alias("n_view"),
        F.col("nb").cast("long").alias("n_purchase"),
        (F.col("ra") - F.col("na") * (F.col("na") + 1) / 2.0)
        .alias("u_view"),
        (F.col("na").cast("double") * F.col("nb")
         - (F.col("ra") - F.col("na") * (F.col("na") + 1) / 2.0))
        .alias("u_purchase"))


def q_ab_ztest(spark: SparkSession, sf: str) -> DataFrame:
    """Two-proportion z-test — the A/B-test readout: user-id parity
    splits users into arms, conversion = the user ever fired a
    'purchase'-heavier-than-'error' history (a ~50% outcome at every
    scale — a has-any-purchase outcome saturates to rate 1.0 as events
    per user grow, collapsing the pooled SE to zero). Counts are exact
    integers; the z-score is one shared double chain (pooled rate,
    sqrt of a product) rounded at the end. One aggregate over users;
    the statistic is a single row."""
    ev = _load(spark, sf, "events")
    users = (ev.groupBy("user_id")
             .agg((F.sum(F.when(F.col("event_type") == "purchase", 1)
                         .otherwise(0))
                   > F.sum(F.when(F.col("event_type") == "error", 1)
                           .otherwise(0))).cast("int").alias("converted"))
             .withColumn("arm", F.pmod(F.col("user_id"), F.lit(2))
                         .cast("int")))
    g = users.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("converted").cast("long").alias("conv"))
    a = g.where(F.col("arm") == 0).select(
        F.col("n").alias("n_a"), F.col("conv").alias("conv_a"))
    b = g.where(F.col("arm") == 1).select(
        F.col("n").alias("n_b"), F.col("conv").alias("conv_b"))
    j = a.crossJoin(b)
    p_a = F.col("conv_a").cast("double") / F.col("n_a")
    p_b = F.col("conv_b").cast("double") / F.col("n_b")
    pool = ((F.col("conv_a") + F.col("conv_b")).cast("double")
            / (F.col("n_a") + F.col("n_b")))
    se = F.sqrt(pool * (1 - pool)
                * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
    return j.select("n_a", "conv_a", "n_b", "conv_b",
                    F.round(p_a, 4).alias("rate_a"),
                    F.round(p_b, 4).alias("rate_b"),
                    F.round((p_a - p_b) / se, 4).alias("z_score"))


def q_weekday_seasonality(spark: SparkSession, sf: str) -> DataFrame:
    """Day-of-week seasonality profile: mean daily volume per weekday
    and each weekday's index vs the overall daily mean — the seasonal
    decomposition a volume monitor removes before alerting. Weekday
    from epoch day modulo 7 (1970-01-01 was a Thursday; no timezone
    or calendar library in the hot path), integer sums divided once
    per output row."""
    ev = _load(spark, sf, "events").where(F.col("ts_us").isNotNull())
    daily = (ev.groupBy(F.expr("ts_us div 86400000000").alias("day"))
             .agg(F.count(F.lit(1)).alias("n")))
    d = daily.withColumn("weekday",
                         F.pmod(F.col("day") + 4, F.lit(7)).cast("int"))
    g = _ck(d.groupBy("weekday").agg(F.count(F.lit(1)).alias("n_days"),
                                     F.sum("n").alias("total")))
    tot = g.agg(F.sum("n_days").alias("dd"), F.sum("total").alias("tt"))
    return (g.crossJoin(F.broadcast(tot))
            .select("weekday", "n_days",
                    F.round(F.col("total").cast("double")
                            / F.col("n_days"), 4).alias("mean_volume"),
                    F.round((F.col("total").cast("double")
                             / F.col("n_days"))
                            / (F.col("tt").cast("double") / F.col("dd")),
                            4).alias("seasonal_index")))


def q_decile_lift(spark: SparkSession, sf: str) -> DataFrame:
    """Decile lift / cumulative-gains table for the DSIR English
    selector — the model-eval staple: rank every document by its
    importance weight, cut into score deciles (ntile ties broken on
    doc_id), and report each decile's target rate and lift over the
    base rate. Proves the selection signal end-to-end (top decile
    should concentrate lang='en' well above base); all ratios are
    single shared-double ops over exact integer counts."""
    from sleeper_spark.functions import dsir
    doc = _load(spark, sf, "documents")
    target = doc.where(F.col("lang") == "en")
    scored = dsir.dsir_logweights(doc, target, n_buckets=512, alpha=0.5)
    lab = scored.join(
        doc.select("doc_id",
                   (F.col("lang") == "en").cast("int").alias("y")),
        "doc_id")
    d = lab.withColumn(
        "decile", F.ntile(10).over(
            Window.orderBy(F.col("logweight_micro").desc(), "doc_id")))
    g = _ck(d.groupBy("decile").agg(F.count(F.lit(1)).alias("n"),
                                    F.sum("y").cast("long")
                                    .alias("n_target")))
    tot = g.agg(F.sum("n").alias("nn"), F.sum("n_target").alias("nt"))
    return (g.crossJoin(F.broadcast(tot))
            .select("decile", "n", "n_target",
                    F.round(F.col("n_target").cast("double")
                            / F.col("n"), 4).alias("target_rate"),
                    F.round(F.col("n_target").cast("double") * F.col("nn")
                            / (F.col("n") * F.col("nt")), 4)
                    .alias("lift")))


def q_target_encoding(spark: SparkSession, sf: str) -> DataFrame:
    """Smoothed target (mean) encoding of a categorical — the classic
    leakage-controlled feature op: ``te = (sum_y + m * global_mean) /
    (n + m)`` with m=10. Category sums are exact decimals (value is
    2-decimal), so the only float ops are the final shared-double
    chain — engine-exact. One data-scale aggregate; the encoder table
    is |categories| rows."""
    ev = _load(spark, sf, "events")
    g = _ck(ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("s")))
    tot = g.agg(F.sum("n").alias("nt"), F.sum("s").alias("st"))
    return (g.crossJoin(F.broadcast(tot))
            .select("event_type", "n",
                    F.round((F.col("s").cast("double")
                             + F.lit(10) * (F.col("st").cast("double")
                                            / F.col("nt")))
                            / (F.col("n") + F.lit(10)), 4).alias("te")))


def q_chi2_source_lang(spark: SparkSession, sf: str) -> DataFrame:
    """Chi-squared independence statistic between document source and
    language — the composition-shift alarm. Observed/expected cells
    ride the |sources| x |langs| contingency table (schema-scale);
    each cell's term rounds to micro-unit longs BEFORE the final sum,
    so the statistic is an exact integer total regardless of
    accumulation order (the repo-wide determinism idiom)."""
    doc = _load(spark, sf, "documents")
    c = _ck(doc.groupBy("source", "lang")
            .agg(F.count(F.lit(1)).alias("o")))
    rt = Window.partitionBy("source")
    ct = Window.partitionBy("lang")
    tot = c.agg(F.sum("o").alias("nn"))
    cells = (c.withColumn("r", F.sum("o").over(rt))
             .withColumn("k", F.sum("o").over(ct))
             .crossJoin(F.broadcast(tot))
             .withColumn("e", F.col("r") * F.col("k") / F.col("nn"))
             .withColumn("term_micro",
                         F.round((F.col("o") - F.col("e"))
                                 * (F.col("o") - F.col("e"))
                                 / F.col("e") * 1e6).cast("long")))
    return cells.agg(
        F.count(F.lit(1)).alias("n_cells"),
        ((F.countDistinct("source") - 1).cast("long")
         * (F.countDistinct("lang") - 1)).alias("dof"),
        F.sum("term_micro").alias("chi2_micro"))


def q_mutual_information(spark: SparkSession, sf: str) -> DataFrame:
    """Mutual information (bits) between document source and language —
    the dependence-strength companion to the chi-squared alarm
    (chi2 says WHETHER composition shifted; MI says how many bits of
    lang are explained by source). Cell terms
    ``p(s,l) * log2(p(s,l) / (p(s) p(l)))`` round to micro-bits longs
    before the sum — exact integer total, any accumulation order."""
    doc = _load(spark, sf, "documents")
    c = doc.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("o"))
    cells = (c.withColumn("r", F.sum("o").over(Window.partitionBy("source")))
             .withColumn("k", F.sum("o").over(Window.partitionBy("lang")))
             .crossJoin(F.broadcast(c.agg(F.sum("o").alias("nn"))))
             .withColumn("term_micro",
                         F.round((F.col("o") / F.col("nn"))
                                 * F.log2(F.col("o") * F.col("nn")
                                          / (F.col("r") * F.col("k")))
                                 * 1e6).cast("long")))
    return cells.agg(F.count(F.lit(1)).alias("n_cells"),
                     F.sum("term_micro").alias("mi_micro_bits"))


def q_entropy_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Empirical entropy rate of the event process (bits/transition):
    each prev-state's conditional next-state entropy weighted by its
    transition share — ``sum over (s,t) of n_st/N * -log2(n_st/n_s)``.
    The transition table is |states|^2 (schema-scale); per-cell terms
    round to micro-bits longs before the sum. A memoryless stream
    scores near log2(|states|); structure pulls it down."""
    ev = _load(spark, sf, "events").where(F.col("ts_us").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    s = (ev.select("user_id", "event_type", "ts_us", "event_id")
         .withColumn("prev_type", F.lag("event_type").over(w)))
    c = (s.where(F.col("prev_type").isNotNull())
         .groupBy("prev_type", F.col("event_type").alias("next_type"))
         .agg(F.count(F.lit(1)).alias("n_st")))
    cells = (c.withColumn("n_s", F.sum("n_st")
                          .over(Window.partitionBy("prev_type")))
             .crossJoin(F.broadcast(c.agg(F.sum("n_st").alias("nn"))))
             .withColumn("term_micro",
                         F.round((F.col("n_st") / F.col("nn"))
                                 * -F.log2(F.col("n_st") / F.col("n_s"))
                                 * 1e6).cast("long")))
    return cells.agg(
        F.max("nn").cast("long").alias("n_transitions"),
        F.countDistinct("prev_type").alias("n_states"),
        F.sum("term_micro").alias("entropy_rate_micro_bits"))


def q_benford_deviation(spark: SparkSession, sf: str) -> DataFrame:
    """Benford first-digit audit over order totals — the classic
    fabricated-numbers screen. The first significant digit comes from
    INTEGER cents (decimal cast * 100 -> string head), never from
    float formatting or log10 near power-of-ten boundaries, so both
    engines bin identically; observed shares and the Benford
    expectation log10(1 + 1/d) are micro-rounded per digit."""
    o = _load(spark, sf, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100) \
        .cast("bigint")
    d = o.select(F.substring(cents.cast("string"), 1, 1).cast("int")
                 .alias("digit"))
    g = _ck(d.groupBy("digit").agg(F.count(F.lit(1)).alias("n")))
    tot = g.agg(F.sum("n").alias("nn"))
    return (g.crossJoin(F.broadcast(tot))
            .select("digit", "n",
                    F.round(F.col("n") / F.col("nn") * 1e6).cast("long")
                    .alias("obs_micro"),
                    F.round(F.log(10.0,
                                  F.lit(1.0) + F.lit(1.0) / F.col("digit"))
                            * 1e6).cast("long").alias("benford_micro")))


def q_quantile_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source quantile normalization: each document's n_chars is
    replaced by the GLOBAL value at the same within-source rank
    (ECDF matching) — the feature-alignment step that makes scores
    comparable across crawl sources with different length profiles.
    Both ECDFs live on the VALUE DOMAIN (per-source cumulative grid,
    global position intervals via lag), the rank match is a bounded
    broadcast interval join on the grids, and documents pick up their
    normalized value through one broadcast equi-join on
    (source, n_chars) — nothing data-scale is sorted globally."""
    doc = _load(spark, sf, "documents")
    ps = (doc.groupBy("source", "n_chars")
          .agg(F.count(F.lit(1)).alias("c")))
    wsrc = (Window.partitionBy("source").orderBy("n_chars")
            .rowsBetween(Window.unboundedPreceding, 0))
    stot = Window.partitionBy("source")
    sgrid = ps.select("source", "n_chars",
                      F.sum("c").over(wsrc).alias("cum"),
                      F.sum("c").over(stot).alias("ns"))
    pg = _ck(doc.groupBy("n_chars").agg(F.count(F.lit(1)).alias("c")))
    wg = (Window.orderBy("n_chars")
          .rowsBetween(Window.unboundedPreceding, 0))
    ggrid = (pg.select(F.col("n_chars").alias("g"),
                       F.sum("c").over(wg).alias("ghi"))
             .withColumn("glo", F.coalesce(
                 F.lag("ghi").over(Window.orderBy("g")), F.lit(0)) + 1))
    tot = pg.agg(F.sum("c").alias("nn"))
    sq = (sgrid.crossJoin(F.broadcast(tot))
          .withColumn("k", F.ceil(F.col("cum").cast("double")
                                  / F.col("ns") * F.col("nn"))
                      .cast("long")))
    mapped = (sq.join(F.broadcast(ggrid),
                      (F.col("k") >= F.col("glo"))
                      & (F.col("k") <= F.col("ghi")))
              .select("source", "n_chars",
                      F.col("g").alias("norm_chars")))
    return (doc.select("doc_id", "source", "n_chars")
            .join(F.broadcast(mapped), ["source", "n_chars"])
            .select("doc_id", "source", "n_chars", "norm_chars"))


def q_wow_growth(spark: SparkSession, sf: str) -> DataFrame:
    """Week-over-week growth and 4-week moving average of event
    volume — the reporting staple over the aggregated (calendar-grain,
    scale-free) series: lag() for the WoW delta, a rows-frame for the
    moving average, integer sums divided once so both engines share
    one double op per row."""
    ev = _load(spark, sf, "events").where(F.col("ts_us").isNotNull())
    wk = (ev.groupBy(F.expr("ts_us div 604800000000").alias("week"))
          .agg(F.count(F.lit(1)).alias("n")))
    w = Window.orderBy("week")
    wma = Window.orderBy("week").rowsBetween(-3, 0)
    return (wk.withColumn("prev_n", F.lag("n").over(w))
            .select("week", "n",
                    F.round((F.col("n") - F.col("prev_n")) * 100.0
                            / F.col("prev_n"), 4).alias("wow_pct"),
                    F.round(F.sum("n").over(wma).cast("double")
                            / F.count(F.lit(1)).over(wma), 4)
                    .alias("ma_4w")))


def q_ks_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise distribution-drift matrix: the two-sample KS statistic
    on the n_chars distribution for EVERY pair of document sources —
    the audit that catches one crawl source shifting against the rest.
    A dense (value x source) ECDF grid is built once (distinct values
    cross sources, left-joined counts, cumulative window per source),
    then a self-join on value + one max-aggregate yields all pairs.
    Everything after the first aggregate rides the VALUE DOMAIN x
    |sources| — independent of document count."""
    doc = _load(spark, sf, "documents")
    pv = (doc.groupBy("source", "n_chars")
          .agg(F.count(F.lit(1)).alias("c")))
    vals = pv.select("n_chars").distinct()
    srcs = (pv.groupBy("source").agg(F.sum("c").alias("tot")))
    grid = (vals.crossJoin(srcs)
            .join(pv, ["source", "n_chars"], "left")
            .select("source", "n_chars", "tot",
                    F.coalesce("c", F.lit(0)).alias("c")))
    wcum = (Window.partitionBy("source").orderBy("n_chars")
            .rowsBetween(Window.unboundedPreceding, 0))
    ecdf = grid.select(
        "source", "n_chars",
        (F.sum("c").over(wcum).cast("double") / F.col("tot"))
        .alias("f"))
    a, b = ecdf.alias("a"), ecdf.alias("b")
    return (a.join(b, (F.col("a.n_chars") == F.col("b.n_chars"))
                   & (F.col("a.source") < F.col("b.source")))
            .groupBy(F.col("a.source").alias("source_a"),
                     F.col("b.source").alias("source_b"))
            .agg(F.round(F.max(F.abs(F.col("a.f") - F.col("b.f"))), 4)
                 .alias("ks_stat")))


def q_cusum_drift(spark: SparkSession, sf: str) -> DataFrame:
    """CUSUM drift series over daily event volume: cumulative sum of
    deviations from the series mean, the classic change-point /
    drift-detection statistic a pipeline watches to catch a source
    silently changing volume. The series is calendar-grain (one row
    per day — scale-free after the first aggregate), so the global
    ordering window is safe. cusum_k = running_sum(n) - k * mean,
    computed as integer running sum minus one shared-double product —
    no float accumulation order to diverge across engines."""
    ev = _load(spark, sf, "events").where(F.col("ts_us").isNotNull())
    daily = _ck(ev.groupBy(F.expr("ts_us div 86400000000").alias("day"))
                .agg(F.count(F.lit(1)).alias("n")))
    tot = daily.agg(F.sum("n").alias("total"),
                    F.count(F.lit(1)).alias("n_days"))
    wrun = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    d = (daily.crossJoin(F.broadcast(tot))
         .withColumn("run", F.sum("n").over(wrun))
         .withColumn("rn", F.row_number().over(Window.orderBy("day"))))
    # + 0.0 collapses IEEE -0.0 (the final step is mathematically 0;
    # either engine may round to the negative zero) to +0.0
    return d.select(
        "day", "n",
        (F.round(F.col("run")
                 - F.col("rn") * (F.col("total").cast("double")
                                  / F.col("n_days")), 4)
         + F.lit(0.0)).alias("cusum"))


# ---------------------------------------------------------------------------
# the driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full SleeperTable lifecycle on sf0.001 (ingest twice →
    compact → aggregated full scan)."""
    return q_sleeper_lifecycle(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # sleeper-core operator surface
        "exact_key": q_exact_key,
        "batch_point_lookup": q_batch_point_lookup,
        "range_query": q_range_query,
        "multi_region": q_multi_region,
        "multidim_region": q_multidim_region,
        "projection": q_projection,
        "ageoff_filter": q_ageoff_filter,
        "aggregation_sum_min_max": q_aggregation_sum_min_max,
        "aggregation_map_sum": q_aggregation_map_sum,
        "aggregation_map_min_max": q_aggregation_map_min_max,
        "string_concat_sum": q_string_concat_sum,
        "sleeper_lifecycle": q_sleeper_lifecycle,
        "value_filter_skipping": q_value_filter_skipping,
        "delete_where": q_delete_where,
        "table_diff": q_table_diff,
        "cokeyed_join": q_cokeyed_join,
        "materialized_view": q_materialized_view,
        "secondary_index": q_secondary_index,
        "index_lookup_join": q_index_lookup_join,
        "split_point_advisor": q_split_point_advisor,
        "delete_exact_rows": q_delete_exact_rows,
        "composite_index": q_composite_index,
        "composite_index_range": q_composite_index_range,
        "time_travel": q_time_travel,
        "table_clone": q_table_clone,
        "ctas": q_ctas,
        "table_manifest": q_table_manifest,
        "update_where": q_update_where,
        "merge_upsert": q_merge_upsert,
        "merge_when": q_merge_when,
        "schema_evolution": q_schema_evolution,
        "replication_cdc": q_replication_cdc,
        "check_constraints": q_check_constraints,
        "functional_index": q_functional_index,
        "secondary_index_hot": q_secondary_index_hot,
        "upsert_last_writer": q_upsert_last_writer,
        "bulk_export": q_bulk_export,
        "security_iterator": q_security_iterator,
        "sql_stage": q_sql_stage,
        # SQL surface: joins / windows / set ops / scalars
        "tpch_q1": q_tpch_q1,
        "join_agg": q_join_agg,
        "tpch_q2": q_tpch_q2,
        "tpch_q3": q_tpch_q3,
        "tpch_q4": q_tpch_q4,
        "tpch_q5": q_tpch_q5,
        "tpch_q6": q_tpch_q6,
        "tpch_q7": q_tpch_q7,
        "tpch_q8": q_tpch_q8,
        "tpch_q9": q_tpch_q9,
        "tpch_q10": q_tpch_q10,
        "tpch_q11": q_tpch_q11,
        "tpch_q12": q_tpch_q12,
        "tpch_q13": q_tpch_q13,
        "tpch_q14": q_tpch_q14,
        "tpch_q15": q_tpch_q15,
        "tpch_q16": q_tpch_q16,
        "tpch_q17": q_tpch_q17,
        "tpch_q18": q_tpch_q18,
        "tpch_q19": q_tpch_q19,
        "tpch_q20": q_tpch_q20,
        "tpch_q21": q_tpch_q21,
        "tpch_q22": q_tpch_q22,
        "rollup_agg": q_rollup_agg,
        "window_lag_lead": q_window_lag_lead,
        "window_topn": q_window_topn,
        "window_running_sum": q_window_running_sum,
        "set_ops": q_set_ops,
        "scalar_functions": q_scalar_functions,
        "date_json_functions": q_date_json_functions,
        "distinct_count": q_distinct_count,
        "topk": q_topk,
        "semi_join": q_semi_join,
        "anti_join": q_anti_join,
        "correlated_subquery": q_correlated_subquery,
        "exists_subquery": q_exists_subquery,
        "conditional_agg": q_conditional_agg,
        "pivot": q_pivot,
        "grouping_sets": q_grouping_sets,
        "tumbling_window": q_tumbling_window,
        "hopping_window": q_hopping_window,
        "event_transitions": q_event_transitions,
        "cumulative_distinct_users": q_cumulative_distinct_users,
        "cube_agg": q_cube_agg,
        "source_lang_entropy": q_source_lang_entropy,
        "path_mining": q_path_mining,
        "stats_agg": q_stats_agg,
        # training-data pipeline
        "dedup_exact_groups": q_dedup_exact_groups,
        "dedup_exact_keep": q_dedup_exact_keep,
        "text_quality": q_text_quality,
        "language_id": q_language_id,
        "token_counts": q_token_counts,
        "fingerprint": q_fingerprint,
        "sample_fraction": q_sample_fraction,
        "sample_stratified": q_sample_stratified,
        "sample_reservoir": q_sample_reservoir,
        "grouped_reservoir": q_grouped_reservoir,
        "grouped_equidepth": q_grouped_equidepth,
        "grouped_split": q_grouped_split,
        "interleave_domains": q_interleave_domains,
        "rolling_features": q_rolling_features,
        "gap_fill": q_gap_fill,
        "props_extract": q_props_extract,
        "grouped_cdf": q_grouped_cdf,
        "table_profile": q_table_profile,
        "boilerplate_ngrams": q_boilerplate_ngrams,
        "pii_scan": q_pii_scan,
        "pii_redact": q_pii_redact,
        "heavy_hitters": q_heavy_hitters,
        "robust_scale": q_robust_scale,
        "pack_token_budget": q_pack_token_budget,
        "doc_chunks": q_doc_chunks,
        "verbatim_overlap": q_verbatim_overlap,
        "tfidf_top_terms": q_tfidf_top_terms,
        "contamination_check": q_contamination_check,
        "containment_pairs": q_containment_pairs,
        "keyword_search_all": q_keyword_search_all,
        "keyword_search_any": q_keyword_search_any,
        "bm25_search": q_bm25_search,
        "hybrid_search": q_hybrid_search,
        "lm_quality_scores": q_lm_quality_scores,
        "dsir_logweights": q_dsir_logweights,
        "dsir_resample": q_dsir_resample,
        "nb_classifier": q_nb_classifier,
        "contamination_safe_split": q_contamination_safe_split,
        "kmeans_assign": q_kmeans_assign,
        "inverted_index_stats": q_inverted_index_stats,
        "line_dedup": q_line_dedup,
        "boilerplate_strip": q_boilerplate_strip,
        "pii_scrub": q_pii_scrub,
        "zorder_key": q_zorder_key,
        "corpus_shuffle": q_corpus_shuffle,
        "ngram_top_counts": q_ngram_top_counts,
        "repetition_scores": q_repetition_scores,
        "source_mix": q_source_mix,
        "quality_filter": q_quality_filter,
        "corpus_pipeline": q_corpus_pipeline,
        "skewed_join": q_skewed_join,
        "asof_join": q_asof_join,
        "sessionize": q_sessionize,
        "range_join": q_range_join,
        "rolling_window": q_rolling_window,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "incremental_dedup": q_incremental_dedup,
        "dedup_clusters": q_dedup_clusters,
        "near_dup_keep_one": q_near_dup_keep_one,
        "simhash_pairs": q_simhash_pairs,
        "near_dup_verified": q_near_dup_verified,
        "similarity_join": q_similarity_join,
        "embedding_norms": q_embedding_norms,
        "embedding_quantize": q_embedding_quantize,
        "quantiles": q_quantiles,
        "sketch_quantiles": q_sketch_quantiles,
        "grouped_sketch_quantiles": q_grouped_sketch_quantiles,
        "winsorize": q_winsorize,
        "mad_outliers": q_mad_outliers,
        "grouped_mad_outliers": q_grouped_mad_outliers,
        "grouped_quantiles": q_grouped_quantiles,
        "grouped_winsorize": q_grouped_winsorize,
        "equidepth_buckets": q_equidepth_buckets,
        "funnel": q_funnel,
        "funnel_windowed": q_funnel_windowed,
        "retention_cohorts": q_retention_cohorts,
        "typo_dedup_pairs": q_typo_dedup_pairs,
        "ann_brute_force": q_ann_brute_force,
        "ann_filtered": q_ann_filtered,
        "table_ann_filtered": q_table_ann_filtered,
        "ann_lsh": q_ann_lsh,
        "ann_lsh_multiprobe": q_ann_lsh_multiprobe,
        "ann_recall": q_ann_recall,
        "ann_index_selection": q_ann_index_selection,
        "hll_sketch": q_hll_sketch,
        "hot_keys": q_hot_keys,
        "bpe_pair_counts": q_bpe_pair_counts,
        "table_ann_search": q_table_ann_search,
        "ivf_topk": q_ivf_topk,
        "pq_topk": q_pq_topk,
        "ivf_pq_topk": q_ivf_pq_topk,
        "embedding_near_duplicates": q_embedding_near_duplicates,
        "semantic_dedup": q_semantic_dedup,
        "negative_sampling": q_negative_sampling,
        "hard_negative_mining": q_hard_negative_mining,
        "multimodal_features": q_multimodal_features,
        "multimodal_frames": q_multimodal_frames,
        # streaming (availableNow, hash-checked against batch SQL)
        "streaming_upsert": q_streaming_upsert,
        "streaming_merge": q_streaming_merge,
        "streaming_window": q_streaming_window,
        "streaming_hopping_window": q_streaming_hopping_window,
        "streaming_funnel": q_streaming_funnel,
        "streaming_heavy_hitters": q_streaming_heavy_hitters,
        "streaming_sessionize": q_streaming_sessionize,
        "streaming_retention": q_streaming_retention,
        "streaming_running_totals": q_streaming_running_totals,
        "streaming_approx_distinct": q_streaming_approx_distinct,
        "streaming_dedup": q_streaming_dedup,
        "streaming_interval_join": q_streaming_interval_join,
        "streaming_session_window": q_streaming_session_window,
        "full_outer_join": q_full_outer_join,
        "grouped_collect": q_grouped_collect,
        "value_histogram": q_value_histogram,
        "unpivot": q_unpivot,
        "rolling_interval_window": q_rolling_interval_window,
        "graph_reachability": q_graph_reachability,
        "pareto_frontier": q_pareto_frontier,
        "assoc_rules": q_assoc_rules,
        "cusum_drift": q_cusum_drift,
        "pagerank_states": q_pagerank_states,
        "gini_activity": q_gini_activity,
        "ks_drift": q_ks_drift,
        "wow_growth": q_wow_growth,
        "ks_matrix": q_ks_matrix,
        "target_encoding": q_target_encoding,
        "chi2_source_lang": q_chi2_source_lang,
        "quantile_normalize": q_quantile_normalize,
        "mutual_information": q_mutual_information,
        "entropy_rate": q_entropy_rate,
        "benford_deviation": q_benford_deviation,
        "ewma_volume": q_ewma_volume,
        "rfm_segments": q_rfm_segments,
        "histogram2d": q_histogram2d,
        "decile_lift": q_decile_lift,
        "mann_whitney": q_mann_whitney,
        "ab_ztest": q_ab_ztest,
        "weekday_seasonality": q_weekday_seasonality,
        "snapshot_rollback": q_snapshot_rollback,
        # r12 (APPEND-ONLY from here: the driver samples the first 50
        # entries for its correctness gate — see
        # tests/test_driver_contract.py::test_registry_order_append_only)
        "longdoc_repetition": q_longdoc_repetition,
    }


_TOKS = "regexp_extract_all(lower(text), '[A-Za-z0-9'']+')"
_EV_SEL = ("event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props")


# ---------------------------------------------------------------------------
# generated oracles: ground-truth near-dup pairs, portable simhash,
# literal-hyperplane ANN, hex-decoded multimodal features
# ---------------------------------------------------------------------------

#: all-pairs exact 3-shingle Jaccard via shared-shingle equi-join (sparse:
#: only pairs sharing >=1 shingle are materialised). The testdata's planted
#: near-duplicates are exactly the pairs with jaccard >= 0.7 (closest
#: non-planted pair is ~0.1), so this is the dedup ground truth.
_GROUND_TRUTH_PAIRS = (
    "WITH sh AS (SELECT doc_id, CASE WHEN "
    f"len({_TOKS}) >= 3 THEN list_distinct(list_transform("
    f"range(1, len({_TOKS}) - 1), i -> array_to_string(({_TOKS})[i:i+2], ' '))) "
    "ELSE CAST([] AS VARCHAR[]) END AS s FROM documents), "
    "e AS (SELECT doc_id, unnest(s) AS g FROM sh), "
    "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni "
    "FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2), "
    "sizes AS (SELECT doc_id, len(s) AS n FROM sh), "
    "jac AS (SELECT id_a, id_b, "
    "round(CAST(ni AS DOUBLE) / (sa.n + sb.n - ni), 4) AS jaccard "
    "FROM inter JOIN sizes sa ON sa.doc_id = id_a "
    "JOIN sizes sb ON sb.doc_id = id_b) "
)


def _hex2int32_sql(hexpr: str) -> str:
    """Unsigned 32-bit int from the first 8 hex chars of ``hexpr`` —
    DuckDB equivalent of Spark's conv(substring(hx,1,8),16,10): the
    uniform-noise word of dsir.deterministic_gumbel_micro."""
    return ("list_sum(list_transform(range(1, 9), i -> "
            "((strpos('0123456789abcdef', "
            f"substr({hexpr}, CAST(i AS INTEGER), 1)) - 1)::BIGINT "
            "<< (4 * (8 - i)))))")


def _dsir_lw_sql() -> str:
    """DuckDB replica of dsir.dsir_logweights (target = lang='en',
    B=512, alpha=0.5): md5-bucketed unigram+bigram bags, Lidstone
    smoothing, micro-unit integer sums — ends with a ``lwts`` CTE of
    (doc_id, n_grams, logweight_micro) covering every document."""
    h = _hex2int64_sql("md5(g)")
    return (
        f"WITH tok AS (SELECT doc_id, lang, {_TOKS} AS toks "
        "FROM documents), "
        "g AS (SELECT doc_id, lang, unnest(toks || "
        "CASE WHEN len(toks) >= 2 THEN list_transform("
        "range(1, len(toks)), i -> toks[CAST(i AS INTEGER)] || ' ' || "
        "toks[CAST(i + 1 AS INTEGER)]) "
        "ELSE CAST([] AS VARCHAR[]) END) AS g FROM tok), "
        f"b AS (SELECT doc_id, lang, ((({h}) % 512) + 512) % 512 "
        "AS bucket FROM g), "
        "tc AS (SELECT bucket, count(*) AS tc FROM b WHERE lang = 'en' "
        "GROUP BY 1), "
        "rc AS (SELECT bucket, count(*) AS rc FROM b GROUP BY 1), "
        "tt AS (SELECT CAST(sum(tc) AS DOUBLE) AS tt FROM tc), "
        "rt AS (SELECT CAST(sum(rc) AS DOUBLE) AS rt FROM rc), "
        "wt AS (SELECT rc.bucket, CAST(round(("
        "ln((CAST(COALESCE(tc.tc, 0) AS DOUBLE) + 0.5) / (tt + 256.0)) "
        "- ln((CAST(rc.rc AS DOUBLE) + 0.5) / (rt + 256.0))"
        ") * 1000000.0, 0) AS BIGINT) AS lwm "
        "FROM rc LEFT JOIN tc ON rc.bucket = tc.bucket, tt, rt), "
        "s AS (SELECT doc_id, count(*) AS ng, "
        "CAST(sum(lwm) AS BIGINT) AS lw "
        "FROM b JOIN wt USING (bucket) GROUP BY doc_id), "
        "lwts AS (SELECT d.doc_id, "
        "CAST(COALESCE(ng, 0) AS BIGINT) AS n_grams, "
        "CAST(COALESCE(lw, 0) AS BIGINT) AS logweight_micro "
        "FROM documents d LEFT JOIN s USING (doc_id)) ")


def _nb_classifier_sql() -> str:
    """DuckDB replica of classify.nb_classify on (documents, lang):
    closed-form multinomial NB with Lidstone alpha=1, micro-unit longs
    per token occurrence, argmax ties broken on label order. Docs with
    tokens carry all labels in ``dl``; zero-token docs fall through the
    left join to prior-only scores — same branch as the Spark side."""
    return (
        f"WITH tok AS (SELECT doc_id, lang, {_TOKS} AS toks "
        "FROM documents), "
        "ex AS (SELECT lang AS label, unnest(toks) AS token FROM tok), "
        "cnt AS (SELECT label, token, count(*) AS c FROM ex "
        "GROUP BY 1, 2), "
        "nd AS (SELECT lang AS label, count(*) AS ndocs FROM documents "
        "GROUP BY 1), "
        # tot from nd LEFT JOIN counts: a label whose docs have no
        # tokens keeps its alpha-floor likelihoods (classify.nb_train
        # fixed the same hazard engine-side)
        "tot AS (SELECT nd.label, CAST(COALESCE(tc.t, 0) AS DOUBLE) "
        "AS t FROM nd LEFT JOIN (SELECT label, sum(c) AS t FROM cnt "
        "GROUP BY 1) tc USING (label)), "
        "n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents), "
        "pri AS (SELECT label, CAST(round(ln(ndocs / n) * 1000000.0, 0) "
        "AS BIGINT) AS prior FROM nd, n), "
        "v AS (SELECT CAST(count(DISTINCT token) AS DOUBLE) AS v "
        "FROM cnt), "
        "docex AS (SELECT doc_id, unnest(toks) AS token FROM tok), "
        "lp AS (SELECT doc_id, tot.label, CAST(round(ln("
        "(CAST(COALESCE(c, 0) AS DOUBLE) + 1.0) / (t + v)"
        ") * 1000000.0, 0) AS BIGINT) AS lpm "
        "FROM docex CROSS JOIN tot CROSS JOIN v "
        "LEFT JOIN cnt ON cnt.label = tot.label "
        "AND cnt.token = docex.token), "
        "dl AS (SELECT doc_id, label, CAST(sum(lpm) AS BIGINT) AS ll "
        "FROM lp GROUP BY 1, 2), "
        "sc AS (SELECT d.doc_id, p.label, "
        "COALESCE(dl.ll, 0) + p.prior AS score "
        "FROM documents d CROSS JOIN pri p "
        "LEFT JOIN dl ON dl.doc_id = d.doc_id AND dl.label = p.label), "
        "best AS (SELECT doc_id, label AS predicted_label, "
        "score AS score_micro, row_number() OVER (PARTITION BY doc_id "
        "ORDER BY score DESC, label) AS rn FROM sc) "
        "SELECT d.doc_id, d.lang AS label, predicted_label, score_micro "
        "FROM best JOIN documents d USING (doc_id) WHERE rn = 1")


def _kmeans_sql(k: int = 8, iterations: int = 2) -> str:
    """DuckDB replica of similarity.kmeans_distributed: micro-quantized
    integer vectors, per-iteration (assign via min (dist, cluster),
    update via per-dim integer sums + trunc of one shared double,
    absent clusters keep their centroid), then the final assignment.
    Pure CTE unrolling — the iteration count is compile-time."""
    dist = ("list_sum(list_transform(range(1, len(m.v) + 1), i -> "
            "(m.v[CAST(i AS INTEGER)] - {c}.c[CAST(i AS INTEGER)]) * "
            "(m.v[CAST(i AS INTEGER)] - {c}.c[CAST(i AS INTEGER)])))")

    def assign(name: str, cents: str) -> str:
        d = dist.format(c=cents)
        return (f"{name} AS (SELECT vec_id, v, cluster FROM ("
                f"SELECT m.vec_id, m.v, {cents}.cluster, "
                f"row_number() OVER (PARTITION BY m.vec_id "
                f"ORDER BY {d}, {cents}.cluster) AS rn "
                f"FROM mic m CROSS JOIN {cents}) WHERE rn = 1)")

    def update(n: int, prev_cents: str) -> str:
        return (
            f"e{n} AS (SELECT cluster, generate_subscripts(v, 1) AS dim, "
            f"unnest(v) AS x FROM a{n}), "
            f"u{n} AS (SELECT cluster, dim, "
            "CAST(trunc(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT) "
            f"AS cx FROM e{n} GROUP BY 1, 2), "
            f"g{n} AS (SELECT cluster, list(cx ORDER BY dim) AS c "
            f"FROM u{n} GROUP BY cluster), "
            f"c{n} AS (SELECT p.cluster, COALESCE(g{n}.c, p.c) AS c "
            f"FROM {prev_cents} p LEFT JOIN g{n} USING (cluster))")

    parts = [
        "WITH mic AS (SELECT vec_id, list_transform(embedding, x -> "
        "CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS v "
        "FROM embeddings)",
        "c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 "
        "AS cluster, v AS c FROM "
        f"(SELECT vec_id, v FROM mic ORDER BY vec_id LIMIT {k}))",
    ]
    prev = "c0"
    for n in range(1, iterations + 1):
        parts.append(assign(f"a{n}", prev))
        parts.append(update(n, prev))
        prev = f"c{n}"
    parts.append(assign("afinal", prev))
    return (", ".join(parts)
            + " SELECT vec_id, cluster FROM afinal")


def _hex2int64_sql(hexpr: str) -> str:
    """64-bit signed int from the first 16 hex chars of ``hexpr`` —
    DuckDB equivalent of dedup.portable_shingle_hashes' (hi<<32)|lo."""
    def word(off: int) -> str:
        return ("list_sum(list_transform(range(1, 9), i -> "
                "((strpos('0123456789abcdef', "
                f"substr({hexpr}, CAST(i + {off} AS INTEGER), 1)) - 1)::BIGINT "
                "<< (4 * (8 - i)))))")
    hi, lo = word(0), word(8)
    return (f"(CASE WHEN {hi} >= 2147483648 THEN {hi} - 4294967296 "
            f"ELSE {hi} END) * 4294967296 + {lo}")


def _simhash_oracle_sql(max_hamming: int = 3) -> str:
    """Recompute the portable SimHash pipeline entirely in DuckDB:
    2-gram shingles → md5-derived 64-bit hashes → per-bit majority votes
    → pigeonhole block join → Hamming filter. Mirrors
    dedup.simhash_fingerprints(portable_hash=True) bit-for-bit."""
    bits = [(1 << i) if i < 63 else -(1 << 63) for i in range(64)]
    vote = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(h, x -> (x & {b}) != 0)) > len(h) "
        f"THEN {b} ELSE 0 END)"
        for b in bits)
    nblocks = max_hamming + 1
    width = 64 // nblocks
    mask = (1 << width) - 1
    return (
        "WITH toks AS (SELECT doc_id, "
        f"{_TOKS} AS t FROM documents), "
        "sh AS (SELECT doc_id, CASE WHEN len(t) >= 2 THEN "
        "list_distinct(list_transform(range(1, len(t)), "
        "i -> array_to_string(t[i:i+1], ' '))) "
        "ELSE CAST([] AS VARCHAR[]) END AS s FROM toks), "
        "hs AS (SELECT doc_id, list_transform(s, g -> "
        f"{_hex2int64_sql('md5(g)')}) AS h FROM sh WHERE len(s) > 0), "
        f"fp AS (SELECT doc_id, {vote} AS f FROM hs), "
        "blocks AS (SELECT doc_id, f, b.block, "
        f"((f >> (b.block * {width})) & {mask}) AS bval "
        f"FROM fp CROSS JOIN (SELECT unnest(range(0, {nblocks})) AS block) b) "
        "SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b, "
        "CAST(bit_count(xor(l.f, r.f)) AS INTEGER) AS hamming "
        "FROM blocks l JOIN blocks r ON l.block = r.block "
        "AND l.bval = r.bval AND l.doc_id < r.doc_id "
        f"WHERE bit_count(xor(l.f, r.f)) <= {max_hamming}")


def _ann_lsh_oracle_sql(dim: int = 64, k: int = 10, bits: int = 8,
                        seed: int = 42) -> str:
    """Recompute LSH-bucketed ANN in DuckDB with the SAME hyperplanes as
    similarity.lsh_topk (seeded driver-side, embedded as literals —
    shortest-repr doubles round-trip exactly)."""
    planes = similarity._hyperplanes(dim, bits, seed)
    def bucket(vexpr: str) -> str:
        return " + ".join(
            f"(CASE WHEN list_dot_product({vexpr}, "
            f"[{', '.join(repr(x) for x in plane)}]) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, plane in enumerate(planes))
    return (
        "WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings), "
        f"b AS (SELECT vec_id, v, {bucket('v')} AS bucket FROM c), "
        "q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b "
        "WHERE vec_id < 5), "
        "s AS (SELECT q.query_id, b.vec_id, "
        "round(list_dot_product(b.v, q.qv) / "
        "(sqrt(list_sum(list_transform(b.v, x -> x * x))) * "
        "sqrt(list_sum(list_transform(q.qv, x -> x * x)))), 6) AS cosine "
        "FROM b JOIN q ON b.bucket = q.bucket WHERE b.vec_id <> q.query_id), "
        "r AS (SELECT query_id, vec_id, cosine, CAST(row_number() OVER ("
        "PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) "
        "AS rank FROM s) "
        f"SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= {k}")


_COS_SQL = ("round(list_dot_product({a}, {b}) / "
            "(sqrt(list_sum(list_transform({a}, x -> x * x))) * "
            "sqrt(list_sum(list_transform({b}, x -> x * x)))), 6)")


def _zorder_oracle_sql(bits: int = 16) -> str:
    """Recompute the Morton key in DuckDB: the same sum of shift/mask
    terms as layout.zorder_key over (user_id, ts hour bucket)."""
    mask = (1 << bits) - 1
    cols = [f"(user_id & {mask})", f"(hr & {mask})"]
    d = len(cols)
    terms = [
        f"((({ce} >> {b}) & 1) * {1 << (b * d + j)})"
        for j, ce in enumerate(cols)
        for b in range(bits)
    ]
    return (
        "WITH e AS (SELECT event_id, user_id, "
        "epoch_us(ts) // 3600000000 AS hr FROM events) "
        f"SELECT event_id, {' + '.join(terms)} AS zkey FROM e")


def _ann_lsh_multiprobe_oracle_sql(dim: int = 64, k: int = 10,
                                   bits: int = 8, seed: int = 42,
                                   nprobe: int = 3) -> str:
    """Multi-probe LSH in DuckDB: same plane literals as
    similarity.query_probe_buckets; margins sorted as (abs_dot, plane
    index) structs so ties break identically; flipped buckets via
    xor(bucket, 1 << i)."""
    planes = similarity._hyperplanes(dim, bits, seed)

    def bucket(vexpr: str) -> str:
        return " + ".join(
            f"(CASE WHEN list_dot_product({vexpr}, "
            f"[{', '.join(repr(x) for x in plane)}]) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, plane in enumerate(planes))

    pl = "[" + ", ".join(
        "[" + ", ".join(repr(x) for x in plane) + "]"
        for plane in planes) + "]"
    ms = ("list_sort(list_transform(range(0, " + str(bits) + "), "
          "i -> {'m': abs(list_dot_product(qv, (" + pl
          + "::DOUBLE[][])[CAST(i + 1 AS INTEGER)])), 'i': i}))")
    probes = ("list_concat([CAST(qbucket AS BIGINT)], "
              "list_transform((" + ms + ")[1:" + str(nprobe - 1) + "], "
              "s -> xor(CAST(qbucket AS BIGINT), (1::BIGINT << s.i))))")
    return (
        "WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings), "
        f"b AS (SELECT vec_id, v, {bucket('v')} AS bucket FROM c), "
        "q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qbucket "
        "FROM b WHERE vec_id < 5), "
        f"p AS (SELECT query_id, qv, unnest({probes}) AS bucket FROM q), "
        "s AS (SELECT p.query_id, b.vec_id, "
        "round(list_dot_product(b.v, p.qv) / "
        "(sqrt(list_sum(list_transform(b.v, x -> x * x))) * "
        "sqrt(list_sum(list_transform(p.qv, x -> x * x)))), 6) AS cosine "
        "FROM b JOIN p ON b.bucket = p.bucket WHERE b.vec_id <> p.query_id), "
        "r AS (SELECT query_id, vec_id, cosine, CAST(row_number() OVER ("
        "PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) "
        "AS rank FROM s) "
        f"SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= {k}")


#: exact brute-force ANN oracle — shared by the ann_brute_force entry and
#: the ann_recall ground truth
_ANN_BF_SQL = (
    "WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv "
    "FROM embeddings WHERE vec_id < 5), "
    "c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings), "
    "s AS (SELECT query_id, vec_id, "
    "round(list_dot_product(cv, qv) / (sqrt(list_sum(list_transform(cv, x -> x * x))) "
    "* sqrt(list_sum(list_transform(qv, x -> x * x)))), 6) AS cosine "
    "FROM c CROSS JOIN q WHERE vec_id <> query_id), "
    "r AS (SELECT query_id, vec_id, cosine, CAST(row_number() OVER ("
    "PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank FROM s) "
    "SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 10")


def _ann_recall_oracle_sql() -> str:
    """Recall@10 per tier in DuckDB: each tier's own oracle runs as a
    named CTE (nested WITH inside a derived table), ground truth is the
    brute-force oracle, and recall is hits@10 / exact@10 restricted to
    the queries the tier actually served."""
    tiers = {
        "ivf": _ivf_oracle_sql(),
        "ivf_pq": _ivfpq_oracle_sql(),
        "lsh": _ann_lsh_oracle_sql(dim=64, k=10, bits=8, seed=42),
        "lsh_multiprobe": _ann_lsh_multiprobe_oracle_sql(),
        "pq": _pq_oracle_sql(),
    }
    ctes = [f"ex AS (SELECT query_id, vec_id FROM ({_ANN_BF_SQL}) z)"]
    parts = []
    for name, sql in tiers.items():
        ctes.append(f"t_{name} AS (SELECT query_id, vec_id FROM ({sql}) z)")
        parts.append(
            f"SELECT '{name}' AS tier, e.query_id, "
            "CAST(count(*) AS INTEGER) AS n_exact, "
            "CAST(count(a.vec_id) AS INTEGER) AS n_hits, "
            "round(count(a.vec_id) / count(*), 4) AS recall "
            f"FROM ex e LEFT JOIN t_{name} a "
            "ON a.query_id = e.query_id AND a.vec_id = e.vec_id "
            f"WHERE e.query_id IN (SELECT query_id FROM t_{name}) "
            "GROUP BY e.query_id")
    return "WITH " + ", ".join(ctes) + " " + " UNION ALL ".join(parts)


def _lsh_cand_count_sql(dim: int = 64, bits: int = 8, seed: int = 42,
                        nprobe: int = 1) -> str:
    """Candidate count of an LSH config in DuckDB (rows its bucket join
    scores, self excluded) — the denominator-side of the index-selection
    oracle; same plane literals / probe expressions as the tier SQL."""
    planes = similarity._hyperplanes(dim, bits, seed)

    def bucket(vexpr: str) -> str:
        return " + ".join(
            f"(CASE WHEN list_dot_product({vexpr}, "
            f"[{', '.join(repr(x) for x in plane)}]) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, plane in enumerate(planes))

    if nprobe <= 1:
        return (
            "SELECT count(*) AS cnt FROM ("
            "WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
            "FROM embeddings), "
            f"b AS (SELECT vec_id, v, {bucket('v')} AS bucket FROM c), "
            "q AS (SELECT vec_id AS query_id, bucket FROM b "
            "WHERE vec_id < 5) "
            "SELECT b.vec_id FROM b JOIN q ON b.bucket = q.bucket "
            "WHERE b.vec_id <> q.query_id) z")
    pl = "[" + ", ".join(
        "[" + ", ".join(repr(x) for x in plane) + "]"
        for plane in planes) + "]"
    ms = ("list_sort(list_transform(range(0, " + str(bits) + "), "
          "i -> {'m': abs(list_dot_product(qv, (" + pl
          + "::DOUBLE[][])[CAST(i + 1 AS INTEGER)])), 'i': i}))")
    probes = ("list_concat([CAST(qbucket AS BIGINT)], "
              "list_transform((" + ms + ")[1:" + str(nprobe - 1) + "], "
              "s -> xor(CAST(qbucket AS BIGINT), (1::BIGINT << s.i))))")
    return (
        "SELECT count(*) AS cnt FROM ("
        "WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings), "
        f"b AS (SELECT vec_id, v, {bucket('v')} AS bucket FROM c), "
        "q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qbucket "
        "FROM b WHERE vec_id < 5), "
        f"p AS (SELECT query_id, unnest({probes}) AS bucket FROM q) "
        "SELECT b.vec_id FROM b JOIN p ON b.bucket = p.bucket "
        "WHERE b.vec_id <> p.query_id) z")


def _ivf_cand_count_sql(nprobe: int) -> str:
    """Candidate count of an IVF config in DuckDB (probed cells' sizes,
    self excluded) — same centroid literals / probe ranking as
    _ivf_oracle_sql."""
    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    cents = _ivf_centroids_from_parquet(sf_dir)
    values = ", ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents))
    return (
        "SELECT count(*) AS cnt FROM ("
        "WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings), "
        f"cents(ci, cv) AS (VALUES {values}), "
        "a AS (SELECT c.vec_id, ci, list_dot_product(c.v, cv) AS d "
        "FROM c CROSS JOIN cents), "
        "cell AS (SELECT vec_id, ci AS cell FROM ("
        "SELECT vec_id, ci, row_number() OVER ("
        "PARTITION BY vec_id ORDER BY d DESC, ci) AS rn FROM a) WHERE rn = 1), "
        "q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 5), "
        "qa AS (SELECT query_id, ci, list_dot_product(qv, cv) AS d "
        "FROM q CROSS JOIN cents), "
        "probe AS (SELECT query_id, ci AS cell FROM ("
        "SELECT query_id, ci, row_number() OVER ("
        "PARTITION BY query_id ORDER BY d DESC, ci) AS rn FROM qa) "
        f"WHERE rn <= {nprobe}) "
        "SELECT cl.vec_id FROM cell cl JOIN probe p ON cl.cell = p.cell "
        "WHERE cl.vec_id <> p.query_id) z")


_ANN_SELECT_TARGET = 0.7


def _ann_index_selection_oracle_sql() -> str:
    """The index-selection sweep in DuckDB: per config, recall@10 from
    the tier's own topk oracle vs brute-force ground truth, candidate
    fraction from the config's candidate-count SQL, and the chosen flag
    via one deterministic ranking window reproducing select_ann_tier's
    choice rule (cheapest meeting the target, else highest recall)."""
    configs = [
        ("lsh", 1, _ann_lsh_oracle_sql(dim=64, k=10, bits=8, seed=42),
         _lsh_cand_count_sql(nprobe=1)),
        ("lsh", 3, _ann_lsh_multiprobe_oracle_sql(nprobe=3),
         _lsh_cand_count_sql(nprobe=3)),
    ] + [
        ("ivf", p, _ivf_oracle_sql(nprobe=p), _ivf_cand_count_sql(p))
        for p in (1, 2, 4)
    ]
    parts = []
    for tier, p, topk_sql, cand_sql in configs:
        parts.append(
            f"SELECT '{tier}' AS tier, CAST({p} AS INTEGER) AS nprobe, "
            "(SELECT round(avg(r), 4) FROM ("
            "SELECT round(count(a.vec_id) / count(*), 4) AS r "
            f"FROM ex e LEFT JOIN (SELECT query_id, vec_id FROM ({topk_sql}"
            ") z1) a ON a.query_id = e.query_id AND a.vec_id = e.vec_id "
            f"WHERE e.query_id IN (SELECT query_id FROM ({topk_sql}) z2) "
            "GROUP BY e.query_id) t) AS recall, "
            f"(SELECT round(cnt / (5.0 * (nn.n - 1)), 6) FROM ({cand_sql}"
            ") c CROSS JOIN nn) AS candidate_fraction")
    tgt = _ANN_SELECT_TARGET
    return (
        f"WITH ex AS (SELECT query_id, vec_id FROM ({_ANN_BF_SQL}) z), "
        "nn AS (SELECT count(*) AS n FROM embeddings), "
        "cfg AS (" + " UNION ALL ".join(parts) + "), "
        "ranked AS (SELECT *, row_number() OVER (ORDER BY "
        f"(recall >= {tgt}) DESC, "
        f"CASE WHEN recall >= {tgt} THEN candidate_fraction "
        "ELSE -recall END, "
        f"CASE WHEN recall >= {tgt} THEN 0.0 "
        "ELSE candidate_fraction END, tier, nprobe) AS rn FROM cfg) "
        "SELECT tier, nprobe, recall, candidate_fraction, rn = 1 AS chosen "
        "FROM ranked")


def _ivf_oracle_sql(nprobe: int | None = None) -> str:
    """Recompute IVF-Flat ANN in DuckDB: centroids recomputed from the
    identical bounded training sample (see _ivf_centroids_from_parquet)
    and embedded as literals; cell assignment / probe ranking use the
    same (dot DESC, cell ASC) tie rule as the numpy argmax/stable
    argsort. Correctness runs at sf0.01 (TESTDATA.md); override with
    $SPARK_GRAFT_ORACLE_SF for local checks at another scale."""
    nprobe = _IVF["nprobe"] if nprobe is None else nprobe
    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    cents = _ivf_centroids_from_parquet(sf_dir)
    values = ", ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents))
    cos = _COS_SQL.format(a="cl.v", b="p.qv")
    return (
        "WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings), "
        f"cents(ci, cv) AS (VALUES {values}), "
        "a AS (SELECT c.vec_id, c.v, ci, list_dot_product(c.v, cv) AS d "
        "FROM c CROSS JOIN cents), "
        "cell AS (SELECT vec_id, v, ci AS cell FROM ("
        "SELECT vec_id, v, ci, row_number() OVER ("
        "PARTITION BY vec_id ORDER BY d DESC, ci) AS rn FROM a) WHERE rn = 1), "
        "q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 5), "
        "qa AS (SELECT query_id, qv, ci, list_dot_product(qv, cv) AS d "
        "FROM q CROSS JOIN cents), "
        "probe AS (SELECT query_id, qv, ci AS cell FROM ("
        "SELECT query_id, qv, ci, row_number() OVER ("
        "PARTITION BY query_id ORDER BY d DESC, ci) AS rn FROM qa) "
        f"WHERE rn <= {nprobe}), "
        "s AS (SELECT p.query_id, cl.vec_id, "
        f"{cos} AS cosine "
        "FROM cell cl JOIN probe p ON cl.cell = p.cell "
        "WHERE cl.vec_id <> p.query_id), "
        "r AS (SELECT query_id, vec_id, cosine, CAST(row_number() OVER ("
        "PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) "
        "AS rank FROM s) "
        f"SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= {_IVF['k']}")


def _pq_oracle_sql() -> str:
    """Recompute PQ-ADC top-k in DuckDB: codebooks recomputed from the
    identical bounded sample and embedded as (s, ci, centroid) literals;
    code assignment uses the same (d2 ASC, code ASC) tie rule as Spark's
    array_position-of-min, LUT entries round to 6 decimals on both
    engines so the m-term ADC sum is order-insensitive at 4 decimals."""
    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    books = _pq_codebooks_from_parquet(sf_dir)
    dsub = _PQ["dim"] // _PQ["m"]
    values = ", ".join(
        f"({s}, {ci}, [{', '.join(repr(x) for x in cent)}]::DOUBLE[])"
        for s, book in enumerate(books) for ci, cent in enumerate(book))
    d2 = (f"list_sum(list_transform(range(1, {dsub + 1}), "
          f"j -> ({{v}}[s * {dsub} + j] - cv[j]) * ({{v}}[s * {dsub} + j] - cv[j])))")
    return (
        "WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings), "
        f"cents(s, ci, cv) AS (VALUES {values}), "
        f"sub AS (SELECT vec_id, s, ci, {d2.format(v='c.v')} AS d2 "
        "FROM c CROSS JOIN cents), "
        "codes AS (SELECT vec_id, s, ci AS code FROM ("
        "SELECT vec_id, s, ci, row_number() OVER ("
        "PARTITION BY vec_id, s ORDER BY d2, ci) AS rn FROM sub) WHERE rn = 1), "
        "q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 3), "
        f"lut AS (SELECT query_id, s, ci, round({d2.format(v='qv')}, 6) AS d2 "
        "FROM q CROSS JOIN cents), "
        "a AS (SELECT l.query_id, cd.vec_id, round(sum(l.d2), 4) AS adc "
        "FROM codes cd JOIN lut l ON cd.s = l.s AND cd.code = l.ci "
        "WHERE cd.vec_id <> l.query_id GROUP BY 1, 2), "
        "r AS (SELECT query_id, vec_id, adc, CAST(row_number() OVER ("
        "PARTITION BY query_id ORDER BY adc, vec_id) AS INTEGER) AS rank FROM a) "
        f"SELECT query_id, vec_id, adc, rank FROM r WHERE rank <= {_PQ['k']}")


def _ivfpq_oracle_sql() -> str:
    """Recompute IVF-PQ in DuckDB: the IVF cell/probe layer from
    _ivf_oracle_sql's recipe (same centroid literals) and the PQ
    code/LUT layer from _pq_oracle_sql's (same codebook literals),
    composed — candidates restricted to probed cells, ranked by ADC."""
    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    cents = _ivf_centroids_from_parquet(sf_dir)
    books = _pq_codebooks_from_parquet(sf_dir)
    dsub = _PQ["dim"] // _PQ["m"]
    cvals = ", ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents))
    pvals = ", ".join(
        f"({s}, {ci}, [{', '.join(repr(x) for x in cent)}]::DOUBLE[])"
        for s, book in enumerate(books) for ci, cent in enumerate(book))
    d2 = (f"list_sum(list_transform(range(1, {dsub + 1}), "
          f"j -> ({{v}}[s * {dsub} + j] - pcv[j]) * ({{v}}[s * {dsub} + j] - pcv[j])))")
    return (
        "WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings), "
        f"cents(ci, cv) AS (VALUES {cvals}), "
        "a AS (SELECT c.vec_id, ci, list_dot_product(c.v, cv) AS d "
        "FROM c CROSS JOIN cents), "
        "cell AS (SELECT vec_id, ci AS cell FROM ("
        "SELECT vec_id, ci, row_number() OVER ("
        "PARTITION BY vec_id ORDER BY d DESC, ci) AS rn FROM a) WHERE rn = 1), "
        f"pqc(s, pci, pcv) AS (VALUES {pvals}), "
        f"sub AS (SELECT vec_id, s, pci, {d2.format(v='c.v')} AS d2 "
        "FROM c CROSS JOIN pqc), "
        "codes AS (SELECT vec_id, s, pci AS code FROM ("
        "SELECT vec_id, s, pci, row_number() OVER ("
        "PARTITION BY vec_id, s ORDER BY d2, pci) AS rn FROM sub) WHERE rn = 1), "
        "q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 3), "
        "qa AS (SELECT query_id, ci, list_dot_product(qv, cv) AS d "
        "FROM q CROSS JOIN cents), "
        "probe AS (SELECT query_id, ci AS cell FROM ("
        "SELECT query_id, ci, row_number() OVER ("
        "PARTITION BY query_id ORDER BY d DESC, ci) AS rn FROM qa) "
        f"WHERE rn <= {_IVFPQ_NPROBE}), "
        f"lut AS (SELECT query_id, s, pci, round({d2.format(v='qv')}, 6) AS d2 "
        "FROM q CROSS JOIN pqc), "
        "cand AS (SELECT p.query_id, cl.vec_id "
        "FROM cell cl JOIN probe p ON cl.cell = p.cell "
        "WHERE cl.vec_id <> p.query_id), "
        "adcs AS (SELECT cn.query_id, cn.vec_id, round(sum(l.d2), 4) AS adc "
        "FROM cand cn JOIN codes cd ON cd.vec_id = cn.vec_id "
        "JOIN lut l ON l.query_id = cn.query_id AND l.s = cd.s "
        "AND l.pci = cd.code GROUP BY 1, 2), "
        "r AS (SELECT query_id, vec_id, adc, CAST(row_number() OVER ("
        "PARTITION BY query_id ORDER BY adc, vec_id) AS INTEGER) AS rank "
        "FROM adcs) "
        f"SELECT query_id, vec_id, adc, rank FROM r WHERE rank <= {_PQ['k']}")


def _embedding_near_dup_oracle_sql(dim: int = 64, bits: int | None = None,
                                   threshold: float = 0.35,
                                   seed: int = 42) -> str:
    """Recompute embedding-cosine near-dup pairs in DuckDB with the SAME
    seeded hyperplanes as similarity.embedding_near_duplicates — and the
    SAME auto-scaled bit count, derived from the corpus row count of the
    oracle's sf dir through the identical similarity.auto_bits."""
    if bits is None:
        import duckdb
        sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF",
                                "/root/testdata/sf0.01")
        n = duckdb.connect().execute(
            f"SELECT count(*) FROM '{sf_dir}/embeddings.parquet'"
        ).fetchone()[0]
        bits = similarity.auto_bits(n, 32, floor_bits=4)
    planes = similarity._hyperplanes(dim, bits, seed)
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(v, "
        f"[{', '.join(repr(x) for x in plane)}]) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(planes))
    cos = _COS_SQL.format(a="l.v", b="r.v")
    return (
        "WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings), "
        f"b AS (SELECT vec_id, v, {bucket} AS bucket FROM c), "
        "s AS (SELECT l.vec_id AS id_a, r.vec_id AS id_b, "
        f"{cos} AS cosine "
        "FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id) "
        f"SELECT DISTINCT id_a, id_b, cosine FROM s WHERE cosine >= {threshold}")


def _multimodal_features_oracle_sql() -> str:
    """Recompute the fake-codec image features in DuckDB: payload =
    utf-8 bytes of md5(text) hex; pixels = sha256(payload) digest bytes
    duplicated to 64; features = 8 row means + 6 col means + global mean
    + range — all exact in float64."""
    byte = ("16 * (strpos('0123456789abcdef', substr(dg, {h1}, 1)) - 1) + "
            "(strpos('0123456789abcdef', substr(dg, {h2}, 1)) - 1)")
    feats = []
    def b(k: int) -> str:
        m = k % 32
        return f"bs[{m + 1}]"
    for r in range(8):  # row means
        feats.append("(" + " + ".join(b(8 * r + c) for c in range(8)) + ") / 8.0")
    for c in range(6):  # col means
        feats.append("(" + " + ".join(b(c + 8 * r) for r in range(8)) + ") / 8.0")
    feats.append("list_sum(bs) / 32.0")  # global mean over 64 = mean over 32
    feats.append("CAST(list_max(bs) - list_min(bs) AS DOUBLE)")
    features = "[" + ", ".join(feats) + "]"
    return (
        "WITH d AS (SELECT doc_id, sha256(md5(text)) AS dg FROM documents), "
        "bytes AS (SELECT doc_id, list_transform(range(0, 32), k -> "
        + byte.format(h1="CAST(2 * k + 1 AS INTEGER)",
                      h2="CAST(2 * k + 2 AS INTEGER)")
        + ") AS bs FROM d), "
        f"f AS (SELECT doc_id, {features} AS features FROM bytes) "
        "SELECT doc_id, CAST(k AS INTEGER) AS i, features[CAST(k + 1 AS INTEGER)] AS value "
        "FROM f CROSS JOIN (SELECT unnest(range(0, 16)) AS k)")


def _build_pagerank_oracle(n_iters: int = 10) -> str:
    """Unrolled integer-micro PageRank as one CTE chain: pr0 .. prN
    each apply ``r' = 150000 // nn + (85 * sum(r // d)) // 100`` over
    the >=0.05-probability transition edges. Floor division on
    non-negative integers matches Spark's ``div`` exactly, so the
    whole fixpoint is engine-portable without a recursive CTE (whose
    aggregate-in-recursion support varies)."""
    base = (
        "WITH s AS (SELECT user_id, event_type, lag(event_type) OVER "
        "(PARTITION BY user_id ORDER BY epoch_us(ts), event_id) "
        "AS prev_type FROM events WHERE ts IS NOT NULL), "
        "c AS (SELECT prev_type AS src, event_type AS dst, count(*) "
        "AS n FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2), "
        "e AS (SELECT src, dst FROM (SELECT src, dst, "
        "CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY src) AS p "
        "FROM c) WHERE p >= 0.05 AND src <> dst), "
        "nodes AS (SELECT DISTINCT node FROM "
        "(SELECT src AS node FROM e UNION SELECT dst FROM e)), "
        "tot AS (SELECT count(*) AS nn FROM nodes), "
        "od AS (SELECT src AS node, count(*) AS d FROM e GROUP BY src), "
        "pr0 AS (SELECT node, CAST(1000000 // nn AS BIGINT) AS r "
        "FROM nodes CROSS JOIN tot)")
    steps = []
    for k in range(1, n_iters + 1):
        steps.append(
            f", pr{k} AS (SELECT n.node, CAST(150000 // tot.nn "
            "+ (85 * coalesce(s.c, 0)) // 100 AS BIGINT) AS r "
            "FROM nodes n CROSS JOIN tot LEFT JOIN "
            f"(SELECT e.dst AS node, sum(p.r // od.d) AS c FROM pr{k - 1} p "
            "JOIN od ON od.node = p.node JOIN e ON e.src = p.node "
            "GROUP BY e.dst) s ON s.node = n.node)")
    return (base + "".join(steps)
            + f" SELECT node, r AS rank_micro FROM pr{n_iters}")


_PAGERANK_ORACLE = _build_pagerank_oracle()


def oracle_sql() -> dict[str, str]:
    return {
        "exact_key":
            f"SELECT {_EV_SEL} FROM events WHERE event_id = 4242",
        "batch_point_lookup":
            f"SELECT {_EV_SEL} FROM events "
            "WHERE event_id % 37 = 0 AND event_id <= 7363",
        "range_query":
            f"SELECT {_EV_SEL} FROM events WHERE event_id >= 1000 AND event_id < 2000",
        "multi_region":
            f"SELECT {_EV_SEL} FROM events WHERE (event_id >= 1000 AND event_id < 1500)"
            " OR (event_id >= 8000 AND event_id < 8200)",
        "multidim_region":
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
            "CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority FROM orders "
            "WHERE o_orderkey >= 100 AND o_orderkey < 5000 "
            "AND o_custkey >= 100 AND o_custkey < 800",
        "projection":
            "SELECT event_id, event_type, value FROM events "
            "WHERE event_id >= 0 AND event_id < 3000",
        "ageoff_filter":
            "SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events "
            "WHERE ts IS NOT NULL AND 1706140800000 - epoch_ms(ts) < 1209600000",
        "aggregation_sum_min_max":
            "SELECT user_id, event_type, "
            "round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value, "
            "count(*) AS n_rows, epoch_us(min(ts)) AS min_ts_us "
            "FROM events GROUP BY user_id, event_type",
        "aggregation_map_sum":
            "SELECT user_id, event_type, "
            "round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value "
            "FROM events GROUP BY user_id, event_type",
        "aggregation_map_min_max":
            "SELECT user_id, event_type, min(value) AS min_value, "
            "max(value) AS max_value FROM events GROUP BY user_id, event_type",
        "string_concat_sum":
            "SELECT user_id, string_agg(event_type, '' ORDER BY epoch_us(ts), event_id) "
            "AS type_concat FROM events WHERE user_id < 20 GROUP BY user_id",
        "sleeper_lifecycle":
            "SELECT user_id, event_type, count(*) AS n "
            "FROM events GROUP BY user_id, event_type",
        "value_filter_skipping":
            "SELECT event_id, user_id, event_type FROM events "
            "WHERE user_id >= 40 AND user_id < 70",
        "delete_where":
            "SELECT event_id, user_id, event_type FROM events "
            "WHERE NOT (event_id >= 2000 AND event_id < 2500) "
            "AND NOT (event_type = 'click')",
        "secondary_index":
            "SELECT event_id, user_id, event_type FROM events "
            "WHERE user_id IN (7, 42, 99)",
        # survivors = everything except the exact victim rows; the
        # near-miss copies (same keys, different event_type) survive
        "delete_exact_rows":
            "SELECT event_id, user_id, event_type, value FROM events "
            "WHERE NOT (event_id % 97 = 0) "
            "UNION ALL "
            "SELECT event_id, user_id, 'near_miss' AS event_type, "
            "value FROM events WHERE event_id % 97 = 0",
        # advisor quantiles == integer-ceil rank arithmetic (the
        # winsorize idiom), deduped then re-ranked
        "split_point_advisor":
            "WITH v AS (SELECT l_orderkey AS x FROM lineitem "
            "WHERE l_orderkey IS NOT NULL), "
            "n AS (SELECT count(*) AS n FROM v), "
            "c AS (SELECT x, sum(cnt) OVER (ORDER BY x) AS cum FROM "
            "(SELECT x, count(*) AS cnt FROM v GROUP BY x)), "
            "qs AS (SELECT unnest([0.125, 0.25, 0.375, 0.5, 0.625, "
            "0.75, 0.875]) AS q), "
            "r AS (SELECT q, (SELECT min(x) FROM c, n "
            "WHERE cum >= greatest(1, ceil(q * n.n))) AS pt FROM qs), "
            "d AS (SELECT DISTINCT pt FROM r) "
            "SELECT CAST(row_number() OVER (ORDER BY pt) AS INT) "
            "AS rank, pt AS split_point FROM d",
        # index-nested-loop join == the plain inner join
        "index_lookup_join":
            "WITH p AS (SELECT DISTINCT user_id AS uid FROM events "
            "WHERE event_id < 30) "
            "SELECT p.uid, 'probe' AS tag, e.event_id, e.user_id, "
            "e.event_type FROM p JOIN events e ON e.user_id = p.uid",
        # composite two-column lookups over the post-delete survivors
        "composite_index":
            "SELECT event_id, user_id, event_type FROM events "
            "WHERE event_id >= 1000 AND ("
            "(event_type = 'click' AND user_id = 7) OR "
            "(event_type = 'view' AND user_id = 42) OR "
            "(event_type = 'purchase' AND user_id = 99))",
        # the pre-delete snapshot IS the full dataset
        "time_travel":
            "SELECT event_id, user_id, event_type, value FROM events",
        # the CTAS table must serve the same aggregation back through
        # its key-range read path (min-inclusive, max-exclusive)
        "ctas":
            "SELECT user_id, count(*) AS n_events, "
            "round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) "
            "AS sum_value FROM events WHERE user_id >= 20 AND user_id < 60 "
            "GROUP BY user_id",
        # per-partition metadata counts == per-range raw counts under
        # the fixed [3000, 6000) split points; the root leaf's lower
        # bound is unbounded (NULL min_key)
        "table_manifest":
            "SELECT CASE WHEN event_id < 3000 THEN NULL "
            "WHEN event_id < 6000 THEN '3000' ELSE '6000' END AS min_key, "
            "CAST(count(*) AS BIGINT) AS n_rows FROM events GROUP BY 1",
        # each branch recomputed from the raw data: source = survivors
        # of the deleted range; branch = full data + the shifted ingest
        "table_clone":
            "SELECT 'source' AS branch, event_type, count(*) AS n "
            "FROM events WHERE NOT (event_id >= 2000 AND event_id < 3000) "
            "GROUP BY event_type "
            "UNION ALL "
            "SELECT 'branch' AS branch, event_type, count(*) AS n FROM ("
            "SELECT event_type FROM events "
            "UNION ALL "
            "SELECT event_type FROM events WHERE event_id < 500"
            ") GROUP BY event_type",
        # derived-day bucket recomputed in SQL over survivors
        "functional_index":
            "WITH d0 AS (SELECT min(epoch_us(ts) // 86400000000) AS d "
            "FROM events) "
            "SELECT event_id, user_id, event_type, "
            "epoch_us(ts) AS ts_us FROM events, d0 "
            "WHERE event_id >= 1000 "
            "AND epoch_us(ts) // 86400000000 >= d0.d "
            "AND epoch_us(ts) // 86400000000 < d0.d + 3",
        # the constraint validates, never filters: same rows back
        "check_constraints":
            "SELECT event_id, user_id, event_type, value FROM events "
            "WHERE event_id < 2000",
        # MERGE == target anti-join source keys, union the source
        # CDC replication: net source state after delete + update +
        # merge, which the replica must equal without a re-seed
        "replication_cdc":
            "WITH base AS ("
            "SELECT event_id, user_id, event_type, value FROM events "
            "WHERE NOT (event_id >= 1000 AND event_id < 2000)), "
            "upd AS ("
            "SELECT event_id, user_id, "
            "CASE WHEN event_id >= 4000 AND event_id < 4500 "
            "THEN 'upd' ELSE event_type END AS event_type, value "
            "FROM base), "
            "m AS ("
            "SELECT event_id, user_id, 'merged' AS event_type, "
            "value * 2 AS value FROM events "
            "WHERE event_id >= 2000 AND event_id < 2300 "
            "UNION ALL "
            "SELECT event_id + 30000000, user_id, 'inserted', value "
            "FROM events WHERE event_id < 100) "
            "SELECT u.event_id, u.user_id, u.event_type, u.value, "
            "CAST(NULL AS VARCHAR) AS repl_note "
            "FROM upd u WHERE u.event_id NOT IN "
            "(SELECT event_id FROM m) "
            "UNION ALL SELECT *, CAST(NULL AS VARCHAR) FROM m "
            "UNION ALL "
            "SELECT event_id + 40000000, user_id, 'wide', value, "
            "'n' || CAST(user_id AS VARCHAR) "
            "FROM events WHERE event_id >= 2300 AND event_id < 2400",
        "merge_upsert":
            "WITH src AS ("
            "SELECT event_id, user_id, 'merged' AS event_type, "
            "value * 2 AS value FROM events "
            "WHERE event_id >= 1000 AND event_id < 1500 "
            "UNION ALL "
            "SELECT event_id + 20000000, user_id, 'inserted', value "
            "FROM events WHERE event_id < 200) "
            "SELECT e.event_id, e.user_id, e.event_type, e.value "
            "FROM events e WHERE e.event_id NOT IN "
            "(SELECT event_id FROM src) "
            "UNION ALL SELECT * FROM src",
        # pre-evolution rows NULL-pad the added column; the dropped
        # column vanishes for every row
        "schema_evolution":
            "SELECT event_id, user_id, event_type, "
            "CASE WHEN event_id % 2 = 1 "
            "THEN 'n' || CAST(user_id AS VARCHAR) "
            "ELSE CAST(NULL AS VARCHAR) END AS note "
            "FROM events",
        # conditional MERGE: delete purchases, bump clicks by s.value,
        # leave other matched rows untouched, insert unmatched keys
        "merge_when":
            "WITH src AS ("
            "SELECT event_id, user_id, 'src' AS event_type, "
            "value * 3 AS value FROM events "
            "WHERE event_id >= 1000 AND event_id < 1600 "
            "UNION ALL "
            "SELECT event_id + 25000000, user_id, 'inserted', value "
            "FROM events WHERE event_id < 150) "
            "SELECT e.event_id, e.user_id, e.event_type, e.value "
            "FROM events e WHERE e.event_id NOT IN "
            "(SELECT event_id FROM src) "
            "UNION ALL "
            "SELECT e.event_id, e.user_id, "
            "CASE WHEN e.event_type = 'click' THEN 'cond_upd' "
            "ELSE e.event_type END, "
            "CASE WHEN e.event_type = 'click' THEN e.value + s.value "
            "ELSE e.value END "
            "FROM events e JOIN src s USING (event_id) "
            "WHERE e.event_type <> 'purchase' "
            "UNION ALL "
            "SELECT s.event_id, s.user_id, s.event_type, s.value "
            "FROM src s WHERE s.event_id NOT IN "
            "(SELECT event_id FROM events)",
        # copy-on-write UPDATE == CASE WHEN over the same rows
        "update_where":
            "SELECT event_id, user_id, "
            "CASE WHEN event_id >= 2000 AND event_id < 2500 "
            "THEN 'redacted' ELSE event_type END AS event_type, "
            "CASE WHEN event_id >= 2000 AND event_id < 2500 "
            "THEN NULL ELSE value END AS value FROM events",
        # prefix + BETWEEN over the post-delete survivors
        "composite_index_range":
            "SELECT event_id, user_id, event_type FROM events "
            "WHERE event_id >= 1000 AND ("
            "(event_type = 'click' AND user_id BETWEEN 100 AND 5000) "
            "OR (event_type = 'view' AND user_id >= 0 "
            "AND user_id < 50))",
        "secondary_index_hot":
            "SELECT event_id, user_id, event_type FROM ("
            "SELECT event_id, CASE WHEN event_id % 10 < 8 THEN 7 "
            "ELSE user_id END AS user_id, event_type FROM events) "
            "WHERE user_id = 7",
        "materialized_view":
            "SELECT user_id, event_type, count(*) AS n, "
            "CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) "
            "AS v_cents FROM events GROUP BY user_id, event_type",
        "cokeyed_join":
            "SELECT o_orderkey, o_totalprice, o_orderstatus, "
            "l_quantity, l_extendedprice "
            "FROM orders JOIN lineitem ON l_orderkey = o_orderkey",
        "table_diff":
            "SELECT 'removed' AS change, p_partkey, p_name, p_size, "
            "p_retailprice FROM part "
            "WHERE p_partkey >= 120 AND p_partkey < 180 "
            "UNION ALL "
            "SELECT 'added' AS change, p_partkey, p_name, p_size, "
            "round(p_retailprice + 1000.0, 2) AS p_retailprice FROM part "
            "WHERE p_partkey <= 50",
        "upsert_last_writer":
            "WITH r AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, "
            "value, row_number() OVER (PARTITION BY user_id, event_type "
            "ORDER BY epoch_us(ts) DESC, value DESC) AS rn FROM events) "
            "SELECT user_id, event_type, ts_us, value FROM r WHERE rn = 1",
        # the STREAMED ingest must land on the identical collapsed state
        "streaming_upsert":
            "WITH r AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, "
            "value, row_number() OVER (PARTITION BY user_id, event_type "
            "ORDER BY epoch_us(ts) DESC, value DESC) AS rn FROM events) "
            "SELECT user_id, event_type, ts_us, value FROM r WHERE rn = 1",
        # final table state is batching-independent: each CDC key
        # appears in exactly one micro-batch
        "streaming_merge":
            "WITH cdc AS ("
            "SELECT event_id, user_id, 'merged' AS event_type, "
            "value * 2 AS value FROM events "
            "WHERE event_id >= 1000 AND event_id < 1400 "
            "UNION ALL "
            "SELECT event_id + 20000000, user_id, 'inserted', value "
            "FROM events WHERE event_id < 150 "
            "UNION ALL "
            "SELECT event_id, user_id, 'merged2', value * 3 "
            "FROM events WHERE event_id >= 5000 AND event_id < 5300) "
            "SELECT e.event_id, e.user_id, e.event_type, e.value "
            "FROM events e WHERE e.event_id NOT IN "
            "(SELECT event_id FROM cdc) "
            "UNION ALL SELECT * FROM cdc",
        "bulk_export":
            "SELECT user_id, event_type, count(*) AS n "
            "FROM events GROUP BY user_id, event_type",
        "security_iterator":
            "SELECT event_id, event_type, user_id FROM events "
            "WHERE event_id >= 0 AND event_id < 6000 "
            "AND event_type IN ('click', 'purchase')",
        "sql_stage":
            "SELECT event_type, count(*) AS n, "
            "round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS total "
            "FROM events WHERE event_id < 4000 GROUP BY event_type",
        "tpch_q1":
            "SELECT l_returnflag, l_linestatus, "
            "round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty, "
            "round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price, "
            "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_disc_price, "
            "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_charge, "
            "round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_qty, "
            "round(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_disc, "
            "count(*) AS count_order "
            "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
            "GROUP BY l_returnflag, l_linestatus",
        "join_agg":
            "SELECT n_name, r_name, "
            "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue, "
            "count(*) AS n_items "
            "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "GROUP BY n_name, r_name",
        "tpch_q3":
            "SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority, "
            "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-03-15' "
            "AND l_shipdate > TIMESTAMP '1995-03-15' "
            "GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority "
            "ORDER BY revenue DESC, l_orderkey LIMIT 10",
        "tpch_q5":
            "SELECT n_name, CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) "
            "* (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue "
            "FROM lineitem "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "WHERE r_name = 'ASIA' "
            "AND o_orderdate >= TIMESTAMP '1996-01-01' "
            "AND o_orderdate < TIMESTAMP '1997-01-01' "
            "GROUP BY n_name ORDER BY revenue DESC, n_name",
        "tpch_q4":
            "WITH o AS (SELECT o_orderkey, o_orderdate, o_orderpriority "
            "FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01' "
            "AND o_orderdate < TIMESTAMP '1996-04-01'), "
            "late AS (SELECT DISTINCT o_orderkey FROM lineitem "
            "JOIN o ON l_orderkey = o_orderkey "
            "WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY) "
            "SELECT o_orderpriority, count(*) AS order_count FROM o "
            "WHERE o_orderkey IN (SELECT o_orderkey FROM late) "
            "GROUP BY o_orderpriority ORDER BY o_orderpriority",
        "tpch_q6":
            "SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) "
            "* CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE), 2) AS revenue, "
            "count(*) AS n_items FROM lineitem "
            "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
            "AND l_shipdate < TIMESTAMP '1997-01-01' "
            "AND CAST(l_discount AS DECIMAL(4,2)) BETWEEN "
            "CAST('0.05' AS DECIMAL(4,2)) AND CAST('0.07' AS DECIMAL(4,2)) "
            "AND l_quantity < 24",
        "tpch_q7":
            "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
            "CAST(year(l_shipdate) AS INTEGER) AS l_year, "
            "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) "
            "* (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue "
            "FROM lineitem "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation n1 ON s_nationkey = n1.n_nationkey "
            "JOIN nation n2 ON c_nationkey = n2.n_nationkey "
            "WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') "
            "OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1') "
            "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3",
        "tpch_q10":
            "SELECT c_custkey, c_name, c_acctbal, n_name, "
            "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) "
            "* (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue "
            "FROM lineitem "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "WHERE l_returnflag = 'R' "
            "AND o_orderdate >= TIMESTAMP '1995-10-01' "
            "AND o_orderdate < TIMESTAMP '1996-01-01' "
            "GROUP BY 1, 2, 3, 4 ORDER BY revenue DESC, c_custkey LIMIT 20",
        "tpch_q19":
            "SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) "
            "* (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue, "
            "count(*) AS n_items "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 "
            "AND l_quantity BETWEEN 1 AND 11) "
            "OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 "
            "AND l_quantity BETWEEN 10 AND 20) "
            "OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 "
            "AND l_quantity BETWEEN 20 AND 30)",
        "tpch_q15":
            "WITH rev AS (SELECT l_suppkey, "
            "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) "
            "* (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) "
            "AS total_revenue FROM lineitem "
            "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
            "AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY l_suppkey) "
            "SELECT s_suppkey, s_name, total_revenue "
            "FROM rev JOIN supplier ON l_suppkey = s_suppkey "
            "WHERE total_revenue = (SELECT max(total_revenue) FROM rev) "
            "ORDER BY s_suppkey",
        "tpch_q18":
            "WITH big AS (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey "
            "HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 150), "
            "osum AS (SELECT l_orderkey, "
            "round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2) "
            "AS total_qty FROM lineitem JOIN big USING (l_orderkey) "
            "GROUP BY l_orderkey) "
            "SELECT c_name, c_custkey, l_orderkey, "
            "CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice, total_qty "
            "FROM osum JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "ORDER BY o_totalprice DESC, l_orderkey LIMIT 100",
        "tpch_q2":
            "WITH ps AS (SELECT l_partkey, l_suppkey, "
            "min(CAST(l_extendedprice AS DECIMAL(12,2))) AS cost "
            "FROM lineitem GROUP BY 1, 2), "
            "eu AS (SELECT ps.l_partkey, cost, s_acctbal, s_name, "
            "s_suppkey, n_name FROM ps "
            "JOIN supplier ON ps.l_suppkey = s_suppkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "WHERE r_name = 'EUROPE'), "
            "fe AS (SELECT eu.*, p_partkey, p_name FROM eu "
            "JOIN part ON l_partkey = p_partkey "
            "WHERE p_size <= 15 AND p_type = 'LARGE'), "
            "mn AS (SELECT l_partkey, min(cost) AS mc FROM fe GROUP BY 1) "
            "SELECT s_acctbal, s_name, n_name, p_partkey, p_name, s_suppkey, "
            "round(CAST(cost AS DOUBLE), 2) AS supplycost "
            "FROM fe JOIN mn USING (l_partkey) WHERE cost = mc "
            "ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, s_suppkey "
            "LIMIT 100",
        "tpch_q8":
            "SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, "
            "round(CAST(sum(CASE WHEN n1.n_name = 'NATION_3' THEN "
            "CAST(l_extendedprice AS DECIMAL(12,2)) "
            "* (1 - CAST(l_discount AS DECIMAL(4,2))) "
            "ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) "
            "/ CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) "
            "* (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 6) "
            "AS mkt_share "
            "FROM lineitem "
            "JOIN part ON l_partkey = p_partkey "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation n2 ON c_nationkey = n2.n_nationkey "
            "JOIN region ON n2.n_regionkey = r_regionkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation n1 ON s_nationkey = n1.n_nationkey "
            "WHERE r_name = 'AMERICA' AND p_type = 'PROMO' "
            "AND o_orderdate >= TIMESTAMP '1995-01-01' "
            "AND o_orderdate < TIMESTAMP '1997-01-01' "
            "GROUP BY 1 ORDER BY 1",
        "tpch_q9":
            "SELECT n_name AS nation, "
            "CAST(year(o_orderdate) AS INTEGER) AS o_year, "
            "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) "
            "* (1 - CAST(l_discount AS DECIMAL(4,2))) "
            "- CAST(p_retailprice AS DECIMAL(12,2)) "
            "* CAST(l_quantity AS DECIMAL(12,2)) "
            "* CAST('0.1' AS DECIMAL(2,1))), 2) AS DOUBLE) AS sum_profit "
            "FROM lineitem "
            "JOIN part ON l_partkey = p_partkey "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "WHERE p_name LIKE '%rod%' "
            "GROUP BY 1, 2 ORDER BY nation, o_year DESC",
        "tpch_q11":
            "WITH v AS (SELECT l_partkey, "
            "sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS val "
            "FROM lineitem "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "WHERE n_name = 'NATION_7' GROUP BY 1), "
            "tot AS (SELECT sum(val) AS t FROM v) "
            "SELECT l_partkey AS partkey, "
            "round(CAST(val AS DOUBLE), 2) AS part_value "
            "FROM v, tot WHERE val > t * CAST('0.0005' AS DECIMAL(6,4)) "
            "ORDER BY part_value DESC, partkey",
        "tpch_q12":
            "SELECT l_returnflag, "
            "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
            "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, "
            "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
            "THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "WHERE o_orderdate >= TIMESTAMP '1996-01-01' "
            "AND o_orderdate < TIMESTAMP '1997-01-01' "
            "AND l_shipdate > o_orderdate + INTERVAL 30 DAY "
            "GROUP BY 1 ORDER BY 1",
        "tpch_q13":
            "WITH co AS (SELECT c_custkey, count(o_orderkey) AS c_count "
            "FROM customer LEFT OUTER JOIN orders "
            "ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT' "
            "GROUP BY c_custkey) "
            "SELECT c_count, count(*) AS custdist FROM co "
            "GROUP BY c_count ORDER BY custdist DESC, c_count DESC",
        "tpch_q14":
            "SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN "
            "CAST(l_extendedprice AS DECIMAL(12,2)) "
            "* (1 - CAST(l_discount AS DECIMAL(4,2))) "
            "ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) "
            "/ CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) "
            "* (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 4) "
            "AS promo_revenue, count(*) AS n_items "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE l_shipdate >= TIMESTAMP '1996-03-01' "
            "AND l_shipdate < TIMESTAMP '1996-04-01'",
        "tpch_q16":
            "WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey "
            "FROM lineitem) "
            "SELECT p_brand, p_type, p_size, "
            "count(DISTINCT l_suppkey) AS supplier_cnt "
            "FROM pairs JOIN part ON l_partkey = p_partkey "
            "WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO' "
            "AND l_suppkey NOT IN "
            "(SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) "
            "GROUP BY 1, 2, 3 "
            "ORDER BY supplier_cnt DESC, p_brand, p_type, p_size",
        "tpch_q17":
            "WITH agg AS (SELECT l_partkey AS pk, "
            "sum(CAST(l_quantity AS DECIMAL(12,2))) AS sq, "
            "count(*) AS cnt FROM lineitem GROUP BY 1) "
            "SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) "
            "AS DOUBLE) / 7.0, 2) AS avg_yearly, count(*) AS n_items "
            "FROM lineitem "
            "JOIN part ON l_partkey = p_partkey "
            "JOIN agg ON l_partkey = pk "
            "WHERE p_brand = 'Brand#23' "
            "AND 5 * CAST(l_quantity AS DECIMAL(12,2)) * cnt < sq",
        "tpch_q20":
            "WITH ps AS (SELECT l_partkey, l_suppkey, "
            "sum(CAST(l_quantity AS DECIMAL(12,2))) AS q "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE p_name LIKE 'small%' "
            "AND l_shipdate >= TIMESTAMP '1996-01-01' "
            "AND l_shipdate < TIMESTAMP '1997-01-01' GROUP BY 1, 2), "
            "tot AS (SELECT l_partkey AS pk, sum(q) AS tq FROM ps "
            "GROUP BY 1), "
            "big AS (SELECT DISTINCT l_suppkey FROM ps "
            "JOIN tot ON l_partkey = pk WHERE q * 10 > tq * 3) "
            "SELECT s_suppkey, s_name, n_name FROM supplier "
            "JOIN nation ON s_nationkey = n_nationkey "
            "WHERE n_name = 'NATION_5' "
            "AND s_suppkey IN (SELECT l_suppkey FROM big) "
            "ORDER BY s_name, s_suppkey",
        "tpch_q21":
            "WITH po AS (SELECT l_orderkey, "
            "count(DISTINCT l_suppkey) AS ns, "
            "count(DISTINCT CASE WHEN "
            "l_shipdate > o_orderdate + INTERVAL 60 DAY "
            "THEN l_suppkey END) AS nl, "
            "max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY "
            "THEN l_suppkey END) AS latesk "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "WHERE o_orderstatus = 'F' GROUP BY 1) "
            "SELECT s_suppkey, s_name, count(*) AS numwait FROM po "
            "JOIN supplier ON latesk = s_suppkey "
            "WHERE ns > 1 AND nl = 1 GROUP BY 1, 2 "
            "ORDER BY numwait DESC, s_name, s_suppkey LIMIT 100",
        "tpch_q22":
            "WITH cust AS (SELECT c_custkey, c_acctbal, "
            "CAST(c_nationkey % 10 AS INTEGER) AS cntrycode FROM customer "
            "WHERE c_nationkey % 10 IN (1, 2, 3, 4, 5, 6, 7)), "
            "pos AS (SELECT sum(CAST(c_acctbal AS DECIMAL(12,2))) AS s, "
            "count(*) AS n FROM cust WHERE c_acctbal > 0) "
            "SELECT cntrycode, count(*) AS numcust, "
            "round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) "
            "AS totacctbal "
            "FROM cust, pos "
            "WHERE CAST(c_acctbal AS DECIMAL(12,2)) * n > s "
            "AND c_custkey NOT IN (SELECT o_custkey FROM orders "
            "WHERE o_orderpriority = '1-URGENT') "
            "GROUP BY cntrycode ORDER BY cntrycode",
        "rollup_agg":
            "SELECT l_returnflag, l_linestatus, count(*) AS n, "
            "round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) "
            "AS sum_qty, "
            "CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf, "
            "CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls "
            "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)",
        "window_lag_lead":
            "SELECT event_id, user_id, "
            "round(lag(value, 1) OVER w, 4) AS prev_value, "
            "round(lead(value, 1) OVER w, 4) AS next_value, "
            "ntile(4) OVER w AS quartile, "
            "round(percent_rank() OVER w, 6) AS pct_rank "
            "FROM (SELECT event_id, user_id, epoch_us(ts) AS t, value FROM events) "
            "WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)",
        "window_topn":
            "SELECT o_custkey, o_orderkey, o_totalprice, rn FROM ("
            "SELECT o_custkey, o_orderkey, o_totalprice, "
            "CAST(row_number() OVER (PARTITION BY o_custkey "
            "ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn FROM orders) "
            "WHERE rn <= 3",
        "window_running_sum":
            "SELECT user_id, event_id, epoch_us(ts) AS ts_us, "
            "round(CAST(sum(CAST(value AS DECIMAL(18,4))) OVER ("
            "PARTITION BY user_id ORDER BY epoch_us(ts), event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 4) "
            "AS running_value FROM events WHERE user_id < 50",
        "set_ops":
            "SELECT 'except' AS op, user_id, CAST(NULL AS BIGINT) AS event_id FROM ("
            "SELECT DISTINCT user_id FROM events WHERE event_type = 'click' AND value > 90 "
            "EXCEPT SELECT DISTINCT user_id FROM events "
            "WHERE event_type = 'purchase' AND value > 90) "
            "UNION ALL "
            "SELECT 'intersect' AS op, user_id, CAST(NULL AS BIGINT) AS event_id FROM ("
            "SELECT user_id FROM events WHERE event_type = 'click' "
            "INTERSECT SELECT user_id FROM events WHERE event_type = 'purchase') "
            "UNION ALL "
            "SELECT 'union_c' AS op, user_id, event_id FROM events WHERE event_type = 'click' "
            "UNION ALL "
            "SELECT 'union_p' AS op, user_id, event_id FROM events WHERE event_type = 'purchase'",
        "scalar_functions":
            "SELECT p_partkey, upper(p_name) AS name_upper, "
            "substr(p_type, 1, 6) AS type_prefix, "
            "CAST(length(p_name) AS INTEGER) AS name_len, "
            "p_brand || '|' || p_type AS brand_type, "
            "CAST(p_partkey % 7 AS BIGINT) AS key_mod7, "
            "CAST(floor(p_retailprice) AS BIGINT) AS price_floor, "
            "round(sqrt(p_retailprice), 6) AS price_sqrt, "
            "CAST(abs(p_size - 25) AS INTEGER) AS size_dev "
            "FROM part WHERE p_partkey < 500",
        "date_json_functions":
            "SELECT event_id, CAST(year(ts) AS INTEGER) AS e_year, "
            "CAST(month(ts) AS INTEGER) AS e_month, "
            "CAST(day(ts) AS INTEGER) AS e_day, "
            "CAST(date_trunc('month', ts) AS DATE) AS month_start, "
            "CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INTEGER) "
            "AS days_since_24, "
            "CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_value "
            "FROM events WHERE event_id < 2000",
        "distinct_count":
            "SELECT user_id, count(DISTINCT event_type) AS n_types, "
            "count(*) AS n_events FROM events GROUP BY user_id "
            "HAVING count(*) > 80",
        "topk":
            "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
            "ORDER BY o_totalprice DESC, o_orderkey LIMIT 20",
        "semi_join":
            "SELECT o_orderpriority, count(*) AS n_orders FROM orders "
            "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_discount > 0.09) "
            "GROUP BY o_orderpriority",
        "anti_join":
            "SELECT c_custkey, c_mktsegment FROM customer WHERE NOT EXISTS ("
            "SELECT 1 FROM orders WHERE o_custkey = c_custkey "
            "AND o_orderpriority = '1-URGENT')",
        "minhash_lsh_pairs":
            _GROUND_TRUTH_PAIRS +
            "SELECT id_a, id_b FROM jac WHERE jaccard >= 0.7",
        "incremental_dedup":
            _GROUND_TRUTH_PAIRS +
            "SELECT id_a, id_b FROM jac WHERE jaccard >= 0.7 "
            "AND (id_a % 5 = 0 OR id_b % 5 = 0)",
        "dedup_clusters":
            _GROUND_TRUTH_PAIRS.replace("WITH sh", "WITH RECURSIVE sh")
            .rstrip() + ", "
            "pairs AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.7), "
            "edges AS (SELECT id_a AS a, id_b AS b FROM pairs "
            "UNION SELECT id_b, id_a FROM pairs), "
            "reach(node, r) AS ("
            "SELECT DISTINCT a, a FROM edges "
            "UNION "
            "SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node) "
            "SELECT node AS doc_id, min(r) AS component_id "
            "FROM reach GROUP BY node",
        "near_dup_keep_one":
            _GROUND_TRUTH_PAIRS.replace("WITH sh", "WITH RECURSIVE sh")
            .rstrip() + ", "
            "pairs AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.7), "
            "edges AS (SELECT id_a AS a, id_b AS b FROM pairs "
            "UNION SELECT id_b, id_a FROM pairs), "
            "reach(node, r) AS ("
            "SELECT DISTINCT a, a FROM edges "
            "UNION "
            "SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node), "
            "clusters AS (SELECT node, min(r) AS comp FROM reach GROUP BY node) "
            "SELECT d.doc_id, CAST(length(d.text) AS INTEGER) AS text_len "
            "FROM documents d LEFT JOIN clusters c ON d.doc_id = c.node "
            "WHERE c.node IS NULL OR c.comp = d.doc_id",
        "near_dup_verified":
            _GROUND_TRUTH_PAIRS +
            "SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.7",
        "similarity_join":
            _GROUND_TRUTH_PAIRS +
            "SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.5",
        "simhash_pairs": _simhash_oracle_sql(max_hamming=3),
        "ann_lsh": _ann_lsh_oracle_sql(dim=64, k=10, bits=8, seed=42),
        "ann_lsh_multiprobe": _ann_lsh_multiprobe_oracle_sql(),
        "ann_recall": _ann_recall_oracle_sql(),
        "ann_index_selection": _ann_index_selection_oracle_sql(),
        "table_ann_search": _table_ann_oracle_sql(),
        "hll_sketch": __import__(
            "sleeper_spark.functions.cardinality",
            fromlist=["oracle_sketch_sql"]).oracle_sketch_sql(
                "events", "user_id", p=8),
        "hot_keys": __import__(
            "sleeper_spark.functions.frequency",
            fromlist=["oracle_sharded_top_sql"]).oracle_sharded_top_sql(
                "events", "user_id", k=10, shards=16),
        "bpe_pair_counts":
            f"WITH w AS (SELECT unnest({_TOKS}) AS word FROM documents), "
            "wf AS (SELECT word, count(*) AS freq FROM w GROUP BY word), "
            "p AS (SELECT unnest(list_transform(range(1, length(word)), "
            "i -> substr(word, CAST(i AS INTEGER), 2))) AS pair, freq "
            "FROM wf WHERE length(word) >= 2) "
            "SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM p "
            "GROUP BY pair ORDER BY n DESC, pair LIMIT 50",
        "ivf_topk": _ivf_oracle_sql(),
        "pq_topk": _pq_oracle_sql(),
        "ivf_pq_topk": _ivfpq_oracle_sql(),
        "embedding_near_duplicates": _embedding_near_dup_oracle_sql(),
        "semantic_dedup": _semantic_dedup_oracle_sql(),
        # identical Knuth-multiplicative bucket arithmetic; the bucket
        # count is derived from the oracle's own corpus row count (the
        # same max(16, n // 16) the Spark side computes)
        "negative_sampling":
            "WITH b AS (SELECT greatest(16, count(*) // 16) AS nb "
            "FROM embeddings), "
            "d AS (SELECT vec_id, label, "
            "(((vec_id % 1000003) * 2654435761) >> 16) "
            "% (SELECT nb FROM b) AS bk FROM embeddings), "
            "p AS (SELECT a.vec_id AS anchor_id, n.vec_id AS negative_id, "
            "row_number() OVER (PARTITION BY a.vec_id "
            "ORDER BY n.vec_id) AS rk "
            "FROM d a JOIN d n ON a.bk = n.bk AND a.label <> n.label) "
            "SELECT anchor_id, negative_id, CAST(rk AS INTEGER) AS rank "
            "FROM p WHERE rk <= 3",
        "hard_negative_mining":
            "WITH c AS (SELECT vec_id, label, "
            "CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
            "q AS (SELECT vec_id AS query_id, label AS qlbl, v AS qv "
            "FROM c WHERE vec_id < 20), "
            "s AS (SELECT query_id, vec_id, "
            + _COS_SQL.format(a="c.v", b="q.qv") + " AS cosine "
            "FROM c JOIN q ON c.label <> q.qlbl), "
            "r AS (SELECT query_id, vec_id, cosine, "
            "CAST(row_number() OVER (PARTITION BY query_id "
            "ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank FROM s) "
            "SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 5",
        "multimodal_features": _multimodal_features_oracle_sql(),
        "multimodal_frames":
            "WITH t AS (SELECT doc_id, text, "
            "CAST(ceil(length(text) / 32.0) AS BIGINT) AS nch "
            "FROM documents WHERE doc_id < 100), "
            "j AS (SELECT doc_id, text, unnest(range(0, nch)) AS jj FROM t) "
            "SELECT doc_id, CAST(jj AS INTEGER) AS frame_index, "
            "substr(text, CAST(jj * 32 + 1 AS INTEGER), 32) AS frame_text "
            "FROM j WHERE jj % 2 = 0",
        "correlated_subquery":
            "SELECT p_partkey, p_brand FROM part p WHERE p_retailprice > "
            "(SELECT avg(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand)",
        "exists_subquery":
            "SELECT o_orderstatus, count(*) AS n FROM orders WHERE EXISTS ("
            "SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 49) "
            "GROUP BY o_orderstatus",
        "conditional_agg":
            "SELECT round(100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%' THEN "
            "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) "
            "ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) / "
            "CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 4) "
            "AS promo_share FROM lineitem JOIN part ON l_partkey = p_partkey",
        "pivot":
            "SELECT user_id, "
            "round(CAST(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE), 4) AS click, "
            "round(CAST(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE), 4) AS view, "
            "round(CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE), 4) AS purchase, "
            "round(CAST(sum(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE), 4) AS signup, "
            "round(CAST(sum(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE), 4) AS error "
            "FROM events GROUP BY user_id",
        "grouping_sets":
            "SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders, "
            "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_price "
            "FROM orders GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), "
            "(o_orderstatus), (o_orderpriority), ())",
        "tumbling_window":
            "SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS n_events, "
            "round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value "
            "FROM events GROUP BY date_trunc('day', ts)",
        # window explosion replayed as a 4-offset cross join over the
        # same floor-to-hop arithmetic F.window(slide) uses: starts at
        # floor(t/hop)-o for o in 0..3, all within (t - size, t]
        "hopping_window":
            "WITH e AS (SELECT epoch_us(ts) AS tus, value FROM events "
            "WHERE ts IS NOT NULL), "
            "w AS (SELECT ((tus // 900000000) - o) * 900000000 AS ws_us, "
            "value FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS o)) "
            "SELECT ws_us, count(*) AS n_events, "
            "round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) "
            "AS sum_value FROM w GROUP BY ws_us",
        "cube_agg":
            "SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders, "
            "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) "
            "AS DOUBLE), 2) AS total_price FROM orders "
            "GROUP BY CUBE (o_orderstatus, o_orderpriority)",
        "source_lang_entropy":
            "WITH c AS (SELECT source, lang, count(*) AS n FROM documents "
            "GROUP BY source, lang), "
            "p AS (SELECT source, n, CAST(n AS DOUBLE) / "
            "sum(n) OVER (PARTITION BY source) AS p FROM c) "
            "SELECT source, round(-sum(p * log2(p)), 4) "
            "AS lang_entropy_bits, "
            "CAST(sum(n) AS BIGINT) AS n_docs FROM p GROUP BY source",
        "path_mining":
            "WITH s AS (SELECT user_id, event_type AS step1, "
            "lead(event_type, 1) OVER w AS step2, "
            "lead(event_type, 2) OVER w AS step3 FROM events "
            "WHERE ts IS NOT NULL "
            "WINDOW w AS (PARTITION BY user_id "
            "ORDER BY epoch_us(ts), event_id)), "
            "c AS (SELECT step1, step2, step3, count(*) AS n FROM s "
            "WHERE step3 IS NOT NULL GROUP BY step1, step2, step3) "
            "SELECT step1, step2, step3, n, CAST(row_number() OVER "
            "(ORDER BY n DESC, step1, step2, step3) AS INTEGER) AS rank "
            "FROM c QUALIFY rank <= 20",
        # cumulative distinct == running sum of first-seen counts; the
        # BIGINT running sum is cast before the window so DuckDB's
        # HUGEINT never reaches the driver hash
        "cumulative_distinct_users":
            "WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS first_day "
            "FROM events WHERE ts IS NOT NULL GROUP BY user_id), "
            "c AS (SELECT first_day, count(*) AS new_users FROM f "
            "GROUP BY first_day) "
            "SELECT first_day AS day, new_users, "
            "CAST(sum(new_users) OVER (ORDER BY first_day "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
            "AS cum_distinct_users FROM c",
        "event_transitions":
            "WITH s AS (SELECT user_id, event_type, lag(event_type) "
            "OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) "
            "AS prev_type FROM events WHERE ts IS NOT NULL), "
            "c AS (SELECT prev_type, event_type AS next_type, count(*) "
            "AS n FROM s WHERE prev_type IS NOT NULL "
            "GROUP BY prev_type, event_type) "
            "SELECT prev_type, next_type, n, "
            "round(CAST(n AS DOUBLE) / sum(n) OVER "
            "(PARTITION BY prev_type), 4) AS prob FROM c",
        "stats_agg":
            "SELECT event_type, round(avg(value), 4) AS avg_value, "
            "round(stddev_samp(value), 4) AS sd_value, "
            "round(var_samp(value), 4) AS var_value FROM events GROUP BY event_type",
        "dedup_exact_groups":
            "SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, "
            "count(*) AS n_copies FROM documents GROUP BY md5(text)",
        "dedup_exact_keep":
            "SELECT doc_id FROM documents WHERE doc_id IN ("
            "SELECT min(doc_id) FROM documents GROUP BY md5(text))",
        "text_quality":
            "SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars_computed, "
            f"CAST(len({_TOKS}) AS INTEGER) AS n_tokens, "
            f"CASE WHEN len({_TOKS}) > 0 THEN "
            f"round(CAST(coalesce(list_sum(list_transform({_TOKS}, t -> length(t))), 0) AS DOUBLE)"
            f" / len({_TOKS}), 4) ELSE 0.0 END AS mean_token_len, "
            "round(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)"
            " / greatest(length(text), 1), 4) AS punct_ratio, "
            f"CAST(len(list_intersect({_TOKS}, "
            "['the','and','of','to','in','is','that','for','with','as'])) AS INTEGER) "
            "AS distinct_stopwords FROM documents",
        "language_id":
            "WITH s AS (SELECT doc_id, "
            f"len(list_filter({_TOKS}, t -> t IN ('the','and','of','to','in','is','that','for','with','as'))) AS s_en, "
            f"len(list_filter({_TOKS}, t -> t IN ('el','la','de','que','y','en','un','por','con','los'))) AS s_es, "
            f"len(list_filter({_TOKS}, t -> t IN ('le','la','de','et','un','que','pour','dans','est','les'))) AS s_fr, "
            f"len(list_filter({_TOKS}, t -> t IN ('der','die','das','und','ist','von','mit','ein','für','auf'))) AS s_de "
            "FROM documents) "
            "SELECT doc_id, CASE WHEN greatest(s_en, s_es, s_fr, s_de) = 0 THEN 'und' "
            "WHEN s_en = greatest(s_en, s_es, s_fr, s_de) THEN 'en' "
            "WHEN s_es = greatest(s_en, s_es, s_fr, s_de) THEN 'es' "
            "WHEN s_fr = greatest(s_en, s_es, s_fr, s_de) THEN 'fr' "
            "ELSE 'de' END AS predicted_lang FROM s",
        "token_counts":
            f"SELECT doc_id, CAST(len({_TOKS}) AS INTEGER) AS n_tokens, "
            "CAST(CASE WHEN trim(text) = '' THEN 0 ELSE "
            "len(string_split_regex(trim(text), '\\s+')) END AS INTEGER) "
            "AS n_ws_tokens FROM documents",
        "fingerprint":
            "SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) "
            "AS fp FROM documents",
        # the sampling oracles run the SAME congruential bucket formula
        # ((id % 1000003) * 31 + 7) — portable arithmetic, so the exact
        # row sets must match, not just the counts
        "sample_fraction":
            "SELECT doc_id, lang, source FROM documents "
            "WHERE ((doc_id % 1000003) * 31 + 7) % 100 < 7",
        "sample_stratified":
            "SELECT lang, source, doc_id FROM ("
            "SELECT lang, source, doc_id, row_number() OVER ("
            "PARTITION BY lang, source "
            "ORDER BY ((doc_id % 1000003) * 31 + 7) % 1000003, doc_id) AS rk "
            "FROM documents) WHERE rk <= 5",
        "sample_reservoir":
            "SELECT doc_id, lang FROM documents "
            "ORDER BY ((doc_id % 1000003) * 31 + 7) % 1000003, doc_id "
            "LIMIT 100",
        # per-group reservoir: identical md5-of-decimal-string scramble
        # in both engines -> the exact same 3 rows per language
        "grouped_reservoir":
            "SELECT lang, doc_id, rk FROM ("
            "SELECT lang, doc_id, CAST(row_number() OVER ("
            "PARTITION BY lang "
            "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) "
            "AS rk FROM documents) t WHERE rk <= 3",
        # per-group quartile fences via the PARTITIONED rank idiom, then
        # bucket = count of own-group fences <= x; NULL x buckets NULL
        "grouped_equidepth":
            "WITH v AS (SELECT event_type, value AS x FROM events), "
            "c AS (SELECT event_type, x, "
            "sum(cnt) OVER (PARTITION BY event_type ORDER BY x) AS cum, "
            "sum(cnt) OVER (PARTITION BY event_type) AS n FROM "
            "(SELECT event_type, x, count(*) AS cnt FROM v "
            "WHERE x IS NOT NULL GROUP BY 1, 2)), "
            "f AS (SELECT event_type, "
            "min(CASE WHEN cum >= greatest(1, ceil(0.25 * n)) THEN x END) "
            "AS f1, "
            "min(CASE WHEN cum >= greatest(1, ceil(0.5 * n)) THEN x END) "
            "AS f2, "
            "min(CASE WHEN cum >= greatest(1, ceil(0.75 * n)) THEN x END) "
            "AS f3 FROM c GROUP BY event_type), "
            "b AS (SELECT v.event_type, CASE WHEN v.x IS NULL THEN NULL "
            "ELSE CAST(v.x >= f.f1 AS INTEGER) "
            "+ CAST(v.x >= f.f2 AS INTEGER) "
            "+ CAST(v.x >= f.f3 AS INTEGER) END AS bucket, v.x AS x "
            "FROM v LEFT JOIN f ON v.event_type = f.event_type) "
            "SELECT event_type, CAST(bucket AS INTEGER) AS bucket, "
            "count(*) AS n, "
            "CAST(sum(CAST(floor(x * 1000000.0) AS BIGINT)) AS BIGINT) "
            "AS sum_value_micros FROM b GROUP BY 1, 2",
        # exact per-group split: same md5 rank scramble, fences at
        # floor(0.75*n)/floor(0.875*n) (exact binary fractions ->
        # identical float64 products in both engines)
        "grouped_split":
            "WITH r AS (SELECT lang, doc_id, "
            "CAST(row_number() OVER (PARTITION BY lang "
            "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) "
            "AS rk, count(*) OVER (PARTITION BY lang) AS n "
            "FROM documents), "
            "a AS (SELECT lang, doc_id, CASE "
            "WHEN rk <= floor(0.75 * n) THEN 'train' "
            "WHEN rk <= floor(0.875 * n) THEN 'val' "
            "ELSE 'test' END AS split FROM r) "
            "SELECT lang, split, count(*) AS n, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids "
            "FROM a GROUP BY 1, 2",
        # round-robin interleave: pos = (rank_in_source - 1) * D + idx,
        # idx = position of the source in its sorted distinct list
        "interleave_domains":
            "WITH d AS (SELECT source AS s, CAST(row_number() OVER "
            "(ORDER BY source) AS BIGINT) - 1 AS idx FROM "
            "(SELECT DISTINCT source FROM documents)), "
            "nd AS (SELECT count(*) AS dn FROM d), "
            "r AS (SELECT doc_id, source, "
            "CAST(row_number() OVER (PARTITION BY source "
            "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) "
            "AS rk FROM documents) "
            "SELECT doc_id, source, "
            "CAST((rk - 1) * dn + idx AS BIGINT) AS pos "
            "FROM r JOIN d ON r.source = d.s CROSS JOIN nd",
        # trailing RANGE windows over epoch micros; inner window sums of
        # per-item floored micros (integer, order-independent), outer
        # sums cast from HUGEINT
        "rolling_features":
            "WITH e AS (SELECT event_id, user_id, event_type, value, "
            "epoch_us(ts) AS t FROM events), "
            "w AS (SELECT event_type, "
            "count(*) OVER (PARTITION BY user_id ORDER BY t "
            "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS n1h, "
            "count(*) OVER (PARTITION BY user_id ORDER BY t "
            "RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW) AS n1d, "
            "CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) OVER "
            "(PARTITION BY user_id ORDER BY t "
            "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) "
            "AS BIGINT) AS s1h, "
            "CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) OVER "
            "(PARTITION BY user_id ORDER BY t "
            "RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW) "
            "AS BIGINT) AS s1d FROM e) "
            "SELECT event_type, count(*) AS n, "
            "CAST(sum(n1h) AS BIGINT) AS sum_n_1h, "
            "CAST(sum(n1d) AS BIGINT) AS sum_n_1d, "
            "CAST(sum(s1h) AS BIGINT) AS sum_v_1h_micros, "
            "CAST(sum(s1d) AS BIGINT) AS sum_v_1d_micros "
            "FROM w GROUP BY event_type",
        # dense daily spine per user + LOCF carry-forward; n_rows=0
        # marks a filled gap
        "gap_fill":
            "WITH b AS (SELECT user_id, "
            "(epoch_us(ts) // 86400000000) * 86400000000 AS bucket_ts, "
            "max(value) AS v, count(*) AS n "
            "FROM events GROUP BY 1, 2), "
            "span AS (SELECT user_id, min(bucket_ts) AS mn, "
            "max(bucket_ts) AS mx FROM b GROUP BY 1), "
            "spine AS (SELECT user_id, "
            "unnest(generate_series(mn, mx, 86400000000)) AS bucket_ts "
            "FROM span), "
            "j AS (SELECT s.user_id, s.bucket_ts, b.v, b.n "
            "FROM spine s LEFT JOIN b USING (user_id, bucket_ts)) "
            "SELECT user_id, bucket_ts, "
            "CAST(last_value(v IGNORE NULLS) OVER ("
            "PARTITION BY user_id ORDER BY bucket_ts "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
            "AS DOUBLE) AS value, "
            "CAST(coalesce(n, 0) AS BIGINT) AS n_rows FROM j",
        # per-doc DISTINCT trigrams -> doc frequency -> per-lang top-3,
        # ties by gram string (deterministic in both engines)
        "boilerplate_ngrams":
            f"WITH t AS (SELECT lang, doc_id, {_TOKS} AS tk "
            "FROM documents), "
            "g AS (SELECT lang, doc_id, unnest(list_distinct("
            "list_transform(range(1, greatest(len(tk) - 1, 1)), "
            "i -> array_to_string(tk[i:i+2], ' ')))) AS ngram FROM t), "
            "c AS (SELECT lang, ngram, count(*) AS df FROM g "
            "GROUP BY 1, 2 HAVING count(*) >= 3), "
            "r AS (SELECT lang, ngram, CAST(df AS BIGINT) AS df, "
            "CAST(row_number() OVER (PARTITION BY lang "
            "ORDER BY df DESC, ngram) AS INTEGER) AS rank FROM c) "
            "SELECT lang, ngram, df, rank FROM r WHERE rank <= 3",
        # empirical CDF: cume_dist over the non-null rows per group is
        # exactly cum/n; NULL values get NULL (counted separately)
        "grouped_cdf":
            "WITH v AS (SELECT event_type AS g, value AS x FROM events), "
            "nn AS (SELECT g, cume_dist() OVER (PARTITION BY g "
            "ORDER BY x) AS cdf FROM v WHERE x IS NOT NULL), "
            "agg AS (SELECT g, count(*) AS n_nonnull, "
            "CAST(sum(CAST(floor(cdf * 1000000.0) AS BIGINT)) AS BIGINT) "
            "AS s FROM nn GROUP BY g), "
            "tot AS (SELECT g, count(*) AS n, "
            "CAST(sum(CASE WHEN x IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_null FROM v GROUP BY g) "
            "SELECT tot.g AS event_type, tot.n AS n, "
            "tot.n_null AS n_null_cdf, agg.s AS sum_cdf_micros "
            "FROM tot LEFT JOIN agg ON tot.g = agg.g",
        "table_profile": " UNION ALL ".join(
            f"SELECT '{c}' AS \"column\", count(*) AS n, "
            f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) "
            f"AS BIGINT) AS n_null, "
            f"CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct "
            "FROM lineitem"
            for c in ["l_orderkey", "l_partkey", "l_suppkey",
                      "l_linenumber", "l_quantity", "l_extendedprice",
                      "l_discount", "l_tax", "l_returnflag",
                      "l_linestatus", "l_shipdate"]),
        # JVM-side JSON path extraction; TRY_CAST mirrors Spark's
        # NULL-on-bad-cast; // is floor division on BIGINT like div
        "props_extract":
            "WITH k AS (SELECT TRY_CAST(json_extract_string(props, "
            "'$.k') AS BIGINT) AS k FROM events) "
            "SELECT CASE WHEN k IS NULL THEN NULL ELSE k // 10 END "
            "AS bucket, count(*) AS n, "
            "CAST(sum(k) AS BIGINT) AS sum_k, "
            "min(k) AS min_k, max(k) AS max_k "
            "FROM k GROUP BY 1",
        # shared Java-regex/RE2 subset; DuckDB counts via
        # regexp_extract_all (left-to-right non-overlapping, same as
        # Spark's regexp_count)
        "pii_scan":
            "WITH c AS (SELECT c_mktsegment, "
            f"{_PII_CONTACT} AS t FROM customer), "
            "k AS (SELECT c_mktsegment, "
            "len(regexp_extract_all(t, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS ne, "
            "len(regexp_extract_all(t, "
            "'\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b')) AS ni, "
            "len(regexp_extract_all(t, "
            "'\\b\\d{2,3}[-. ]\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b')) AS np "
            "FROM c) "
            "SELECT c_mktsegment, count(*) AS n_rows, "
            "CAST(sum(ne) AS BIGINT) AS n_email, "
            "CAST(sum(ni) AS BIGINT) AS n_ipv4, "
            "CAST(sum(np) AS BIGINT) AS n_phone, "
            "CAST(sum(CASE WHEN ne + ni + np > 0 THEN 1 ELSE 0 END) "
            "AS BIGINT) AS n_affected FROM k GROUP BY c_mktsegment",
        # masks applied in the same fixed order (email, ipv4, phone);
        # 'g' = replace all, matching Spark regexp_replace
        "pii_redact":
            "SELECT c_custkey, regexp_replace(regexp_replace("
            f"regexp_replace({_PII_CONTACT}, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', "
            "'[EMAIL]', 'g'), "
            "'\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '[IPV4]', 'g'), "
            "'\\b\\d{2,3}[-. ]\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b', "
            "'[PHONE]', 'g') AS redacted FROM customer",
        # exact heavy hitters: count * k > n, k = 40
        "heavy_hitters":
            "WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok "
            "FROM documents), "
            "v AS (SELECT tok FROM t WHERE tok IS NOT NULL AND tok <> ''), "
            "n AS (SELECT count(*) AS n FROM v) "
            "SELECT tok, count(*) AS n_rows FROM v, n "
            "GROUP BY tok, n.n HAVING count(*) * 40 > n.n",
        # robust scaling: exact per-type median/MAD (rank idiom), then
        # (x - med) / mad floored to micros; NULL x and zero-MAD scale
        # NULL. Row count n spans ALL rows (NULLs included)
        "robust_scale":
            "WITH v AS (SELECT event_type AS g, value AS x FROM events), "
            "nn AS (SELECT g, x FROM v WHERE x IS NOT NULL), "
            "c AS (SELECT g, x, sum(cnt) OVER (PARTITION BY g ORDER BY x) "
            "AS cum, sum(cnt) OVER (PARTITION BY g) AS n FROM "
            "(SELECT g, x, count(*) AS cnt FROM nn GROUP BY 1, 2)), "
            "med AS (SELECT g, min(CASE WHEN cum >= greatest(1, "
            "ceil(0.5 * n)) THEN x END) AS m FROM c GROUP BY g), "
            "d AS (SELECT nn.g, abs(x - m) AS dx FROM nn JOIN med USING (g)), "
            "c2 AS (SELECT g, dx, sum(cnt) OVER (PARTITION BY g ORDER BY dx) "
            "AS cum, sum(cnt) OVER (PARTITION BY g) AS n FROM "
            "(SELECT g, dx, count(*) AS cnt FROM d GROUP BY 1, 2)), "
            "mad AS (SELECT g, min(CASE WHEN cum >= greatest(1, "
            "ceil(0.5 * n)) THEN dx END) AS mad FROM c2 GROUP BY g), "
            "s AS (SELECT v.g, CASE WHEN v.x IS NULL OR m IS NULL "
            "OR mad = 0.0 THEN NULL ELSE (v.x - m) / mad END AS sc "
            "FROM v LEFT JOIN med USING (g) LEFT JOIN mad USING (g)) "
            "SELECT g AS event_type, count(*) AS n, "
            "CAST(sum(CASE WHEN sc IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_null, "
            "CAST(sum(CAST(floor(sc * 1000000.0) AS BIGINT)) AS BIGINT) "
            "AS sum_scaled_micros FROM s GROUP BY g",
        "pack_token_budget":
            "SELECT doc_id, source, n_tokens, "
            "CAST((cum - n_tokens) // 2000 AS BIGINT) AS shard_id "
            "FROM (SELECT doc_id, source, "
            f"CAST(len({_TOKS}) AS BIGINT) AS n_tokens, "
            f"sum(CAST(len({_TOKS}) AS BIGINT)) OVER ("
            "PARTITION BY source ORDER BY doc_id) AS cum FROM documents)",
        "asof_join":
            "WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us "
            "FROM events WHERE event_type = 'click'), "
            "p AS (SELECT user_id, epoch_us(ts) AS ts_us, "
            "round(max(value), 4) AS last_purchase_value "
            "FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) "
            "SELECT c.event_id, c.user_id, p.last_purchase_value "
            "FROM c ASOF LEFT JOIN p "
            "ON c.user_id = p.user_id AND p.ts_us <= c.ts_us",
        "sessionize":
            "WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t "
            "FROM events), "
            "s AS (SELECT event_id, user_id, t, CASE WHEN lag(t) OVER w "
            "IS NULL OR t - lag(t) OVER w > 1800000000 THEN 1 ELSE 0 END "
            "AS st FROM e WINDOW w AS "
            "(PARTITION BY user_id ORDER BY t, event_id)) "
            "SELECT event_id, user_id, CAST(sum(st) OVER ("
            "PARTITION BY user_id ORDER BY t, event_id "
            "ROWS UNBOUNDED PRECEDING) - 1 "
            "AS BIGINT) AS session_id FROM s",
        "range_join":
            "WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us "
            "FROM events WHERE event_type = 'click'), "
            "p AS (SELECT DISTINCT user_id, epoch_us(ts) AS w_start, "
            "epoch_us(ts) + 3600000000 AS w_end "
            "FROM events WHERE event_type = 'purchase') "
            "SELECT c.event_id, c.user_id, p.w_start FROM c JOIN p "
            "ON c.user_id = p.user_id "
            "AND c.ts_us >= p.w_start AND c.ts_us < p.w_end",
        "rolling_window":
            "SELECT event_id, user_id, "
            "round(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE), 2) "
            "AS hour_sum, "
            "count(*) OVER w AS hour_n "
            "FROM (SELECT event_id, user_id, epoch_us(ts) AS t, value "
            "FROM events) "
            "WINDOW w AS (PARTITION BY user_id ORDER BY t "
            "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)",
        "ngram_jaccard":
            "WITH sh AS (SELECT doc_id, CASE WHEN "
            f"len({_TOKS}) >= 3 THEN list_distinct(list_transform("
            f"range(1, len({_TOKS}) - 1), i -> array_to_string(({_TOKS})[i:i+2], ' '))) "
            "ELSE CAST([] AS VARCHAR[]) END AS s FROM documents) "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "round(CASE WHEN len(list_distinct(list_concat(a.s, b.s))) > 0 THEN "
            "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / "
            "len(list_distinct(list_concat(a.s, b.s))) ELSE 0.0 END, 4) AS jaccard "
            "FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1",
        "embedding_norms":
            "SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim, "
            "round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))), 4) "
            "AS l2_norm FROM embeddings",
        "streaming_window":
            "SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS n_events "
            "FROM events GROUP BY date_trunc('day', ts)",
        # the availableNow hopping stream must converge to the batch
        # hopping aggregation — same 4-offset window explosion
        "streaming_hopping_window":
            "WITH e AS (SELECT epoch_us(ts) AS tus, value FROM events "
            "WHERE ts IS NOT NULL), "
            "w AS (SELECT ((tus // 900000000) - o) * 900000000 AS ws_us, "
            "value FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS o)) "
            "SELECT ws_us, count(*) AS n_events, "
            "round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) "
            "AS sum_value FROM w GROUP BY ws_us",
        # the streaming funnel must converge to the BATCH funnel's
        # counts on the same data — the oracle IS the batch chain
        "streaming_funnel":
            "WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t "
            "FROM events WHERE ts IS NOT NULL), "
            "s0 AS (SELECT user_id, min(t) AS t FROM e "
            "WHERE event_type = 'view' GROUP BY 1), "
            "s1 AS (SELECT e.user_id, min(e.t) AS t FROM e "
            "JOIN s0 USING (user_id) "
            "WHERE e.event_type = 'click' AND e.t > s0.t GROUP BY 1), "
            "s2 AS (SELECT e.user_id, min(e.t) AS t FROM e "
            "JOIN s1 USING (user_id) "
            "WHERE e.event_type = 'purchase' AND e.t > s1.t GROUP BY 1) "
            "SELECT 'view' AS step, CAST(0 AS INTEGER) AS step_index, "
            "(SELECT count(*) FROM s0) AS n_users "
            "UNION ALL SELECT 'click', CAST(1 AS INTEGER), "
            "(SELECT count(*) FROM s1) "
            "UNION ALL SELECT 'purchase', CAST(2 AS INTEGER), "
            "(SELECT count(*) FROM s2)",
        # streaming MG candidates + exact recount == the plain batch
        # threshold query (same cut as heavy_hitters, k = 40)
        "streaming_heavy_hitters":
            "WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok "
            "FROM documents), "
            "v AS (SELECT tok FROM t WHERE tok IS NOT NULL AND tok <> ''), "
            "n AS (SELECT count(*) AS n FROM v) "
            "SELECT tok, count(*) AS n_rows FROM v, n "
            "GROUP BY tok, n.n HAVING count(*) * 40 > n.n",
        # batch gaps-and-islands over DISTINCT (user, ts) micros; the
        # streaming re-derivation must converge to exactly this
        "streaming_sessionize":
            "WITH e AS (SELECT DISTINCT user_id, epoch_us(ts) AS t "
            "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL), "
            "g AS (SELECT user_id, t, CASE WHEN t - lag(t) OVER "
            "(PARTITION BY user_id ORDER BY t) > 1800000000 "
            "OR lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL "
            "THEN 1 ELSE 0 END AS st FROM e), "
            "s AS (SELECT user_id, t, sum(st) OVER (PARTITION BY user_id "
            "ORDER BY t ROWS UNBOUNDED PRECEDING) AS sid FROM g), "
            "per AS (SELECT user_id, sid, count(*) AS n FROM s "
            "GROUP BY 1, 2), "
            "spans AS (SELECT user_id, max(t) - min(t) AS span_micros "
            "FROM s GROUP BY user_id) "
            "SELECT per.user_id, "
            "CAST(count(*) AS BIGINT) AS n_sessions, "
            "CAST(max(spans.span_micros) AS BIGINT) AS span_micros, "
            "CAST(max(per.n) AS BIGINT) AS max_session_len "
            "FROM per JOIN spans ON per.user_id = spans.user_id "
            "GROUP BY per.user_id",
        "streaming_running_totals":
            "SELECT user_id, count(*) AS n_total, "
            "round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 4) AS value_total "
            "FROM events GROUP BY user_id",
        "streaming_interval_join":
            "SELECT v.event_id AS view_id, c.event_id AS click_id, "
            "v.user_id, epoch_us(c.ts) - epoch_us(v.ts) AS lag_us "
            "FROM events v JOIN events c ON v.user_id = c.user_id "
            "AND v.event_type = 'view' AND c.event_type = 'click' "
            "AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR",
        "streaming_approx_distinct":
            "WITH h AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, "
            "md5(CAST(user_id AS VARCHAR)) AS hx FROM events "
            "WHERE user_id IS NOT NULL), "
            "parts AS (SELECT day, "
            "CAST(CAST('0x' || substr(hx, 1, 4) AS INTEGER) % 256 AS INTEGER) "
            "AS register, "
            "length(regexp_extract(substr(hx, 5, 13), '^0*')) AS zeros, "
            "substr(substr(hx, 5, 13), "
            "length(regexp_extract(substr(hx, 5, 13), '^0*')) + 1, 1) AS d "
            "FROM h) "
            "SELECT day, register, CAST(max(CASE WHEN zeros = 13 THEN 53 "
            "ELSE zeros * 4 + (CASE WHEN d IN "
            "('8','9','a','b','c','d','e','f') THEN 0 "
            "WHEN d IN ('4','5','6','7') THEN 1 "
            "WHEN d IN ('2','3') THEN 2 ELSE 3 END) + 1 END) AS INTEGER) "
            "AS rho_max FROM parts GROUP BY day, register",
        "ann_brute_force": _ANN_BF_SQL,
        # pre-filtered search: the BF cosine with the label equi-join
        "ann_filtered":
            "WITH q AS (SELECT vec_id AS query_id, label, "
            "CAST(embedding AS DOUBLE[]) AS qv "
            "FROM embeddings WHERE vec_id < 5), "
            "c AS (SELECT vec_id, label, "
            "CAST(embedding AS DOUBLE[]) AS cv FROM embeddings), "
            "s AS (SELECT query_id, vec_id, "
            "round(list_dot_product(cv, qv) / "
            "(sqrt(list_sum(list_transform(cv, x -> x * x))) "
            "* sqrt(list_sum(list_transform(qv, x -> x * x)))), 6) "
            "AS cosine FROM c JOIN q USING (label) "
            "WHERE vec_id <> query_id), "
            "r AS (SELECT query_id, vec_id, cosine, "
            "CAST(row_number() OVER (PARTITION BY query_id "
            "ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank FROM s) "
            "SELECT query_id, vec_id, cosine, rank FROM r "
            "WHERE rank <= 10",
        # same math THROUGH the (label, vec_id)-keyed table: the
        # file-pruned scan must not change a single result row
        "table_ann_filtered":
            "WITH q AS (SELECT vec_id AS query_id, label, "
            "CAST(embedding AS DOUBLE[]) AS qv "
            "FROM embeddings WHERE vec_id < 5), "
            "c AS (SELECT vec_id, label, "
            "CAST(embedding AS DOUBLE[]) AS cv FROM embeddings), "
            "s AS (SELECT query_id, vec_id, "
            "round(list_dot_product(cv, qv) / "
            "(sqrt(list_sum(list_transform(cv, x -> x * x))) "
            "* sqrt(list_sum(list_transform(qv, x -> x * x)))), 6) "
            "AS cosine FROM c JOIN q USING (label) "
            "WHERE vec_id <> query_id), "
            "r AS (SELECT query_id, vec_id, cosine, "
            "CAST(row_number() OVER (PARTITION BY query_id "
            "ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank FROM s) "
            "SELECT query_id, vec_id, cosine, rank FROM r "
            "WHERE rank <= 10",
        # 20-token rolling windows every 10; a span's identity is the
        # md5 of its joined tokens, recomputed here from the same
        # tokenizer so the value hash checks spans, not just counts
        "verbatim_overlap":
            f"WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents), "
            "el AS (SELECT doc_id, tk, "
            "unnest(range(0, len(tk) - 19, 10)) AS s FROM t "
            "WHERE len(tk) >= 20), "
            "sp AS (SELECT doc_id, "
            "md5(array_to_string(tk[s+1:s+20], ' ')) AS span FROM el), "
            "per_span AS (SELECT span, count(DISTINCT doc_id) AS nd "
            "FROM sp GROUP BY span) "
            "SELECT doc_id, count(*) AS n_spans, "
            "CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_dup_spans, "
            "round(CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) "
            "/ count(*), 4) AS dup_share "
            "FROM sp JOIN per_span USING (span) GROUP BY doc_id",
        # 40-token chunks every 30 tokens; list slice l[a:b] is 1-based
        # inclusive and clamps, matching Spark's slice(toks, a, 40)
        "doc_chunks":
            f"WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents), "
            "e AS (SELECT doc_id, tk, "
            "unnest(range(0, greatest(len(tk), 1), 30)) AS s FROM t) "
            "SELECT doc_id, CAST(s // 30 AS INTEGER) AS chunk_id, "
            "CAST(greatest(least(40, len(tk) - s), 0) AS INTEGER) AS n_chunk_tokens, "
            "md5(array_to_string(tk[s+1:s+40], ' ')) AS chunk_md5 FROM e",
        "tfidf_top_terms":
            f"WITH terms AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents), "
            "tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2), "
            "df AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1), "
            "n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents), "
            "s AS (SELECT tf.doc_id, tf.term, "
            "tf.tf * ln((n.n_docs + 1) / (df.df + 1)) AS score "
            "FROM tf JOIN df USING (term) CROSS JOIN n), "
            "r AS (SELECT doc_id, term, round(score, 4) AS score, "
            "CAST(row_number() OVER (PARTITION BY doc_id "
            "ORDER BY score DESC, term) AS INTEGER) AS rank FROM s) "
            "SELECT doc_id, term, score, rank FROM r WHERE rank <= 3",
        "contamination_check":
            "WITH sh5 AS (SELECT doc_id, CASE WHEN len(tk) >= 5 THEN "
            "list_distinct(list_transform(range(1, len(tk) - 3), "
            "i -> array_to_string(tk[i:i+4], ' '))) "
            "ELSE CAST([] AS VARCHAR[]) END AS s "
            f"FROM (SELECT doc_id, {_TOKS} AS tk FROM documents)), "
            "t AS (SELECT doc_id AS test_id, unnest(s) AS sh FROM sh5 "
            "WHERE doc_id % 10 = 0), "
            "tr0 AS (SELECT doc_id AS train_id, unnest(s) AS sh FROM sh5 "
            "WHERE doc_id % 10 <> 0), "
            # hot-shingle guard mirrors corpus.contamination_check
            # (max_train_df=1000): boilerplate shingles carry no signal
            "tr AS (SELECT train_id, sh FROM (SELECT train_id, sh, "
            "count(*) OVER (PARTITION BY sh) AS df FROM tr0) WHERE df <= 1000) "
            "SELECT test_id, CAST(count(DISTINCT train_id) AS INTEGER) AS n_train_docs, "
            "CAST(count(DISTINCT sh) AS INTEGER) AS n_shared_shingles "
            "FROM t JOIN tr USING (sh) GROUP BY test_id",
        # asymmetric containment: test side = first-40-token excerpts,
        # train side = full docs; same 5-gram shingles + hot guard as
        # contamination_check; containment = n_shared / n_test_shingles
        "containment_pairs":
            f"WITH tks AS (SELECT doc_id, {_TOKS} AS tk FROM documents), "
            "tst AS (SELECT doc_id AS test_id, tk[1:40] AS t FROM tks "
            "WHERE doc_id % 10 = 0), "
            "tsh AS (SELECT test_id, unnest(CASE WHEN len(t) >= 5 THEN "
            "list_distinct(list_transform(range(1, len(t) - 3), "
            "i -> array_to_string(t[i:i+4], ' '))) "
            "ELSE CAST([] AS VARCHAR[]) END) AS sh FROM tst), "
            "sizes AS (SELECT test_id, count(*) AS n_test_shingles "
            "FROM tsh GROUP BY 1), "
            "trh0 AS (SELECT doc_id AS train_id, unnest(CASE WHEN "
            "len(tk) >= 5 THEN "
            "list_distinct(list_transform(range(1, len(tk) - 3), "
            "i -> array_to_string(tk[i:i+4], ' '))) "
            "ELSE CAST([] AS VARCHAR[]) END) AS sh FROM tks), "
            "trh AS (SELECT train_id, sh FROM (SELECT train_id, sh, "
            "count(*) OVER (PARTITION BY sh) AS df FROM trh0) "
            "WHERE df <= 1000), "
            "p AS (SELECT test_id, train_id, count(*) AS n_shared "
            "FROM tsh JOIN trh USING (sh) GROUP BY 1, 2) "
            "SELECT p.test_id, p.train_id, "
            "CAST(n_shared AS INTEGER) AS n_shared, "
            "CAST(n_test_shingles AS INTEGER) AS n_test_shingles, "
            "n_shared / n_test_shingles AS containment "
            "FROM p JOIN sizes USING (test_id) "
            "WHERE n_shared / n_test_shingles >= 0.8",
        # per-vector int8 quantization recomputed code-for-code; inputs
        # are float32 so exact .5 ties at the 6th decimal cannot occur
        "embedding_quantize":
            "WITH m AS (SELECT vec_id, e, list_min(e) AS mn, list_max(e) AS mx "
            "FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)) "
            'SELECT vec_id, round(mn, 6) AS "offset", '
            "round((mx - mn) / 254, 6) AS scale, "
            "CASE WHEN mx > mn THEN list_transform(e, "
            "x -> CAST(round((x - mn) / (mx - mn) * 254) AS INTEGER) - 127) "
            "ELSE list_transform(e, x -> 0) END AS codes FROM m",
        "quantiles":
            "SELECT event_type, round(quantile_cont(value, 0.5), 4) AS p50, "
            "round(quantile_cont(value, 0.95), 4) AS p95, count(*) AS n "
            "FROM events GROUP BY event_type",
        # sketch tier: the estimate moves within the rank budget across
        # file layouts, so the oracle pins the GUARANTEE — n, the exact
        # integer-ceil target ranks, the documented budget
        # (sketch_rank_budget: ceil(4n/k)+8, k=2048), and ok=TRUE. The
        # Spark side measures each estimate's true rank interval with an
        # exact aggregate; a sketch answer outside target±budget turns
        # ok false and hash-mismatches.
        "sketch_quantiles":
            "WITH s AS (SELECT count(*) AS n FROM lineitem "
            "WHERE l_extendedprice IS NOT NULL), "
            "q(qname, num, den) AS (VALUES ('p25', 1, 4), ('p50', 1, 2), "
            "('p95', 19, 20), ('p99', 99, 100)) "
            "SELECT q.qname AS qname, s.n AS n, "
            "greatest(1, (q.num * s.n + q.den - 1) // q.den) AS target_rank, "
            "(4 * s.n + 2047) // 2048 + 8 AS budget, TRUE AS ok "
            "FROM q, s",
        # per-group rank-budget bracket, same integer arithmetic per
        # l_returnflag
        "grouped_sketch_quantiles":
            "WITH s AS (SELECT l_returnflag, count(*) AS n "
            "FROM lineitem WHERE l_extendedprice IS NOT NULL "
            "GROUP BY l_returnflag), "
            "q(qname, num, den) AS (VALUES ('p50', 1, 2), "
            "('p95', 19, 20)) "
            "SELECT s.l_returnflag AS l_returnflag, q.qname AS qname, "
            "s.n AS n, "
            "greatest(1, (q.num * s.n + q.den - 1) // q.den) "
            "AS target_rank, "
            "(4 * s.n + 2047) // 2048 + 8 AS budget, TRUE AS ok "
            "FROM q, s",
        # exact percentile_disc thresholds rebuilt from the same rank
        # arithmetic stats.exact_quantiles uses (smallest value whose
        # cumulative count reaches ceil(q*n)); clip + cents-long sums
        "winsorize":
            "WITH v AS (SELECT l_returnflag, l_extendedprice AS x "
            "FROM lineitem WHERE l_extendedprice IS NOT NULL), "
            "n AS (SELECT count(*) AS n FROM v), "
            "c AS (SELECT x, sum(cnt) OVER (ORDER BY x) AS cum FROM "
            "(SELECT x, count(*) AS cnt FROM v GROUP BY x)), "
            "lo AS (SELECT min(x) AS lo FROM c, n "
            "WHERE cum >= greatest(1, ceil(0.05 * n.n))), "
            "hi AS (SELECT min(x) AS hi FROM c, n "
            "WHERE cum >= greatest(1, ceil(0.95 * n.n))) "
            "SELECT l_returnflag, "
            "CAST(sum(CAST(round(least(greatest(x, lo), hi) * 100) "
            "AS BIGINT)) AS BIGINT) AS sum_clip_cents, "
            "CAST(min(CAST(round(least(greatest(x, lo), hi) * 100) "
            "AS BIGINT)) AS BIGINT) AS min_clip_cents, "
            "CAST(max(CAST(round(least(greatest(x, lo), hi) * 100) "
            "AS BIGINT)) AS BIGINT) AS max_clip_cents, "
            "count(*) AS n FROM v, lo, hi GROUP BY l_returnflag",
        # median and MAD rebuilt via the same rank arithmetic, twice
        # (second histogram over |x - median|); 3*MAD fence inline
        "mad_outliers":
            "WITH v AS (SELECT event_type, value AS x FROM events "
            "WHERE value IS NOT NULL), "
            "n AS (SELECT count(*) AS n FROM v), "
            "c AS (SELECT x, sum(cnt) OVER (ORDER BY x) AS cum FROM "
            "(SELECT x, count(*) AS cnt FROM v GROUP BY x)), "
            "med AS (SELECT min(x) AS m FROM c, n "
            "WHERE cum >= greatest(1, ceil(0.5 * n.n))), "
            "d AS (SELECT abs(x - m) AS dx FROM v, med), "
            "c2 AS (SELECT dx, sum(cnt) OVER (ORDER BY dx) AS cum FROM "
            "(SELECT dx, count(*) AS cnt FROM d GROUP BY dx)), "
            "mad AS (SELECT min(dx) AS mad FROM c2, n "
            "WHERE cum >= greatest(1, ceil(0.5 * n.n))) "
            "SELECT event_type, count(*) AS n, "
            "CAST(sum(CASE WHEN abs(x - m) > 3.0 * mad "
            "THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers "
            "FROM v, med, mad GROUP BY event_type",
        # per-group percentile_disc via partitioned rank arithmetic
        "grouped_quantiles":
            "WITH v AS (SELECT event_type, value AS x FROM events "
            "WHERE value IS NOT NULL), "
            "h AS (SELECT event_type, x, count(*) AS cnt FROM v "
            "GROUP BY 1, 2), "
            "c AS (SELECT event_type, x, "
            "sum(cnt) OVER (PARTITION BY event_type ORDER BY x) AS cum, "
            "sum(cnt) OVER (PARTITION BY event_type) AS n FROM h) "
            "SELECT event_type, "
            "min(CASE WHEN cum >= greatest(1, ceil(0.5 * n)) THEN x END) "
            "AS p50, "
            "min(CASE WHEN cum >= greatest(1, ceil(0.95 * n)) THEN x END) "
            "AS p95, CAST(max(n) AS BIGINT) AS n "
            "FROM c GROUP BY event_type",
        # per-group median/MAD fences via two PARTITIONED rank passes
        "grouped_mad_outliers":
            "WITH v AS (SELECT event_type AS g, value AS x FROM events "
            "WHERE value IS NOT NULL), "
            "c AS (SELECT g, x, "
            "sum(cnt) OVER (PARTITION BY g ORDER BY x) AS cum, "
            "sum(cnt) OVER (PARTITION BY g) AS n FROM "
            "(SELECT g, x, count(*) AS cnt FROM v GROUP BY 1, 2)), "
            "med AS (SELECT g, min(CASE WHEN cum >= "
            "greatest(1, ceil(0.5 * n)) THEN x END) AS m FROM c "
            "GROUP BY g), "
            "d AS (SELECT v.g, abs(x - m) AS dx FROM v JOIN med "
            "USING (g)), "
            "c2 AS (SELECT g, dx, "
            "sum(cnt) OVER (PARTITION BY g ORDER BY dx) AS cum, "
            "sum(cnt) OVER (PARTITION BY g) AS n FROM "
            "(SELECT g, dx, count(*) AS cnt FROM d GROUP BY 1, 2)), "
            "mad AS (SELECT g, min(CASE WHEN cum >= "
            "greatest(1, ceil(0.5 * n)) THEN dx END) AS mad FROM c2 "
            "GROUP BY g) "
            "SELECT g AS event_type, count(*) AS n, "
            "CAST(sum(CASE WHEN abs(x - m) > 3.0 * mad THEN 1 ELSE 0 "
            "END) AS BIGINT) AS n_outliers "
            "FROM v JOIN med USING (g) JOIN mad USING (g) GROUP BY g",
        # per-group fences via PARTITIONED rank arithmetic, joined back
        "grouped_winsorize":
            "WITH v AS (SELECT l_returnflag AS g, l_extendedprice AS x "
            "FROM lineitem WHERE l_extendedprice IS NOT NULL), "
            "c AS (SELECT g, x, "
            "sum(cnt) OVER (PARTITION BY g ORDER BY x) AS cum, "
            "sum(cnt) OVER (PARTITION BY g) AS n FROM "
            "(SELECT g, x, count(*) AS cnt FROM v GROUP BY 1, 2)), "
            "t AS (SELECT g, "
            "min(CASE WHEN cum >= greatest(1, ceil(0.05 * n)) THEN x "
            "END) AS lo, "
            "min(CASE WHEN cum >= greatest(1, ceil(0.95 * n)) THEN x "
            "END) AS hi FROM c GROUP BY g) "
            "SELECT g AS l_returnflag, "
            "CAST(sum(CAST(round(least(greatest(x, lo), hi) * 100) "
            "AS BIGINT)) AS BIGINT) AS sum_clip_cents, "
            "CAST(min(CAST(round(least(greatest(x, lo), hi) * 100) "
            "AS BIGINT)) AS BIGINT) AS min_clip_cents, "
            "CAST(max(CAST(round(least(greatest(x, lo), hi) * 100) "
            "AS BIGINT)) AS BIGINT) AS max_clip_cents, "
            "count(*) AS n FROM v JOIN t USING (g) GROUP BY g",
        # quartile fences via the same rank arithmetic; bucket = count
        # of fences <= x (fence values land in the upper bucket)
        "equidepth_buckets":
            "WITH v AS (SELECT l_extendedprice AS x FROM lineitem "
            "WHERE l_extendedprice IS NOT NULL), "
            "n AS (SELECT count(*) AS n FROM v), "
            "c AS (SELECT x, sum(cnt) OVER (ORDER BY x) AS cum FROM "
            "(SELECT x, count(*) AS cnt FROM v GROUP BY x)), "
            "f AS (SELECT q, min(x) AS fence FROM c, n, "
            "(VALUES (0.25), (0.5), (0.75)) t(q) "
            "WHERE cum >= greatest(1, ceil(q * n.n)) GROUP BY q), "
            "b AS (SELECT x, (SELECT CAST(count(*) AS INTEGER) FROM f "
            "WHERE x >= fence) AS bucket FROM v) "
            "SELECT bucket, count(*) AS n, "
            "CAST(min(round(x * 100)) AS BIGINT) AS min_cents, "
            "CAST(max(round(x * 100)) AS BIGINT) AS max_cents "
            "FROM b GROUP BY bucket",
        # funnel: each stage's reach = min ts strictly after the
        # previous stage's reach; counts only shrink
        "funnel":
            "WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t "
            "FROM events WHERE ts IS NOT NULL), "
            "s0 AS (SELECT user_id, min(t) AS t FROM e "
            "WHERE event_type = 'view' GROUP BY 1), "
            "s1 AS (SELECT e.user_id, min(e.t) AS t FROM e "
            "JOIN s0 USING (user_id) "
            "WHERE e.event_type = 'click' AND e.t > s0.t GROUP BY 1), "
            "s2 AS (SELECT e.user_id, min(e.t) AS t FROM e "
            "JOIN s1 USING (user_id) "
            "WHERE e.event_type = 'purchase' AND e.t > s1.t GROUP BY 1) "
            "SELECT 'view' AS step, CAST(0 AS INTEGER) AS step_index, "
            "(SELECT count(*) FROM s0) AS n_users "
            "UNION ALL SELECT 'click', CAST(1 AS INTEGER), "
            "(SELECT count(*) FROM s1) "
            "UNION ALL SELECT 'purchase', CAST(2 AS INTEGER), "
            "(SELECT count(*) FROM s2)",
        # same chain with a 1-day conversion window on each hop
        "funnel_windowed":
            "WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t "
            "FROM events WHERE ts IS NOT NULL), "
            "s0 AS (SELECT user_id, min(t) AS t FROM e "
            "WHERE event_type = 'view' GROUP BY 1), "
            "s1 AS (SELECT e.user_id, min(e.t) AS t FROM e "
            "JOIN s0 USING (user_id) "
            "WHERE e.event_type = 'click' AND e.t > s0.t "
            "AND e.t <= s0.t + 86400000000 GROUP BY 1), "
            "s2 AS (SELECT e.user_id, min(e.t) AS t FROM e "
            "JOIN s1 USING (user_id) "
            "WHERE e.event_type = 'purchase' AND e.t > s1.t "
            "AND e.t <= s1.t + 86400000000 GROUP BY 1) "
            "SELECT 'view' AS step, CAST(0 AS INTEGER) AS step_index, "
            "(SELECT count(*) FROM s0) AS n_users "
            "UNION ALL SELECT 'click', CAST(1 AS INTEGER), "
            "(SELECT count(*) FROM s1) "
            "UNION ALL SELECT 'purchase', CAST(2 AS INTEGER), "
            "(SELECT count(*) FROM s2)",
        # exact ground truth: all-pairs levenshtein with the sound
        # length prefilter (oracle-scale only; the engine uses
        # deletion-neighborhood candidates, never all-pairs)
        "typo_dedup_pairs":
            "WITH v AS (SELECT doc_id, substr(lower(text), 1, 12) AS s "
            "FROM documents WHERE text IS NOT NULL) "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist "
            "FROM v a JOIN v b ON a.doc_id < b.doc_id "
            "AND abs(length(a.s) - length(b.s)) <= 1 "
            "WHERE levenshtein(a.s, b.s) <= 1",
        # distinct (user, day) once; cohort = min day per user
        "retention_cohorts":
            "WITH a AS (SELECT DISTINCT user_id, "
            "epoch_us(ts) // 86400000000 AS p FROM events "
            "WHERE ts IS NOT NULL), "
            "f AS (SELECT user_id, min(p) AS cohort FROM a GROUP BY 1) "
            "SELECT cohort, CAST(p - cohort AS INTEGER) AS period_offset, "
            "count(*) AS n_users FROM a JOIN f USING (user_id) "
            "GROUP BY 1, 2",
        # the streaming twin must converge to the batch cohort table
        "streaming_retention":
            "WITH a AS (SELECT DISTINCT user_id, "
            "epoch_us(ts) // 86400000000 AS p FROM events "
            "WHERE ts IS NOT NULL AND user_id IS NOT NULL), "
            "f AS (SELECT user_id, min(p) AS cohort FROM a GROUP BY 1) "
            "SELECT cohort, CAST(p - cohort AS INTEGER) AS period_offset, "
            "count(*) AS n_users FROM a JOIN f USING (user_id) "
            "GROUP BY 1, 2",
        "streaming_dedup":
            "SELECT DISTINCT user_id, event_type FROM events",
        "grouped_collect":
            "SELECT user_id, list_sort(list(DISTINCT event_type)) AS types, "
            "count(*) AS n FROM events GROUP BY user_id",
        # DuckDB has no width_bucket: spell out its definition (0 below
        # range, num_buckets+1 above, else floor(v/width)+1 — width 50
        # is an exact double so the division matches Spark bit-for-bit)
        "value_histogram":
            "SELECT event_type, "
            "CAST(CASE WHEN value < 0.0 THEN 0 WHEN value >= 1000.0 THEN 21 "
            "ELSE CAST(floor(value / 50.0) AS INTEGER) + 1 END AS INTEGER) "
            "AS bucket, "
            "count(*) AS n FROM events GROUP BY 1, 2",
        "full_outer_join":
            "WITH b AS (SELECT o_custkey, count(*) AS n_orders "
            "FROM orders GROUP BY 1) "
            "SELECT c_custkey, o_custkey, c_mktsegment, "
            "coalesce(n_orders, 0) AS n_orders, "
            "CAST(c_custkey IS NULL AS INTEGER) AS left_missing, "
            "CAST(o_custkey IS NULL AS INTEGER) AS right_missing "
            "FROM customer FULL OUTER JOIN b ON c_custkey = o_custkey",
        # batch gaps-and-islands with the SAME break rule as Spark's
        # session_window: touching windows MERGE (verified empirically —
        # an event at exactly prev_t + gap continues the session), so
        # the batch rule is strictly-greater
        # VALUE-BASED sessionization: session ids assigned over DISTINCT
        # (user, t) then joined back to rows. Running the windows over
        # raw rows is nondeterministic with duplicate timestamps — the
        # lag pass and the cumulative-sum pass need not agree on tie
        # order, so an all-equal-t group at a boundary can split across
        # sessions (observed at sf1: a 10-row tie split 4+6). Spark's
        # native session_window is value-based by construction; >= gap
        # matches its interval-overlap rule ([t, t+gap) intervals merge
        # only when they overlap, so an event exactly gap later opens a
        # new session).
        "streaming_session_window":
            "WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events), "
            "d AS (SELECT DISTINCT user_id, t FROM e), "
            "s AS (SELECT user_id, t, CASE WHEN lag(t) OVER w IS NULL "
            "OR t - lag(t) OVER w >= 1800000000 THEN 1 ELSE 0 END AS st "
            "FROM d WINDOW w AS (PARTITION BY user_id ORDER BY t)), "
            "g AS (SELECT user_id, t, sum(st) OVER (PARTITION BY user_id "
            "ORDER BY t ROWS UNBOUNDED PRECEDING) AS sid FROM s) "
            "SELECT e.user_id, min(e.t) AS session_start_us, "
            "count(*) AS n_events "
            "FROM e JOIN g ON e.user_id = g.user_id AND e.t = g.t "
            "GROUP BY e.user_id, g.sid",
        "zorder_key": _zorder_oracle_sql(),
        "corpus_shuffle":
            # same two-round congruential as layout.shuffle_key(seed=7)
            "SELECT doc_id, source, "
            "(((((doc_id + 7) % 2147483647) * 1103515245 + 12352) "
            "% 2147483647) * 69069 + 1) % 2147483647 "
            "AS shuffle_key FROM documents",
        "keyword_search_all":
            "SELECT * FROM (SELECT doc_id, CAST(len(list_intersect("
            "list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')), "
            "['vector', 'merge', 'scan'])) AS INTEGER) AS n_matched "
            "FROM documents) WHERE n_matched >= 3",
        "keyword_search_any":
            "SELECT * FROM (SELECT doc_id, CAST(len(list_intersect("
            "list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')), "
            "['quantile', 'customer'])) AS INTEGER) AS n_matched "
            "FROM documents) WHERE n_matched >= 1",
        "bm25_search": _bm25_oracle_sql(),
        "hybrid_search": _hybrid_oracle_sql(),
        "lm_quality_scores":
            f"WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents), "
            "uni AS (SELECT w, count(*) AS c1 FROM "
            "(SELECT unnest(toks) AS w FROM tok) z GROUP BY w), "
            "v AS (SELECT count(*) AS nv FROM uni), "
            "e AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2 THEN "
            "list_transform(range(1, len(toks)), i -> "
            "toks[CAST(i AS INTEGER)] || ' ' || "
            "toks[CAST(i + 1 AS INTEGER)]) "
            "ELSE CAST([] AS VARCHAR[]) END) AS bg FROM tok), "
            "bc AS (SELECT bg, count(*) AS c12 FROM e GROUP BY bg), "
            "lp AS (SELECT bg, CAST(round(ln((CAST(c12 AS DOUBLE) + 0.1) "
            "/ (CAST(c1 AS DOUBLE) + 0.1 * CAST(nv AS DOUBLE))) "
            "* 1000000.0, 0) AS BIGINT) AS lpm "
            "FROM bc JOIN uni ON string_split(bg, ' ')[1] = w, v), "
            "s AS (SELECT doc_id, count(*) AS nb, "
            "CAST(sum(lpm) AS BIGINT) AS smicro "
            "FROM e JOIN lp USING (bg) GROUP BY doc_id) "
            "SELECT d.doc_id, CAST(COALESCE(nb, 0) AS BIGINT) AS n_bigrams, "
            "smicro AS sum_logprob_micro, "
            "CASE WHEN nb > 0 THEN "
            "CAST(trunc(smicro / nb) AS BIGINT) END AS avg_logprob_micro "
            "FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id",
        "dsir_logweights":
            _dsir_lw_sql() + "SELECT doc_id, n_grams, logweight_micro "
            "FROM lwts",
        # composes the dsir CTE chain: rank by weight, decile, lift
        "decile_lift":
            _dsir_lw_sql()
            + "SELECT decile, n, n_target, "
            "round(CAST(n_target AS DOUBLE) / n, 4) AS target_rate, "
            "round(CAST(n_target AS DOUBLE) * nn / (n * nt), 4) AS lift "
            "FROM (SELECT decile, count(*) AS n, "
            "CAST(sum(y) AS BIGINT) AS n_target FROM "
            "(SELECT CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y, "
            "ntile(10) OVER (ORDER BY l.logweight_micro DESC, l.doc_id) "
            "AS decile FROM lwts l JOIN documents d USING (doc_id)) "
            "GROUP BY decile) g CROSS JOIN "
            "(SELECT CAST(count(*) AS BIGINT) AS nn, "
            "CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) "
            "AS BIGINT) AS nt FROM documents) tot",
        "dsir_resample":
            _dsir_lw_sql() +
            "SELECT doc_id, n_grams, logweight_micro, "
            "CAST(floor(CAST(logweight_micro AS DOUBLE) / 2.0 "
            "+ CAST(CAST(round(-ln(-ln("
            f"(({_hex2int32_sql('md5(CAST(doc_id AS VARCHAR))')}) "
            "% 1048576 + 0.5) / 1048576.0"
            ")) * 1000000.0, 0) AS BIGINT) AS DOUBLE)) AS BIGINT) "
            "AS sample_key_micro "
            "FROM lwts ORDER BY sample_key_micro DESC, doc_id LIMIT 50",
        "nb_classifier": _nb_classifier_sql(),
        "contamination_safe_split":
            _GROUND_TRUTH_PAIRS.replace("WITH sh", "WITH RECURSIVE sh")
            .rstrip() + ", "
            "pairs AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.7), "
            "edges AS (SELECT id_a AS a, id_b AS b FROM pairs "
            "UNION SELECT id_b, id_a FROM pairs), "
            "reach(node, r) AS ("
            "SELECT DISTINCT a, a FROM edges "
            "UNION "
            "SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node), "
            "clusters AS (SELECT node, min(r) AS comp FROM reach "
            "GROUP BY node) "
            "SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS component_id, "
            "CASE WHEN ((COALESCE(c.comp, d.doc_id) % 1000003) * 31 + 7) "
            "% 100 < 10 THEN 'eval' ELSE 'train' END AS split "
            "FROM documents d LEFT JOIN clusters c ON d.doc_id = c.node",
        "kmeans_assign": _kmeans_sql(k=8, iterations=2),
        "inverted_index_stats":
            "WITH e AS (SELECT doc_id, unnest(regexp_extract_all("
            "lower(text), '[a-z0-9]+')) AS term FROM documents), "
            "p AS (SELECT term, doc_id, count(*) AS tf "
            "FROM e GROUP BY term, doc_id) "
            "SELECT term, count(*) AS df, "
            "CAST(sum(tf) AS BIGINT) AS tf_total FROM p GROUP BY term "
            "ORDER BY df DESC, term LIMIT 50",
        "line_dedup":
            "WITH t AS (SELECT doc_id, "
            "str_split(regexp_replace(text, '\\. ', '.' || chr(10), 'g'), "
            "chr(10)) AS l FROM documents), "
            "e AS (SELECT doc_id, generate_subscripts(l, 1) - 1 AS line_no, "
            "unnest(l) AS line FROM t), "
            "f1 AS (SELECT line, min(doc_id) AS fdoc FROM e GROUP BY line), "
            "f2 AS (SELECT e.line, e.doc_id AS fdoc, min(e.line_no) AS fline "
            "FROM e JOIN f1 ON e.line = f1.line AND e.doc_id = f1.fdoc "
            "GROUP BY e.line, e.doc_id), "
            "k AS (SELECT e.doc_id, e.line_no, e.line FROM e JOIN f2 "
            "ON e.line = f2.line AND e.doc_id = f2.fdoc "
            "AND e.line_no = f2.fline), "
            "p AS (SELECT doc_id, count(*) AS n_kept, "
            "string_agg(line, chr(10) ORDER BY line_no) AS text_dedup "
            "FROM k GROUP BY doc_id) "
            "SELECT t.doc_id, CAST(len(l) AS INTEGER) AS n_lines, "
            "CAST(coalesce(n_kept, 0) AS INTEGER) AS n_kept, "
            "coalesce(text_dedup, '') AS text_dedup "
            "FROM t LEFT JOIN p USING (doc_id)",
        # C4 cleaning: a line in >= 3 distinct docs of its language is
        # boilerplate; ALL its occurrences are dropped (one shared
        # detected set b, anti-joined back)
        "boilerplate_strip":
            "WITH t AS (SELECT lang, doc_id, "
            "str_split(regexp_replace(text, '\\. ', '.' || chr(10), 'g'), "
            "chr(10)) AS l FROM documents), "
            "e AS (SELECT lang, doc_id, generate_subscripts(l, 1) - 1 "
            "AS line_no, unnest(l) AS line FROM t), "
            "b AS (SELECT lang, line FROM "
            "(SELECT DISTINCT lang, doc_id, line FROM e) "
            "GROUP BY lang, line HAVING count(*) >= 3), "
            "k AS (SELECT e.doc_id, e.line_no, e.line FROM e "
            "LEFT JOIN b ON e.lang = b.lang AND e.line = b.line "
            "WHERE b.line IS NULL), "
            "p AS (SELECT doc_id, count(*) AS n_kept, "
            "string_agg(line, chr(10) ORDER BY line_no) "
            "AS text_stripped FROM k GROUP BY doc_id) "
            "SELECT t.lang, t.doc_id, "
            "CAST(len(l) AS INTEGER) AS n_lines, "
            "CAST(coalesce(n_kept, 0) AS INTEGER) AS n_kept, "
            "coalesce(text_stripped, '') AS text_stripped "
            "FROM t LEFT JOIN p USING (doc_id)",
        # progressive counts: each pattern counted on the text as the
        # scrub sees it (matches text.pii_scrub's substitution counts)
        "pii_scrub":
            "WITH t AS (SELECT doc_id, text || ' contact u' "
            "|| CAST(doc_id AS VARCHAR) || '@ex.co ip 10.0.0.' "
            "|| CAST(doc_id % 200 AS VARCHAR) || ' tel +1 555 0100 ok' "
            "AS s FROM documents), "
            "e AS (SELECT doc_id, s, "
            "CAST(len(regexp_extract_all(s, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INTEGER) "
            "AS n_emails, "
            "regexp_replace(s, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', "
            "'<EMAIL>', 'g') AS s1 FROM t), "
            "i AS (SELECT doc_id, n_emails, "
            "CAST(len(regexp_extract_all(s1, "
            "'\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INTEGER) "
            "AS n_ips, "
            "regexp_replace(s1, "
            "'\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') "
            "AS s2 FROM e) "
            "SELECT doc_id, n_emails, n_ips, "
            "CAST(len(regexp_extract_all(s2, "
            "'\\+?\\d[\\d()\\- ]{7,}\\d')) AS INTEGER) AS n_phones, "
            "regexp_replace(s2, "
            "'\\+?\\d[\\d()\\- ]{7,}\\d', '<PHONE>', 'g') AS text_scrubbed "
            "FROM i",
        "ngram_top_counts":
            "WITH g AS (SELECT unnest(CASE WHEN len(tk) >= 2 THEN "
            "list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' ')) "
            "ELSE CAST([] AS VARCHAR[]) END) AS ngram "
            f"FROM (SELECT {_TOKS} AS tk FROM documents)) "
            "SELECT ngram, count(*) AS n_occurrences FROM g GROUP BY ngram "
            "ORDER BY n_occurrences DESC, ngram LIMIT 100",
        "repetition_scores":
            "WITH t AS (SELECT doc_id, CASE WHEN len(tk) >= 3 THEN "
            "list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' ')) "
            "ELSE CAST([] AS VARCHAR[]) END AS g, "
            "string_split(text, chr(10)) AS lines "
            f"FROM (SELECT doc_id, text, {_TOKS} AS tk FROM documents)) "
            "SELECT doc_id, CAST(len(g) AS INTEGER) AS n_ngrams, "
            "CASE WHEN len(g) > 0 THEN round(CAST(len(g) - len(list_distinct(g)) "
            "AS DOUBLE) / len(g), 4) ELSE 0.0 END AS dup_ngram_frac, "
            "CASE WHEN len(lines) > 0 THEN round(CAST(len(lines) - "
            "len(list_distinct(lines)) AS DOUBLE) / len(lines), 4) "
            "ELSE 0.0 END AS dup_line_frac FROM t",
        "source_mix":
            "SELECT doc_id, source FROM documents "
            "WHERE ((doc_id % 1000003) * 31 + 7) % 100 < "
            "10 + (CAST(substring(source, 4) AS INTEGER) % 3) * 20",
        "quality_filter":
            "WITH t AS (SELECT doc_id, lang, source, text, "
            f"{_TOKS} AS tk FROM documents), "
            "m AS (SELECT doc_id, lang, source, len(tk) AS n_toks, "
            "CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) "
            "/ greatest(length(text), 1) AS punct_ratio, "
            "CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) "
            "/ greatest(len(tk), 1) AS mean_len, "
            "CASE WHEN len(tk) >= 3 THEN "
            "list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' ')) "
            "ELSE CAST([] AS VARCHAR[]) END AS g FROM t), "
            "s AS (SELECT *, CASE WHEN len(g) > 0 THEN "
            "CAST(len(g) - len(list_distinct(g)) AS DOUBLE) / len(g) "
            "ELSE 0.0 END AS dup_frac FROM m) "
            "SELECT doc_id, lang, source FROM s "
            "WHERE n_toks >= 25 AND n_toks <= 100000 "
            "AND punct_ratio <= 0.1 AND dup_frac <= 0.4 "
            "AND mean_len >= 4.2 AND mean_len <= 9.0",
        "corpus_pipeline":
            f"WITH t AS (SELECT doc_id, lang, text, {_TOKS} AS tk "
            "FROM documents), "
            "m AS (SELECT doc_id, lang, md5(text) AS h, "
            "len(tk) AS n_toks, "
            "CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) "
            "AS DOUBLE) / greatest(length(text), 1) AS punct_ratio, "
            "CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) "
            "/ greatest(len(tk), 1) AS mean_len, "
            "CASE WHEN len(tk) >= 3 THEN "
            "list_transform(range(1, len(tk) - 1), "
            "i -> array_to_string(tk[i:i+2], ' ')) "
            "ELSE CAST([] AS VARCHAR[]) END AS g FROM t), "
            "s AS (SELECT *, CASE WHEN len(g) > 0 THEN "
            "CAST(len(g) - len(list_distinct(g)) AS DOUBLE) / len(g) "
            "ELSE 0.0 END AS dup_frac FROM m), "
            "f AS (SELECT doc_id, lang, n_toks, h FROM s "
            "WHERE n_toks >= 25 AND n_toks <= 100000 "
            "AND punct_ratio <= 0.1 AND dup_frac <= 0.4 "
            "AND mean_len >= 4.2 AND mean_len <= 9.0), "
            "k AS (SELECT h, min(doc_id) AS doc_id FROM f GROUP BY h), "
            "r AS (SELECT f.* FROM f JOIN k USING (h, doc_id)) "
            "SELECT CASE WHEN ((doc_id % 1000003) * 31 + 7) % 100 < 10 "
            "THEN 'eval' ELSE 'train' END AS split, lang, "
            "count(*) AS n_docs, "
            "CAST(sum(n_toks) AS BIGINT) AS tokens_total "
            "FROM r GROUP BY 1, 2",
        # the salt must never leak: the oracle is the PLAIN join
        "skewed_join":
            "WITH p AS (SELECT event_id, user_id FROM events "
            "WHERE event_type = 'purchase'), "
            "s AS (SELECT user_id, count(*) AS user_events "
            "FROM events GROUP BY user_id) "
            "SELECT p.event_id, p.user_id, s.user_events "
            "FROM p JOIN s USING (user_id)",
        # decimal products of the clean 2-decimal base columns stay
        # exact through the UNION-ALL melt; round-then-cast as in q1
        "unpivot":
            "WITH m AS (SELECT l_returnflag, "
            "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DECIMAL(18,6)) "
            "AS base_price, "
            "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) "
            "* CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(18,6)) "
            "AS discount_amt, "
            "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) "
            "* (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) "
            "* CAST(l_tax AS DECIMAL(4,2)) AS DECIMAL(18,6)) AS tax_amt "
            "FROM lineitem), "
            "u AS (SELECT l_returnflag, 'base_price' AS charge, "
            "base_price AS amount FROM m "
            "UNION ALL SELECT l_returnflag, 'discount_amt', discount_amt "
            "FROM m "
            "UNION ALL SELECT l_returnflag, 'tax_amt', tax_amt FROM m) "
            "SELECT l_returnflag, charge, count(*) AS n, "
            "CAST(round(sum(amount), 2) AS DOUBLE) AS total_amount "
            "FROM u GROUP BY l_returnflag, charge",
        "rolling_interval_window":
            "WITH d AS (SELECT o_orderkey, o_custkey, "
            "datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) "
            "AS day, CAST(o_totalprice AS DECIMAL(18,2)) AS price "
            "FROM orders) "
            "SELECT o_orderkey, o_custkey, day, "
            "CAST(round(sum(price) OVER w, 2) AS DOUBLE) AS spend_90d, "
            "count(*) OVER w AS n_orders_90d FROM d "
            "WINDOW w AS (PARTITION BY o_custkey ORDER BY day "
            "RANGE BETWEEN 89 PRECEDING AND CURRENT ROW)",
        # recursive CTE with UNION (set) semantics: the accumulated
        # (src, dst, hops) rows are bounded by |V|^2 * 9, so recursion
        # terminates even on cycles; min(hops) = BFS distance
        "graph_reachability":
            "WITH RECURSIVE s AS (SELECT user_id, event_type, "
            "lag(event_type) OVER (PARTITION BY user_id "
            "ORDER BY epoch_us(ts), event_id) AS prev_type "
            "FROM events WHERE ts IS NOT NULL), "
            "c AS (SELECT prev_type AS src, event_type AS dst, count(*) "
            "AS n FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2), "
            "edges AS (SELECT src, dst FROM "
            "(SELECT src, dst, CAST(n AS DOUBLE) / sum(n) "
            "OVER (PARTITION BY src) AS p FROM c) "
            "WHERE p >= 0.05 AND src <> dst), "
            "r AS (SELECT src, dst, 1 AS hops FROM edges "
            "UNION "
            "SELECT r.src, e.dst, r.hops + 1 FROM r JOIN edges e "
            "ON r.dst = e.src WHERE r.hops < 9) "
            "SELECT src, dst, CAST(min(hops) AS INTEGER) AS min_hops "
            "FROM r GROUP BY src, dst",
        # O(n log n) prefix-max formulation (the naive quadratic
        # NOT EXISTS would make the sf1 oracle sweep intractable);
        # tests/test_entry_queries.py pins this form == NOT EXISTS
        # on the small fixture, so the reformulation is still
        # cross-checked against the textbook dominance definition
        "pareto_frontier":
            "WITH g AS (SELECT p_retailprice, max(p_size) AS gmax "
            "FROM part GROUP BY p_retailprice), "
            "pm AS (SELECT p_retailprice, gmax, max(gmax) OVER "
            "(ORDER BY p_retailprice ROWS BETWEEN UNBOUNDED PRECEDING "
            "AND 1 PRECEDING) AS prefix_max FROM g) "
            "SELECT p.p_partkey, p.p_brand, p.p_size, p.p_retailprice "
            "FROM part p JOIN pm USING (p_retailprice) "
            "WHERE p.p_size = pm.gmax "
            "AND (prefix_max IS NULL OR prefix_max < p.p_size)",
        "assoc_rules":
            "WITH ut AS (SELECT DISTINCT user_id, event_type FROM events), "
            "pt AS (SELECT event_type, count(*) AS n_t FROM ut "
            "GROUP BY event_type), "
            "tot AS (SELECT count(DISTINCT user_id) AS n_users FROM ut), "
            "pr AS (SELECT a.event_type AS antecedent, "
            "b.event_type AS consequent, count(*) AS n_both "
            "FROM ut a JOIN ut b ON a.user_id = b.user_id "
            "AND a.event_type <> b.event_type GROUP BY 1, 2) "
            "SELECT antecedent, consequent, n_both, "
            "round(CAST(n_both AS DOUBLE) / n_users, 4) AS support, "
            "round(CAST(n_both AS DOUBLE) / pa.n_t, 4) AS confidence, "
            "round(CAST(n_both AS DOUBLE) * n_users / (pa.n_t * pc.n_t), 4) "
            "AS lift "
            "FROM pr JOIN pt pa ON pa.event_type = antecedent "
            "JOIN pt pc ON pc.event_type = consequent CROSS JOIN tot",
        # integer-micro PageRank: every step is floor-division algebra,
        # so the unrolled 10-step CTE chain is bit-identical to the
        # Spark loop (no float accumulation anywhere)
        "pagerank_states": _PAGERANK_ORACLE,
        "gini_activity":
            "WITH cnt AS (SELECT event_type, user_id, count(*) AS x "
            "FROM events GROUP BY 1, 2), "
            "r AS (SELECT event_type, x, row_number() OVER "
            "(PARTITION BY event_type ORDER BY x, user_id) AS i "
            "FROM cnt) "
            "SELECT event_type, count(*) AS n_users, "
            "CAST(sum(x) AS BIGINT) AS total_events, "
            "round(2.0 * sum(i * x) / (count(*) * sum(x)) "
            "- (count(*) + 1) / CAST(count(*) AS DOUBLE), 4) AS gini "
            "FROM r GROUP BY event_type",
        "ks_drift":
            "WITH pv AS (SELECT value, "
            "sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS ca, "
            "sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) "
            "AS cb FROM events "
            "WHERE event_type IN ('view', 'purchase') GROUP BY value), "
            "tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM pv), "
            "cum AS (SELECT na, nb, "
            "CAST(sum(ca) OVER (ORDER BY value) AS DOUBLE) / na AS fa, "
            "CAST(sum(cb) OVER (ORDER BY value) AS DOUBLE) / nb AS fb "
            "FROM pv CROSS JOIN tot) "
            "SELECT CAST(max(na) AS BIGINT) AS n_view, "
            "CAST(max(nb) AS BIGINT) AS n_purchase, "
            "round(max(abs(fa - fb)), 4) AS ks_stat FROM cum",
        # rollback restores the original ingest exactly
        "snapshot_rollback":
            "SELECT event_id, user_id, event_type, value FROM events",
        # tied ranks are exact half-integers from integer cumulatives
        "mann_whitney":
            "WITH pv AS (SELECT value, "
            "sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS ca, "
            "sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) "
            "AS cb FROM events "
            "WHERE event_type IN ('view', 'purchase') GROUP BY value), "
            "g AS (SELECT ca, cb, sum(ca + cb) OVER (ORDER BY value "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi "
            "FROM pv), "
            "r AS (SELECT ca, cb, (2 * hi - ca - cb + 1) / 2.0 "
            "AS avg_rank FROM g), "
            "tot AS (SELECT sum(ca) AS na, sum(cb) AS nb, "
            "sum(ca * avg_rank) AS ra FROM r) "
            "SELECT CAST(na AS BIGINT) AS n_view, "
            "CAST(nb AS BIGINT) AS n_purchase, "
            "ra - na * (na + 1) / 2.0 AS u_view, "
            "CAST(na AS DOUBLE) * nb - (ra - na * (na + 1) / 2.0) "
            "AS u_purchase FROM tot",
        "ab_ztest":
            "WITH users AS (SELECT user_id, "
            "CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 "
            "ELSE 0 END) > sum(CASE WHEN event_type = 'error' THEN 1 "
            "ELSE 0 END) THEN 1 ELSE 0 END "
            "AS converted FROM events GROUP BY user_id), "
            "g AS (SELECT user_id % 2 AS arm, count(*) AS n, "
            "CAST(sum(converted) AS BIGINT) AS conv FROM users "
            "GROUP BY 1), "
            "j AS (SELECT a.n AS n_a, a.conv AS conv_a, b.n AS n_b, "
            "b.conv AS conv_b FROM (SELECT n, conv FROM g WHERE arm = 0) a "
            "CROSS JOIN (SELECT n, conv FROM g WHERE arm = 1) b) "
            "SELECT n_a, conv_a, n_b, conv_b, "
            "round(CAST(conv_a AS DOUBLE) / n_a, 4) AS rate_a, "
            "round(CAST(conv_b AS DOUBLE) / n_b, 4) AS rate_b, "
            "round((CAST(conv_a AS DOUBLE) / n_a "
            "- CAST(conv_b AS DOUBLE) / n_b) "
            "/ sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) "
            "* (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) "
            "* (1.0 / n_a + 1.0 / n_b)), 4) AS z_score FROM j",
        # weekday from epoch-day arithmetic (1970-01-01 + 4 mod 7)
        "weekday_seasonality":
            "WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day, "
            "count(*) AS n FROM events WHERE ts IS NOT NULL GROUP BY 1), "
            "g AS (SELECT CAST((day + 4) % 7 AS INTEGER) AS weekday, "
            "count(*) AS n_days, CAST(sum(n) AS BIGINT) AS total "
            "FROM daily GROUP BY 1), "
            "tot AS (SELECT CAST(sum(n_days) AS BIGINT) AS dd, "
            "CAST(sum(total) AS BIGINT) AS tt FROM g) "
            "SELECT weekday, n_days, "
            "round(CAST(total AS DOUBLE) / n_days, 4) AS mean_volume, "
            "round((CAST(total AS DOUBLE) / n_days) "
            "/ (CAST(tt AS DOUBLE) / dd), 4) AS seasonal_index "
            "FROM g CROSS JOIN tot",
        # weights are exact powers of two from an integer shift; with
        # the 20-day horizon the weighted sums are exact doubles
        "ewma_volume":
            "WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day, "
            "count(*) AS n FROM events WHERE ts IS NOT NULL GROUP BY 1), "
            "pairs AS (SELECT a.day, a.n, b.n AS bn, "
            "CAST(a.day - b.day AS INTEGER) AS k FROM daily a "
            "JOIN daily b ON b.day <= a.day AND b.day >= a.day - 20) "
            "SELECT day, max(n) AS n, "
            "round(sum(CAST(bn AS DOUBLE) "
            "/ CAST(CAST(1 AS BIGINT) << k AS DOUBLE)) "
            "/ sum(1.0 / CAST(CAST(1 AS BIGINT) << k AS DOUBLE)), 4) "
            "AS ewma FROM pairs GROUP BY day",
        "rfm_segments":
            "WITH rfm AS (SELECT o_custkey, "
            "max(datediff('day', DATE '1970-01-01', "
            "CAST(o_orderdate AS DATE))) AS r, count(*) AS f, "
            "sum(CAST(o_totalprice AS DECIMAL(18,2))) AS m "
            "FROM orders GROUP BY o_custkey), "
            "seg AS (SELECT o_custkey, "
            "ntile(4) OVER (ORDER BY r, o_custkey) AS rq, "
            "ntile(4) OVER (ORDER BY f, o_custkey) AS fq, "
            "ntile(4) OVER (ORDER BY m, o_custkey) AS mq FROM rfm) "
            "SELECT rq * 100 + fq * 10 + mq AS segment, "
            "count(*) AS n_customers FROM seg GROUP BY 1",
        "histogram2d":
            "SELECT month(CAST(o_orderdate AS DATE)) AS month, "
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
            "// 5000000 AS price_band, count(*) AS n, "
            "CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) "
            "AS DOUBLE) AS revenue FROM orders GROUP BY 1, 2",
        "mutual_information":
            "WITH c AS (SELECT source, lang, count(*) AS o "
            "FROM documents GROUP BY 1, 2), "
            "tot AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM c), "
            "cells AS (SELECT o, "
            "sum(o) OVER (PARTITION BY source) AS r, "
            "sum(o) OVER (PARTITION BY lang) AS k, nn "
            "FROM c CROSS JOIN tot), "
            "t AS (SELECT CAST(round((o / nn) "
            "* log2(o * nn / (r * k)) * 1e6) AS BIGINT) AS term_micro "
            "FROM cells) "
            "SELECT CAST(count(*) AS BIGINT) AS n_cells, "
            "CAST(sum(term_micro) AS BIGINT) AS mi_micro_bits FROM t",
        "entropy_rate":
            "WITH s AS (SELECT user_id, event_type, lag(event_type) "
            "OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) "
            "AS prev_type FROM events WHERE ts IS NOT NULL), "
            "c AS (SELECT prev_type, event_type AS next_type, count(*) "
            "AS n_st FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2), "
            "tot AS (SELECT CAST(sum(n_st) AS BIGINT) AS nn FROM c), "
            "cells AS (SELECT prev_type, n_st, "
            "sum(n_st) OVER (PARTITION BY prev_type) AS n_s, nn "
            "FROM c CROSS JOIN tot), "
            "t AS (SELECT prev_type, nn, CAST(round((n_st / nn) "
            "* -log2(n_st / n_s) * 1e6) AS BIGINT) AS term_micro "
            "FROM cells) "
            "SELECT CAST(max(nn) AS BIGINT) AS n_transitions, "
            "CAST(count(DISTINCT prev_type) AS BIGINT) AS n_states, "
            "CAST(sum(term_micro) AS BIGINT) AS entropy_rate_micro_bits "
            "FROM t",
        # first digit from INTEGER cents, never from float formatting
        "benford_deviation":
            "WITH d AS (SELECT CAST(substr(CAST(CAST(CAST(o_totalprice "
            "AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1) "
            "AS INTEGER) AS digit FROM orders), "
            "g AS (SELECT digit, count(*) AS n FROM d GROUP BY digit), "
            "tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM g) "
            "SELECT digit, n, "
            "CAST(round(CAST(n AS DOUBLE) / nn * 1e6) AS BIGINT) "
            "AS obs_micro, "
            "CAST(round(log10(1.0 + 1.0 / digit) * 1e6) AS BIGINT) "
            "AS benford_micro FROM g CROSS JOIN tot",
        "target_encoding":
            "WITH g AS (SELECT event_type, count(*) AS n, "
            "sum(CAST(value AS DECIMAL(18,2))) AS s FROM events "
            "GROUP BY event_type), "
            "tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt, sum(s) AS st "
            "FROM g) "
            "SELECT event_type, n, round((CAST(s AS DOUBLE) "
            "+ 10 * (CAST(st AS DOUBLE) / nt)) / (n + 10), 4) AS te "
            "FROM g CROSS JOIN tot",
        # per-cell terms round to micro longs BEFORE the sum: the
        # statistic is an exact integer total in both engines
        "chi2_source_lang":
            "WITH c AS (SELECT source, lang, count(*) AS o "
            "FROM documents GROUP BY 1, 2), "
            "tot AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM c), "
            "cells AS (SELECT o, "
            "sum(o) OVER (PARTITION BY source) AS r, "
            "sum(o) OVER (PARTITION BY lang) AS k, nn, "
            "source, lang FROM c CROSS JOIN tot), "
            "t AS (SELECT source, lang, CAST(round((o - e) * (o - e) "
            "/ e * 1e6) AS BIGINT) AS term_micro FROM "
            "(SELECT source, lang, o, r * k / nn AS e FROM cells)) "
            "SELECT CAST(count(*) AS BIGINT) AS n_cells, "
            "CAST((count(DISTINCT source) - 1) "
            "* (count(DISTINCT lang) - 1) AS BIGINT) AS dof, "
            "CAST(sum(term_micro) AS BIGINT) AS chi2_micro FROM t",
        "quantile_normalize":
            "WITH ps AS (SELECT source, n_chars, count(*) AS c "
            "FROM documents GROUP BY 1, 2), "
            "sgrid AS (SELECT source, n_chars, "
            "sum(c) OVER (PARTITION BY source ORDER BY n_chars "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, "
            "sum(c) OVER (PARTITION BY source) AS ns FROM ps), "
            "pg AS (SELECT n_chars AS g, count(*) AS c FROM documents "
            "GROUP BY n_chars), "
            "ggrid AS (SELECT g, ghi, coalesce(lag(ghi) "
            "OVER (ORDER BY g), 0) + 1 AS glo FROM "
            "(SELECT g, sum(c) OVER (ORDER BY g "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ghi "
            "FROM pg)), "
            "tot AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM pg), "
            "sq AS (SELECT source, n_chars, "
            "CAST(ceil(CAST(cum AS DOUBLE) / ns * nn) AS BIGINT) AS k "
            "FROM sgrid CROSS JOIN tot), "
            "mapped AS (SELECT source, n_chars, g AS norm_chars "
            "FROM sq JOIN ggrid ON k >= glo AND k <= ghi) "
            "SELECT d.doc_id, d.source, d.n_chars, m.norm_chars "
            "FROM documents d JOIN mapped m ON d.source = m.source "
            "AND d.n_chars = m.n_chars",
        "wow_growth":
            "WITH wk AS (SELECT epoch_us(ts) // 604800000000 AS week, "
            "count(*) AS n FROM events WHERE ts IS NOT NULL GROUP BY 1), "
            "d AS (SELECT week, n, lag(n) OVER (ORDER BY week) AS prev_n, "
            "sum(n) OVER wma AS s, count(*) OVER wma AS k FROM wk "
            "WINDOW wma AS (ORDER BY week "
            "ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)) "
            "SELECT week, n, round((n - prev_n) * 100.0 / prev_n, 4) "
            "AS wow_pct, round(CAST(s AS DOUBLE) / k, 4) AS ma_4w FROM d",
        # ECDF grid is (distinct n_chars) x sources; the pair join and
        # max-aggregate never touch document-scale data
        "ks_matrix":
            "WITH pv AS (SELECT source, n_chars, count(*) AS c "
            "FROM documents GROUP BY 1, 2), "
            "vals AS (SELECT DISTINCT n_chars FROM pv), "
            "srcs AS (SELECT source, sum(c) AS tot FROM pv "
            "GROUP BY source), "
            "grid AS (SELECT s.source, v.n_chars, s.tot, "
            "coalesce(p.c, 0) AS c FROM vals v CROSS JOIN srcs s "
            "LEFT JOIN pv p ON p.source = s.source "
            "AND p.n_chars = v.n_chars), "
            "ecdf AS (SELECT source, n_chars, "
            "CAST(sum(c) OVER (PARTITION BY source ORDER BY n_chars "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
            "AS DOUBLE) / tot AS f FROM grid) "
            "SELECT a.source AS source_a, b.source AS source_b, "
            "round(max(abs(a.f - b.f)), 4) AS ks_stat "
            "FROM ecdf a JOIN ecdf b ON a.n_chars = b.n_chars "
            "AND a.source < b.source GROUP BY 1, 2",
        # integer running sum minus one shared-double product per row:
        # no float accumulation order to diverge across engines
        "cusum_drift":
            "WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day, "
            "count(*) AS n FROM events WHERE ts IS NOT NULL GROUP BY 1), "
            "tot AS (SELECT sum(n) AS total, count(*) AS n_days "
            "FROM daily), "
            "d AS (SELECT day, n, sum(n) OVER (ORDER BY day) AS run, "
            "row_number() OVER (ORDER BY day) AS rn FROM daily) "
            "SELECT day, n, round(run - rn * (CAST(total AS DOUBLE) "
            "/ n_days), 4) + 0.0 AS cusum FROM d CROSS JOIN tot",
        # r12: long-doc regroup (deterministic doc_id-ordered join)
        # then the repetition_scores shape verbatim over it
        "longdoc_repetition":
            "WITH ld AS (SELECT doc_id % 64 AS gid, "
            "string_agg(text, chr(10) ORDER BY doc_id) AS text "
            "FROM documents GROUP BY doc_id % 64), "
            "t AS (SELECT gid, CASE WHEN len(tk) >= 3 THEN "
            "list_transform(range(1, len(tk) - 1), "
            "i -> array_to_string(tk[i:i+2], ' ')) "
            "ELSE CAST([] AS VARCHAR[]) END AS g, "
            "string_split(text, chr(10)) AS lines "
            f"FROM (SELECT gid, text, {_TOKS} AS tk FROM ld)) "
            "SELECT gid, CAST(len(g) AS INTEGER) AS n_ngrams, "
            "CASE WHEN len(g) > 0 THEN "
            "round(CAST(len(g) - len(list_distinct(g)) AS DOUBLE) "
            "/ len(g), 4) ELSE 0.0 END AS dup_ngram_frac, "
            "CASE WHEN len(lines) > 0 THEN round(CAST(len(lines) - "
            "len(list_distinct(lines)) AS DOUBLE) / len(lines), 4) "
            "ELSE 0.0 END AS dup_line_frac FROM t",
    }
