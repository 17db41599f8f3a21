"""DataFrame application of table processing: ageOff filters + continual
key-collapsing aggregation.

Sleeper applies these "iterators" on EVERY read path — compaction and
query — so users only ever observe filtered, collapsed data
(docs/usage/data-processing.md:33-67). Ops must be commutative/associative
(data-processing.md:88-93), which is exactly Spark's partial+final
aggregation contract, so a plain ``groupBy(keys).agg(...)`` is the
idiomatic physical realisation (the reference's own DataFusion engine does
the same: datafusion.rs:271-295). The Java engine's single-pass
group-adjacent aggregator (AggregatorIteratorImpl.java:64-93) is an
optimization for presorted input, not different semantics.

This module is the query plan's form. Compaction and driver reads run
the same semantics on ``sorted_scan``'s Arrow kernels, group-adjacent
over the sorted runs.

Scale notes (100 TB):
- Aggregation is a hash-agg with map-side partial combine — one shuffle on
  the group keys, no driver-side state.
- map_* aggregation avoids collect_list-style per-group buffering: it
  explodes map entries, aggregates per (keys..., map_key) — still fully
  partial-aggregatable — then reassembles with map_from_entries. Two
  shuffles but each is a plain hash-agg that scales linearly; skewed group
  keys are handled by AQE.
- sum() on numeric keeps the input type (sum(int)->int), mirroring the
  reference's cast-back (nonnull.rs:160-210, datafusion.rs:293-295).
- sum() on string/binary is concatenation (AggregationOp.java:25-47).
  Concatenation order follows the table sort order; within identical
  (row key + sort key) tuples the reference's order is file-merge order,
  which is itself unspecified across compaction histories — we document
  concat as order-unstable across equal-key duplicates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sleeper_spark.iterators import AgeOffFilter, Aggregation
from sleeper_spark.schema import Schema


def age_off_condition(f: AgeOffFilter, now_millis: int) -> Column:
    """Keep rows with non-null timestamp newer than the age limit
    (AgeOffFilter.java:82-85: drop when null or now - value >= maxAge)."""
    col = F.col(f.column)
    return col.isNotNull() & (F.lit(now_millis) - col < F.lit(f.max_age_millis))


def apply_filters(df: DataFrame, filters: list[AgeOffFilter], now_millis: int) -> DataFrame:
    """``now`` is fixed once per job for determinism (P3, SURVEY §2.2)."""
    for f in filters:
        df = df.where(age_off_condition(f, now_millis))
    return df


def _scalar_agg(col_name: str, op: str, dtype: T.DataType,
                order_col: str | None = None) -> Column:
    c = F.col(col_name)
    if op in ("max_by", "min_by"):
        # upsert semantics: keep the value paired with the winning order
        # column. Struct min/max is lexicographic, so ties on the order
        # value break deterministically on the value itself — Spark's
        # built-in max_by/min_by are explicitly nondeterministic under
        # ties, which would break engine/oracle hash parity.
        pair = F.struct(F.col(order_col).alias("o"), c.alias("v"))
        ext = F.max(pair) if op == "max_by" else F.min(pair)
        return ext.getField("v").cast(dtype).alias(col_name)
    if op == "sum":
        if isinstance(dtype, (T.IntegerType, T.LongType)):
            # cast-back keeps the input type, per A5 (nonnull.rs:160-210)
            return F.sum(c).cast(dtype).alias(col_name)
        if isinstance(dtype, T.StringType):
            return F.array_join(F.collect_list(c), "").alias(col_name)
        if isinstance(dtype, T.BinaryType):
            return F.aggregate(
                F.collect_list(c),
                F.lit(b""),
                lambda acc, x: F.concat(acc, x),
            ).alias(col_name)
        return F.sum(c).alias(col_name)
    if op == "min":
        return F.min(c).alias(col_name)  # Spark binary min is unsigned-lex — matches
    if op == "max":
        return F.max(c).alias(col_name)
    raise ValueError(f"unknown scalar op {op}")


_MAP_SCALAR_OP = {"map_sum": "sum", "map_min": "min", "map_max": "max"}


def _merge_maps_exploded(df: DataFrame, group: list[str], col_name: str,
                         op: str, value_type: T.DataType) -> DataFrame:
    """Point-wise map merge via explode → hash-agg → reassemble.

    Scale shape: exploding map entries to (group keys..., map_key, value)
    rows keeps the merge a plain partial+final hash aggregation on
    (keys..., map_key) — NO per-group buffering of whole maps, so a
    billion duplicates of one key stream through map-side combine instead
    of materialising in one aggregation buffer (the collect_list-fold
    alternative buffers every duplicate map per group and dies on skewed
    groups). Reassembly sorts entries for run-deterministic map order.
    Mirrors handleMap (AggregationOp.java:144-215) / the Rust
    map_aggregate UDAF (rust/aggregator_udfs/src/map_aggregate.rs:28-40).
    """
    scalar_op = _MAP_SCALAR_OP[op]
    ex = df.select(*group, F.explode_outer(F.col(col_name)).alias("__mk", "__mv"))
    # map values follow the SAME per-type sum semantics as scalar columns
    # (AggregationOp.java:25-47 applies to map values too): string/binary
    # sum is concatenation — F.sum would crash under ANSI (CAST_INVALID_
    # INPUT) or silently null the value otherwise
    per_key = ex.groupBy(*group, "__mk").agg(
        _scalar_agg("__mv", scalar_op,
                    value_type).cast(value_type).alias("__mv"))
    entries = F.array_sort(F.collect_list(
        F.when(F.col("__mk").isNotNull(),
               F.struct(F.col("__mk").alias("key"), F.col("__mv").alias("value")))))
    return per_key.groupBy(*group).agg(
        F.map_from_entries(entries).alias(col_name))


def apply_aggregations(
    df: DataFrame,
    schema: Schema,
    aggs: list[Aggregation],
) -> DataFrame:
    """Collapse rows equal on (row keys + sort keys) via the configured ops
    (A1-A5, SURVEY §2.5). Output column order = schema order."""
    if not aggs:
        return df
    by_col = {a.column: a for a in aggs}
    group = schema.key_names
    scalar_exprs: list[Column] = []
    map_fields = []
    for f in schema.value_fields:
        a = by_col.get(f.name)
        if a is None:
            continue
        if a.op.startswith("map_"):
            map_fields.append((f, a.op))
        else:
            scalar_exprs.append(
                _scalar_agg(f.name, a.op, f.dtype, a.order_col))
    if scalar_exprs:
        out = df.groupBy(*group).agg(*scalar_exprs)
    else:
        out = df.select(*group).distinct()
    # each map column merges via its own explode→agg pipeline, joined back
    # on the group keys (co-partitioned: every branch shuffles on the same
    # keys, so the exchanges line up / reuse)
    for f, op in map_fields:
        merged = _merge_maps_exploded(df, group, f.name, op, f.dtype.valueType)
        out = out.join(merged, group, "left")
    keep = schema.key_names + [
        f.name for f in schema.value_fields if f.name in by_col
    ]
    return out.select(*keep)


def apply_processing(
    df: DataFrame,
    schema: Schema,
    filters: list[AgeOffFilter],
    aggs: list[Aggregation],
    now_millis: int,
) -> DataFrame:
    """Filters then aggregation, the reference's iterator chain order
    (IteratorFactory.java:79-91: filters -> aggregation -> custom)."""
    df = apply_filters(df, filters, now_millis)
    return apply_aggregations(df, schema, aggs)
