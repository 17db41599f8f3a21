"""One-pass data profiling: per-column row/null/distinct counts — the
ANALYZE TABLE step a pipeline runs on a new drop before trusting it
(null-rate regressions and cardinality collapses are the two cheapest
data-quality tripwires, and both fall out of this one job).

Exact tier: all columns profiled in ONE aggregation job using Spark's
multi-distinct EXPAND strategy — each input row fans out once per
distinct-counted column before the shuffle, so the cost is
(#cols x scan) map-side. That is the right trade for ad-hoc profiling
up to wide-table scale; for the 100 TB steady state the per-FILE
mergeable summaries are the scale path (HLL registers in
cardinality.py, value-range + Bloom sidecars in sketches.py — same
numbers, amortised across ingest instead of recomputed), and this
module is the ad-hoc/verification tier above them.

Everything emitted is an exact integer — no float summaries — so a SQL
oracle (one UNION ALL branch per column) reproduces the profile
bit-for-bit.

No reference analog (the reference keeps per-file sketches but has no
table-profile surface); beyond-reference, same tier as stats.py.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_columns(df: DataFrame,
                    cols: list[str] | None = None) -> DataFrame:
    """Profile ``cols`` (default: every column): one row per column
    with ``n`` (table rows), ``n_null``, ``n_distinct`` (NULL excluded,
    exact). One aggregation job for the whole profile; the result is
    len(cols) rows built driver-side from that single agg row."""
    names = list(cols) if cols is not None else list(df.columns)
    if not names:
        raise ValueError("no columns to profile")
    missing = [c for c in names if c not in df.columns]
    if missing:
        raise ValueError(f"unknown columns: {missing}")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(names):
        aggs.append(F.count(F.col(c)).alias(f"__nn{i}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"__nd{i}"))
    # the multi-distinct EXPAND multiplies every input row by #cols
    # BEFORE the first aggregate — a CPU-bound derivation that should
    # run at cluster parallelism even when the source parquet arrives
    # in a handful of row-group splits (measured: the EXPAND stage ran
    # 3 tasks / 3.8s on the 16-column lineitem profile; spread, it
    # rides 32 tasks). At real scale the scan already has >=
    # parallelism partitions and this is a no-op (guide §2.5 input
    # skew: repartition immediately after a too-coarse read).
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par)
    row = df.agg(*aggs).first()
    out = [(c, row["__n"], row["__n"] - row[f"__nn{i}"],
            row[f"__nd{i}"])
           for i, c in enumerate(names)]
    from sleeper_spark.query import local_rows_df
    return local_rows_df(
        df.sparkSession, out,
        "column string, n long, n_null long, n_distinct long")
