"""Data-layout operators: Z-order (Morton) clustering and deterministic
row permutation.

Why these belong in a 100 TB engine:

- **Z-order**: a sorted-run LSM table clusters on ONE key prefix; a
  query box on (dim_a, dim_b) then prunes only on dim_a, and every
  row group straddles the full dim_b range. Interleaving the bits of
  both dimensions into one sort key gives every row group a tight
  min/max box in BOTH dimensions, so multi-dimensional range queries
  prune row groups (and files) instead of scanning them — the same
  reason Delta/Iceberg ship OPTIMIZE ZORDER. Here it is a pure
  codegen'd Column expression: ingest with ``sort_col=zorder_key(...)``
  and Parquet's per-row-group statistics do the rest; no new machinery.
- **Deterministic shuffle**: training pipelines need a reproducible
  global permutation of the corpus (epoch ordering must not correlate
  with source/crawl order, yet re-runs must see the same order).
  Sorting by a seeded hash IS that permutation, and Spark executes it
  as a range-partitioned sort — the scale-correct global shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(cols: list[Column | str], bits: int = 16) -> Column:
    """Morton (Z-order) interleave of the low ``bits`` bits of each
    column: result bit ``i*d + j`` is bit ``i`` of column ``j``.

    Columns must be non-negative integers that fit in ``bits`` bits —
    callers bucket/clamp first (e.g. ``(ts_us / 3600e6)`` hour buckets);
    values are masked to ``bits`` bits so an outlier degrades locality
    instead of corrupting neighbours' keys. ``d * bits`` must be <= 63.

    The expression is a sum of shift/mask terms — fully codegen'd,
    zero shuffle on its own; the shuffle (a range-partitioned sort) is
    the caller's explicit ingest/OPTIMIZE step.
    """
    d = len(cols)
    if d * bits > 63:
        raise ValueError(f"{d} cols x {bits} bits exceeds a signed long")
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    mask = (1 << bits) - 1
    out = F.lit(0).cast("long")
    for j, c in enumerate(cs):
        v = c.cast("long").bitwiseAND(F.lit(mask))
        for b in range(bits):
            out = out + F.shiftright(v, b).bitwiseAND(F.lit(1).cast("long")) \
                * F.lit(1 << (b * d + j)).cast("long")
    return out


#: Mersenne prime 2^31-1 and two classic LCG multipliers — products stay
#: under 2^63, so the arithmetic is exact in ANY engine with 64-bit ints
#: (the same portability contract as sampling.py's congruential bucket)
_SHUFFLE_P = 2147483647
_SHUFFLE_A1 = 1103515245
_SHUFFLE_A2 = 69069


def shuffle_key(id_col: Column | str, seed: int = 42) -> Column:
    """The permutation key behind :func:`shuffle_rows`: two rounds of
    ``h = (h * A + seed') % (2^31 - 1)`` — deliberately NOT an engine
    builtin (xxhash64 availability differs per engine) and deliberately
    overflow-free, so a DuckDB/Trino/any-SQL oracle reproduces the
    permutation with plain integer arithmetic."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    p = F.lit(_SHUFFLE_P).cast("long")
    h = F.pmod(c.cast("long") + F.lit(seed).cast("long"), p)
    h = (h * F.lit(_SHUFFLE_A1).cast("long")
         + F.lit(seed + 12345).cast("long")) % p
    h = (h * F.lit(_SHUFFLE_A2).cast("long") + F.lit(1).cast("long")) % p
    return h


def shuffle_rows(df: DataFrame, id_col: str, seed: int = 42) -> DataFrame:
    """Deterministic global permutation: order rows by a seeded
    congruential hash of their id (ties — ids congruent mod the prime —
    break by the id itself, so the order is total and reproducible).
    Spark plans a range-partitioned sort: the one-shuffle global
    shuffle a training pipeline runs per epoch.
    """
    return (df.withColumn("__shuffle__", shuffle_key(id_col, seed))
            .orderBy("__shuffle__", id_col)
            .drop("__shuffle__"))
