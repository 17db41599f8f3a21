"""Ranges and regions: the query/partition predicate model.

Reference semantics:
- ``Range`` = (field, min, minInclusive, max, maxInclusive); default
  min-inclusive / max-exclusive; ``max=None`` means unbounded
  (java/core/src/main/java/sleeper/core/range/Range.java:34-68).
- A range with maxInclusive=True is canonicalised to exclusive form before
  evaluation where the type has a successor (RangeCanonicaliser.java);
  for strings/bytes the successor is value + minimal suffix ('\\0' / 0x00).
- ``Region`` = one Range per row-key dimension — a multi-dimensional box
  (Region.java). A query is a list of regions (OR of ANDs,
  RangeQueryUtils.java:48-120).
- Partition regions are closed-left/open-right with null max = unbounded
  (docs/design.md:88-94).

Spark mapping: a Region compiles to a Column predicate
``AND_dims (col >= min) & (col < max)``; a query over regions ORs them and
ANDs the leaf-partition region as the dedup guard (a row stored in an
ancestor-partition file must be returned by exactly one leaf). All
comparisons stay JVM-side (Catalyst pushes them to Parquet row groups).

Driver-side overlap math (for partition pruning) uses Python comparisons;
Python ``bytes`` ordering is unsigned-lexicographic, matching both Spark
BinaryType and the reference (ByteArray.java:97).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from sleeper_spark.schema import Schema


@dataclass(frozen=True)
class Range:
    """One-dimensional range over a row-key field (Range.java:34-68)."""

    field: str
    min: Any  # None = unbounded below (only for partition regions)
    max: Any  # None = unbounded above
    min_inclusive: bool = True
    max_inclusive: bool = False

    # --- canonical form (RangeCanonicaliser.java) ------------------------
    def canonicalise(self) -> "Range":
        """Return an equivalent min-inclusive/max-exclusive range.

        Integer types use value+1; strings append '\\0'; bytes append 0x00.
        Exclusive minimums are likewise promoted to inclusive successors.
        """
        if self.min_inclusive and not self.max_inclusive:
            return self  # already canonical (the overwhelmingly common case)
        r = self
        if not r.min_inclusive and r.min is not None:
            r = Range(r.field, _successor(r.min), r.max, True, r.max_inclusive)
        if r.max_inclusive and r.max is not None:
            r = Range(r.field, r.min, _successor(r.max), r.min_inclusive, False)
        return Range(r.field, r.min, r.max, True, False)

    # --- predicates ------------------------------------------------------
    def to_column(self) -> Column:
        """Spark predicate for this range (canonicalised first)."""
        r = self.canonicalise()
        conds = []
        if r.min is not None:
            conds.append(F.col(r.field) >= F.lit(r.min))
        if r.max is not None:
            conds.append(F.col(r.field) < F.lit(r.max))
        if not conds:
            return F.lit(True)
        out = conds[0]
        for c in conds[1:]:
            out = out & c
        return out

    def contains(self, value: Any) -> bool:
        r = self.canonicalise()
        if r.min is not None and value < r.min:
            return False
        if r.max is not None and value >= r.max:
            return False
        return True

    def overlaps(self, other: "Range") -> bool:
        """Interval intersection test on canonical forms (Range.java:doesRangeOverlap)."""
        a, b = self.canonicalise(), other.canonicalise()
        if a.max is not None and b.min is not None and a.max <= b.min:
            return False
        if b.max is not None and a.min is not None and b.max <= a.min:
            return False
        return True

    # --- SerDe (RegionSerDe.java shape, JSON-friendly) -------------------
    def to_json(self) -> dict[str, Any]:
        return {
            "field": self.field,
            "min": _to_jsonable(self.min),
            "minInclusive": self.min_inclusive,
            "max": _to_jsonable(self.max),
            "maxInclusive": self.max_inclusive,
        }

    @staticmethod
    def from_json(d: dict[str, Any], schema: Schema | None = None) -> "Range":
        mn, mx = d.get("min"), d.get("max")
        if schema is not None:
            dt = schema.field(d["field"]).dtype
            mn, mx = _from_jsonable(mn, dt), _from_jsonable(mx, dt)
        return Range(
            d["field"], mn, mx,
            bool(d.get("minInclusive", True)), bool(d.get("maxInclusive", False)),
        )


def _successor(value: Any) -> Any:
    """Smallest value strictly greater than ``value`` in the key order."""
    if isinstance(value, bool):
        raise TypeError("bool is not a key type")
    if isinstance(value, int):
        return value + 1
    if isinstance(value, str):
        return value + "\x00"
    if isinstance(value, (bytes, bytearray)):
        return bytes(value) + b"\x00"
    raise TypeError(f"no successor for {type(value)}")


def _to_jsonable(v: Any) -> Any:
    if isinstance(v, (bytes, bytearray)):
        return {"bytes": list(v)}
    return v


def _from_jsonable(v: Any, dtype: Any) -> Any:
    from pyspark.sql import types as T

    if v is None:
        return None
    if isinstance(v, dict) and "bytes" in v:
        return bytes(v["bytes"])
    if isinstance(dtype, T.BinaryType) and isinstance(v, list):
        return bytes(v)
    return v


@dataclass(frozen=True)
class Region:
    """Multi-dimensional box: one Range per row-key dimension (Region.java)."""

    ranges: tuple[Range, ...]

    @staticmethod
    def of(*ranges: Range) -> "Region":
        return Region(tuple(ranges))

    @staticmethod
    def exact(schema: Schema, **key_values: Any) -> "Region":
        """Point-lookup region: min=max inclusive on each given row key.
        Key names validate against the schema — a typo'd kwarg must not
        silently build a region over a nonexistent column."""
        if not key_values:
            # an empty exact region would match EVERY row — almost
            # certainly a mis-call (e.g. keys passed positionally into
            # now_millis); full scans must be explicit (full_scan())
            raise ValueError(
                "exact() requires at least one key=value; use "
                "full_scan()/an unbounded Range for a whole-table query")
        valid = set(schema.row_key_names) | set(schema.sort_key_names)
        unknown = sorted(set(key_values) - valid)
        if unknown:
            raise ValueError(
                f"unknown key field(s) {unknown}; row keys are "
                f"{schema.row_key_names}, sort keys {schema.sort_key_names}")
        rs = [
            Range(name, v, v, True, True)
            for name, v in key_values.items()
        ]
        return Region(tuple(rs))

    def range_for(self, field: str) -> Range | None:
        for r in self.ranges:
            if r.field == field:
                return r
        return None

    def to_column(self) -> Column:
        out = F.lit(True)
        for r in self.ranges:
            out = out & r.to_column()
        return out

    def overlaps(self, other: "Region") -> bool:
        """Boxes overlap iff every shared dimension's ranges overlap
        (Partition.doesRegionOverlapPartition, Partition.java:78)."""
        for r in self.ranges:
            o = other.range_for(r.field)
            if o is not None and not r.overlaps(o):
                return False
        return True

    def contains_point(self, row: dict[str, Any]) -> bool:
        return all(r.contains(row[r.field]) for r in self.ranges)

    def to_json(self) -> list[dict[str, Any]]:
        return [r.to_json() for r in self.ranges]

    @staticmethod
    def from_json(d: list[dict[str, Any]], schema: Schema | None = None) -> "Region":
        return Region(tuple(Range.from_json(r, schema) for r in d))


def regions_to_column(regions: list[Region]) -> Column:
    """(OR over regions) — the query predicate (RangeQueryUtils.java:48-56).

    Balanced pairwise reduction: a left-deep ``a | b | c | ...`` chain
    over 10^3+ selected leaves overflows the JVM stack converting the
    Column tree; a balanced tree keeps depth O(log n)."""
    if not regions:
        return F.lit(True)
    terms = [reg.to_column() for reg in regions]
    while len(terms) > 1:
        terms = [terms[i] | terms[i + 1] if i + 1 < len(terms) else terms[i]
                 for i in range(0, len(terms), 2)]
    return terms[0]
