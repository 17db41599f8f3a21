"""Table-processing config: filters + aggregations parsed from strings.

Grammar parity with the reference's config strings
(rust/sleeper_core/src/filter_aggregation_config/{filter.rs,aggregate.rs};
docs/usage/data-processing.md):

- filters:       ``ageOff(timestamp, 1209600000)``
- aggregations:  ``sum(count), max(last_seen), map_sum(tags)``

Supported aggregation ops: sum, min, max, map_sum, map_min, map_max
(aggregate.rs:70-103), plus beyond-reference ``max_by(col, order_col)``
/ ``min_by(col, order_col)`` — last/first-writer-wins upsert semantics:
the kept value is the one paired with the winning order column,
deterministic under ties (lexicographic (order, value) extremum).
Supported filter: ageOff(column, max_age_millis) (filter.rs:23-27).

Validation mirrors Aggregation.java:56-147 / validate_aggregations:
- no aggregation of row/sort key columns;
- every non-key value column has exactly one aggregation (when any are
  configured);
- no duplicate aggregations;
- no aggregation of nullable value fields (Aggregation.java:108-116).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from sleeper_spark.schema import Schema

AGG_OPS = {"sum", "min", "max", "map_sum", "map_min", "map_max",
           "max_by", "min_by"}

_CALL = re.compile(r"\s*(\w+)\s*\(\s*([^)]*)\s*\)\s*")


def _parse_calls(config: str) -> list[tuple[str, list[str]]]:
    """Parse ``name(arg, ...), name(arg)`` into [(name, [args...])]."""
    out = []
    pos = 0
    s = config.strip()
    if not s:
        return out
    while pos < len(s):
        m = _CALL.match(s, pos)
        if not m:
            raise ValueError(f"cannot parse config at {s[pos:]!r}")
        name = m.group(1)
        args = [a.strip() for a in m.group(2).split(",")] if m.group(2).strip() else []
        out.append((name, args))
        pos = m.end()
        if pos < len(s):
            if s[pos] != ",":
                raise ValueError(f"expected ',' between calls at {s[pos:]!r}")
            pos += 1
            if pos >= len(s.rstrip()) or not s[pos:].strip():
                # a trailing comma usually means a templating bug dropped
                # the final call — surface it as a parse error here, not
                # as a confusing downstream validation message
                raise ValueError(
                    f"trailing ',' with no call after it in {s!r}")
    return out


@dataclass(frozen=True)
class AgeOffFilter:
    """Drop rows where now - col >= max_age OR col is null
    (AgeOffFilter.java:82-85, ageoff.rs:40-52)."""

    column: str
    max_age_millis: int


@dataclass(frozen=True)
class Aggregation:
    """One value-column aggregation (Aggregate in aggregate.rs:23-27).
    ``order_col`` is set only for max_by/min_by: the value column whose
    extremum decides which of the collapsed rows' values is kept."""

    column: str
    op: str  # one of AGG_OPS
    order_col: str | None = None


def parse_filters(config: str | None) -> list[AgeOffFilter]:
    if not config:
        return []
    out = []
    for name, args in _parse_calls(config):
        if name.lower() != "ageoff":
            raise ValueError(f"unrecognised filter function {name!r}")
        if len(args) != 2:
            raise ValueError(f"ageOff takes (column, max_age_millis), got {args}")
        out.append(AgeOffFilter(args[0], int(args[1])))
    return out


def parse_aggregations(config: str | None) -> list[Aggregation]:
    if not config:
        return []
    out = []
    for name, args in _parse_calls(config):
        op = name.lower()
        if op not in AGG_OPS:
            raise ValueError(f"unrecognised aggregation function {name!r}")
        if op in ("max_by", "min_by"):
            if len(args) != 2:
                raise ValueError(
                    f"{name} takes (column, order_column), got {args}")
            out.append(Aggregation(args[0], op, args[1]))
            continue
        if len(args) != 1:
            raise ValueError(f"{name} takes (column), got {args}")
        out.append(Aggregation(args[0], op))
    return out


def validate_aggregations(schema: Schema, aggs: list[Aggregation]) -> None:
    """Aggregation.java:56-147 / filter_aggregation_config.rs validate_aggregations."""
    if not aggs:
        return
    key_names = set(schema.key_names)
    seen: set[str] = set()
    for a in aggs:
        if a.column in key_names:
            raise ValueError(f"cannot aggregate key column {a.column!r}")
        if a.column in seen:
            raise ValueError(f"duplicate aggregation for column {a.column!r}")
        f = schema.field(a.column)  # KeyError if unknown
        if f.nullable:
            raise ValueError(f"cannot aggregate nullable column {a.column!r}")
        # op/type compatibility at CONFIG time, like the reference, so
        # no config reaches compaction that crashes deep in the kernels
        # (map_sum on a long column, min on a map, any aggregation on an
        # array)
        from pyspark.sql import types as T

        if isinstance(f.dtype, T.ArrayType):
            raise ValueError(
                f"cannot aggregate array column {a.column!r}")
        is_map = isinstance(f.dtype, T.MapType)
        if a.op.startswith("map_") and not is_map:
            raise ValueError(
                f"{a.op} requires a map column, but {a.column!r} "
                f"is {f.dtype.simpleString()}")
        if not a.op.startswith("map_") and is_map:
            raise ValueError(
                f"map column {a.column!r} needs a map_* aggregation, "
                f"not {a.op}")
        if a.op in ("max_by", "min_by"):
            if a.order_col in key_names:
                raise ValueError(
                    f"{a.op} order column {a.order_col!r} is a key "
                    "column — keys are constant within a collapsed "
                    "group, so it could never decide a winner")
            of = schema.field(a.order_col)  # KeyError if unknown
            if isinstance(of.dtype, (T.MapType, T.ArrayType)):
                raise ValueError(
                    f"{a.op} order column {a.order_col!r} must be an "
                    f"orderable scalar, not {of.dtype.simpleString()}")
            if of.nullable:
                raise ValueError(
                    f"{a.op} order column {a.order_col!r} must be "
                    "non-nullable (null order values have no defined "
                    "extremum)")
        seen.add(a.column)
    missing = [v for v in schema.value_names if v not in seen]
    if missing:
        raise ValueError(
            f"every value column needs an aggregation when any are configured; missing {missing}"
        )


def validate_filters(schema: Schema, filters: list[AgeOffFilter]) -> None:
    from pyspark.sql import types as T

    for f in filters:
        fld = schema.field(f.column)
        if not isinstance(fld.dtype, (T.LongType, T.IntegerType)):
            raise ValueError(f"ageOff column {f.column!r} must be int/long epoch millis")


# ---------------------------------------------------------------------------
# custom iterators (U1/U2): the user-transform surface
# ---------------------------------------------------------------------------
#
# The reference lets users plug a ConfigStringIterator — a Java class
# transforming a sorted row stream, configured by a string, applied
# table-level (compaction + query) or query-level, composed in order
# (SortedRowIterators.java:1-53; IteratorFactory.java:76-99;
# docs/usage/data-processing.md:69-98). The Spark-native equivalent is a
# registry of named DataFrame -> DataFrame transforms built from the same
# ``name(args)`` config grammar. Constraints carried over: a custom
# iterator must preserve the table schema (so compaction output stays
# valid) and must be a per-row/streaming transform (no global reordering).
#
# Built-ins mirror the reference's example iterators
# (java/example-iterators/src/main/java/sleeper/example/iterator/):
# - securityFilter(column, auth...) — SecurityFilteringIterator.java: keep
#   rows whose security-label value field is one of the user's auths.
# - addition(out_col, col_a, col_b) — AdditionIterator-style derived sum.
#
# Python transforms that need imperative logic register a factory taking
# (args, schema) and returning a DataFrame transform — typically built on
# ``mapInPandas`` (the direct analog of an iterator transform).

from typing import Callable, TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame

IteratorFactory = Callable[[list[str], Schema], Callable[["DataFrame"], "DataFrame"]]

_ITERATOR_REGISTRY: dict[str, IteratorFactory] = {}


def register_iterator(name: str, factory: IteratorFactory) -> None:
    """Register a custom iterator under a config-string name."""
    _ITERATOR_REGISTRY[name.lower()] = factory


def _security_filter(args: list[str], schema: Schema):
    if len(args) < 1:
        raise ValueError("securityFilter takes (column, auth...)")
    column, auths = args[0], args[1:]

    def apply(df: "DataFrame") -> "DataFrame":
        from pyspark.sql import functions as F
        # null/empty label = visible to all (SecurityFilteringIterator.java)
        return df.where(F.col(column).isNull() | (F.col(column) == "")
                        | F.col(column).isin(auths))

    return apply


def _addition(args: list[str], schema: Schema):
    if len(args) != 3:
        raise ValueError("addition takes (out_col, col_a, col_b)")
    out, a, b = args

    def apply(df: "DataFrame") -> "DataFrame":
        from pyspark.sql import functions as F
        return df.withColumn(out, F.col(a) + F.col(b))

    return apply


register_iterator("securityFilter", _security_filter)
register_iterator("addition", _addition)


#: Row-wise twins of the DataFrame iterator registry, for the driver-side
#: sorted stream (table.sorted_rows). The reference applies ONE iterator
#: chain on every read path (IteratorFactory.getIterator); Spark reads use
#: the DataFrame transforms above, the k-way-merge read uses these. A
#: row transform takes a row dict and returns the (possibly modified) row
#: or None to drop it.
RowIteratorFactory = Callable[[list[str], Schema], Callable[[dict], "dict | None"]]

_ROW_ITERATOR_REGISTRY: dict[str, RowIteratorFactory] = {}


def register_row_iterator(name: str, factory: RowIteratorFactory) -> None:
    """Register the row-wise form of a custom iterator (same config name
    as :func:`register_iterator`)."""
    _ROW_ITERATOR_REGISTRY[name.lower()] = factory


def _security_filter_row(args: list[str], schema: Schema):
    if len(args) < 1:
        raise ValueError("securityFilter takes (column, auth...)")
    column, auths = args[0], set(args[1:])

    def apply(row: dict):
        v = row.get(column)
        return row if (v is None or v == "" or v in auths) else None

    return apply


def _addition_row(args: list[str], schema: Schema):
    if len(args) != 3:
        raise ValueError("addition takes (out_col, col_a, col_b)")
    out, a, b = args

    def apply(row: dict):
        va, vb = row.get(a), row.get(b)
        row[out] = None if (va is None or vb is None) else va + vb
        return row

    return apply


register_row_iterator("securityFilter", _security_filter_row)
register_row_iterator("addition", _addition_row)


def parse_row_iterators(
    config: str | None, schema: Schema
) -> list[Callable[[dict], "dict | None"]]:
    """Row-wise iterator chain for the driver-side sorted stream. Raises
    if a configured iterator has no registered row-wise form — a table
    whose iterator only exists as a DataFrame transform must not silently
    skip it on one read path (ADVICE r1: sorted_rows leaked rows that
    every other read path filtered)."""
    if not config:
        return []
    out = []
    for name, args in _parse_calls(config):
        factory = _ROW_ITERATOR_REGISTRY.get(name.lower())
        if factory is None:
            raise ValueError(
                f"custom iterator {name!r} has no row-wise form; register "
                f"one with register_row_iterator() to use sorted_rows on "
                f"this table (known: {sorted(_ROW_ITERATOR_REGISTRY)})")
        out.append(factory(args, schema))
    return out


def parse_custom_iterators(
    config: str | None, schema: Schema
) -> list[Callable[["DataFrame"], "DataFrame"]]:
    """Build the composed transform chain from a config string like
    ``securityFilter(label, public, secret), addition(total, a, b)``.
    Chain order = config order (SortedRowIterators composition)."""
    if not config:
        return []
    out = []
    for name, args in _parse_calls(config):
        factory = _ITERATOR_REGISTRY.get(name.lower())
        if factory is None:
            raise ValueError(
                f"unknown custom iterator {name!r}; register it with "
                f"register_iterator() (known: {sorted(_ITERATOR_REGISTRY)})")
        out.append(factory(args, schema))
    return out


def apply_custom_iterators(df: "DataFrame", config: str | None,
                           schema: Schema) -> "DataFrame":
    for fn in parse_custom_iterators(config, schema):
        df = fn(df)
    return df
