"""Query path: one driver-side planner (partition pruning + file
collection) feeding one of two readers.

Mirrors the reference lifecycle (SURVEY §3.1; QueryPlanner.java:160-237;
LeafPartitionQueryExecutor.java:73-131) re-shaped for Spark:

1. Prune: leaves whose region overlaps any query region.
2. Collect files: each pruned leaf's files plus its ancestors' files (a
   row may still live in an ancestor-partition file before compaction),
   then skip files by sidecar min/max (``value_ranges``) and, for point
   queries only, by each file's first-row-key Bloom filter.
3. Read the surviving files with ONE of two readers:

   - **Spark plan** (default): one scan over the distinct file set with
     the predicate ``(OR query regions) AND (OR selected leaf regions)``.
   - **Driver read** (key-bounded queries): when every region bounds
     the first row key on both sides (:func:`_key_bounds` — point gets,
     small range scans, ``batch_exact_key_query``), the driver reads
     only the row groups whose footer min/max overlap a region's key
     range, keeps the rows inside those ranges in Arrow, merges and
     processes them with the Arrow kernels the distributed sorted scan
     and Arrow compaction run (the reader ``sorted_rows`` also uses),
     and returns the rows as a local DataFrame — no Spark job, like the
     reference's single-reader LeafPartitionQueryExecutor. The Spark
     plan runs instead when a region leaves the first row key
     unbounded (a full scan), when a table- or query-level custom
     iterator has no row-wise form, when the matched row groups hold
     more than :data:`DRIVER_SCAN_ROWS` rows, or when more than
     :data:`DRIVER_KEY_ROWS` of their rows lie inside the key ranges
     (a hot key or a wide range stays distributed).
     ``batch_exact_key_query`` plans its leaves by tree descent and
     falls back to a broadcast-join Spark plan.

The Spark plan's predicate is the Spark-shaped dedup guard. The
reference reads each leaf separately, ANDing that leaf's region so a row
in a shared ancestor file is returned by exactly one leaf
(RangeQueryUtils.java:49-56). Reading each distinct physical file exactly
once and ORing the selected leaf regions is equivalent — leaf regions are
disjoint, so every matching row passes for exactly the one leaf that owns
it — and it collapses N per-leaf scans into one Catalyst scan node: one
pass over the data, full predicate pushdown to Parquet row groups/pages,
no union of hundreds of subplans at 100 TB. The driver reader applies the
leaf region per leaf instead, exactly like the reference.

Query-time vs table-time processing split follows
LeafPartitionQueryExecutor.java:80-99: table iterators (filters +
aggregation) are ALWAYS applied; an extra query-time config may add more.
The SQL stage (Q1, rust/query_sql/src/lib.rs:28-55) registers results as
``query_results`` and accepts a SELECT-only statement; it runs on either
reader's DataFrame.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field
from functools import lru_cache
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sleeper_spark.iterators import (
    apply_custom_iterators,
    parse_aggregations,
    parse_filters,
    parse_row_iterators,
)
from sleeper_spark.partitions import Partition
from sleeper_spark.processing import apply_processing
from sleeper_spark.ranges import Range, Region, regions_to_column
from sleeper_spark.schema import Schema
from sleeper_spark.statestore import FileReference, StateStore


@dataclass
class Query:
    """Top-level query IR (Query.java:30-46, QueryJson.java:38-54)."""

    regions: list[Region]
    requested_value_fields: list[str] | None = None  # None = all value fields
    query_time_filters: str = ""       # extra ageOff(...) applied at query only
    query_time_iterators: str = ""     # extra custom iterator chain (U1 query-level)
    sql: str | None = None             # post-query SQL stage (Q1)
    #: conjunctive range predicates on VALUE columns, evaluated against
    #: the STORED values (before any custom iterator transforms — if an
    #: iterator rewrites a filtered column, post-filter the returned
    #: frame instead). Declared at PLAN time they additionally prune
    #: whole FILES via sidecar-held footer min/max stats (Iceberg-style
    #: file skipping) before any footer is opened, and Catalyst still
    #: pushes the same predicate to the row groups of surviving files.
    #: Identical semantics on all three read paths (query /
    #: sorted_rows / sorted_scan); rejected on aggregation-configured
    #: tables (pre-collapse skipping would corrupt aggregates).
    value_ranges: list = field(default_factory=list)
    query_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])

    def to_json(self) -> dict[str, Any]:
        return {
            "queryId": self.query_id,
            "regions": [r.to_json() for r in self.regions],
            "requestedValueFields": self.requested_value_fields,
            "queryTimeFilters": self.query_time_filters,
            "queryTimeIterators": self.query_time_iterators,
            "sql": self.sql,
            "valueRanges": [r.to_json() for r in self.value_ranges],
        }

    @staticmethod
    def from_json(d: dict[str, Any], schema: Schema | None = None) -> "Query":
        return Query(
            regions=[Region.from_json(r, schema) for r in d["regions"]],
            requested_value_fields=d.get("requestedValueFields"),
            query_time_filters=d.get("queryTimeFilters", ""),
            query_time_iterators=d.get("queryTimeIterators", ""),
            sql=d.get("sql"),
            value_ranges=[Range.from_json(r, schema)
                          for r in d.get("valueRanges", [])],
            query_id=d.get("queryId", uuid.uuid4().hex[:12]),
        )


@dataclass(frozen=True)
class LeafPartitionQuery:
    """Per-leaf sub-query IR (LeafPartitionQuery in QueryJson.java:38-54)."""

    leaf: Partition
    files: tuple[FileReference, ...]


class QueryPlanner:
    """Prune partitions and collect files (QueryPlanner.java:160-237)."""

    def __init__(self, store: StateStore):
        self.store = store

    def split_into_leaf_queries(self, query: Query) -> list[LeafPartitionQuery]:
        tree = self.store.tree
        assert tree is not None, "table not initialised"
        out = []
        for leaf in tree.leaves_overlapping(query.regions):
            files = tuple(self.store.files_for_leaf_query(leaf.id))
            if files:
                out.append(LeafPartitionQuery(leaf, files))
        return out


def _minmax_for(filename: str) -> tuple | None:
    """The file's sidecar-held per-column (min, max) bounds, memoised on
    the sidecar's (mtime_ns, size) so a rewritten sidecar (stats
    backfill on pre-upgrade files, manual repair) is re-read
    automatically — a filename-only cache would serve stale bounds and
    could wrongly SKIP files. The stat is ~1 microsecond; the JSON
    parse it avoids is the expensive part at 10^5 planned files."""
    import os as _os

    from sleeper_spark import sketches

    try:
        st = _os.stat(sketches.sidecar_path(filename))
        key = (filename, st.st_mtime_ns, st.st_size)
    except OSError:
        return None  # no sidecar -> unknown -> keep the file
    return _minmax_read(key)


@lru_cache(maxsize=65536)
def _minmax_read(key: tuple) -> tuple | None:
    from sleeper_spark import sketches

    side = sketches.load_sidecar(key[0])
    if not side:
        return None
    mm = side.get("minmax")
    if not mm:
        return None
    return tuple((c, _freeze(v[0]), _freeze(v[1])) for c, v in mm.items())


def _freeze(v):
    return tuple(sorted(v.items())) if isinstance(v, dict) else v


def _thaw(v):
    return dict(v) if isinstance(v, tuple) else v


def _file_may_match(filename: str, value_ranges) -> bool:
    """True unless the file's sidecar-held footer min/max for some
    filtered column PROVABLY misses its range. Conservative by
    construction: no sidecar, no 'minmax' key (pre-upgrade sidecars),
    or no entry for the column all mean "keep the file"."""
    from sleeper_spark import sketches

    frozen = _minmax_for(filename)
    if not frozen:
        return True
    mm = {c: [_thaw(lo), _thaw(hi)] for c, lo, hi in frozen}
    for r in value_ranges:
        ent = mm.get(r.field)
        if not ent:
            continue
        lo, hi = sketches._dec(ent[0]), sketches._dec(ent[1])
        if lo is None or hi is None:
            continue
        # closed file interval [lo, hi] vs the query range — explicit
        # endpoint logic (no canonicalise: doubles have no successor)
        if r.min is not None and (
                hi < r.min or (hi == r.min and not r.min_inclusive)):
            return False
        if r.max is not None and (
                lo > r.max or (lo == r.max and not r.max_inclusive)):
            return False
    return True


def _bloom_for(filename: str):
    """The file's sidecar-held first-row-key Bloom filter as
    ``(meta_dict, decoded_bits)``, memoised on the sidecar's
    (mtime_ns, size) like ``_minmax_for`` — a rewritten sidecar (stats
    backfill) is re-read automatically."""
    import os as _os

    from sleeper_spark import sketches

    try:
        st = _os.stat(sketches.sidecar_path(filename))
        key = (filename, st.st_mtime_ns, st.st_size)
    except OSError:
        return None  # no sidecar -> unknown -> keep the file
    return _bloom_read(key)


# decoded bitmaps are MBs each (vs the minmax cache's tuples), so this
# cache is deliberately small: 1024 entries ~ 1 GB worst-case on the
# driver; eviction just re-reads a sidecar JSON
@lru_cache(maxsize=1024)
def _bloom_read(key: tuple):
    from sleeper_spark import bloom as bl
    from sleeper_spark import sketches

    side = sketches.load_sidecar(key[0])
    meta = (side or {}).get("bloom")
    if not meta:
        return None
    return meta, bl.decode_bits(meta)


def bloom_points(query: "Query", bloom_field: str):
    """Probe values for Bloom file skipping: one per region if EVERY
    region pins ``bloom_field`` to a single point (min==max, both
    inclusive — the shape ``Region.exact`` builds); else ``None``
    (a range region could match keys the probes don't cover, so
    skipping would be unsound for the OR of regions)."""
    pts = []
    for region in query.regions:
        r = region.range_for(bloom_field)
        if (r is None or r.min is None
                or r.min != r.max
                or not (r.min_inclusive and r.max_inclusive)):
            return None
        pts.append(r.min)
    return pts


def file_may_contain_keys(filename: str, points) -> bool:
    """True unless the file's Bloom filter proves ALL probe points
    absent. No false negatives (bloom.py module doc), so skipping is
    exact; a missing bloom keeps the file. Safe on aggregation tables:
    a skipped file contains no row of any probed key group, so no
    contributing row is lost."""
    from sleeper_spark import bloom as bl

    got = _bloom_for(filename)
    if not got:
        return True
    meta, bits = got
    return any(bl.may_contain(bits, meta, p) for p in points)


def reject_value_ranges_on_aggregation(value_ranges, has_aggregations) -> None:
    """The ONE guard shared by all three read paths: pre-collapse
    file/row skipping on VALUE bounds would aggregate a subset of each
    group's rows — silently wrong sums."""
    if value_ranges and has_aggregations:
        raise ValueError(
            "value_ranges cannot be used on an aggregation-configured "
            "table (pre-collapse file skipping would corrupt "
            "aggregates); filter the returned DataFrame instead")


def apply_value_ranges_df(df: DataFrame, value_ranges) -> DataFrame:
    """The value-range row predicate as DataFrame filters — shared by
    QueryExecutor.execute and distributed_sorted_scan so the semantics
    cannot drift. Built directly (not via Range.to_column) so inclusive
    bounds on DOUBLE columns work — canonicalise has no float
    successor. Row-wise filters preserve sorted order."""
    for r in value_ranges:
        c = F.col(r.field)
        if r.min is not None:
            df = df.where(c >= r.min if r.min_inclusive else c > r.min)
        if r.max is not None:
            df = df.where(c <= r.max if r.max_inclusive else c < r.max)
    return df


#: rows per Arrow batch of the driver reader
DRIVER_BATCH_ROWS = 8192

#: A key-bounded query is read on the driver only while it stays
#: within both of these caps; otherwise the Spark plan runs. Set at the
#: crossover measured on a 4-core host (local[4], one file, a (long,
#: long, string) row) between a query read on the driver and the same
#: query as the Spark plan:
#:
#: - the rows of the matched row groups, which the driver reads in
#:   Arrow: a 1-row key took 20 / 24 / 44 / 72 / 131 ms on the driver
#:   against 95 / 76 / 69 / 65 / 62 ms in Spark with 8,192 / 65,536 /
#:   524,288 / 1,048,576 / 2,097,152 rows in its row group;
DRIVER_SCAN_ROWS = 1 << 19
#: - the rows inside the first row key's bounds, which the driver
#:   merges and hands back: in a file of 524,288 rows in 65,536-row
#:   groups, a range of 1,024 / 8,192 / 16,384 / 32,768 / 65,536 /
#:   131,072 / 262,144 rows (one row per key, collected) took
#:   90 / 108 / 168 / 389 / 734 / 1,419 / 2,308 ms against
#:   305 / 248 / 264 / 512 / 709 / 1,037 / 1,515 ms in Spark. So a hot
#:   key (an index posting list, say) and a wide range stay distributed.
DRIVER_KEY_ROWS = 1 << 16

#: the Python type the driver reader compares each key type's values
#: with; a query bound of another type runs as the Spark plan, whose
#: casts the driver reader does not reproduce
_KEY_PY_TYPES = {T.IntegerType: int, T.LongType: int, T.StringType: str,
                 T.BinaryType: (bytes, bytearray)}


def _bounds_comparable(query: Query, schema: Schema) -> bool:
    for region in query.regions:
        for r in region.ranges:
            want = _KEY_PY_TYPES.get(type(schema.field(r.field).dtype))
            if want is None or not all(
                    v is None or isinstance(v, want) for v in (r.min, r.max)):
                return False
    return True


@dataclass(frozen=True)
class _KeyBounds:
    """A query's bounds on the first row key: the regions' canonical
    ``[lo, hi)`` ranges, sorted and merged into disjoint ``intervals``
    (empty ranges dropped), plus the probe ``points`` as an Arrow array
    when every region pins the key (else None)."""

    points: Any
    intervals: list[tuple]


def _key_bounds(query: Query, key_name: str) -> _KeyBounds | None:
    """The query's :class:`_KeyBounds` on ``key_name``, or None when a
    region leaves it unbounded on either side (a full scan). Bounds must
    have a successor type (:func:`_bounds_comparable`)."""
    import pyarrow as pa

    ranges = []
    for region in query.regions:
        r = region.range_for(key_name)
        if r is None or r.min is None or r.max is None:
            return None
        r = r.canonicalise()
        if r.min < r.max:
            ranges.append((r.min, r.max))
    intervals: list[tuple] = []
    for lo, hi in sorted(ranges):
        if intervals and lo <= intervals[-1][1]:
            intervals[-1] = (intervals[-1][0], max(hi, intervals[-1][1]))
        else:
            intervals.append((lo, hi))
    points = bloom_points(query, key_name)
    return _KeyBounds(None if points is None else pa.array(points),
                      intervals)


def _key_mask(column, bounds: _KeyBounds):
    """Arrow boolean mask of the ``column`` values inside ``bounds``
    (which hold at least one interval): set membership when every region
    is a point, ORed ``>= lo & < hi`` otherwise."""
    import functools

    import pyarrow.compute as pc

    if bounds.points is not None:
        return pc.is_in(column, value_set=bounds.points)
    return functools.reduce(pc.or_, (
        pc.and_(pc.greater_equal(column, lo), pc.less(column, hi))
        for lo, hi in bounds.intervals))


def _matched_row_groups(files: list[str], key_name: str,
                        bounds: _KeyBounds) -> dict:
    """``{file: (ParquetFile, row groups, rows)}`` for the files with at
    least one row group whose footer min/max on ``key_name`` overlaps
    one of ``bounds.intervals``. A row group without statistics is kept.
    Reads each file's statistics once and bisects the sorted intervals,
    so a many-key batch costs one footer walk per file."""
    import bisect

    import pyarrow.parquet as pq_mod

    from sleeper_spark import sketches

    if not bounds.intervals:  # every range is empty
        return {}
    los = [lo for lo, _ in bounds.intervals]
    his = [hi for _, hi in bounds.intervals]

    def overlaps(mm) -> bool:
        if mm is None:
            return True
        # the first interval ending past the group's min, if it starts
        # at or before the group's max
        i = bisect.bisect_right(his, mm[0])
        return i < len(los) and los[i] <= mm[1]

    out = {}
    for fn in files:
        pf = pq_mod.ParquetFile(fn)
        md = pf.metadata
        stats = sketches.row_group_key_stats(pf, key_name)
        rgs = (list(range(md.num_row_groups)) if stats is None
               else [g for g, mm in enumerate(stats) if overlaps(mm)])
        if rgs:
            out[fn] = (pf, rgs,
                       sum(md.row_group(g).num_rows for g in rgs))
    return out


def _key_rows(row_groups: dict, key_name: str, bounds: _KeyBounds) -> int:
    """Rows of ``row_groups`` (as :func:`_matched_row_groups` returns
    them) whose ``key_name`` lies inside ``bounds``; reads that column
    only."""
    import pyarrow.compute as pc

    return sum(
        pc.sum(_key_mask(pf.read_row_groups(rgs, columns=[key_name])
                        .column(0), bounds)).as_py() or 0
        for pf, rgs, _ in row_groups.values())


def _projected_columns(schema: Schema, query: Query) -> list[str] | None:
    """Keys always returned; value fields as requested (None = all)
    (LeafPartitionQueryExecutor.java:105-131)."""
    if query.requested_value_fields is None:
        return None
    wanted = set(query.requested_value_fields)
    return schema.key_names + [v for v in schema.value_names if v in wanted]


def _pylist(t) -> list[dict]:
    """The rows of Arrow table ``t`` as dicts, map columns as dicts (as
    Spark rows hold them) rather than Arrow's (key, value) lists."""
    import pyarrow as pa

    rows = t.to_pylist()
    for f in t.schema:
        if pa.types.is_map(f.type):
            for row in rows:
                if row[f.name] is not None:
                    row[f.name] = dict(row[f.name])
    return rows


def _through_rows(t, fns):
    """Arrow table ``t`` passed row by row through the row-wise iterator
    chain ``fns`` (each returns the row, changed or not, or None to drop
    it); iterators keep the table schema."""
    import pyarrow as pa

    if not fns:
        return t
    out = []
    for row in _pylist(t):
        for fn in fns:
            row = fn(row)
            if row is None:
                break
        else:
            out.append(row)
    return pa.Table.from_pylist(out, schema=t.schema)


def local_frame(spark: SparkSession, struct: T.StructType,
                tables=()) -> DataFrame:
    """Arrow ``tables`` (columns as in ``struct``; none for an empty
    result) as a local DataFrame. ``createDataFrame`` of an Arrow table
    plans a LocalRelation, so collecting it runs no Spark job, and it
    keeps the table's types (maps included) and nullability. Python rows
    or an empty list would instead plan a Python RDD of
    ``defaultParallelism`` slices, which every consuming action runs as
    a stage of near-empty tasks."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(struct)
    table = (pa.concat_tables([t.cast(schema) for t in tables]) if tables
             else schema.empty_table())
    return spark.createDataFrame(table, struct)


def local_rows_df(spark: SparkSession, rows,
                  schema: T.StructType | str) -> DataFrame:
    """Driver-held ``rows`` (positional tuples) as a :func:`local_frame`
    of ``schema`` (a StructType or a DDL string), built column by column
    as one Arrow table. A value of the wrong type, or a None in a
    non-nullable field, raises at the Arrow conversion."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return local_frame(spark, schema, [table])


class QueryExecutor:
    """Plan a query once and read it with the Spark plan or, for
    key-bounded queries, on the driver (module docstring)."""

    def __init__(self, spark: SparkSession, store: StateStore, schema: Schema,
                 table_filters: str = "", table_aggregations: str = "",
                 table_iterators: str = ""):
        self.spark = spark
        self.store = store
        self.schema = schema
        self.table_filters = table_filters
        self.table_aggregations = table_aggregations
        self.table_iterators = table_iterators

    def plan_files(self, query: Query) -> list[str]:
        """The distinct physical files the scan will read: leaf/ancestor
        pruning by key regions, then Iceberg-style file skipping on
        ``query.value_ranges`` via each file's sidecar-held footer
        min/max — a file is dropped only when its recorded bounds for a
        filtered column PROVABLY miss the range; no sidecar / no stats
        for that column keeps the file (absence = unknown)."""
        leaf_queries = QueryPlanner(self.store).split_into_leaf_queries(query)
        return self._files_of(leaf_queries, query)

    def _files_of(self, leaf_queries, query: Query) -> list[str]:
        files = sorted({f.filename for lq in leaf_queries for f in lq.files})
        if query.value_ranges:
            files = [f for f in files
                     if _file_may_match(f, query.value_ranges)]
        # exact-point queries additionally consult each file's
        # first-row-key Bloom filter (bloom.py): an LSM point lookup
        # should open the files that can contain the key, not every
        # file of the leaf partition
        pts = bloom_points(query, self.schema.row_key_names[0])
        if pts is not None:
            files = [f for f in files if file_may_contain_keys(f, pts)]
        return files

    def _row_iterators(self, query: Query) -> tuple[list, list]:
        """The table- and query-level custom iterator chains in row-wise
        form; raises ValueError if one has no row-wise form."""
        return (parse_row_iterators(self.table_iterators, self.schema),
                parse_row_iterators(query.query_time_iterators, self.schema))

    def _driver_plan(self, query: Query, files: list[str]):
        """``(plan, counts)``. ``plan`` is ``(row iterators, matched row
        groups, key bounds)`` when ``query`` bounds the first row key on
        both sides in every region and the driver can answer it, else
        None (module docstring). ``counts`` holds, for a key-bounded
        query, ``rows_matched`` (rows of the row groups whose footer
        min/max overlap the key bounds) and, unless those exceed
        :data:`DRIVER_SCAN_ROWS`, ``key_rows`` (their rows inside the
        key bounds). Decided from the query, the table config, the
        surviving files' footers and their first row key column."""
        key0 = self.schema.row_key_names[0]
        if not _bounds_comparable(query, self.schema):
            return None, {}
        bounds = _key_bounds(query, key0)
        if bounds is None:
            return None, {}
        matched = _matched_row_groups(files, key0, bounds)
        counts = {"rows_matched":
                  sum(rows for _, _, rows in matched.values())}
        if counts["rows_matched"] > DRIVER_SCAN_ROWS:
            return None, counts
        counts["key_rows"] = _key_rows(matched, key0, bounds)
        if counts["key_rows"] > DRIVER_KEY_ROWS:
            return None, counts
        try:
            iterators = self._row_iterators(query)
        except ValueError:
            return None, counts
        return (iterators, matched, bounds), counts

    def explain_scan(self, query: Query) -> dict:
        """Scan audit: how many physical files each pruning tier
        eliminated for this query, BEFORE reading any data. At 100 TB
        this is the observability a user needs to see whether their
        layout (key sort, Z-order, blooms, sidecar stats) is actually
        paying: a range query that scans every file isn't wrong, it's
        unpruned — and nothing in the result reveals that.

        Tiers, applied in plan order (monotonically non-increasing):
        partition-region pruning (QueryPlanner), sidecar footer
        min/max value skipping, first-row-key Bloom (point queries).
        ``rows_upper_bound`` sums the surviving references' recorded
        row counts — the worst-case rows the scan can touch.
        ``read_path`` is the reader :meth:`execute` picks (``"driver"``
        or ``"spark"``); key-bounded queries also report the two figures
        that choice is capped on, ``rows_matched`` and ``key_rows``
        (:meth:`_driver_plan`). Reads footers, and for key-bounded
        queries the first row key column of the matched row groups; no
        Spark job runs."""
        leaf_queries = QueryPlanner(self.store).split_into_leaf_queries(
            query)
        refs = self.store.all_references()
        files_total = {r.filename for r in refs}
        after_part = sorted({f.filename for lq in leaf_queries
                             for f in lq.files})
        after_vr = after_part
        if query.value_ranges:
            after_vr = [f for f in after_part
                        if _file_may_match(f, query.value_ranges)]
        after_bloom = after_vr
        key0 = self.schema.row_key_names[0]
        pts = bloom_points(query, key0)
        if pts is not None:
            after_bloom = [f for f in after_vr
                           if file_may_contain_keys(f, pts)]
        surviving = set(after_bloom)
        rows_ub = sum(r.number_of_rows for r in refs
                      if r.filename in surviving)
        audit = {
            "files_total": len(files_total),
            "leaf_partitions_hit": len(leaf_queries),
            "files_after_partition_pruning": len(after_part),
            "files_after_value_skipping": len(after_vr),
            "files_after_bloom": len(after_bloom),
            "pruned_by_partition": len(files_total) - len(after_part),
            "pruned_by_value_stats": len(after_part) - len(after_vr),
            "pruned_by_bloom": len(after_vr) - len(after_bloom),
            "files_scanned": after_bloom,
            "rows_upper_bound": rows_ub,
        }
        plan, counts = self._driver_plan(query, after_bloom)
        audit["read_path"] = "spark" if plan is None else "driver"
        audit.update(counts)
        return audit

    def execute(self, query: Query, now_millis: int) -> DataFrame:
        reject_value_ranges_on_aggregation(
            query.value_ranges, self.table_aggregations)
        leaf_queries = QueryPlanner(self.store).split_into_leaf_queries(query)
        files = self._files_of(leaf_queries, query)
        df = self.driver_frame(query, leaf_queries, files, now_millis)
        if df is None:
            df = self._spark_frame(query, leaf_queries, files, now_millis)
        if query.sql:
            df = run_sql_stage(self.spark, df, query.sql,
                               sort_cols=self.schema.key_names)
        return df

    def sorted_rows(self, query: Query, now_millis: int,
                    batch_size: int = DRIVER_BATCH_ROWS):
        """Driver-read ``query`` as a row-dict stream in total table key
        order (:meth:`_driver_tables`). Argument errors (value_ranges
        on an aggregation table, an iterator without a row-wise form)
        raise here, at the call site, not at the first ``next()``."""
        reject_value_ranges_on_aggregation(
            query.value_ranges, self.table_aggregations)
        iterators = self._row_iterators(query)
        leaf_queries = QueryPlanner(self.store).split_into_leaf_queries(query)
        files = self._files_of(leaf_queries, query)
        tables = self._driver_tables(query, leaf_queries, files, iterators,
                                     now_millis, batch_size)
        return (row for t in tables for row in _pylist(t))

    def _driver_tables(self, query: Query, leaf_queries, files: list[str],
                       iterators, now_millis: int, batch_rows: int,
                       matched: dict | None = None,
                       bounds: _KeyBounds | None = None):
        """J1 k-way sorted merge on the driver: the rows of ``query``
        over the planned ``leaf_queries`` and surviving ``files`` as
        non-empty Arrow tables in total table order (row keys..., sort
        keys...), WITHOUT a Spark sort.

        The reference's read path returns a sorted iterator by
        heap-merging each leaf's sorted files and concatenating leaves
        (MergingIterator.java:37-114 + ConcatenatingIterator.java:28-85).
        This runs the same Arrow kernels as the distributed sorted scan
        and Arrow compaction (``sorted_scan._component_stream``): per
        leaf, the vectorized merge, the leaf-region guard, the query
        regions and value ranges, table ageOff and aggregation; leaves
        whose first-key ranges overlap merge their streams. Then, in the
        Spark plan's order: table custom iterators (row-wise, on each
        table's rows), query-time ageOff, query-time iterators,
        projection. ``iterators`` are the table- and query-level chains
        in row-wise form. ``matched`` (``{file: (ParquetFile, row
        groups, rows)}``, key-bounded queries) narrows each read to the
        listed row groups, and ``bounds`` drops the rows outside them
        in Arrow before the merge."""
        from sleeper_spark import sorted_scan as ss

        table_iters, query_iters = iterators
        query_filters = [(f.column, f.max_age_millis)
                         for f in parse_filters(query.query_time_filters)]
        cols = _projected_columns(self.schema, query)
        surviving = set(files)
        key_mask = (None if bounds is None
                    else lambda column: _key_mask(column, bounds))
        query_desc = ss._query_desc(
            self.schema, query, parse_filters(self.table_filters),
            parse_aggregations(self.table_aggregations), now_millis,
            batch_rows)
        files_of = {lq.leaf.id: lq.files for lq in leaf_queries}
        for component in ss._dim0_components(
                [lq.leaf for lq in leaf_queries],
                self.schema.row_key_names[0]):
            descs = []
            for leaf in component:
                fns = sorted({r.filename for r in files_of[leaf.id]}
                             & surviving)
                if fns:
                    descs.append(ss._leaf_desc(query_desc, leaf, fns))
            if not descs:
                continue
            for t in ss._component_stream(descs, opened=matched,
                                          key_mask=key_mask):
                t = _through_rows(t, table_iters)
                t = ss._age_off(t, query_filters, now_millis)
                t = _through_rows(t, query_iters)
                if cols is not None:
                    t = t.select(cols)
                if t.num_rows:
                    yield t

    def driver_frame(self, query: Query, leaf_queries, files: list[str],
                     now_millis: int) -> DataFrame | None:
        """The rows of ``query`` over the planned ``leaf_queries`` and
        surviving ``files``, read and processed on the driver, as a
        local DataFrame (:func:`local_frame`); None when
        :meth:`_driver_plan` declines the query."""
        plan, _ = self._driver_plan(query, files)
        if plan is None:
            return None
        iterators, matched, bounds = plan
        struct = self.schema.to_struct_type()
        cols = _projected_columns(self.schema, query)
        if cols is not None:
            struct = T.StructType([struct[c] for c in cols])
        return local_frame(self.spark, struct, list(self._driver_tables(
            query, leaf_queries, list(matched), iterators, now_millis,
            DRIVER_BATCH_ROWS, matched, bounds)))

    def _spark_frame(self, query: Query, leaf_queries, files: list[str],
                     now_millis: int) -> DataFrame:
        if not files:
            # an EMPTY source still flows through the same
            # post-processing below: an early return here would hand
            # back the full table schema, skipping the
            # requested_value_fields projection and the SQL stage — an
            # aggregate like "SELECT count(*) AS n" must yield its own
            # (0-row or 1-row) schema, not the table's
            df = local_frame(self.spark, self.schema.to_struct_type())
        else:
            # one scan over the distinct physical files (module docstring)
            df = self.spark.read.schema(
                self.schema.to_struct_type()).parquet(*files)

            # predicate: (OR regions) AND (OR selected leaf regions) —
            # both push to Parquet row groups via Catalyst
            pred = regions_to_column(query.regions)
            leaf_guard = regions_to_column(
                [lq.leaf.region for lq in leaf_queries])
            df = df.where(pred & leaf_guard)
        # pushes to the row groups of the files that survived the
        # file-level skip
        df = apply_value_ranges_df(df, query.value_ranges)

        # table-time processing always applies (compaction-config iterators)
        df = apply_processing(
            df,
            self.schema,
            parse_filters(self.table_filters),
            parse_aggregations(self.table_aggregations),
            now_millis,
        )
        # custom iterator chains: table-level, then query-level
        # (IteratorFactory.java:79-91 — filters -> aggregation -> custom)
        df = apply_custom_iterators(df, self.table_iterators, self.schema)

        # query-time extra filters + iterators
        qf = parse_filters(query.query_time_filters)
        if qf:
            df = apply_processing(df, self.schema, qf, [], now_millis)
        df = apply_custom_iterators(df, query.query_time_iterators, self.schema)

        cols = _projected_columns(self.schema, query)
        if cols is not None:
            df = df.select(*cols)
        return df


#: parsed-plan node names that make a statement a command, not a query.
#: Statement classes (InsertIntoStatement & co.) don't all extend Command,
#: so the walk checks names as well as the Command trait.
_COMMAND_NODE_NAMES = frozenset({
    "InsertIntoStatement", "InsertIntoDir", "MergeIntoTable",
    "DeleteFromTable", "UpdateTable", "TruncateTable", "LoadData",
    "CreateTable", "CreateTableAsSelect", "ReplaceTable",
    "ReplaceTableAsSelect", "CreateView", "CreateTempView",
    "CreateNamespace", "CreateFunction", "DropTable", "DropView",
    "DropNamespace", "DropFunction", "AlterTable", "AlterViewAs",
    "AlterViewSchemaBinding", "SetCommand", "ResetCommand", "SetCatalog",
    "SetNamespace", "SetTableProperties", "SetViewProperties",
    "CacheTable", "UncacheTable", "RefreshTable", "RefreshFunction",
    "AnalyzeTable", "AnalyzeTables", "AnalyzeColumn", "RepairTable",
    "ExplainCommand", "Call",
})


def _walk_logical_plan(jplan):
    """Yield every node of a JVM LogicalPlan (children only — commands
    cannot hide inside expression subqueries)."""
    stack = [jplan]
    while stack:
        node = stack.pop()
        yield node
        it = node.children().iterator()
        while it.hasNext():
            stack.append(it.next())


def assert_query_only(spark: SparkSession, sql: str) -> None:
    """Reject any statement whose PARSED plan contains a command node.

    String sniffing is bypassable (``WITH t AS (SELECT 1) INSERT INTO x
    SELECT * FROM t`` starts with WITH); parsing is not — every DML/DDL
    form surfaces as a statement/command node somewhere in the tree, and
    the walk inspects actual node classes so SQL literals can't
    false-positive. Mirrors the reference's SELECT-only SQL stage
    (rust/query_sql/src/lib.rs:28-55)."""
    parser = spark._jsparkSession.sessionState().sqlParser()
    try:
        jplan = parser.parsePlan(sql)
    except Exception as e:  # ParseException and friends
        raise ValueError(f"SQL stage could not parse statement: {e}") from None
    jvm = spark._jvm
    command_cls = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.plans.logical.Command")
    for node in _walk_logical_plan(jplan):
        name = node.getClass().getSimpleName()
        if name in _COMMAND_NODE_NAMES or command_cls.isInstance(node):
            raise ValueError(
                f"SQL stage accepts queries only; rejected {name} node")


def run_sql_stage(spark: SparkSession, results: DataFrame, sql: str,
                  sort_cols: list[str] | None = None) -> DataFrame:
    """SELECT-only SQL over query results registered as ``query_results``
    (Q1: rust/query_sql/src/lib.rs:28-55 — DDL/DML rejected via the
    parsed plan, see :func:`assert_query_only`).

    ``sort_cols`` re-injects the table sort order after user SQL, like
    the reference's sql_sort_fix (rust/query_sql/src/sql_sort_fix.rs):
    the result is re-sorted by the longest prefix of (row keys + sort
    keys) still present in the output, so SQL-stage results keep the
    table's ordering guarantee whenever that is meaningful.
    """
    assert_query_only(spark, sql)
    results.createOrReplaceTempView("query_results")
    out = spark.sql(sql)
    if sort_cols:
        prefix = []
        for c in sort_cols:
            if c not in out.columns:
                break
            prefix.append(c)
        if prefix:
            out = out.orderBy(*prefix)
    return out
