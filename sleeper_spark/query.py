"""Query path: one driver-side planner (partition pruning + file
collection) feeding one of two readers.

Mirrors the reference lifecycle (SURVEY §3.1; QueryPlanner.java:160-237;
LeafPartitionQueryExecutor.java:73-131) re-shaped for Spark:

1. Prune: leaves whose region overlaps any query region.
2. Collect files: each pruned leaf's files plus its ancestors' files (a
   row may still live in an ancestor-partition file before compaction),
   then skip files by sidecar min/max (``value_ranges``) and, for point
   queries, by each file's first-row-key Bloom filter.
3. Read the surviving files with ONE of two readers:

   - **Spark plan** (default): one scan over the distinct file set with
     the predicate ``(OR query regions) AND (OR selected leaf regions)``.
   - **Driver read** (point queries): when every region pins the first
     row key (:func:`bloom_points`), the per-leaf ``heapq.merge`` reader
     that ``sorted_rows`` uses reads only the row groups whose footer
     min/max can hold a probe point, keeps the probe keys' rows in
     Arrow, applies the table's processing on the driver, and returns
     the rows as a local DataFrame — no Spark job, like the reference's
     single-reader LeafPartitionQueryExecutor. The Spark plan runs
     instead when a table- or query-level custom iterator has no
     row-wise form, when the matched row groups hold more than
     :data:`POINT_SCAN_ROWS` rows, or when more than
     :data:`POINT_KEY_ROWS` of their rows hold a probe key (a hot key
     stays distributed). ``batch_exact_key_query`` is always the Spark
     plan.

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


def compile_value_ranges(value_ranges):
    """Row-dict predicate with EXACTLY the SQL comparison semantics the
    DataFrame paths get from apply_value_ranges_df: a NULL value fails
    any actual bound, but an UNBOUNDED range (both ends None) adds no
    predicate at all and keeps NULL rows — the three read paths must
    agree."""
    vr = [(r.field, r.min, r.min_inclusive, r.max, r.max_inclusive)
          for r in value_ranges
          if r.min is not None or r.max is not None]

    def matches(row) -> bool:
        for fld, mn, mni, mx, mxi in vr:
            v = row.get(fld)
            if v is None:  # NULL never satisfies a real bound
                return False
            if mn is not None and (v < mn or (v == mn and not mni)):
                return False
            if mx is not None and (v > mx or (v == mx and not mxi)):
                return False
        return True

    return matches


#: rows per Arrow batch of the driver reader
DRIVER_BATCH_ROWS = 8192

#: A point query is read on the driver only while it stays within both
#: of these caps; otherwise the Spark plan runs. Set at the crossover measured on a
#: 4-core host (local[4], one file, a (long, long, string) row) between
#: a point get read on the driver and the same get as the Spark plan:
#:
#: - the rows of the matched row groups, which the driver reads in
#:   Arrow: a 1-row key took 20 / 24 / 44 / 72 / 131 ms on the driver
#:   against 95 / 76 / 69 / 65 / 62 ms in Spark with 8,192 / 65,536 /
#:   524,288 / 1,048,576 / 2,097,152 rows in its row group;
POINT_SCAN_ROWS = 1 << 19
#: - the rows holding the probe keys, which the driver turns into Python
#:   rows: in a 65,536-row group, a key of 8,192 rows took 73 ms against
#:   90 ms in Spark, one of 16,384 rows 165 ms against 130 ms. So a hot
#:   key (an index posting list, say) stays distributed.
POINT_KEY_ROWS = 8192

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


def _point_row_groups(files: list[str], key_name: str, points) -> dict:
    """``{file: (ParquetFile, row groups, rows)}`` for the files with at
    least one row group whose footer min/max on ``key_name`` can hold
    one of ``points``. A row group without statistics is kept."""
    import pyarrow.parquet as pq_mod

    from sleeper_spark.sketches import row_groups_overlapping

    bounds = [Range(key_name, p, p, True, True).canonicalise()
              for p in points]
    out = {}
    for fn in files:
        pf = pq_mod.ParquetFile(fn)
        md = pf.metadata
        rgs = set()
        for r in bounds:
            got = row_groups_overlapping(pf, key_name, r.min, r.max)
            rgs.update(range(md.num_row_groups) if got is None else got)
        if rgs:
            rgs = sorted(rgs)
            out[fn] = (pf, rgs,
                       sum(md.row_group(g).num_rows for g in rgs))
    return out


def _point_key_rows(row_groups: dict, key_name: str, points) -> int:
    """Rows of ``row_groups`` (as :func:`_point_row_groups` returns
    them) whose ``key_name`` is one of ``points``; reads that column
    only."""
    import pyarrow as pa
    import pyarrow.compute as pc

    value_set = pa.array(points)
    return sum(
        pc.sum(pc.is_in(pf.read_row_groups(rgs, columns=[key_name])
                        .column(0), value_set=value_set)).as_py() or 0
        for pf, rgs, _ in row_groups.values())


def _projected_columns(schema: Schema, query: Query) -> list[str] | None:
    """Keys always returned; value fields as requested (None = all)
    (LeafPartitionQueryExecutor.java:105-131)."""
    if query.requested_value_fields is None:
        return None
    wanted = set(query.requested_value_fields)
    return schema.key_names + [v for v in schema.value_names if v in wanted]


class QueryExecutor:
    """Plan a query once and read it with the Spark plan or, for point
    queries, on the driver (module docstring)."""

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
        groups)`` when ``query`` is a point query the driver can answer,
        else None (module docstring). ``counts`` holds, for a point
        query, ``point_rows_matched`` (rows of the row groups whose
        footer min/max can hold a probe point) and, unless those exceed
        :data:`POINT_SCAN_ROWS`, ``point_key_rows`` (their rows holding
        a probe point). Decided from the query, the table config, the
        surviving files' footers and their first row key column."""
        key0 = self.schema.row_key_names[0]
        pts = bloom_points(query, key0)
        if pts is None or not _bounds_comparable(query, self.schema):
            return None, {}
        matched = _point_row_groups(files, key0, pts)
        counts = {"point_rows_matched":
                  sum(rows for _, _, rows in matched.values())}
        if counts["point_rows_matched"] > POINT_SCAN_ROWS:
            return None, counts
        counts["point_key_rows"] = _point_key_rows(matched, key0, pts)
        if counts["point_key_rows"] > POINT_KEY_ROWS:
            return None, counts
        try:
            iterators = self._row_iterators(query)
        except ValueError:
            return None, counts
        return (iterators, matched), counts

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
        or ``"spark"``); point queries also report the two figures that
        choice is capped on, ``point_rows_matched`` and
        ``point_key_rows`` (:meth:`_driver_plan`). Reads footers, and
        for point queries the first row key column of the matched row
        groups; no Spark job runs."""
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
        plan, _ = self._driver_plan(query, files)
        if plan is None:
            df = self._spark_frame(query, leaf_queries, files, now_millis)
        else:
            df = self._driver_frame(query, leaf_queries, plan, now_millis)
        if query.sql:
            df = run_sql_stage(self.spark, df, query.sql,
                               sort_cols=self.schema.key_names)
        return df

    def sorted_rows(self, query: Query, now_millis: int,
                    batch_size: int = DRIVER_BATCH_ROWS):
        """Driver-read ``query`` as a row-dict stream in total table key
        order (see :func:`_sorted_row_iterator_gen`). Argument errors
        (value_ranges on an aggregation table, an iterator without a
        row-wise form) raise here, at the call site, not at the first
        ``next()``."""
        reject_value_ranges_on_aggregation(
            query.value_ranges, self.table_aggregations)
        iterators = self._row_iterators(query)
        leaf_queries = QueryPlanner(self.store).split_into_leaf_queries(query)
        files = self._files_of(leaf_queries, query)
        return self._driver_rows(query, leaf_queries, files, iterators,
                                 now_millis, batch_size)

    def _driver_rows(self, query, leaf_queries, files, iterators,
                     now_millis, batch_size, row_groups=None):
        return _sorted_row_iterator_gen(
            self.schema, query, leaf_queries, files, batch_size,
            parse_filters(self.table_filters),
            parse_aggregations(self.table_aggregations),
            iterators, now_millis, row_groups)

    def _driver_frame(self, query: Query, leaf_queries, plan,
                      now_millis: int) -> DataFrame:
        """The point query's rows, read and processed on the driver, as
        a local DataFrame: ``createDataFrame`` of an Arrow table plans a
        LocalRelation, so collecting it runs no Spark job, and it keeps
        the table's types (maps included) and nullability."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        iterators, matched = plan
        rows = list(self._driver_rows(
            query, leaf_queries, list(matched), iterators, now_millis,
            DRIVER_BATCH_ROWS, matched))
        struct = self.schema.to_struct_type()
        cols = _projected_columns(self.schema, query)
        if cols is not None:
            struct = T.StructType([struct[c] for c in cols])
        return self.spark.createDataFrame(
            pa.Table.from_pylist(rows, schema=to_arrow_schema(struct)),
            struct)

    def _spark_frame(self, query: Query, leaf_queries, files: list[str],
                     now_millis: int) -> DataFrame:
        if not files:
            # an EMPTY source still flows through the same
            # post-processing below: an early return here would hand
            # back the full table schema, skipping the
            # requested_value_fields projection and the SQL stage — an
            # aggregate like "SELECT count(*) AS n" must yield its own
            # (0-row or 1-row) schema, not the table's
            df = self.spark.createDataFrame([], self.schema.to_struct_type())
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


def _merge_scalar(op: str, a, b):
    if op == "sum":
        # null-tolerant like Spark's sum: null input contributes nothing
        if a is None:
            return b
        if b is None:
            return a
        return a + b
    if op == "min":
        return b if (a is None or (b is not None and b < a)) else a
    if op == "max":
        return b if (a is None or (b is not None and b > a)) else a
    if op in ("map_sum", "map_min", "map_max"):
        out = dict(a or {})
        for k, v in (b or {}).items():
            if k in out:
                if op == "map_sum":
                    out[k] = out[k] + v
                elif op == "map_min":
                    out[k] = min(out[k], v)
                else:
                    out[k] = max(out[k], v)
            else:
                out[k] = v
        return out
    raise ValueError(op)


def _null_safe_key(values):
    """Sort-key tuple matching Spark's NULLS FIRST default: None sorts
    below every value and never reaches a Python ``<`` comparison."""
    return tuple((v is not None, v if v is not None else 0) for v in values)


def _sorted_row_iterator_gen(schema: Schema, query: Query, leaf_queries,
                             files: list[str], batch_size: int,
                             filters, aggs, iterators, now_millis: int,
                             row_groups: dict | None = None):
    """J1 k-way sorted merge: stream query results in total table order
    (row keys..., sort keys...) WITHOUT a global Spark sort.

    The reference's read path returns a sorted iterator by heap-merging
    each leaf's sorted files and concatenating leaves (MergingIterator
    .java:37-114 + ConcatenatingIterator.java:28-85 — leaf key ranges are
    disjoint, so leaf-order concat of sorted runs is globally sorted).
    This is the same shape driver-side: leaves in key order, per-leaf
    ``heapq.merge`` over pyarrow batch readers, O(merge-width) memory.

    Reads the plan :class:`QueryExecutor` made: ``leaf_queries`` and the
    ``files`` that survived skipping; ``row_groups`` (``{file:
    (ParquetFile, row groups, rows)}``, point queries) narrows each read
    to the listed row groups. ``iterators`` are the table- and
    query-level custom chains in row-wise form.

    Use when a consumer needs ordered streaming (export to a
    sorted-input system, head-k in key order). For distributed consumers
    prefer ``output.bulk_export`` (per-leaf sorted files, one Spark job);
    this iterator is single-reader by design, like the reference's.
    """
    import heapq

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq_mod

    vr = bool(query.value_ranges)
    in_value_ranges = compile_value_ranges(query.value_ranges)

    key_names = schema.key_names
    col_names = [f.name for f in schema.all_fields()]
    # Arrow hands maps back as (key, value) lists; the aggregation merge
    # and Spark's rows both use dicts
    map_cols = {f.name for f in schema.all_fields()
                if isinstance(f.dtype, T.MapType)}
    surviving = set(files)
    # a point read keeps only the probe keys' rows, in Arrow, before any
    # row becomes a Python dict: the matched row groups may be far larger
    # than the keys' rows, and the region filter below drops the rest
    key0 = schema.row_key_names[0]
    points = None if row_groups is None else bloom_points(query, key0)
    probe = None if points is None else pa.array(points)

    def file_rows(filename):
        pf, rgs, _ = (row_groups or {}).get(filename) or (
            pq_mod.ParquetFile(filename), None, None)
        # schema evolution: a file written before add_value_column lacks
        # the new column(s) — read what it has, yield None for the rest
        have = set(pf.schema_arrow.names)
        cols_here = [c for c in col_names if c in have]
        for batch in pf.iter_batches(batch_size=batch_size,
                                     columns=cols_here, row_groups=rgs):
            if probe is not None:
                batch = batch.filter(pc.is_in(batch.column(key0),
                                              value_set=probe))
            pydict = {}
            for n, c in zip(batch.schema.names, batch.columns):
                vals = c.to_pylist()
                if n in map_cols:
                    vals = [None if v is None else dict(v) for v in vals]
                pydict[n] = vals
            for i in range(batch.num_rows):
                row = {n: pydict[n][i] if n in have else None
                       for n in col_names}
                yield row

    # canonicalise every region ONCE: Range.contains canonicalises per
    # call (constructing throwaway Range objects), which on a 10M-row
    # sorted export is hundreds of millions of allocations on the
    # single-reader driver path
    def canon(region):
        return [(rr.field, rr.min, rr.max)
                for r in region.ranges for rr in (r.canonicalise(),)]

    def in_ranges(row, ranges):
        for fld, mn, mx in ranges:
            v = row[fld]
            if mn is not None and (v is None or v < mn):
                return False
            if mx is not None and v is not None and v >= mx:
                return False
        return True

    q_regions = [canon(reg) for reg in query.regions]

    def row_matches(row):
        return any(in_ranges(row, rs) for rs in q_regions)

    agg_ops = {a.column: a for a in (aggs or [])}
    row_key = lambda row: _null_safe_key(row[k] for k in key_names)  # noqa: E731

    def leaf_stream(lq, leaf_ranges):
        # the leaf's files that survived the planner's skipping
        fns = sorted({r.filename for r in lq.files} & surviving)
        runs = [file_rows(fn) for fn in fns]
        for row in heapq.merge(*runs, key=row_key):
            # leaf region is the dedup guard for shared ancestor files
            if not in_ranges(row, leaf_ranges):
                continue
            if not row_matches(row):
                continue
            if vr and not in_value_ranges(row):
                continue
            ok = True
            for f in (filters or []):
                v = row.get(f.column)
                if v is None or now_millis - v >= f.max_age_millis:
                    ok = False
                    break
            if ok:
                yield row

    def stream():
        # key order: unbounded-below (min=None) sorts first per dimension
        leaves = sorted(leaf_queries, key=lambda lq: [
            (0,) if r.min is None else (1, r.min)
            for r in lq.leaf.region.ranges])
        dim0 = key_names[0]
        # concatenating disjoint-dim-0 leaves preserves total order, but
        # a tree split on a later dimension has leaves whose dim-0
        # ranges OVERLAP — those must heap-merge together or the stream
        # interleaves out of order. Group consecutive leaves into
        # overlap components on dim 0 (component = leaves whose dim-0
        # ranges touch the running max), merge within, concat across.
        components: list[list] = []
        cur_hi: tuple | None = None  # (bounded?, value); None = empty
        for lq in leaves:
            ranges = canon(lq.leaf.region)
            lo = next((mn for f, mn, mx in ranges if f == dim0), None)
            hi = next((mx for f, mn, mx in ranges if f == dim0), None)
            # new component iff the previous one is bounded above and
            # this leaf starts at or past that bound (ranges are
            # [min, max), so lo == prev hi means disjoint-adjacent)
            if not components or (cur_hi is not None and cur_hi[0]
                                  and lo is not None and lo >= cur_hi[1]):
                components.append([(lq, ranges)])
                cur_hi = (hi is not None, hi)
            else:
                components[-1].append((lq, ranges))
                if cur_hi is not None and cur_hi[0]:
                    cur_hi = (hi is not None,
                              hi if hi is None or hi > cur_hi[1]
                              else cur_hi[1])
        for comp in components:
            if len(comp) == 1:
                yield from leaf_stream(*comp[0])
            else:
                yield from heapq.merge(
                    *(leaf_stream(lq, rs) for lq, rs in comp), key=row_key)

    # query-time processing — the same post-aggregation pipeline order as
    # the Spark plan (table customs -> query-time filters -> query-time
    # customs -> projection)
    row_iterators, qt_iters = iterators
    qt_filters = parse_filters(query.query_time_filters)
    proj_cols = _projected_columns(schema, query)

    def apply_row_iterators(row):
        # custom chain runs AFTER filters + aggregation, matching the
        # reference's filters -> aggregation -> custom composition
        # (IteratorFactory.java:79-91) and the Spark read path
        for fn in row_iterators:
            row = fn(row)
            if row is None:
                return None
        return row

    def emit(rows):
        for row in rows:
            row = apply_row_iterators(row)
            if row is None:
                continue
            ok = True
            for f in qt_filters:
                v = row.get(f.column)
                if v is None or now_millis - v >= f.max_age_millis:
                    ok = False
                    break
            if not ok:
                continue
            for fn in qt_iters:
                row = fn(row)
                if row is None:
                    break
            if row is None:
                continue
            if proj_cols is not None:
                row = {n: row[n] for n in proj_cols}
            yield row

    if not agg_ops:
        yield from emit(stream())
        return

    # A4 streaming group-adjacent aggregation (AggregatorIteratorImpl
    # .java:64-93): input is key-sorted, so equal-key rows are adjacent —
    # O(1) state, emit on key change
    def aggregated():
        # max_by/min_by keep (order, value) PAIR state separate from the
        # accumulator: the order column may itself be aggregated in the
        # same group, so acc's copy cannot serve as the comparison basis
        current_key, acc, by_state = None, None, {}
        by_aggs = [(col, a) for col, a in agg_ops.items()
                   if a.op in ("max_by", "min_by")]

        def finish(acc):
            for col, _ in by_aggs:
                acc[col] = by_state[col][1]
            return acc

        for row in stream():
            k = tuple(row[n] for n in key_names)
            if k != current_key:
                if acc is not None:
                    yield finish(acc)
                current_key, acc = k, dict(row)
                by_state = {col: (row[a.order_col], row[col])
                            for col, a in by_aggs}
            else:
                for col, a in agg_ops.items():
                    if a.op in ("max_by", "min_by"):
                        cand = (row[a.order_col], row[col])
                        cur = by_state[col]
                        if (cand > cur) == (a.op == "max_by") \
                                and cand != cur:
                            by_state[col] = cand
                    else:
                        acc[col] = _merge_scalar(a.op, acc[col], row[col])
        if acc is not None:
            yield finish(acc)

    yield from emit(aggregated())


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
