"""Zero-shuffle co-keyed joins between SleeperTables that share a
partition tree.

Two tables keyed on the same row keys and split at the same points are
CO-PARTITIONED: leaf i of table A holds exactly the key range of leaf i
of table B. Joining them therefore needs no shuffle at all — one task
per leaf streams both sides' sorted runs (the same vectorized k-way
merge the bulk export uses, table filters/aggregation applied) and
merge-joins them chunk-aligned. The Spark plan is
parallelize → mapInArrow: NO Exchange node anywhere (plan-pinned),
which is the join shape bucketed tables buy in warehouses — here it
falls out of the LSM layout for free.

Memory is bounded by the merge batch size, not the leaf: both streams
are key-sorted, so the join advances through aligned key windows
[.., bound] with bound = min(last complete key group of each side) —
the same group-boundary discipline the compaction merge uses. A key's
whole group must sit in one window, so the transient window holds
O(batch + largest duplicate-key group) rows per side.

Reference analog: none — the reference implements no joins (SURVEY
§2.3); this is the beyond-reference operator its connectors delegate to
host engines, expressed LSM-natively.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from sleeper_spark.query import local_frame
from sleeper_spark.schema import Schema
from sleeper_spark.sorted_scan import arrow_task_frame

_BATCH_ROWS = 65536


def _canonical_leaves(table) -> set[tuple]:
    tree = table.store.tree
    return {
        tuple((r.field, r.min, r.max)
              for rr in leaf.region.ranges for r in (rr.canonicalise(),))
        for leaf in tree.leaves()}


class _SortedSide:
    """Buffered view over a leaf's sorted chunk stream that only ever
    exposes COMPLETE key groups: the trailing equal-key group of the
    buffer is withheld until the next chunk proves it ended (or the
    stream does). ``last_key()`` is therefore a watermark — every
    stream row with key <= last_key() is already in the buffer."""

    def __init__(self, chunks: Iterator[pa.Table], key_names: list[str]):
        self._chunks = chunks
        self._keys = key_names
        self._buf: pa.Table | None = None
        self._carry: pa.Table | None = None
        self._done = False

    def _key_cols(self, t: pa.Table):
        return [t.column(k).combine_chunks() for k in self._keys]

    def fill(self) -> None:
        from sleeper_spark.sorted_scan import _prefix_count

        while self._buf is None and not self._done:
            try:
                t = next(self._chunks)
            except StopIteration:
                self._done = True
                if self._carry is not None:
                    self._buf = self._carry
                    self._carry = None
                return
            if self._carry is not None:
                t = pa.concat_tables([self._carry, t])
                self._carry = None
            if t.num_rows == 0:
                continue
            cols = self._key_cols(t)
            last = tuple(c[len(c) - 1].as_py() for c in cols)
            cnt_lt = _prefix_count(cols, last, False)
            if cnt_lt == 0:
                self._carry = t  # one giant group: keep reading
                continue
            self._carry = t.slice(cnt_lt)
            self._buf = t.slice(0, cnt_lt)

    def exhausted(self) -> bool:
        return self._buf is None and self._carry is None and self._done

    def last_key(self) -> tuple:
        cols = self._key_cols(self._buf)
        return tuple(c[len(c) - 1].as_py() for c in cols)

    def take_through(self, bound: tuple) -> pa.Table:
        """Remove and return every buffered row with key <= bound."""
        from sleeper_spark.sorted_scan import _leq_prefix_count

        t = self._buf
        cols = self._key_cols(t)
        cnt = _leq_prefix_count(cols, bound)
        self._buf = t.slice(cnt) if cnt < t.num_rows else None
        return t.slice(0, cnt)


def _leaf_join_chunks(desc: dict) -> Iterator[pa.Table]:
    """Merge-join one leaf: stream both sides' sorted merges through
    aligned key windows, pa.Table.join per window."""
    from sleeper_spark.sorted_scan import _merge_leaf, _process_chunk

    keys = desc["key_names"]

    def stream(side: dict) -> Iterator[pa.Table]:
        for chunk in _merge_leaf(side):
            out = _process_chunk(chunk, side)
            if out.num_rows:
                yield out

    a = _SortedSide(stream(desc["a"]), keys)
    b = _SortedSide(stream(desc["b"]), keys)
    how = desc["how"]
    join_type = {"inner": "inner", "left": "left outer"}[how]
    out_cols = desc["out_cols"]  # (name, source, src_name) triples
    rsuffix = desc["rsuffix"]
    empty_b = None

    while True:
        a.fill()
        b.fill()
        if a._buf is None:
            break  # a exhausted (fill() only leaves None at stream end)
        if b._buf is None and b.exhausted():
            if how == "inner":
                break
            # left join tail: no b rows remain — join against empty
            if empty_b is None:
                empty_b = _empty_like(desc["b"])
            a_part, b_part = a.take_through(a.last_key()), empty_b
        else:
            bound = min(a.last_key(), b.last_key())
            a_part = a.take_through(bound)
            b_part = b.take_through(bound)
        if a_part.num_rows == 0 and b_part.num_rows == 0:
            continue
        if a_part.num_rows == 0:
            continue  # inner/left: unmatched b rows emit nothing
        joined = a_part.join(b_part, keys=keys, join_type=join_type,
                             right_suffix=rsuffix)
        if joined.num_rows:
            yield joined.select([c[0] for c in out_cols])


def _empty_like(side_desc: dict) -> pa.Table:
    sch: pa.Schema = side_desc["arrow_schema"]
    return pa.table({f.name: pa.array([], type=f.type) for f in sch})


def cokeyed_join(table_a, table_b, how: str = "inner",
                 rsuffix: str = "_b", now_millis: int | None = None,
                 batch_rows: int = _BATCH_ROWS) -> DataFrame:
    """Join two co-partitioned SleeperTables on their (shared) row keys
    with ZERO shuffle: one task per leaf, both sides' sorted runs
    merge-joined in aligned key windows (module docstring).

    Requirements (validated): identical row-key fields, identical leaf
    key ranges (same split points — the co-location guarantee), no
    custom iterators (filters + aggregations are fine: both apply
    inside the task, so the join sees COLLAPSED rows).
    ``how``: 'inner' or 'left'. B-side non-key columns that collide
    with A-side names get ``rsuffix``. Duplicate keys join
    many-to-many (multiset semantics, like SQL)."""
    import time as _time

    from sleeper_spark.iterators import parse_aggregations, parse_filters
    from sleeper_spark.sorted_scan import _agg_spec, _declared_arrow_schema

    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    sa: Schema = table_a.schema
    sb: Schema = table_b.schema
    if [(f.name, f.dtype) for f in sa.row_key_fields] != \
            [(f.name, f.dtype) for f in sb.row_key_fields]:
        raise ValueError(
            "cokeyed_join requires identical row-key fields: "
            f"{[f.name for f in sa.row_key_fields]} vs "
            f"{[f.name for f in sb.row_key_fields]}")
    for t in (table_a, table_b):
        if t.props.iterators:
            raise ValueError(
                "cokeyed_join does not support custom iterators (they "
                "are DataFrame transforms; apply them after the join)")
    table_a.store.refresh_if_stale(
        table_a.props.query_cache_timeout_seconds)
    table_b.store.refresh_if_stale(
        table_b.props.query_cache_timeout_seconds)
    if _canonical_leaves(table_a) != _canonical_leaves(table_b):
        raise ValueError(
            "cokeyed_join requires identical leaf key ranges (same "
            "split points); repartition one table first")

    now_millis = now_millis if now_millis is not None \
        else int(_time.time() * 1000)
    key_names = list(sa.key_names)
    row_keys = [f.name for f in sa.row_key_fields]
    if list(sa.key_names) != row_keys or list(sb.key_names) != row_keys:
        # sort keys refine the order WITHIN a row key; the join is on
        # row keys, so sides order by row keys alone for the windows
        key_names = row_keys

    def side_desc(table, leaf, files) -> dict:
        # each side merges and (if configured) aggregates by its OWN
        # full key list (row + sort keys); the join windows slice on
        # the shared row-key prefix, which every full-key-sorted
        # stream is also sorted by
        sch = table.schema
        return {
            "files": files,
            "key_names": list(sch.key_names),
            "column_order": [f.name for f in sch.all_fields()],
            "arrow_schema": _declared_arrow_schema(sch),
            "leaf_ranges": [(r.field, r.min, r.max) for r in
                            (rr.canonicalise()
                             for rr in leaf.region.ranges)],
            "query_regions": [],
            "filters": [(f.column, f.max_age_millis)
                        for f in parse_filters(table.props.filters)],
            "aggs": _agg_spec(parse_aggregations(table.props.aggregations)),
            "now_millis": now_millis,
            "batch_rows": batch_rows,
        }

    # output column plan: A columns, then B's non-row-key columns with
    # rsuffix on collision — mirrors pa.Table.join's naming so the task
    # can select by name
    a_names = [f.name for f in sa.all_fields()]
    out_cols: list[tuple] = [(n, "a", n) for n in a_names]
    taken = set(a_names)
    for f in sb.all_fields():
        if f.name in row_keys:
            continue
        name = f.name if f.name not in taken else f.name + rsuffix
        out_cols.append((name, "b", f.name))
        taken.add(name)

    tree_a = table_a.store.tree
    b_by_region = {}
    for leaf in table_b.store.tree.leaves():
        rkey = tuple((r.field, r.min, r.max)
                     for rr in leaf.region.ranges
                     for r in (rr.canonicalise(),))
        b_by_region[rkey] = leaf
    descs = []
    for leaf in sorted(tree_a.leaves(), key=lambda p: p.id):
        rkey = tuple((r.field, r.min, r.max)
                     for rr in leaf.region.ranges
                     for r in (rr.canonicalise(),))
        b_leaf = b_by_region[rkey]
        files_a = sorted({r.filename for r in
                          table_a.store.files_for_leaf_query(leaf.id)})
        files_b = sorted({r.filename for r in
                          table_b.store.files_for_leaf_query(b_leaf.id)})
        if not files_a:
            continue
        if not files_b and how == "inner":
            continue
        descs.append({
            "key_names": row_keys,
            "how": how,
            "rsuffix": rsuffix,
            "out_cols": out_cols,
            "a": side_desc(table_a, leaf, files_a),
            "b": side_desc(table_b, b_leaf, files_b),
        })

    # declared Spark output schema: A fields, then B extras (nullable —
    # a left join pads them)
    b_fields = {f.name: f for f in sb.all_fields()}
    fields = list(sa.to_struct_type().fields)
    for name, src, src_name in out_cols:
        if src == "b":
            f = b_fields[src_name]
            fields.append(T.StructField(name, f.dtype, True))
    struct = T.StructType(fields)

    spark = table_a.spark
    if not descs:
        return local_frame(spark, struct)

    return arrow_task_frame(spark, len(descs),
                            lambda i: _leaf_join_chunks(descs[i]), struct)
