"""S2: distributed sorted scan — merge-without-resort, zero shuffle.

The reference's read path returns each leaf's rows by k-way-merging its
sorted files (MergingIterator.java:37-114) and concatenates leaves in key
order (ConcatenatingIterator.java:28-85). The Spark-native distributed
form here:

- ONE task per pruned leaf (``mapInArrow`` over a source DataFrame with
  exactly one task descriptor per input partition — no exchange anywhere
  in the plan). Leaves whose first-key ranges overlap (a tree split on a
  later dimension) share one task, which merges their processed streams.
- Inside a task, a *vectorized* k-way merge over the leaf's sorted runs:
  pull one Arrow batch per file, cut every buffer at the minimum of the
  buffers' max keys (a lexicographic prefix count per buffer), sort the
  bounded chunk, emit. Memory is O(n_files x batch_size) rows — never the
  whole leaf. Equal keys can never straddle a chunk boundary (every row
  <= bound is taken from every file), so group-adjacent aggregation per
  chunk is exact.
- Output partitions are ordered by leaf lower bound, rows sorted within
  each partition, so concatenating partitions in index order is the total
  table order — the property Spark's ``orderBy`` buys with a full
  range-partition shuffle.

Compared with the declarative path (scan + re-sort), this trades
Catalyst-side codegen for an Arrow-batched Python pipe but removes BOTH
the range-sampling pass and the whole-table exchange; at 100 TB the
exchange is the dominant cost and this plan has none.

Processing parity: leaf-region dedup guard + query regions + value
ranges + ageOff filters + continual aggregation are applied inside the
task with Arrow kernels (the kernels compaction runs,
compact.rs:118-140). Leaf regions partition the row-key space, so
per-leaf aggregation is complete — no cross-partition combine needed.

The same merge (:func:`_component_stream`) serves the driver reads of
``query.QueryExecutor`` (key-bounded queries and ``sorted_rows``), Arrow
compaction and ``joins.cokeyed_join``.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from sleeper_spark.query import Query
from sleeper_spark.ranges import Range, Region
from sleeper_spark.schema import Schema
from sleeper_spark.tasks import ship_engine

_BATCH_ROWS = 65536


def _prefix_count(cols: list, bound: tuple, include_equal: bool) -> int:
    """#rows (a sorted prefix) lexicographically <= bound (or < bound
    when ``include_equal`` is False) — Arrow kernels, so string/binary
    comparisons stay in C++ (a numpy object-array compare would run
    Python per element)."""
    lt = None
    eq = None
    for arr, b in zip(cols, bound):
        s = pa.scalar(b, arr.type)
        clt = pc.less(arr, s)
        ceq = pc.equal(arr, s)
        lt = clt if lt is None else pc.or_(lt, pc.and_(eq, clt))
        eq = ceq if eq is None else pc.and_(eq, ceq)
    mask = pc.or_(lt, eq) if include_equal else lt
    return int(pc.sum(pc.cast(mask, pa.int8())).as_py() or 0)


def _leq_prefix_count(cols: list, bound: tuple) -> int:
    return _prefix_count(cols, bound, True)


def _and(a, b):
    """Conjunction of two optional masks (None = every row)."""
    return b if a is None else a if b is None else pc.and_(a, b)


def _range_mask(t: pa.Table, fld: str, mn, mx):
    """Rows of ``t`` inside the canonical ``[mn, mx)`` on ``fld``; None
    when the range is unbounded on both sides."""
    arr = t.column(fld)
    m = None
    if mn is not None:
        m = pc.greater_equal(arr, pa.scalar(mn, arr.type))
    if mx is not None:
        m = _and(m, pc.less(arr, pa.scalar(mx, arr.type)))
    return m


def _value_range_mask(t: pa.Table, fld: str, mn, min_inclusive: bool, mx,
                      max_inclusive: bool):
    """One value range with ``query.apply_value_ranges_df``'s SQL
    semantics: a NULL compares to NULL and fails a real bound, an
    unbounded range adds no predicate and keeps NULL rows. Built from
    the inclusive flags, not by canonicalising: doubles have no
    successor."""
    col = t.column(fld)
    m = None
    if mn is not None:
        m = (pc.greater_equal if min_inclusive else pc.greater)(col, mn)
    if mx is not None:
        m = _and(m, (pc.less_equal if max_inclusive else pc.less)(col, mx))
    return m


def _point_keys(regions) -> tuple[tuple, list] | None:
    """``(fields, key tuples)`` when every region pins the same key
    fields each to one value (min == max, both inclusive: a batch get),
    else None."""
    fields, keys = None, []
    for region in regions:
        got = {}
        for r in region.ranges:
            if (r.min is None or r.min != r.max or r.field in got
                    or not (r.min_inclusive and r.max_inclusive)):
                return None
            got[r.field] = r.min
        if fields is None:
            fields = tuple(sorted(got))
        elif set(got) != set(fields):
            return None
        keys.append(tuple(got[f] for f in fields))
    return (fields, keys) if fields else None


def _point_key_mask(t: pa.Table, point_keys: tuple[tuple, list]) -> pa.Array:
    """Rows whose key tuple is one of the point keys: set membership on
    one field, a left-semi join on the tuple for several (``pc.is_in``
    has no struct kernel). Either way a batch of N keys costs one hash
    probe per row, not N range masks."""
    fields, keys = point_keys
    probe = {f: pa.array([k[i] for k in keys], t.schema.field(f).type)
             for i, f in enumerate(fields)}
    if len(fields) == 1:
        return pc.is_in(t.column(fields[0]), value_set=probe[fields[0]])
    hit = (t.select(list(fields))
           .append_column("__row", pa.array(np.arange(t.num_rows)))
           .join(pa.table(probe), keys=list(fields), join_type="left semi"))
    mask = np.zeros(t.num_rows, dtype=bool)
    mask[hit.column("__row").to_numpy()] = True
    return pa.array(mask)


def _age_off(t: pa.Table, filters, now_millis: int) -> pa.Table:
    """Drop rows whose ``(column, max_age)`` timestamp is NULL or at
    least ``max_age`` old (AgeOffFilter.java:82-85)."""
    for col, max_age in filters:
        arr = t.column(col)
        keep = pc.and_(
            pc.is_valid(arr),
            pc.less(pc.subtract(pa.scalar(now_millis, pa.int64()),
                                pc.cast(arr, pa.int64())),
                    pa.scalar(max_age, pa.int64())))
        t = t.filter(keep)
    return t


def _filter_chunk(t: pa.Table, desc: dict) -> pa.Table:
    """Keep the rows inside the leaf region (the dedup guard for shared
    ancestor files), inside some query region or point key, and inside
    the value ranges; then drop the aged-off rows."""
    mask = None
    for fld, mn, mx in desc["leaf_ranges"]:
        mask = _and(mask, _range_mask(t, fld, mn, mx))
    if desc.get("point_keys") is not None:
        mask = _and(mask, _point_key_mask(t, desc["point_keys"]))
    else:
        qmask = None
        for region in desc["query_regions"]:
            rmask = None
            for fld, mn, mx in region:
                rmask = _and(rmask, _range_mask(t, fld, mn, mx))
            if rmask is None:  # this region holds every row
                qmask = None
                break
            qmask = rmask if qmask is None else pc.or_(qmask, rmask)
        mask = _and(mask, qmask)
    for vr in desc.get("value_ranges", ()):
        mask = _and(mask, _value_range_mask(t, *vr))
    if mask is not None:
        t = t.filter(mask)
    return _age_off(t, desc["filters"], desc["now_millis"])


def _count_below(col: pa.Array, bound) -> int:
    return int(pc.sum(pc.cast(pc.less(col, pa.scalar(bound, col.type)),
                              pa.int64())).as_py() or 0)


def _declared_arrow_schema(schema) -> "pa.Schema":
    """The table schema as Arrow, for padding schema-evolved files
    (files written before an add_value_column) with NULL columns of
    the declared type at merge time."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(schema.to_struct_type())


def _read_run(pf: pq.ParquetFile, desc: dict, row_groups=None,
              key_mask=None) -> Iterator[pa.Table]:
    """One sorted file as a run: non-empty key-sorted tables in
    ``desc["column_order"]``.

    ``row_groups`` narrows the read (else ``prune_range`` may);
    ``key_mask`` maps a batch's first key column to the rows to keep.
    ``prune_range`` = (dim0_key, lo, hi): subrange merges (a) skip
    row groups whose stats fall outside [lo, hi), and (b) trim each
    batch to the exact range BEFORE it enters the merge — the run is
    sorted, so the trim is a head/tail slice, and a batch whose tail
    passes ``hi`` ends the read early. Without the trim every
    boundary row group's rows would flow through merge+sort just to be
    filtered afterwards, costing more than the parallelism buys.
    """
    key_names = desc["key_names"]
    col_order = desc["column_order"]
    prune = desc.get("prune_range")
    # schema evolution: a file written before add_value_column lacks the
    # new column(s); read what it has and pad NULLs of the declared type
    # (desc["arrow_schema"], the table's current schema) per batch —
    # schema-on-read, the same semantics Spark's explicit read schema
    # gives the DataFrame path
    declared: pa.Schema | None = desc.get("arrow_schema")
    have = set(pf.schema_arrow.names)
    miss = [c for c in col_order if c not in have]
    if miss and declared is None:
        raise ValueError(
            f"a run lacks column(s) {miss} and no declared schema was "
            "provided to pad them — schema-evolved tables need "
            "desc['arrow_schema']")
    if prune is not None and row_groups is None:
        from sleeper_spark.sketches import row_groups_overlapping

        row_groups = row_groups_overlapping(pf, prune[0], prune[1], prune[2])
        if row_groups == []:
            return
    # a run's tables must END at a group boundary: a raw batch boundary
    # may split an equal-key group (a user-supplied file is not
    # guaranteed internally collapsed), and both cut rules of
    # _merge_runs — the multi-run min-of-max bound and the single-run
    # stream-through — treat a table's last key as the run's last
    # occurrence of that key. So each batch's trailing equal-key group
    # is withheld and prepended to the next batch.
    #
    # ONLY when aggregating: group boundaries exist for group-adjacent
    # aggregation. Without aggs, a split group merely spreads equal keys
    # over consecutive chunks (still globally key-sorted — equal keys
    # have no defined order), and withholding would buffer an entire
    # run in memory whenever one key value dominates a file.
    need_group_boundaries = bool(desc.get("aggs"))
    carry: pa.Table | None = None
    batches = pf.iter_batches(
        batch_size=desc.get("batch_rows", _BATCH_ROWS),
        columns=[c for c in col_order if c in have], row_groups=row_groups)
    for batch in batches:
        if key_mask is not None:
            batch = batch.filter(key_mask(batch.column(key_names[0])))
            if not batch.num_rows:
                continue
        t = pa.Table.from_batches([batch])
        for c in miss:
            fld = declared.field(c)
            t = t.append_column(pa.field(fld.name, fld.type, True),
                                pa.nulls(t.num_rows, fld.type))
        t = t.select(col_order)
        last = False
        if prune is not None:
            key, lo, hi = prune
            col = t.column(key).combine_chunks()
            start = _count_below(col, lo) if lo is not None else 0
            end = _count_below(col, hi) if hi is not None else t.num_rows
            last = end < t.num_rows  # sorted run: the rest is past hi
            t = t.slice(start, max(0, end - start))
        if carry is not None:
            t = pa.concat_tables([carry, t])
            carry = None
        if t.num_rows and not last and need_group_boundaries:
            # run continues: withhold the trailing equal-key group
            cols = [t.column(k).combine_chunks() for k in key_names]
            cnt_lt = _prefix_count(
                cols, tuple(c[len(c) - 1].as_py() for c in cols), False)
            carry, t = t.slice(cnt_lt), t.slice(0, cnt_lt)
        if t.num_rows:
            yield t
        if last:
            break
    if carry is not None and carry.num_rows:
        yield carry  # final group of the run


def _merge_runs(runs: list, key_names: list[str]) -> Iterator[pa.Table]:
    """Vectorized k-way merge of sorted runs (iterators of non-empty
    key-sorted tables), bounded memory.

    Fast path: one remaining run streams through untouched (no compare,
    no re-sort) — after a compaction most leaves are a single file.
    Otherwise each round cuts every run's buffered table at the minimum
    of the buffers' last keys and sorts that bounded chunk.
    """
    runs = list(runs)
    # buffer per run: (table, key arrays) — key arrays cached with the
    # buffer so they are converted once per table, not once per round
    buffers: list[tuple[pa.Table, list[pa.Array]] | None] = [None] * len(runs)
    # canonical schema: a leaf's files may differ in nullability (an
    # ingested frame with non-nullable fields writes required columns,
    # one read from parquet nullable ones) and concat_tables refuses
    # mixed nullability — relax every
    # table to the first one's types with nullable fields (a
    # metadata-only cast when only nullability differs)
    canon: pa.Schema | None = None

    def refill(i) -> None:
        nonlocal canon
        if buffers[i] is not None or runs[i] is None:
            return
        t = next(runs[i], None)
        if t is None:
            runs[i] = None
            return
        if canon is None:
            canon = pa.schema(
                [pa.field(fld.name, fld.type) for fld in t.schema])
        if t.schema != canon:
            t = t.cast(canon)
        buffers[i] = (t, [t.column(k).combine_chunks() for k in key_names])

    sort_spec = [(k, "ascending") for k in key_names]
    while True:
        for i in range(len(runs)):
            refill(i)
        active = [i for i in range(len(runs)) if buffers[i] is not None]
        if not active:
            return
        if len(active) == 1 and all(r is None for j, r in enumerate(runs)
                                    if j != active[0]):
            # single surviving run: stream it through as-is (its tables
            # end at group boundaries, so the chunk cannot split an
            # equal-key group)
            i = active[0]
            t, _ = buffers[i]
            buffers[i] = None
            yield t
            continue
        # bound = min over buffers of that buffer's LAST key (its max) —
        # every row <= bound across all buffers is mergeable now
        bound = min(tuple(arr[len(arr) - 1].as_py() for arr in cols)
                    for _, cols in (buffers[i] for i in active))
        parts = []
        for i in active:
            t, cols = buffers[i]
            cnt = _leq_prefix_count(cols, bound)
            if cnt:
                parts.append(t.slice(0, cnt))
            if cnt < t.num_rows:
                buffers[i] = (t.slice(cnt), [c.slice(cnt) for c in cols])
            else:
                buffers[i] = None
        chunk = pa.concat_tables(parts) if len(parts) > 1 else parts[0]
        yield chunk.sort_by(sort_spec)


def _merge_leaf(desc: dict, opened: dict | None = None,
                key_mask=None) -> Iterator[pa.Table]:
    """Merge one leaf's sorted files (``desc["files"]``) into key-sorted
    chunks: a :func:`_read_run` per file fed to :func:`_merge_runs`.
    ``opened`` (``{file: (ParquetFile, row groups, rows)}``) reuses
    open handles and reads only the listed row groups."""
    runs = []
    for fn in desc["files"]:
        if opened is None:
            runs.append(_read_run(pq.ParquetFile(fn), desc))
        else:
            pf, rgs, _ = opened[fn]
            runs.append(_read_run(pf, desc, rgs, key_mask))
    return _merge_runs(runs, desc["key_names"])


def _sorted_group_starts(chunk: pa.Table, key_names: list[str]) -> np.ndarray:
    """First-row index of each equal-key group in a chunk that is SORTED
    on ``key_names`` — one vectorized neighbour-compare per key column,
    no hashing. Null-safe: a null key equals a null key."""
    n = chunk.num_rows
    neq = None
    for k in key_names:
        col = chunk.column(k).combine_chunks()
        a, b = col.slice(1), col.slice(0, n - 1)
        d = pc.fill_null(pc.not_equal(a, b), False)
        d = pc.or_(d, pc.xor(pc.is_null(a), pc.is_null(b)))
        neq = d if neq is None else pc.or_(neq, d)
    bnd = np.empty(n, dtype=bool)
    bnd[0] = True
    if n > 1:
        bnd[1:] = neq.to_numpy(zero_copy_only=False)
    return np.flatnonzero(bnd)


# one op table for the Arrow kernels and the Spark query plan
from sleeper_spark.processing import _MAP_SCALAR_OP as _MAP_OPS


def _map_sum_dense(ekeys, eitems, egid: np.ndarray, n_groups: int,
                   item_t) -> pa.Array | None:
    """Integer map_sum without hashing or sorting: dictionary-encode the
    map keys once, address a dense (group × key-rank) accumulator with
    ``np.bincount``, and read the occupied slots back in (group, key)
    order — which IS the canonical sorted-key map layout, for free.

    Exact int64 arithmetic despite bincount's float64 weights: each
    value is split into hi/lo 32-bit halves summed separately; a
    partial sum stays under 2^53 (exactly representable) while every
    slot has < 2^21 entries, which is checked, as is the dense-array
    blow-up bound. Returns None when any precondition fails and the
    hash-agg path (below) must run instead. Replaces the 2M-entry hash
    group-by + sort that dominated the map-algebra compaction profile
    (~0.7s/1M rows -> ~0.1s/1M rows)."""
    n_entries = len(ekeys)
    if n_entries == 0 or eitems.null_count:
        return None
    enc = ekeys.dictionary_encode()
    dict_arr = enc.dictionary
    d = len(dict_arr)
    # dense-accumulator bound: degenerate key spread makes the hash path
    # cheaper (and keeps memory O(n_entries))
    if n_groups * d > max(4 * n_entries, 1 << 22):
        return None
    sort_idx = pc.array_sort_indices(dict_arr)
    rank_of = np.empty(d, dtype=np.int64)
    rank_of[sort_idx.to_numpy()] = np.arange(d, dtype=np.int64)
    rcodes = rank_of[enc.indices.to_numpy()]
    comp = egid * d + rcodes
    size = n_groups * d
    counts = np.bincount(comp, minlength=size)
    if counts.max() >= (1 << 21):
        return None  # per-slot float64 partial sums could round
    v64 = eitems.to_numpy().astype(np.int64, copy=False)
    lo = (v64 & 0xFFFFFFFF).astype(np.float64)
    hi = (v64 >> 32).astype(np.float64)
    slo = np.bincount(comp, weights=lo, minlength=size)
    shi = np.bincount(comp, weights=hi, minlength=size)
    occ = np.flatnonzero(counts)
    slo_i = slo[occ].astype(np.int64)
    shi_i = shi[occ].astype(np.int64)
    # recompose mod 2^64: two's-complement wraparound == int64 semantics
    sums = ((shi_i + (slo_i >> 32)) << np.int64(32)) | (slo_i & 0xFFFFFFFF)
    lengths = np.bincount(occ // d, minlength=n_groups)
    moff = np.concatenate(([0], np.cumsum(lengths))).astype(np.int32)
    keys_out = dict_arr.take(sort_idx).take(pa.array(occ % d))
    return pa.MapArray.from_arrays(
        pa.array(moff, type=pa.int32()), keys_out,
        pc.cast(pa.array(sums), item_t))


def _agg_map_column(col, gid_per_row: np.ndarray, n_groups: int,
                    op: str) -> pa.Array:
    """Point-wise map merge per group (A3), vectorized: flatten entries
    with their group id, one hash-agg on (group, map key), rebuild maps
    with keys sorted ascending (matching the Spark query plan's
    array_sort(entries) in processing.py:_merge_maps_exploded and the
    reference's map merge, AggregationOp.java:144-215 /
    rust/aggregator_udfs/src/map_aggregate.rs:28-40). Integer map_sum
    takes the dense bincount path above when its preconditions hold."""
    m = col.combine_chunks()
    off = m.offsets.to_numpy()          # may be shifted on a sliced array
    base, total = int(off[0]), int(off[-1])
    ekeys = m.keys.slice(base, total - base)
    eitems = m.items.slice(base, total - base)
    egid = np.repeat(gid_per_row, np.diff(off))
    if op == "sum" and pa.types.is_integer(m.type.item_type):
        fast = _map_sum_dense(ekeys, eitems, egid, n_groups,
                              m.type.item_type)
        if fast is not None:
            return fast
    et = pa.table({"__g": egid, "__k": ekeys, "__v": eitems})
    item_t = m.type.item_type
    concat_items = op == "sum" and (
        pa.types.is_string(item_t) or pa.types.is_large_string(item_t)
        or pa.types.is_binary(item_t) or pa.types.is_large_binary(item_t))
    if concat_items:
        # string/binary map values SUM by concatenation, same per-type
        # rule as scalar columns (AggregationOp.java:25-47) and the
        # Spark query plan's _merge_maps_exploded dispatch
        at = (et.group_by(["__g", "__k"])
              .aggregate([("__v", "list")])
              .sort_by([("__g", "ascending"), ("__k", "ascending")]))
        sep = pa.scalar(
            "" if pa.types.is_string(item_t)
            or pa.types.is_large_string(item_t) else b"", type=item_t)
        lst = at.column("__v_list").combine_chunks()
        # null values concat as empty, matching the Spark query plan's
        # collect_list-drops-nulls behavior
        lst = pa.ListArray.from_arrays(
            lst.offsets, pc.fill_null(lst.values, sep))
        agg_vals = pc.binary_join(lst, sep)
    else:
        at = (et.group_by(["__g", "__k"])
              .aggregate([("__v", op)])
              .sort_by([("__g", "ascending"), ("__k", "ascending")]))
        agg_vals = at.column(f"__v_{op}").combine_chunks()
    counts = np.bincount(at.column("__g").to_numpy(), minlength=n_groups)
    moff = np.concatenate(([0], np.cumsum(counts))).astype(np.int32)
    items = pc.cast(agg_vals, m.type.item_type)
    return pa.MapArray.from_arrays(
        pa.array(moff, type=pa.int32()),
        at.column("__k").combine_chunks(), items)


def _aggregate_chunk_sorted(chunk: pa.Table, desc: dict) -> pa.Table:
    """Collapse equal-(row key + sort key) rows of a key-sorted chunk —
    the Arrow-engine realisation of the FULL aggregation algebra (A1-A5:
    numeric sum, min/max on any orderable, string/binary concat-sum,
    map_sum/map_min/map_max, max_by/min_by), group-adjacent like the
    reference's streaming aggregator (AggregatorIteratorImpl.java:64-93).
    ``desc["aggs"]`` holds ``(column, op)`` pairs, and
    ``(column, op, order_column)`` for max_by/min_by.

    Sorted input means group ids come from one neighbour-compare pass
    (no hash of the key columns) and the output is ALREADY in key order —
    no re-sort. Concat-sum is zero-copy: the group's values are a
    contiguous run, so a ListArray over the group offsets + binary_join
    does the whole column in C++."""
    keys = desc["key_names"]
    has_maps = any(a[1] in _MAP_OPS for a in desc["aggs"])
    n = chunk.num_rows
    starts = _sorted_group_starts(chunk, keys)
    ng = len(starts)
    if ng == n and not has_maps:
        # no duplicates — and no map columns, which must be rebuilt with
        # sorted keys even when untouched so both plans emit one
        # canonical map form (the Spark query plan array_sorts every map)
        return chunk
    bounds = np.append(starts, n)
    take_idx = pa.array(starts, type=pa.int64())
    out_cols: dict = {k: chunk.column(k).take(take_idx) for k in keys}

    scalars: list[tuple[str, str]] = []
    concats: list[str] = []
    maps: list[tuple[str, str]] = []
    bys: list[tuple[str, str, str]] = []
    for c, op, *order in desc["aggs"]:
        typ = chunk.schema.field(c).type
        if op in _MAP_OPS:
            maps.append((c, _MAP_OPS[op]))
        elif op in ("max_by", "min_by"):
            bys.append((c, op, order[0]))
        elif op == "sum" and (pa.types.is_string(typ)
                              or pa.types.is_large_string(typ)
                              or pa.types.is_binary(typ)
                              or pa.types.is_large_binary(typ)):
            concats.append(c)
        else:
            scalars.append((c, op))

    gid_per_row = None
    if scalars or maps or bys:
        gid_per_row = np.repeat(np.arange(ng, dtype=np.int64),
                                np.diff(bounds))
    if scalars:
        gt = pa.table({"__g": gid_per_row,
                       **{c: chunk.column(c) for c, _ in scalars}})
        at = (gt.group_by("__g")
              .aggregate([(c, op) for c, op in scalars])
              .sort_by("__g"))
        for c, op in scalars:
            out_cols[c] = at.column(f"{c}_{op}")
    for c in concats:
        col = chunk.column(c).combine_chunks()
        is_str = pa.types.is_string(col.type) \
            or pa.types.is_large_string(col.type)
        sep = pa.scalar("" if is_str else b"", type=col.type)
        # null values are SKIPPED by the Spark query plan (collect_list
        # drops them; an all-null group concats to empty) — binary_join would
        # instead emit null for any group containing a null, so fill
        # first to match the Spark query plan bit for bit
        col = pc.fill_null(col, sep)
        lst = pa.ListArray.from_arrays(
            pa.array(bounds.astype(np.int32), type=pa.int32()), col)
        out_cols[c] = pc.binary_join(lst, sep)
    for c, op in maps:
        out_cols[c] = _agg_map_column(chunk.column(c), gid_per_row, ng, op)
    for c, op, order in bys:
        # pair state: the value of each group's (order, value) extremum,
        # read from the INPUT rows (the order column may itself be
        # aggregated). Ties on the order column break on the value, as
        # the Spark query plan's max(struct(o, v)) does. Sorting by group
        # first keeps each group's rows at its original offsets.
        way = "descending" if op == "max_by" else "ascending"
        idx = pc.sort_indices(
            pa.table({"__g": gid_per_row, "__o": chunk.column(order),
                      "__v": chunk.column(c)}),
            sort_keys=[("__g", "ascending"), ("__o", way), ("__v", way)])
        out_cols[c] = chunk.column(c).take(idx.take(take_idx))

    orig = pa.schema([chunk.schema.field(name)
                      for name in desc["column_order"]])
    t = pa.table(
        {name: out_cols[name] for name in desc["column_order"]})
    return t.cast(orig)  # cast-back keeps input types, per A5


def _process_chunk(chunk: pa.Table, desc: dict) -> pa.Table:
    chunk = _filter_chunk(chunk, desc)
    if desc["aggs"] and chunk.num_rows:
        chunk = _aggregate_chunk_sorted(chunk, desc)
    return chunk


def _agg_spec(aggs) -> list[tuple]:
    """Parsed aggregations as ``desc["aggs"]`` entries."""
    return [(a.column, a.op) + ((a.order_col,) if a.order_col else ())
            for a in aggs]


def _query_desc(schema: Schema, query: Query, filters, aggs,
                now_millis: int, batch_rows: int) -> dict:
    """The part of a leaf descriptor shared by every leaf a query reads:
    its regions (or point keys) and value ranges, and the table's parsed
    ageOff ``filters`` and ``aggs``. :func:`_leaf_desc` adds the leaf."""
    points = _point_keys(query.regions)
    return {
        "query_regions": [] if points else [
            [(r.field, r.min, r.max) for r in
             (rr.canonicalise() for rr in region.ranges)]
            for region in query.regions],
        "point_keys": points,
        "value_ranges": [(r.field, r.min, r.min_inclusive, r.max,
                          r.max_inclusive) for r in query.value_ranges],
        "filters": [(f.column, f.max_age_millis) for f in filters],
        "aggs": _agg_spec(aggs),
        "key_names": list(schema.key_names),
        "column_order": [f.name for f in schema.all_fields()],
        "arrow_schema": _declared_arrow_schema(schema),
        "now_millis": now_millis,
        "batch_rows": batch_rows,
    }


def _leaf_desc(query_desc: dict, leaf, files: list[str]) -> dict:
    return dict(query_desc, leaf_id=leaf.id, files=files, leaf_ranges=[
        (r.field, r.min, r.max)
        for r in (rr.canonicalise() for rr in leaf.region.ranges)])


def _dim0_components(leaves, dim0: str) -> list[list]:
    """``leaves`` in key order, grouped so that concatenating the
    groups' merged streams is the total table order. On a tree split
    only on dimension 0 the leaves are disjoint there and each is its
    own group. A split on a later dimension leaves siblings whose
    dimension-0 ranges overlap; a leaf joins the current group while it
    starts below the group's highest dimension-0 upper bound (ranges are
    ``[min, max)``, so starting at that bound is disjoint)."""
    def lower(leaf):
        lo = leaf.region.range_for(dim0).min
        return (0,) if lo is None else (1, lo)

    groups: list[list] = []
    hi = None  # the current group's upper bound; None = unbounded
    for leaf in sorted(leaves, key=lower):
        r = leaf.region.range_for(dim0).canonicalise()
        if groups and (hi is None or r.min is None or r.min < hi):
            groups[-1].append(leaf)
            hi = None if hi is None or r.max is None else max(hi, r.max)
        else:
            groups.append([leaf])
            hi = r.max
    return groups


def _component_stream(descs: list[dict], tag_col: str | None = None,
                      opened: dict | None = None,
                      key_mask=None) -> Iterator[pa.Table]:
    """The processed rows of one dimension-0 component (one descriptor
    per leaf, see :func:`_dim0_components`) as non-empty tables in total
    key order: each leaf's merged chunks go through
    :func:`_process_chunk`, and the leaves' streams merge when there are
    several. ``descs`` is not empty. ``tag_col`` adds a column holding
    each row's leaf id before that merge; ``opened`` and ``key_mask`` go
    to :func:`_merge_leaf`."""
    def leaf_stream(desc):
        for chunk in _merge_leaf(desc, opened, key_mask):
            out = _process_chunk(chunk, desc)
            if not out.num_rows:
                continue
            if tag_col is not None:
                out = out.append_column(
                    pa.field(tag_col, pa.string(), False),
                    pa.array([desc["leaf_id"]] * out.num_rows, pa.string()))
            yield out

    streams = [leaf_stream(d) for d in descs]
    if len(streams) == 1:
        return streams[0]
    # leaf regions are disjoint, so no key group spans two streams
    return _merge_runs(streams, descs[0]["key_names"])


def arrow_task_frame(spark, n_tasks: int, task_tables,
                     struct: T.StructType) -> DataFrame:
    """A DataFrame of ``n_tasks`` partitions whose partition ``i`` holds,
    in order, the rows of the Arrow tables ``task_tables(i)`` yields
    (run on an executor). The tables pass to Spark as Arrow batches
    (``mapInArrow``), their columns picked by ``struct``'s names and
    cast to its types. There is no pandas conversion, so a NaN stays
    NaN rather than becoming NULL and a nullable 64-bit column stays
    exact rather than going through float64.
    ``parallelize(n items, n slices)`` puts item ``i`` in partition
    ``i`` and ``mapInArrow`` preserves partitioning, so the plan has no
    exchange."""
    from pyspark.sql.pandas.types import to_arrow_schema

    # every target field nullable: the cast converts types only
    target = pa.schema([f.with_nullable(True)
                        for f in to_arrow_schema(struct)])
    ship_engine(spark.sparkContext)
    src = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(i,) for i in range(n_tasks)], n_tasks),
        "task int")

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for task in batch.column(0).to_pylist():
                for t in task_tables(task):
                    yield from t.select(target.names).cast(target).to_batches()

    return src.mapInArrow(run, struct)


def distributed_sorted_scan(table, query: Query | None = None,
                            now_millis: int | None = None,
                            batch_rows: int = _BATCH_ROWS,
                            leaf_id_col: str | None = None) -> DataFrame:
    """Build the zero-shuffle sorted scan plan for a table (S2/J1/J6):
    one task per dimension-0 component of the pruned leaves
    (:func:`_dim0_components` — one leaf each unless the tree splits on
    a later dimension). The table's ageOff filters and aggregation run
    inside the task on the Arrow kernels; custom iterators are applied
    afterwards as order-preserving DataFrame transforms, row-wise by the
    U1 contract. ``leaf_id_col`` adds a column holding each row's leaf
    id.
    """
    import time as _time

    from sleeper_spark.iterators import (
        apply_custom_iterators,
        parse_aggregations,
        parse_filters,
    )
    from sleeper_spark.query import (
        _file_may_match,
        local_frame,
        reject_value_ranges_on_aggregation,
    )

    spark = table.spark
    schema: Schema = table.schema
    tree = table.store.tree
    assert tree is not None
    now_millis = now_millis if now_millis is not None else int(_time.time() * 1000)
    if query is None:
        query = Query([Region(tuple(
            Range(f.name, None, None) for f in schema.row_key_fields))])
    aggs = parse_aggregations(table.props.aggregations)
    reject_value_ranges_on_aggregation(query.value_ranges, aggs)

    query_desc = _query_desc(schema, query,
                             parse_filters(table.props.filters), aggs,
                             now_millis, batch_rows)
    leaves = [lf for lf in tree.leaves()
              if any(reg.overlaps(lf.region) for reg in query.regions)]
    tasks = []
    for component in _dim0_components(leaves, schema.row_key_names[0]):
        descs = []
        for leaf in component:
            files = sorted({r.filename
                            for r in table.store.files_for_leaf_query(leaf.id)})
            if query.value_ranges:
                files = [f for f in files
                         if _file_may_match(f, query.value_ranges)]
            if files:
                descs.append(_leaf_desc(query_desc, leaf, files))
        if descs:
            tasks.append(descs)
    struct = schema.to_struct_type()
    if leaf_id_col is not None:
        # leaf tag for shuffle-free partitioned export (S6): partitionBy
        # (leaf_id_col) writes one sorted file per leaf with no exchange
        struct = T.StructType(
            list(struct.fields)
            + [T.StructField(leaf_id_col, T.StringType(), False)])
    if not tasks:
        # an EMPTY source still flows through the custom-iterator chain
        # (same reason QueryExecutor.execute routes its empty source
        # through post-processing: a schema-changing iterator must give
        # the empty result the same schema as a non-empty one)
        return apply_custom_iterators(
            local_frame(spark, struct), table.props.iterators, schema)

    # exactly one component per task: the plan has NO exchange, so
    # partition order remains key order. The descriptors travel in the
    # function closure (pickled), so binary key bounds need no JSON
    # encoding.
    df = arrow_task_frame(
        spark, len(tasks),
        lambda i: _component_stream(tasks[i], leaf_id_col), struct)
    return apply_custom_iterators(df, table.props.iterators, schema)
