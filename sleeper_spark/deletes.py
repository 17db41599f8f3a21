"""Copy-on-write row deletion (``SleeperTable.delete_where``,
``delete_exact_rows``) and the one copy-on-write rewriter that
``updates.update_where`` and ``merge.merge_upsert`` share.

The reference has no row delete — data leaves a table only via ageOff
filters (docs/usage/data-processing.md). A training-data pipeline needs
targeted removal (takedowns, contaminated documents, PII incidents), so
this extends the engine the way Delta/Iceberg do copy-on-write DELETE.
Every copy-on-write mutation runs the same four steps:

1. PLAN (driver, metadata only, :func:`plan_candidates`): of every live
   (file, partition) reference, keep only those that MAY hold a matching
   row. For key regions and value ranges: partition region overlap,
   sidecar footer min/max (query.py:_file_may_match), and the
   first-row-key Bloom filter when every region is an exact point. For a
   key set: the leaves the keys descend to, their lookup files, then the
   Bloom filter. At 10^5 files a key-targeted rewrite touches a handful
   of files, not the table.
2. CLAIM (:func:`claimed`): assign the candidates to a ``delete-*`` /
   ``update-*`` / ``merge-*`` job id via ASSIGN_JOB_IDS — the same claim
   compaction takes, so two rewriters can never rewrite the same
   reference (the second claimant's commit fails and retries its plan).
   Any failure before the commit releases the claim and removes the
   job's output directory; a failure of the commit itself keeps the
   claim, and ``unassign_job_ids`` is the recovery, as for a crashed
   compaction.
3. REWRITE (:func:`_rewrite_ref`, driver threads or executors): each
   candidate reference is rewritten 1:1 — rows inside the partition's
   region (a file split across child partitions holds rows of several
   references; each rewrite keeps only its own) that the caller's match
   function does not select are KEPT; the selected rows land as a
   tombstone parquet, the observable record incremental consumers
   (materialized views, secondary indexes) apply; with assignments they
   also land, updated, as a third file. Filtering preserves the file's
   sort order, so every engine invariant (sorted leaves,
   merge-without-resort, sketch validity) survives, and each data
   output is written with its sidecar (quantile sketch + min/max +
   Bloom) by the one sorted-file writer (``sketches.write_sorted_file``).
   A reference where nothing matched is left as it is.
4. COMMIT: the caller's ONE transaction — ``REPLACE_FILE_REFERENCES``
   here and in updates.py, ``MERGE_FILES`` in merge.py. Fully-deleted
   references are simply removed. References where nothing matched are
   left out of it and released after it, so ``files_untouched`` counts
   the references present at the call that were neither rewritten nor
   removed. Old files enter the GC queue; time travel (``as_of``) still
   serves pre-delete states from the log; the append-only
   ``added_rows_between`` feed does not emit deletes.

``delete_where``'s predicate is (OR of key ``regions``) AND (AND of
``value_ranges``), matching the query model. Value-range deletes are
rejected on aggregation-configured tables — pre-collapse physical rows
are not what the user sees, so "delete where value matches" would be
ill-defined (key-region deletes remove whole key groups and stay
well-defined).
"""

from __future__ import annotations

import os
import shutil
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import partial
from typing import TYPE_CHECKING, Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from sleeper_spark.query import (
    Query,
    _file_may_match,
    bloom_points,
    file_may_contain_keys,
)
from sleeper_spark.ranges import Range, Region
from sleeper_spark.sketches import _DRIVER_SIDE_BYTES, write_sorted_file
from sleeper_spark.sorted_scan import (
    _and,
    _declared_arrow_schema,
    _point_key_mask,
    _value_range_mask,
)
from sleeper_spark.statestore import FileReference, StateStoreException

if TYPE_CHECKING:  # pragma: no cover
    from sleeper_spark.table import SleeperTable


def _bool_mask(tbl, m) -> np.ndarray:
    """An optional Arrow mask (None = every row) as numpy bool; a NULL
    comparison never matches."""
    if m is None:
        return np.ones(tbl.num_rows, dtype=bool)
    return pc.fill_null(m, False).to_numpy(zero_copy_only=False)


def _ranges_mask(tbl, ranges) -> np.ndarray:
    """Rows inside every range of a conjunctive Range list."""
    m = None
    for r in ranges:
        m = _and(m, _value_range_mask(tbl, r.field, r.min, r.min_inclusive,
                                      r.max, r.max_inclusive))
    return _bool_mask(tbl, m)


def _region_match(regions, value_ranges, tbl) -> np.ndarray:
    """delete_where/update_where match: (OR regions) AND (AND
    value_ranges)."""
    if regions:
        m = np.zeros(tbl.num_rows, dtype=bool)
        for reg in regions:
            m |= _ranges_mask(tbl, reg.ranges)
    else:
        m = np.ones(tbl.num_rows, dtype=bool)
    if value_ranges:
        m &= _ranges_mask(tbl, value_ranges)
    return m


def _key_match(key_names, keys, tbl) -> np.ndarray:
    """merge_upsert match: rows whose full row-key tuple is in ``keys``."""
    return _bool_mask(tbl, _point_key_mask(tbl, (tuple(key_names), keys)))


def _exact_rows_match(key0, rows_ipc, tbl) -> np.ndarray:
    """delete_exact_rows match: rows that EXACTLY equal (null-safe, all
    columns) some row of a bounded tombstone row set.

    Matching is two-phase so the python-level exact comparison never
    touches the bulk of the file: a vectorized ``is_in`` prefilter on
    the first row-key column narrows to rows sharing a key with some
    tombstone (≈ the tombstone count for point deletes), then only
    those survivors are compared tuple-wise against the set. Both
    sides are cast to the tombstone table's Arrow schema first, so
    type-representation drift (e.g. timestamp unit) cannot cause a
    silent non-match. Float NaN normalizes to a sentinel on BOTH
    sides so NaN matches NaN — tombstones are the literal removed
    rows (delete_exact_rows ``match_nan`` contract)."""
    import math

    tomb = pa.ipc.open_stream(rows_ipc).read_all()
    pre = pc.fill_null(pc.is_in(
        tbl.column(key0),
        value_set=tomb.column(key0).combine_chunks().unique()), False)
    cand_idx = np.nonzero(pre.to_numpy(zero_copy_only=False))[0]
    match = np.zeros(tbl.num_rows, dtype=bool)
    if not len(cand_idx):
        return match
    taken = tbl.take(pa.array(cand_idx))
    # schema evolution: a pre-evolution file lacks later-added value
    # columns physically — they read as NULL table-wide, so compare
    # them as null columns instead of crashing mid-claim
    cols = []
    for name in tomb.column_names:
        if name in taken.column_names:
            cols.append(taken.column(name))
        else:
            cols.append(pa.nulls(taken.num_rows,
                                 tomb.schema.field(name).type))
    sub = pa.table(dict(zip(tomb.column_names, cols))).cast(tomb.schema)

    # two to_pylist() NaN objects are neither identical nor equal, so
    # raw tuples would silently never match: normalize every NaN to
    # one sentinel before the tuple compare
    nan = ("__nan__",)  # unique, hashable, never a cell value

    def nanorm(row):
        return tuple(nan if isinstance(v, float) and math.isnan(v) else v
                     for v in row)

    tomb_set = {nanorm(r) for r in zip(*(c.to_pylist() for c in tomb.columns))}
    rows = zip(*(c.to_pylist() for c in sub.columns))
    match[[i for i, row in zip(cand_idx, rows) if nanorm(row) in tomb_set]] \
        = True
    return match


def _rewrite_ref(desc: dict) -> tuple[int, int]:
    """Executor task: rewrite ONE (file, partition) reference. Returns
    (rows matched, rows kept); nothing is written when nothing matched.
    The matched rows (own & match — region-filtered per reference, so a
    file split across child partitions never tombstones a row twice)
    land in the tombstone, the rest of the reference's rows in the kept
    file, and, when ``desc["assign"]`` is set, the matched rows with the
    assignments applied in the updated file."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(desc["in_path"])
    own = _ranges_mask(tbl, desc["partition_ranges"])
    hit = own & desc["match"](tbl)
    n_hit = int(hit.sum())
    if not n_hit:
        return 0, 0
    keep = own & ~hit
    n_keep = int(keep.sum())
    old = tbl.filter(pa.array(hit))
    w = desc["write"]
    # the tombstone records removed rows and is no data file: no sidecar
    pq.write_table(old, desc["tomb_path"], compression=w["compression"],
                   data_page_size=w["page_bytes"])
    # a filtered sorted file is still sorted, and keys are never assigned
    if n_keep:
        write_sorted_file(desc["kept_path"], [tbl.filter(pa.array(keep))],
                          expected_rows=n_keep, **w)
    if desc["assign"] is not None:
        upd = desc["assign"](old)
        write_sorted_file(desc["upd_path"], [upd],
                          expected_rows=upd.num_rows, **w)
    return n_hit, n_keep


def plan_candidates(table: "SleeperTable",
                    regions: list[Region] | None = None,
                    value_ranges: list[Range] | None = None,
                    keys: list[tuple] | None = None) -> list[FileReference]:
    """The references that MAY hold a row matching key ``regions`` and
    ``value_ranges``, or, when ``keys`` (row-key tuples) is given, a row
    of one of those keys (module doc, step 1)."""
    store, tree = table.store, table.store.tree
    assert tree is not None, "table not initialised"
    names = table.schema.row_key_names
    if keys is not None:
        by_ref: dict[tuple[str, str], FileReference] = {}
        for lid in {tree.leaf_for_row(dict(zip(names, kk))).id
                    for kk in keys}:
            for ref in store.files_for_leaf_query(lid):
                by_ref[(ref.filename, ref.partition_id)] = ref
        pts = {kk[0] for kk in keys}
        return [r for r in by_ref.values()
                if file_may_contain_keys(r.filename, pts)]
    pts = bloom_points(Query(regions), names[0]) if regions else None
    out = []
    for ref in store.all_references():
        if regions:
            preg = tree[ref.partition_id].region
            if not any(preg.overlaps(reg)
                       and _file_may_match(ref.filename, reg.ranges)
                       for reg in regions):
                continue
            if pts is not None and not file_may_contain_keys(ref.filename,
                                                             pts):
                continue
        if value_ranges and not _file_may_match(ref.filename, value_ranges):
            continue
        out.append(ref)
    return out


@contextmanager
def claimed(table: "SleeperTable", job_id: str, refs: list[FileReference]):
    """Claim ``refs`` for ``job_id`` and yield the job's (empty) output
    directory. A failure inside the block releases the claim and removes
    the directory; the caller commits after the block, so a failed
    commit keeps the claim. References already held by ``job_id`` (a
    crashed attempt of the same caller-supplied job id) are kept."""
    store = table.store
    for ref in refs:
        if ref.job_id not in (None, job_id):
            raise StateStoreException(
                f"{ref.filename} (partition {ref.partition_id}) is "
                f"claimed by job {ref.job_id}; finish or abandon it "
                "first")
    to_claim = [r for r in refs if r.job_id != job_id]
    if to_claim:
        store.assign_job_ids(job_id, to_claim)
    out_dir = os.path.join(table.data_dir, job_id)
    try:
        # a crashed attempt under the same job id left uncommitted
        # bytes here; nothing references them, so the retry starts clean
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        yield out_dir
    except BaseException:
        if refs:
            store.unassign_job_ids(job_id)
        shutil.rmtree(out_dir, ignore_errors=True)
        raise


@dataclass
class Rewrite:
    """What one copy-on-write pass produced, ready for the commit."""

    replacements: list = field(default_factory=list)
    tombstones: list[str] = field(default_factory=list)
    updates: list[str] = field(default_factory=list)
    rows_matched: int = 0
    files_rewritten: int = 0
    files_removed: int = 0
    noops: int = 0


def rewrite(table: "SleeperTable", refs: list[FileReference], out_dir: str,
            match: Callable, assign: Callable | None = None) -> Rewrite:
    """Rewrite every claimed reference (module doc, step 3): on driver
    threads below ``_DRIVER_SIDE_BYTES`` of input, else one executor
    task per reference. ``match`` and ``assign`` must pickle (module
    functions or ``functools.partial`` of them)."""
    tree = table.store.tree
    write = {"key_names": list(table.schema.key_names),
             "sketch_k": table.props.sketch_size,
             "compression": table.props.compression,
             "page_bytes": table.props.page_bytes,
             "declared_schema": _declared_arrow_schema(table.schema)}
    descs = [{
        "in_path": ref.filename,
        "partition_ranges": list(tree[ref.partition_id].region.ranges),
        "kept_path": os.path.join(out_dir, f"kept-{i:05d}.parquet"),
        "upd_path": os.path.join(out_dir, f"updated-{i:05d}.parquet"),
        "tomb_path": os.path.join(out_dir, f"tombstone-{i:05d}.parquet"),
        "match": match,
        "assign": assign,
        "write": write,
    } for i, ref in enumerate(refs)]
    if not descs:
        results = []
    elif sum(os.path.getsize(d["in_path"]) for d in descs) \
            < _DRIVER_SIDE_BYTES:
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=min(16, len(descs))) as ex:
            results = list(ex.map(_rewrite_ref, descs))
    else:
        sc = table.spark.sparkContext
        slices = min(len(descs), 4 * sc.defaultParallelism)
        results = sc.parallelize(descs, slices).map(_rewrite_ref).collect()

    out = Rewrite()
    for ref, desc, (n_hit, n_keep) in zip(refs, descs, results):
        if not n_hit:
            out.noops += 1
            continue
        out.rows_matched += n_hit
        out.tombstones.append(desc["tomb_path"])
        outputs = [(desc["kept_path"], n_keep)] if n_keep else []
        if assign is not None:
            outputs.append((desc["upd_path"], n_hit))
            out.updates.append(desc["upd_path"])
        if outputs:
            out.files_rewritten += 1
        else:
            out.files_removed += 1
        out.replacements.append((ref.partition_id, [ref.filename], [
            FileReference(filename=path, partition_id=ref.partition_id,
                          number_of_rows=n,
                          only_contains_data_for_this_partition=True)
            for path, n in outputs]))
    return out


def commit_rewrite(table: "SleeperTable", job_id: str, rw: Rewrite) -> bool:
    """The delete/update commit: ONE ``REPLACE_FILE_REFERENCES`` of every
    changed reference, then the release of the untouched ones' claims
    (after the commit, so a crash in between leaves only recoverable
    claims, never a lost change). Returns whether anything committed."""
    store = table.store
    if rw.replacements:
        store.replace_file_references_batch(
            rw.replacements, allow_empty_outputs=True, job_id=job_id,
            tombstones=sorted(rw.tombstones), updates=sorted(rw.updates))
    if rw.noops:
        store.unassign_job_ids(job_id)
    return bool(rw.replacements)


def delete_where(table: "SleeperTable",
                 regions: list[Region] | None = None,
                 value_ranges: list[Range] | None = None) -> dict:
    if not regions and not value_ranges:
        raise ValueError(
            "delete_where requires regions and/or value_ranges; a "
            "whole-table delete must be explicit (clear_files)")
    if value_ranges and table.props.aggregations:
        raise ValueError(
            "value_ranges deletes are not allowed on an "
            "aggregation-configured table: physical pre-collapse rows "
            "are not the user-visible values, so the predicate would "
            "be ill-defined; delete by key regions instead")
    store = table.store
    store.check_writable()  # upfront, same error surface as ingest/merge
    store.refresh_if_stale(0)
    n_total = len(store.all_references())
    candidates = plan_candidates(table, regions, value_ranges)
    if not candidates:
        return {"rows_deleted": 0, "files_rewritten": 0,
                "files_removed": 0, "files_untouched": n_total,
                "job_id": None}
    job_id = f"delete-{uuid.uuid4().hex[:12]}"
    with claimed(table, job_id, candidates) as out_dir:
        rw = rewrite(table, candidates, out_dir, partial(
            _region_match, list(regions or []), list(value_ranges or [])))
    return _delete_result(rw, n_total, job_id,
                          commit_rewrite(table, job_id, rw))


def _delete_result(rw: Rewrite, n_total: int, job_id: str,
                   committed: bool) -> dict:
    return {"rows_deleted": rw.rows_matched,
            "files_rewritten": rw.files_rewritten,
            "files_removed": rw.files_removed,
            "files_untouched":
            n_total - rw.files_rewritten - rw.files_removed,
            "tombstone_files": len(rw.tombstones),
            "job_id": job_id if committed else None}


def delete_exact_rows(table: "SleeperTable", rows: "object",
                      cap: int = 1_000_000,
                      match_nan: bool = False) -> dict:
    """Copy-on-write deletion of an EXPLICIT row set: every table row
    that exactly equals (null-safe, all columns) some row of ``rows``
    (a Spark DataFrame in the table's schema) is removed — ALL copies
    of a matched row, mirroring predicate-delete multiplicity. This is
    the primitive CDC replication uses to apply a source
    ``delete_where``'s tombstones on a converged replica
    (replication.sync_cdc), where the original predicate is not
    recoverable from the log but the removed rows are.

    Not allowed on aggregation-configured tables: physical
    pre-collapse rows are not the user-visible values, so exact-row
    matching against a differently-compacted table is ill-defined —
    the CDC path applies key-exact ``delete_where`` there instead
    (source deletes on aggregation tables are key-region only, so
    whole key groups are the unit either way).

    ``cap`` bounds the driver-side row set (this is the point-delete
    tool; a mass delete should re-seed/rebuild instead). Rows whose
    float columns hold NaN are refused (NaN never equals itself, so
    under IEEE equality they could never match) UNLESS
    ``match_nan=True``, which matches NaN-as-equal — the CDC
    replication contract (replication.sync_cdc), where tombstones are
    the LITERAL removed rows and a source row holding NaN must still
    be removable from the replica."""
    import math

    store = table.store
    store.check_writable()
    store.refresh_if_stale(0)
    if table.props.aggregations:
        raise ValueError(
            "delete_exact_rows is not allowed on an "
            "aggregation-configured table: physical pre-collapse rows "
            "are not the user-visible values; delete by key regions "
            "instead")

    need = [f.name for f in table.schema.all_fields()]
    missing = [c for c in need if c not in set(rows.columns)]
    if missing:
        raise ValueError(
            f"rows frame is missing table column(s) {missing}")
    tomb = rows.select(*need).limit(cap + 1).toArrow()
    if tomb.num_rows > cap:
        raise ValueError(
            f"more than {cap} rows to delete — a mass delete; re-seed "
            "or rebuild the table instead of point-deleting")
    # dedupe (multiplicity lives in the TABLE, not the request) and
    # refuse unmatchable NaN rows loudly rather than silently skipping
    tomb = tomb.group_by(tomb.column_names).aggregate([])
    if not match_nan:
        for col in tomb.columns:
            if pa.types.is_floating(col.type):
                vals = col.to_pylist()
                if any(v is not None and math.isnan(v) for v in vals):
                    raise ValueError(
                        "rows contain float NaN, which never equals "
                        "itself and can never match — filter those "
                        "rows or delete them by key regions, or pass "
                        "match_nan=True to match NaN-as-equal (the "
                        "CDC tombstone contract)")
    n_total = len(store.all_references())
    empty = {"rows_deleted": 0, "files_rewritten": 0, "files_removed": 0,
             "files_untouched": n_total, "tombstone_files": 0,
             "job_id": None}
    if tomb.num_rows == 0:
        return empty

    key_names = table.schema.row_key_names
    key_tuples = {tuple(bytes(v) if isinstance(v, bytearray) else v
                        for v in kk)
                  for kk in zip(*(tomb.column(k).to_pylist()
                                  for k in key_names))}
    if any(v is None for kk in key_tuples for v in kk):
        raise ValueError("null row key in rows to delete — key "
                         "fields are non-nullable")
    candidates = plan_candidates(table, keys=list(key_tuples))
    if not candidates:
        return empty

    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, tomb.schema) as w:
        w.write_table(tomb)
    job_id = f"delete-{uuid.uuid4().hex[:12]}"
    with claimed(table, job_id, candidates) as out_dir:
        rw = rewrite(table, candidates, out_dir, partial(
            _exact_rows_match, key_names[0], sink.getvalue().to_pybytes()))
    return _delete_result(rw, n_total, job_id,
                          commit_rewrite(table, job_id, rw))
