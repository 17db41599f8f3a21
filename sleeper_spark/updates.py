"""Copy-on-write row update: ``SleeperTable.update_where``.

The reference has no row update (like row delete, data changes only
through the aggregation algebra); a warehouse needs targeted
read-modify-write (backfill a mis-parsed field, redact a value, bump a
status column). ``delete_where``'s masked file-rewrite machinery
(deletes.py) is 90% of copy-on-write UPDATE — this module adds the
value-assignment variant, committing everything as ONE atomic
REPLACE_FILE_REFERENCES transaction:

1. PLAN (driver, metadata only): the same candidate pruning as
   delete_where — partition region overlap, sidecar footer min/max,
   point-lookup Blooms. A key-targeted update rewrites a handful of
   files, never the table.
2. CLAIM: candidates are assigned to an ``update-*`` job id via
   ASSIGN_JOB_IDS — the same claim compaction and deletes take, so no
   two rewriters ever race on a reference.
3. REWRITE (executors): each candidate (file, partition) reference
   splits 1:1 into up to TWO sorted outputs — the KEPT rows
   (not matching the predicate, byte-identical) and the UPDATED rows
   (matching rows with the assignments applied). Keys are never
   assignable, so both outputs stay sorted by the table key and every
   engine invariant (sorted leaves, merge-without-resort, sketch
   validity) survives; two overlapping sorted files in one partition
   is ordinary pre-compaction LSM state. The matched rows' OLD
   versions land as a tombstone parquet (same artifact as
   delete_where), and fresh sidecars (sketch + min/max + Bloom) are
   built for both outputs in the same task.
4. COMMIT: ONE ``REPLACE_FILE_REFERENCES`` swaps every rewritten
   reference, stamped with the job id, the tombstone files AND the
   updated-rows files (``updates`` — the observable record incremental
   consumers apply: ``SleeperTable.updated_rows_between``). A crash
   ANYWHERE before this commit leaves the old version fully readable —
   the claim is abandoned machinery, not data. Old files enter the GC
   queue; ``as_of`` still serves pre-update states from the log.

Semantics: the predicate is (OR of key ``regions``) AND (AND of
``value_ranges``), identical to delete_where. ``assignments`` maps
VALUE column name -> new value: a plain constant (cast to the column
type; a failed cast raises at plan time, before anything is claimed)
or a callable ``fn(old_rows: pyarrow.Table) -> pyarrow.Array`` for
computed updates (must be pure and deterministic — it re-runs on
retry). Row/sort keys are never assignable (identity and sort order
define the LSM layout; key changes are delete + ingest).
Aggregation-configured tables refuse updates entirely: physical
pre-collapse rows are not the user-visible values, so "set value
where ..." would be ill-defined (same rule as value-range deletes).

CHECK constraints (``TableProperties.constraints``) ARE re-evaluated
over the updated rows before the commit: the rewrite lands the
new-version files first (commit-free bytes), then one Spark predicate
pass over ONLY those files (cost ∝ updated rows, never the table)
checks the constraint with SQL CHECK semantics (NULL passes, FALSE
rejects). A violation aborts the whole update — claims released,
outputs deleted, nothing committed, the old version stays readable —
so an update can never smuggle out-of-constraint values past the
ingest gate.

Change-feed note: like deletes, updates do NOT flow through the
append-only ``added_rows_between`` feed — incremental consumers read
``updated_rows_between``/``deleted_rows_between`` (MaterializedView
and SecondaryIndex do this through their refresh), and
``replication.sync_cdc`` converges a replica through an update by
applying the tombstone + update feeds as delete-old + ingest-new.
"""

from __future__ import annotations

import os
import uuid
from typing import TYPE_CHECKING, Any

from sleeper_spark.deletes import (
    _DRIVER_SIDE_BYTES,
    _mask_ranges,
    _match_mask,
    _QueryShim,
)
from sleeper_spark.query import (
    _file_may_match,
    bloom_points,
    file_may_contain_keys,
)
from sleeper_spark.ranges import Range, Region
from sleeper_spark.statestore import FileReference, StateStoreException

if TYPE_CHECKING:  # pragma: no cover
    from sleeper_spark.table import SleeperTable


def _apply_assignments(tbl, assignments: dict, dtypes: dict):
    """Return ``tbl`` with each assigned column replaced: constants
    become a full column of the cast value; callables receive the OLD
    matched rows and must return an equal-length array."""
    import pyarrow as pa

    for name, val in assignments.items():
        if name not in tbl.schema.names:
            # a file written BEFORE add_value_column lacks the column
            # entirely (reads null-fill it); materialize it as nulls so
            # the assignment lands — the rewrite carries the evolved
            # shape forward for its rows
            dtype = dtypes.get(name)
            tbl = tbl.append_column(
                pa.field(name, _pa_type_from_simple(dtype), True),
                pa.nulls(tbl.num_rows,
                         _pa_type_from_simple(dtype)))
        idx = tbl.schema.get_field_index(name)
        field = tbl.schema.field(idx)
        if callable(val):
            arr = val(tbl)
            if not isinstance(arr, (pa.Array, pa.ChunkedArray)):
                arr = pa.array(arr, type=field.type)
            if len(arr) != tbl.num_rows:
                raise ValueError(
                    f"assignment for {name!r} returned {len(arr)} "
                    f"values for {tbl.num_rows} matched rows")
            arr = arr.cast(field.type)
        else:
            arr = pa.nulls(tbl.num_rows, field.type) if val is None \
                else pa.array([val] * tbl.num_rows).cast(field.type)
        # an input file written from an all-non-null batch marks the
        # column parquet-REQUIRED; assigning nulls under a required
        # field writes an unreadable column chunk ("unexpected end of
        # stream" on scan) — relax the field when nulls enter
        if arr.null_count > 0 and not field.nullable:
            field = field.with_nullable(True)
        tbl = tbl.set_column(idx, field, arr)
    return tbl


def _rewrite_update_one(desc: dict) -> tuple:
    """Executor task: rewrite ONE (file, partition) reference into
    kept + updated outputs. Returns (partition_id, in_path,
    kept_path|None, n_keep, upd_path|None, n_upd, tomb_path|None)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sleeper_spark import bloom as bl
    from sleeper_spark import sketches

    tbl = pq.read_table(desc["in_path"])
    own = _mask_ranges(tbl, desc["partition_ranges"])
    match = _match_mask(tbl, desc["regions"], desc["value_ranges"])
    keep = own & ~match
    upd = own & match
    n_keep, n_upd = int(keep.sum()), int(upd.sum())

    def _write(out_tbl, path):
        pq.write_table(out_tbl, path,
                       compression=desc["compression"],
                       data_page_size=desc["page_bytes"])
        keys = desc["key_names"]
        sk = sketches.sketch_from_arrow_columns(
            {k: out_tbl.column(k) for k in keys},
            out_tbl.num_rows, desc["sketch_k"])
        try:
            b = bl.build_bloom(keys[0], out_tbl.column(keys[0]),
                               out_tbl.num_rows)
            if b is not None:
                sk["bloom"] = b
        except TypeError:
            pass
        sketches.write_sidecar(path, sk)

    kept_path = upd_path = tomb_path = None
    if n_keep:
        kept_path = desc["kept_path"]
        _write(tbl.filter(pa.array(keep)), kept_path)
    if n_upd:
        old = tbl.filter(pa.array(upd))
        tomb_path = desc["tomb_path"]
        pq.write_table(old, tomb_path,
                       compression=desc["compression"],
                       data_page_size=desc["page_bytes"])
        upd_path = desc["upd_path"]
        _write(_apply_assignments(old, desc["assignments"],
                                  desc["dtypes"]), upd_path)
    return (desc["partition_id"], desc["in_path"], kept_path, n_keep,
            upd_path, n_upd, tomb_path)


def update_where(table: "SleeperTable",
                 assignments: dict[str, Any],
                 regions: list[Region] | None = None,
                 value_ranges: list[Range] | None = None) -> dict:
    import pyarrow as pa

    if not assignments:
        raise ValueError("update_where requires at least one "
                         "column assignment")
    if not regions and not value_ranges:
        raise ValueError(
            "update_where requires regions and/or value_ranges; a "
            "whole-table rewrite must be explicit (full scan + "
            "re-ingest)")
    if table.props.aggregations:
        raise ValueError(
            "update_where is not allowed on an aggregation-configured "
            "table: physical pre-collapse rows are not the "
            "user-visible values, so value assignment would be "
            "ill-defined")
    key_names = set(table.schema.key_names)
    value_fields = {f.name: f for f in table.schema.value_fields}
    for name, val in assignments.items():
        if name in key_names:
            raise ValueError(
                f"{name!r} is a key column — keys define row identity "
                "and sort order; update them with delete_where + "
                "ingest, not in place")
        if name not in value_fields:
            raise ValueError(f"{name!r} is not a value column of the "
                             "table")
        if not callable(val) and val is not None:
            # fail the cast at plan time, before anything is claimed
            try:
                pa.array([val]).cast(_pa_type(value_fields[name].dtype))
            except Exception as e:  # noqa: BLE001
                raise ValueError(
                    f"cannot cast {val!r} to {name!r}'s type "
                    f"{value_fields[name].dtype.simpleString()}: {e}"
                ) from None
    store = table.store
    # fail BEFORE the candidate scan on a read-only (time-travel) view —
    # merge_upsert and ingest guard upfront; failing only inside the
    # assign_job_ids commit would burn the full rewrite first (r9 ADVICE)
    store.check_writable()
    store.refresh_if_stale(0)
    tree = store.tree
    assert tree is not None, "table not initialised"

    pts = (bloom_points(_QueryShim(regions),
                        table.schema.row_key_names[0])
           if regions else None)
    candidates: list[FileReference] = []
    untouched = 0
    for ref in store.all_references():
        may = True
        if regions:
            preg = tree[ref.partition_id].region
            may = any(preg.overlaps(reg) for reg in regions)
            if may:
                may = any(_file_may_match(ref.filename, reg.ranges)
                          for reg in regions)
            if may and pts is not None:
                may = file_may_contain_keys(ref.filename, pts)
        if may and value_ranges:
            may = _file_may_match(ref.filename, value_ranges)
        if may:
            if ref.job_id is not None:
                raise StateStoreException(
                    f"{ref.filename} (partition {ref.partition_id}) is "
                    f"claimed by job {ref.job_id}; finish or abandon it "
                    "before updating")
            candidates.append(ref)
        else:
            untouched += 1
    if not candidates:
        return {"rows_updated": 0, "files_rewritten": 0,
                "files_untouched": untouched, "job_id": None}

    job_id = f"update-{uuid.uuid4().hex[:12]}"
    store.assign_job_ids(job_id, candidates)

    out_dir = os.path.join(table.data_dir, job_id)
    os.makedirs(out_dir, exist_ok=True)
    descs = []
    for i, ref in enumerate(candidates):
        descs.append({
            "in_path": ref.filename,
            "kept_path": os.path.join(out_dir,
                                      f"kept-{i:05d}.parquet"),
            "upd_path": os.path.join(out_dir,
                                     f"updated-{i:05d}.parquet"),
            "tomb_path": os.path.join(out_dir,
                                      f"tombstone-{i:05d}.parquet"),
            "partition_id": ref.partition_id,
            "partition_ranges": list(
                tree[ref.partition_id].region.ranges),
            "regions": list(regions or []),
            "value_ranges": list(value_ranges or []),
            "assignments": dict(assignments),
            "dtypes": {n: f.dtype.simpleString()
                       for n, f in value_fields.items()},
            "compression": table.props.compression,
            "page_bytes": table.props.page_bytes,
            "key_names": list(table.schema.key_names),
            "sketch_k": table.props.sketch_size,
        })
    total = sum(os.path.getsize(d["in_path"]) for d in descs)
    if total < _DRIVER_SIDE_BYTES:
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=min(16, len(descs))) as ex:
            results = list(ex.map(_rewrite_update_one, descs))
    else:
        sc = table.spark.sparkContext
        slices = min(len(descs), 4 * sc.defaultParallelism)
        results = sc.parallelize(descs, slices) \
            .map(_rewrite_update_one).collect()

    if table.props.constraints:
        # CHECK re-validation over the NEW versions only (module doc):
        # still commit-free here, so aborting leaves unreferenced
        # bytes, a released claim, and the old version readable
        upd_paths = [r[4] for r in results if r[4] is not None]
        if upd_paths:
            from pyspark.sql import functions as F
            violating = (
                table.spark.read.parquet(*upd_paths)
                .where(~F.coalesce(
                    F.expr(table.props.constraints).cast("boolean"),
                    F.lit(True))))
            if not violating.isEmpty():
                import shutil
                store.unassign_job_ids(job_id)
                shutil.rmtree(out_dir, ignore_errors=True)
                raise ValueError(
                    "CHECK constraint violated: the assignment "
                    f"produced rows failing "
                    f"{table.props.constraints!r} — nothing was "
                    "committed (claims released, outputs removed); "
                    "fix the assignment or the predicate")

    replacements = []
    tombstones: list[str] = []
    update_files: list[str] = []
    rows_updated = files_rewritten = 0
    for (pid, in_path, kept_path, n_keep, upd_path, n_upd,
         tomb_path) in results:
        rows_updated += n_upd
        outs = []
        if kept_path is not None:
            outs.append(FileReference(
                filename=kept_path, partition_id=pid,
                number_of_rows=n_keep,
                only_contains_data_for_this_partition=True))
        if upd_path is not None:
            outs.append(FileReference(
                filename=upd_path, partition_id=pid,
                number_of_rows=n_upd,
                only_contains_data_for_this_partition=True))
            update_files.append(upd_path)
        if tomb_path is not None:
            tombstones.append(tomb_path)
        files_rewritten += 1
        replacements.append((pid, [in_path], outs))
    store.replace_file_references_batch(
        replacements, allow_empty_outputs=True, job_id=job_id,
        tombstones=sorted(tombstones), updates=sorted(update_files))
    return {"rows_updated": rows_updated,
            "files_rewritten": files_rewritten,
            "files_untouched": untouched,
            "tombstone_files": len(tombstones),
            "update_files": len(update_files),
            "job_id": job_id}


def _pa_type(dtype):
    """Spark DataType -> pyarrow type for plan-time cast validation."""
    import pyarrow as pa
    from pyspark.sql import types as T

    m = {T.StringType: pa.string(), T.LongType: pa.int64(),
         T.IntegerType: pa.int32(), T.ShortType: pa.int16(),
         T.DoubleType: pa.float64(), T.FloatType: pa.float32(),
         T.BinaryType: pa.binary(), T.BooleanType: pa.bool_(),
         T.DateType: pa.date32()}
    t = m.get(type(dtype))
    if t is None:
        raise ValueError(f"unsupported assignment target type {dtype}")
    return t


def _pa_type_from_simple(simple: str):
    """Spark simpleString -> pyarrow type (executor-side, where only
    the serialized desc is available)."""
    import pyarrow as pa

    m = {"string": pa.string(), "bigint": pa.int64(),
         "int": pa.int32(), "smallint": pa.int16(),
         "double": pa.float64(), "float": pa.float32(),
         "binary": pa.binary(), "boolean": pa.bool_(),
         "date": pa.date32()}
    t = m.get(simple)
    if t is None:
        raise ValueError(
            f"unsupported assignment target type {simple!r}")
    return t
