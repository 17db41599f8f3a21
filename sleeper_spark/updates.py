"""Copy-on-write row update: ``SleeperTable.update_where``.

The reference has no row update (like row delete, data changes only
through the aggregation algebra); a warehouse needs targeted
read-modify-write (backfill a mis-parsed field, redact a value, bump a
status column). The plan, claim, rewrite and commit are the shared
copy-on-write rewriter's (deletes.py module doc); what is update's own:
each changed reference splits into the KEPT rows (byte-identical) and
the UPDATED rows (matching rows with the assignments applied). Keys are
never assignable, so both outputs stay sorted by the table key; two
overlapping sorted files in one partition is ordinary pre-compaction
LSM state. The ONE ``REPLACE_FILE_REFERENCES`` commit carries the
tombstones (old versions) and the updated-rows files (``updates`` — the
record ``SleeperTable.updated_rows_between`` reads).

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
over the updated rows before the commit: one Spark predicate pass over
ONLY the new-version files (cost ∝ updated rows, never the table), read
with the declared schema so a column a pre-evolution file lacks reads
NULL, checks the constraint with SQL CHECK semantics (NULL passes,
FALSE rejects). A violation aborts the whole update before the commit —
claim released, outputs deleted, the old version readable — so an
update can never smuggle out-of-constraint values past the ingest gate.

Change-feed note: like deletes, updates do NOT flow through the
``added_rows_between`` feed — incremental consumers read
``updated_rows_between``/``deleted_rows_between`` (MaterializedView
and SecondaryIndex do this through their refresh), and
``replication.sync_cdc`` converges a replica through an update by
applying the tombstone + update feeds as delete-old + ingest-new.
"""

from __future__ import annotations

import uuid
from functools import partial
from typing import TYPE_CHECKING, Any

from sleeper_spark.deletes import (
    _region_match,
    claimed,
    commit_rewrite,
    plan_candidates,
    rewrite,
)
from sleeper_spark.ranges import Range, Region

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
    n_total = len(store.all_references())
    candidates = plan_candidates(table, regions, value_ranges)
    if not candidates:
        return {"rows_updated": 0, "files_rewritten": 0,
                "files_untouched": n_total, "job_id": None}

    job_id = f"update-{uuid.uuid4().hex[:12]}"
    with claimed(table, job_id, candidates) as out_dir:
        rw = rewrite(
            table, candidates, out_dir,
            partial(_region_match, list(regions or []),
                    list(value_ranges or [])),
            assign=partial(_apply_assignments,
                           assignments=dict(assignments),
                           dtypes={n: f.dtype.simpleString()
                                   for n, f in value_fields.items()}))
        if table.props.constraints and rw.updates:
            # CHECK re-validation over the NEW versions only (module
            # doc); raising here releases the claim and the outputs
            from pyspark.sql import functions as F
            violating = (
                table.spark.read.schema(table.schema.to_struct_type())
                .parquet(*rw.updates)
                .where(~F.coalesce(
                    F.expr(table.props.constraints).cast("boolean"),
                    F.lit(True))))
            if not violating.isEmpty():
                raise ValueError(
                    "CHECK constraint violated: the assignment "
                    f"produced rows failing "
                    f"{table.props.constraints!r} — nothing was "
                    "committed (claims released, outputs removed); "
                    "fix the assignment or the predicate")
    committed = commit_rewrite(table, job_id, rw)
    return {"rows_updated": rw.rows_matched,
            "files_rewritten": rw.files_rewritten,
            "files_untouched": n_total - rw.files_rewritten,
            "tombstone_files": len(rw.tombstones),
            "update_files": len(rw.updates),
            "job_id": job_id if committed else None}


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
