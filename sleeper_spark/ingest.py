"""Ingest: sort a batch into one sorted Parquet file per leaf partition and
commit the file references.

Both branches tag each row with its leaf partition id (:func:`_tagged`),
and the tag carries the null-key and CHECK guards, so a bad row fails
the one Spark job that reads the batch on either branch.

- **Standard ingest** (O7/J2: the reference's ``IngestCoordinator``
  sorts an in-memory Arrow batch in its own process and writes one file
  per leaf, IngestCoordinator.java:17-58, ArrowRowBatch.java). A batch
  of at most ``DRIVER_INGEST_ROWS`` rows and ``DRIVER_INGEST_BYTES``
  bytes is collected once (:func:`collect_batch`), sorted by (leaf, key
  fields) in Arrow on the driver, and each leaf's slice is written with
  its sidecar in the same pass by the one sorted-file writer
  (``sketches.write_sorted_file``) on driver threads. A Spark
  write job's fixed ~0.35 s outweighs the work for such a batch.
- **Local-sort bulk import** (J4: BulkImportDataframeLocalSortDriver.java:49-72;
  RepartitionRowsBySleeperPartition.java), for bigger batches and
  ``layout="zorder"``: ``repartition`` on the tag so each leaf lands in
  exactly one task, ``sortWithinPartitions(tag, row keys..., sort
  keys...)``, and stream each task's run of each leaf into the same
  sorted-file writer (``sketches.write_sorted_runs``), so every leaf
  becomes one sorted file, written with its sidecar in one pass, and
  the tasks' ``(leaf, path, rows)`` results are the manifest. Spark's
  external sorter replaces the reference's hand-rolled spill-and-merge
  ingest batches (ArrayListRowBatch.java:49-53).

The reference's global-sort (J3) and pair-RDD (J5) drivers write the
same sorted runs and are not carried.

Scale notes (100 TB):
- The partition-id tag is a pure Column expression (nested CASE over leaf
  boundaries) — JVM-side, codegen'd, no Python in the hot path.
- ``repartition(num_leaves, tag)`` gives one task per leaf; a hot leaf is
  a skew problem exactly as in the reference, whose remedy is the same as
  ours: split the partition (O5) so ingest fans out wider.
- Files are written with zstd + 8 MiB row groups + 128 KiB pages to match
  the reference's point-lookup-friendly layout (ParquetRowWriterFactory.java:74-77).
- Row counts for the manifest come from the writer (no listing, no
  second pass over the data).
"""

from __future__ import annotations

import os
import shutil
import uuid
from urllib.parse import unquote, urlparse

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sleeper_spark import sketches
from sleeper_spark.partitions import PartitionTree
from sleeper_spark.properties import TableProperties
from sleeper_spark.schema import Schema
from sleeper_spark.sorted_scan import _declared_arrow_schema
from sleeper_spark.statestore import FileReference, StateStore
from sleeper_spark.tasks import run_tasks

PARTITION_COL = "__sleeper_partition__"
#: rows up to which a batch takes the driver branch (module doc); the
#: crossover tools/profile_ingest.py measured on 4 cores (CHANGES.md)
DRIVER_INGEST_ROWS = 1 << 18
#: bytes (as :func:`_probe_columns` estimates them) up to which a batch
#: takes the driver branch: the crossover tools/profile_ingest.py
#: measured for wide rows, and a bound on what the driver holds of one
#: batch, below ``tasks.DRIVER_SIDE_BYTES`` so the write stays there
DRIVER_INGEST_BYTES = 32 << 20
_VAR_BYTES = "__sleeper_var_bytes__"
#: Arrow bytes per value of the fixed-width types; others take 8
_FIXED_BYTES = {T.IntegerType: 4, T.FloatType: 4, T.DateType: 4,
                T.BooleanType: 1, T.DecimalType: 16}
#: the caller has not run :func:`collect_batch` (write_sorted_files)
_PROBE = object()


def zorder_range_partitioned(tagged: DataFrame, layout_cols: list[str],
                             n_cluster_parts: int, bits: int,
                             key_names: list[str]) -> DataFrame:
    """Z-cluster ``tagged`` rows (already carrying PARTITION_COL) so each
    output task holds one contiguous (leaf, Morton-key) range, then sort
    each task by key: ``sketches.write_sorted_runs`` then writes one
    file per leaf per task whose footer min/max box is tight in EVERY
    layout column — the stats the sidecar file skipper prunes on.

    The Delta OPTIMIZE ZORDER shape: ``repartitionByRange`` samples the
    (leaf, zkey) distribution, so files balance by rows under any value
    skew and every leaf clusters IN PARALLEL — deliberately NOT a
    per-leaf ntile window, which would funnel each whole leaf through a
    single task."""
    from sleeper_spark.functions.layout import zorder_key

    zk = zorder_key(list(layout_cols), bits)
    return (tagged.repartitionByRange(n_cluster_parts,
                                      F.col(PARTITION_COL), zk)
            .sortWithinPartitions(PARTITION_COL, *key_names))


def ingest_dataframe(
    df: DataFrame,
    tree: PartitionTree,
    store: StateStore,
    data_dir: str,
    props: TableProperties,
    job_id: str | None = None,
    layout: str | None = None,
    layout_cols: list[str] | None = None,
    layout_files_per_leaf: int = 8,
    layout_bits: int = 16,
) -> list[FileReference]:
    """Write ``df`` as sorted per-leaf-partition files and commit an
    ADD_FILES transaction (O7: IngestCoordinator.java:17-58).

    One file per leaf per ingest (:func:`write_sorted_files`): a small
    batch is sorted and written on the driver (standard ingest, O7/J2),
    a bigger one by the reference's local-sort bulk import (J4,
    BulkImportDataframeLocalSortDriver: hash-repartition on the leaf id
    and sort within partitions, no global sampling pass).

    ``layout="zorder"`` writes ``layout_files_per_leaf`` files per leaf
    instead of one, clustered by the Morton interleave of
    ``layout_cols`` (Delta/Iceberg OPTIMIZE ZORDER: ``repartitionByRange``
    on (leaf, Morton key), then the same per-task key sort): each file
    keeps the per-file key-sorted invariant the merge scan needs, but
    its footer min/max box is tight in every layout column — so
    multi-dimensional ``value_ranges`` queries skip whole files via the
    sidecar stats instead of scanning the leaf.

    Returns the committed file references.
    """
    store.check_writable()  # BEFORE any data write - a read-only
    # time-travel view must not orphan a full sorted dataset
    # caller-supplied job ids make the ADD_FILES commit idempotent
    # (streaming micro-batch replay); fresh ids otherwise
    if job_id is not None and job_id in store.ingest_jobs_seen:
        return []  # replayed job: committed previously, skip the write too
    job_id = job_id if job_id is not None else f"ingest-{uuid.uuid4().hex[:12]}"
    out_dir = os.path.join(data_dir, f"{job_id}-{uuid.uuid4().hex[:8]}")
    refs = write_sorted_files(
        df, tree, store, out_dir, props,
        layout=layout, layout_cols=layout_cols,
        layout_files_per_leaf=layout_files_per_leaf,
        layout_bits=layout_bits)
    if not store.add_files(refs, job_id=job_id):
        # replay detected only inside the commit's re-validation (a
        # concurrent writer applied this job id after the pre-check at
        # the top): the files + sketch sidecars just written are
        # referenced by nothing and GC will never see them — delete now
        shutil.rmtree(out_dir, ignore_errors=True)
        return []
    return refs


def write_sorted_files(
    df: DataFrame,
    tree: PartitionTree,
    store: StateStore,
    out_dir: str,
    props: TableProperties,
    layout: str | None = None,
    layout_cols: list[str] | None = None,
    layout_files_per_leaf: int = 8,
    layout_bits: int = 16,
    batch: pa.Table | None | object = _PROBE,
) -> list[FileReference]:
    """The WRITE phase of ingest, commit-free: land ``df`` as sorted
    per-leaf-partition files (+ sketch/Bloom sidecars) under
    ``out_dir`` and return the uncommitted references. ``ingest_dataframe``
    commits them as ADD_FILES; ``merge.merge_upsert`` folds them into
    its single atomic MERGE_FILES transaction instead — uncommitted
    output is invisible to every reader and never enters GC, so a
    caller that crashes before its commit leaves orphan bytes, not a
    state change (same guarantee the failed-write cleanup below relies
    on).

    ``batch`` is :func:`collect_batch`'s result for ``df`` when the
    caller already ran it: a table takes the driver branch, None (too
    big) the Spark branch. By default it runs here."""
    if layout is not None and layout != "zorder":
        raise ValueError(f"unknown layout {layout!r}")
    schema = store.schema
    if batch is _PROBE:
        batch = (collect_batch(df, tree, schema, props)
                 if layout is None else None)
    if batch is not None:
        return _write_batch(df.sparkSession, batch, schema, out_dir, props)
    leaves = tree.leaves()

    # shuffle width tracks the CLUSTER, not the leaf count: a task
    # writes one file per leaf it holds, so a 10^4-leaf tree must not
    # become 10^4 tiny shuffle partitions/tasks (task-launch overhead
    # would dominate); it only needs enough partitions to spread the
    # sort across cores.
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    n_parts = max(1, min(len(leaves), 2 * parallelism))
    tagged = _tagged(df, tree, schema, props)
    if layout == "zorder":
        if not layout_cols:
            raise ValueError("layout='zorder' needs layout_cols")
        sorted_df = zorder_range_partitioned(
            tagged, layout_cols, max(1, len(leaves) * layout_files_per_leaf),
            layout_bits, list(schema.key_names))
    else:
        sorted_df = (
            tagged.repartition(n_parts, F.col(PARTITION_COL))
            .sortWithinPartitions(PARTITION_COL, *schema.key_names)
        )
    try:
        runs = sketches.write_sorted_runs(sorted_df, PARTITION_COL, out_dir,
                                          schema, props)
    except BaseException:
        # failed write job (e.g. the null-key guard fired): nothing is
        # committed, so the partial output is unreferenced forever —
        # remove it now rather than leaking it past GC's visibility
        shutil.rmtree(out_dir, ignore_errors=True)
        raise
    return [FileReference(filename=path, partition_id=pid,
                          number_of_rows=rows,
                          only_contains_data_for_this_partition=True)
            for pid, path, rows in runs]


def _tagged(df: DataFrame, tree: PartitionTree, schema: Schema,
            props: TableProperties) -> DataFrame:
    """``df``'s table columns plus PARTITION_COL, each row's leaf id,
    whose expression carries the null-key and CHECK guards."""
    return df.select(*[f.name for f in schema.all_fields()],
                     _leaf_expr(df, tree, schema, props).alias(PARTITION_COL))


#: built Columns by (application, what, inputs): building the leaf id
#: costs hundreds of py4j calls (~90 ms for 8 leaves), more than the
#: driver branch's sort and write of a small batch. Above 128 leaves it
#: holds a pandas_udf, tied to the SparkContext that built it, hence the
#: application id.
_EXPRS: dict[tuple, object] = {}


def _cached(df: DataFrame, key: tuple, build):
    key = (df.sparkSession.sparkContext.applicationId, *key)
    out = _EXPRS.get(key)
    if out is None:
        if len(_EXPRS) >= 64:
            _EXPRS.clear()
        out = _EXPRS[key] = build()
    return out


def _leaf_expr(df: DataFrame, tree: PartitionTree, schema: Schema,
               props: TableProperties) -> Column:
    return _cached(df, ("leaf", tuple(schema.key_names), props.constraints,
                        tuple((p.id, p.region) for p in tree.leaves())),
                   lambda: _build_leaf_expr(tree, schema, props))


def _build_leaf_expr(tree: PartitionTree, schema: Schema,
                     props: TableProperties) -> Column:
    # row/sort keys are NON-NULLABLE by contract (Schema.java:275-295); a
    # null row key would fall into the CASE chain's `otherwise` leaf,
    # violate that leaf's region invariant, and then be filtered out by
    # EVERY read's leaf-region guard — silently lost data. Fail the
    # job loudly instead: the guard is one codegen'd null check per row,
    # evaluated inside the partition-id expression so Catalyst can never
    # prune it.
    null_any = None
    for n in schema.key_names:
        c = F.col(n).isNull()
        null_any = c if null_any is None else (null_any | c)
    expr = F.when(
        null_any,
        F.raise_error(F.lit(
            "null key: row/sort key fields are non-nullable "
            f"(fields {list(schema.key_names)}) — filter or "
            "quarantine null-key rows before ingest"))
    )
    if props.constraints:
        # CHECK constraint guard, same anti-pruning idiom as the null-key
        # check: embedded in the partition-id expression, so Catalyst can
        # never optimize it away and no second pass over the data runs.
        # SQL CHECK semantics — NULL passes, only FALSE rejects.
        violates = ~F.coalesce(
            F.expr(props.constraints).cast("boolean"), F.lit(True))
        expr = expr.when(
            violates,
            F.raise_error(F.lit(
                "CHECK constraint violated: a row failed "
                f"{props.constraints!r} — filter or quarantine "
                "violating rows before ingest")))
    return expr.otherwise(tree.leaf_id_column())


def collect_batch(df: DataFrame, tree: PartitionTree, schema: Schema,
                  props: TableProperties) -> pa.Table | None:
    """The collect half of the driver branch (module doc): ``df``'s
    tagged rows as one Arrow table, or None when the batch holds more
    than ``DRIVER_INGEST_ROWS`` rows or ``DRIVER_INGEST_BYTES`` bytes.

    One Spark job reads at most ``DRIVER_INGEST_ROWS + 1`` rows, each
    with its variable-width bytes. A row whose variable-width values
    exceed the byte cap's share of one row comes with them emptied, so
    that read holds at most about the byte cap plus the capped rows'
    fixed-width values; a batch that fits the cap with such rows is then
    read whole by a second job. A batch whose
    input files' Parquet footers already count more than either cap
    skips the collect, which costs ~0.5 s at the row cap (CHANGES.md)."""
    if _footers_above(df):
        return None
    fields = schema.all_fields()
    share = DRIVER_INGEST_BYTES // (DRIVER_INGEST_ROWS + 1)
    fixed, var, emptied = _cached(
        df, ("probe", tuple((f.name, f.dtype.simpleString()) for f in fields),
             share), lambda: _probe_columns(fields, share))
    leaf = _leaf_expr(df, tree, schema, props).alias(PARTITION_COL)

    def read(cols: list) -> pa.Table | None:
        t = (df.select(*cols, leaf, var)
             .limit(DRIVER_INGEST_ROWS + 1).toArrow())
        var_bytes = pc.sum(t.column(_VAR_BYTES)).as_py() or 0
        if (t.num_rows > DRIVER_INGEST_ROWS
                or var_bytes + t.num_rows * fixed > DRIVER_INGEST_BYTES):
            return None
        return t

    batch = read(emptied)
    if batch is not None and (pc.max(batch.column(_VAR_BYTES)).as_py()
                              or 0) > share:
        batch = read([f.name for f in fields])
    return None if batch is None else batch.drop_columns([_VAR_BYTES])


def _probe_columns(fields, share: int) -> tuple[int, Column, list]:
    """A row's Arrow bytes, estimated: a constant for its fixed-width
    values, and a column ``_VAR_BYTES`` for its variable-width ones (a
    string's or binary's octets, a list's or map's string form; 4 offset
    bytes each). Then the fields, each variable-width one emptied in a
    row whose variable-width bytes exceed ``share``."""
    fixed, var = 0, ["0"]
    for f in fields:
        if not _variable(f.dtype):
            fixed += _FIXED_BYTES.get(type(f.dtype), 8)
        elif isinstance(f.dtype, (T.ArrayType, T.MapType)):
            var.append(f"coalesce(octet_length(CAST(`{f.name}` AS STRING)),"
                       " 0) + 4")
        else:
            var.append(f"coalesce(octet_length(`{f.name}`), 0) + 4")
    var = "(" + " + ".join(var) + ")"
    emptied = [F.expr(f"CASE WHEN {var} > {share} THEN {_empty(f.dtype)}"
                      f" ELSE `{f.name}` END").alias(f.name)
               if _variable(f.dtype) else f.name for f in fields]
    return fixed, F.expr(var).alias(_VAR_BYTES), emptied


def _variable(dtype: T.DataType) -> bool:
    return isinstance(dtype, (T.StringType, T.BinaryType, T.ArrayType,
                              T.MapType))


def _empty(dtype: T.DataType) -> str:
    """SQL for a non-null empty value of a variable-width type, which
    keeps the column's nullability."""
    if isinstance(dtype, T.StringType):
        return "''"
    if isinstance(dtype, T.BinaryType):
        return "X''"
    kind = "array()" if isinstance(dtype, T.ArrayType) else "map()"
    return f"CAST({kind} AS {dtype.simpleString()})"


#: most input-file footers read to bound a batch before collecting it
_FOOTER_FILES = 64


def _footers_above(df: DataFrame) -> bool:
    """Whether the Parquet footers of ``df``'s first local input files
    already count more than ``DRIVER_INGEST_ROWS`` rows or
    ``DRIVER_INGEST_BYTES`` uncompressed bytes. A filter in ``df`` may
    still leave a small batch, which then takes the Spark branch; files
    that are not local Parquet count nothing."""
    rows = size = 0
    for uri in df.inputFiles()[:_FOOTER_FILES]:
        url = urlparse(uri)
        if url.scheme not in ("", "file"):
            continue
        try:
            md = pq.ParquetFile(unquote(url.path)).metadata
        except (OSError, pa.ArrowInvalid):
            continue
        rows += md.num_rows
        size += sum(md.row_group(i).total_byte_size
                    for i in range(md.num_row_groups))
        if rows > DRIVER_INGEST_ROWS or size > DRIVER_INGEST_BYTES:
            return True
    return False


def _write_batch(spark, batch: pa.Table, schema: Schema, out_dir: str,
                props: TableProperties) -> list[FileReference]:
    """The write half of the driver branch: sort the collected ``batch``
    by (leaf, key fields), and write each leaf's slice and its sidecar
    with ``sketches.write_sorted_file`` on driver threads
    (``tasks.run_tasks`` with weights of 0: the slices are already in
    driver memory and read nothing from storage, and shipping them to
    executors measured 4x slower than Spark's own write, CHANGES.md).
    On any failure ``out_dir`` is removed."""
    declared = _declared_arrow_schema(schema)
    batch = batch.take(pc.sort_indices(batch, sort_keys=[
        (n, "ascending") for n in (PARTITION_COL, *schema.key_names)]))
    slices = list(sketches.tag_runs(batch, PARTITION_COL, declared))

    def write(item: tuple) -> FileReference:
        pid, t = item
        path = os.path.join(out_dir, f"{PARTITION_COL}={pid}",
                            f"part-{uuid.uuid4().hex}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        sketches.write_sorted_file(
            path, sketches.row_groups([t], props.row_group_bytes),
            key_names=list(schema.key_names), sketch_k=props.sketch_size,
            compression=props.compression, page_bytes=props.page_bytes,
            declared_schema=declared)
        return FileReference(filename=path, partition_id=pid,
                             number_of_rows=t.num_rows,
                             only_contains_data_for_this_partition=True)

    try:
        return run_tasks(spark, slices, write, [0] * len(slices))
    except BaseException:
        shutil.rmtree(out_dir, ignore_errors=True)
        raise
