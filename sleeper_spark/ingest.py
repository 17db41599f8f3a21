"""Ingest: sort a batch into one sorted Parquet file per leaf partition and
commit the file references.

This is the reference's bulk-import "local sort" strategy, which is itself
a Spark job (BulkImportDataframeLocalSortDriver.java:49-72;
RepartitionRowsBySleeperPartition.java): tag each row with its leaf
partition id, ``repartition`` on the tag so each leaf lands in exactly one
task, ``sortWithinPartitions(tag, row keys..., sort keys...)``, and write
with ``partitionBy(tag)`` so every leaf becomes one sorted file. Spark's
external sorter replaces the reference's hand-rolled spill-and-merge
ingest batches (ArrayListRowBatch.java:49-53, ArrowRowBatch.java). It is
the one ingest sort: the reference's global-sort (J3) and pair-RDD (J5)
drivers write the same sorted runs and are not carried. Each written
file then gets its sidecar from a read-back of its key columns
(``sketches.write_sidecars_distributed``).

Scale notes (100 TB):
- The partition-id tag is a pure Column expression (nested CASE over leaf
  boundaries) — JVM-side, codegen'd, no Python in the hot path.
- ``repartition(num_leaves, tag)`` gives one task per leaf; a hot leaf is
  a skew problem exactly as in the reference, whose remedy is the same as
  ours: split the partition (O5) so ingest fans out wider.
- Files are written with zstd + 8 MiB row groups + 128 KiB pages to match
  the reference's point-lookup-friendly layout (ParquetRowWriterFactory.java:74-77).
- Row counts for the manifest come from Parquet footers (no second pass
  over the data).
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sleeper_spark import sketches
from sleeper_spark.partitions import PartitionTree
from sleeper_spark.properties import TableProperties
from sleeper_spark.statestore import FileReference, StateStore

PARTITION_COL = "__sleeper_partition__"


def zorder_range_partitioned(tagged: DataFrame, layout_cols: list[str],
                             n_cluster_parts: int, bits: int,
                             key_names: list[str]) -> DataFrame:
    """Z-cluster ``tagged`` rows (already carrying PARTITION_COL) so each
    output task holds one contiguous (leaf, Morton-key) range, then sort
    each task by key: the write's ``partitionBy(leaf)`` then emits one
    file per leaf per task whose footer min/max box is tight in EVERY
    layout column — the stats the sidecar file skipper prunes on.

    The Delta OPTIMIZE ZORDER shape: ``repartitionByRange`` samples the
    (leaf, zkey) distribution, so files balance by rows under any value
    skew and every leaf clusters IN PARALLEL — deliberately NOT a
    per-leaf ntile window, which would funnel each whole leaf through a
    single task (and whose ordering the parquet writer's own
    required-ordering sort is allowed to discard)."""
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

    The one sort is the reference's local-sort bulk import (J4,
    BulkImportDataframeLocalSortDriver): hash-repartition on the leaf
    id and sort within partitions, no global sampling pass, one file per
    leaf per ingest (:func:`write_sorted_files`).

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
) -> list[FileReference]:
    """The WRITE phase of ingest, commit-free: land ``df`` as sorted
    per-leaf-partition files (+ sketch/Bloom sidecars) under
    ``out_dir`` and return the uncommitted references. ``ingest_dataframe``
    commits them as ADD_FILES; ``merge.merge_upsert`` folds them into
    its single atomic MERGE_FILES transaction instead — uncommitted
    output is invisible to every reader and never enters GC, so a
    caller that crashes before its commit leaves orphan bytes, not a
    state change (same guarantee the failed-write cleanup below relies
    on)."""
    schema = store.schema
    leaves = tree.leaves()

    # shuffle width tracks the CLUSTER, not the leaf count: partitionBy
    # below already writes one file per leaf within a task, so a
    # 10^4-leaf tree must not become 10^4 tiny shuffle partitions/tasks
    # (task-launch overhead would dominate); it only needs enough
    # partitions to spread the sort across cores.
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    n_parts = max(1, min(len(leaves), 2 * parallelism))
    if layout is not None and layout != "zorder":
        raise ValueError(f"unknown layout {layout!r}")
    # row/sort keys are NON-NULLABLE by contract (Schema.java:275-295); a
    # null row key would fall into the CASE chain's `otherwise` leaf,
    # violate that leaf's region invariant, and then be filtered out by
    # EVERY read's leaf-region guard — silently lost data. Fail the write
    # job loudly instead: the guard is one codegen'd null check per row,
    # evaluated inside the partition-id expression so Catalyst can never
    # prune it.
    null_any = None
    for n in schema.key_names:
        c = F.col(n).isNull()
        null_any = c if null_any is None else (null_any | c)
    leaf_expr = F.when(
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
        leaf_expr = leaf_expr.when(
            violates,
            F.raise_error(F.lit(
                "CHECK constraint violated: a row failed "
                f"{props.constraints!r} — filter or quarantine "
                "violating rows before ingest")))
    leaf_expr = leaf_expr.otherwise(tree.leaf_id_column())
    tagged = df.select(*[f.name for f in schema.all_fields()]).withColumn(
        PARTITION_COL, leaf_expr
    )
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
        (
            sorted_df
            .write.option("compression", props.compression)
            .option("parquet.block.size", str(props.row_group_bytes))
            .option("parquet.page.size", str(props.page_bytes))
            .partitionBy(PARTITION_COL)
            .parquet(out_dir)
        )
    except Exception:
        # failed write job (e.g. the null-key guard fired): nothing is
        # committed, so the partial output is unreferenced forever —
        # remove it now rather than leaking it past GC's visibility
        shutil.rmtree(out_dir, ignore_errors=True)
        raise

    refs = _manifest_from_written_dir(out_dir)
    # quantile sketch sidecar per file (Sketches.java:45-62), read back
    # from the key columns so splitting later never re-reads data
    sketches.write_sidecars_distributed(
        df.sparkSession, [r.filename for r in refs],
        schema.key_names, props.sketch_size)
    return refs


def _manifest_from_written_dir(out_dir: str) -> list[FileReference]:
    """Build FileReferences from the partitionBy output layout, taking row
    counts from Parquet footers. A Z-ordered write leaves SEVERAL part
    files per leaf directory — each an independent key-sorted run of the
    same leaf, clustered on a contiguous Morton-key range."""
    refs: list[FileReference] = []
    for entry in sorted(os.listdir(out_dir)):
        if not entry.startswith(PARTITION_COL + "="):
            continue
        pid = entry.split("=", 1)[1]
        pdir = os.path.join(out_dir, entry)
        for fn in sorted(os.listdir(pdir)):
            if not fn.endswith(".parquet"):
                continue
            path = os.path.join(pdir, fn)
            n = pq.ParquetFile(path).metadata.num_rows
            refs.append(
                FileReference(
                    filename=path,
                    partition_id=pid,
                    number_of_rows=n,
                    only_contains_data_for_this_partition=True,
                )
            )
    return refs
