"""Compaction: merge N sorted files of one partition into 1, applying the
table's filters, aggregation and custom iterators, then atomically swap
the file references.

Reference (O1: JavaCompactionRunner.java:69-166, compact.rs:61-140): a
compaction job reads its partition's file references filtered to the
partition region, runs the iterator chain, writes one sorted file + sketch
sidecar, and commits a REPLACE_FILE_REFERENCES transaction.

The reference has two engines, a Java iterator engine and a DataFusion
engine (QueryEngineSelector.java:49-57). Here every job runs on one:
``sorted_scan``'s Arrow merge and aggregation kernels. MANY jobs batch
into ONE Spark action and ONE commit transaction; only the tail differs
by whether the table has custom iterators (see "job execution" below).

Job creation strategies (O3):
- ``basic`` — batch leaf files in creation order, size
  ``compaction_files_batch_size`` (BasicLeafStrategy.java:39-47).
- ``size_ratio`` — compact a candidate set only if
  sum(sizes of all but largest) >= ratio * largest, Accumulo-style
  (SizeRatioLeafStrategy.java:36-121).
- ``leveled`` — merge similar-sized files per size class.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sleeper_spark.iterators import (
    apply_custom_iterators,
    parse_aggregations,
    parse_filters,
)
from sleeper_spark import sketches
from sleeper_spark.properties import TableProperties
from sleeper_spark.ranges import Region
from sleeper_spark.schema import Schema
from sleeper_spark.sorted_scan import (
    _agg_spec,
    _declared_arrow_schema,
    _merge_leaf,
    _process_chunk,
    arrow_task_frame,
)
from sleeper_spark.statestore import FileReference, StateStore

JOB_COL = "__sleeper_job__"


@dataclass(frozen=True)
class CompactionJob:
    job_id: str
    partition_id: str
    input_files: tuple[str, ...]
    partition_region: Region


# ---------------------------------------------------------------------------
# job creation (O3)
# ---------------------------------------------------------------------------

def create_jobs(store: StateStore, props: TableProperties) -> list[CompactionJob]:
    """Plan compaction jobs over leaf partitions per the configured strategy."""
    tree = store.tree
    assert tree is not None
    jobs: list[CompactionJob] = []
    for leaf in tree.leaves():
        refs = [
            r for r in store.references_for_partition(leaf.id)
            if r.job_id is None
        ]
        # a single file still needs compacting when it is a split reference
        # (holds other partitions' rows too) — compaction is what pulls the
        # leaf's subset down into its own file
        needs_pull_down = any(not r.only_contains_data_for_this_partition for r in refs)
        if len(refs) < 2 and not needs_pull_down:
            continue
        refs.sort(key=lambda r: r.last_update_time)  # creation order
        if props.compaction_strategy == "size_ratio":
            batches = _size_ratio_batches(refs, props.size_ratio,
                                          props.compaction_files_batch_size)
        elif props.compaction_strategy == "leveled":
            batches = _leveled_batches(refs, props.level_fanout,
                                       props.level_trigger,
                                       props.compaction_files_batch_size)
        else:
            batches = _basic_batches(refs, props.compaction_files_batch_size)
        for batch in batches:
            jobs.append(CompactionJob(
                job_id=f"compact-{uuid.uuid4().hex[:12]}",
                partition_id=leaf.id,
                input_files=tuple(r.filename for r in batch),
                partition_region=leaf.region,
            ))
    return jobs


def _basic_batches(refs: list[FileReference], batch_size: int) -> list[list[FileReference]]:
    """Full batches in creation order (BasicLeafStrategy.java:39-47)."""
    out = []
    for i in range(0, len(refs), batch_size):
        batch = refs[i:i + batch_size]
        if len(batch) >= 2 or any(
            not r.only_contains_data_for_this_partition for r in batch
        ):
            out.append(batch)
    return out


def _size_ratio_batches(refs: list[FileReference], ratio: int,
                        max_batch: int) -> list[list[FileReference]]:
    """Accumulo-style: smallest-first, emit a batch when
    sum(all but largest) >= ratio * largest (SizeRatioLeafStrategy.java:36-121)."""
    ordered = sorted(refs, key=lambda r: r.number_of_rows)
    out: list[list[FileReference]] = []
    batch: list[FileReference] = []
    for r in ordered:
        batch.append(r)
        if len(batch) < 2:
            continue
        largest = batch[-1].number_of_rows
        rest = sum(x.number_of_rows for x in batch[:-1])
        if rest >= ratio * largest or len(batch) >= max_batch:
            out.append(batch)
            batch = []
    return out


def _leveled_batches(refs: list[FileReference], fanout: int,
                     trigger: int, max_batch: int) -> list[list[FileReference]]:
    """RocksDB-flavoured leveled tiering (beyond-reference, third
    strategy): files bucket into size classes by
    ``floor(log_fanout(rows / smallest))``; any class holding >=
    ``trigger`` files compacts (oldest first, up to ``max_batch``) into
    the next class. Merges therefore always combine SIMILAR-sized runs
    — total write amplification stays O(levels) ~ O(log(total/base))
    instead of the basic strategy's pathological giant-with-tiny merges
    that rewrite the giant once per tiny flush. Split references
    (pull-downs) always compact regardless of class, like both existing
    strategies."""
    import math

    pull_down = [r for r in refs
                 if not r.only_contains_data_for_this_partition]
    own = [r for r in refs if r.only_contains_data_for_this_partition]
    base = max(1, min((r.number_of_rows for r in own), default=1))
    levels: dict[int, list[FileReference]] = {}
    for r in own:
        lv = int(math.log(max(1, r.number_of_rows) / base, fanout)) \
            if fanout > 1 else 0
        levels.setdefault(lv, []).append(r)
    out: list[list[FileReference]] = []
    if len(pull_down) >= 1:
        # pull-downs merge together with the smallest level's files (the
        # cheapest companions), or alone if none
        companions = levels.get(min(levels), []) if levels else []
        batch = (pull_down + companions)[:max_batch]
        claimed = set(id(r) for r in batch)
        out.append(batch)
        for lv in list(levels):
            levels[lv] = [r for r in levels[lv] if id(r) not in claimed]
    take = max(2, max_batch)
    for lv in sorted(levels):
        group = sorted(levels[lv], key=lambda r: r.last_update_time)
        while len(group) >= max(2, trigger):
            out.append(group[:take])
            group = group[take:]
    return out


# ---------------------------------------------------------------------------
# job execution (O1, batched)
# ---------------------------------------------------------------------------
#
# One engine: every job runs on sorted_scan's Arrow kernels, like the
# reference's DataFusion engine (compact.rs:61-140): merge the sorted
# input runs, clip to the partition region, ageOff, aggregate adjacent
# equal keys. Jobs are cut into parts (one per dim-0 subrange) and
# described once (:func:`_claim_parts`); two tails run the parts and
# hand the rows per part to one commit (:func:`_commit_parts`):
#
# - ``run_jobs_arrow`` (tables without custom iterators): one task per
#   part writes its file and sidecar, with ZERO shuffle — a compaction
#   job's inputs are one partition's files, so the work is embarrassingly
#   parallel, exactly like the reference's per-container jobs.
# - ``run_jobs`` (tables with custom iterators, arbitrary DataFrame
#   transforms): the same merged parts feed a ``mapInArrow`` source,
#   the iterators run on that DataFrame, and a shuffle on the part tag
#   re-sorts each part before a partitioned write, so an iterator that
#   reorders rows cannot break the sorted-file invariant.

#: minimum rows per subrange part — below this a part's fixed cost
#: (Python worker handoff + k file opens) outweighs the parallelism
SUBRANGE_MIN_ROWS = 1_000_000


def _job_subrange_bounds(job: CompactionJob, schema: Schema,
                         total_rows: int, budget: int) -> list[tuple]:
    """Cut one job's dim-0 key space into <= budget equal-depth
    [lo, hi) bounds pairs using metadata only (sketch sidecars, else
    Parquet row-group stats). One big job then runs as K independent
    range merges on K cores — the reference's DataFusion engine spreads
    one job over a container's cores the same way
    (rust/sleeper_core/src/datafusion.rs:105-110,
    ``target_partitions >= #input_files``); a single Python-orchestrated
    merge task is the scale ceiling for every lone hot partition."""
    nparts = 1
    if budget > 1 and total_rows >= 2 * SUBRANGE_MIN_ROWS:
        nparts = min(budget, max(1, total_rows // SUBRANGE_MIN_ROWS))
    key0 = schema.key_names[0]
    rng = job.partition_region.range_for(key0)
    crng = rng.canonicalise() if rng is not None else None
    lo0 = crng.min if crng is not None else None
    hi0 = crng.max if crng is not None else None
    cuts: list = []
    if nparts > 1:
        cuts = sketches.find_subrange_cuts(
            schema, list(job.input_files), job.partition_region, nparts)
    bounds = [lo0] + cuts + [hi0]
    return [(bounds[i], bounds[i + 1]) for i in range(len(bounds) - 1)]


def _claim_parts(spark: SparkSession, jobs: list[CompactionJob],
                 store: StateStore, data_dir: str, props: TableProperties,
                 now_millis: int | None) -> tuple[str, list[dict]]:
    """Claim the jobs' inputs and describe their parts. Returns the new
    output directory and one descriptor per part, each job's parts in
    key order.

    Task fan-out: a small job is one part; a big job is cut into K
    disjoint dim-0 subranges (sketch/row-group metadata, no data read)
    and each subrange merges independently with row-group-pruned reads.
    A descriptor is a ``sorted_scan`` leaf descriptor (``files``,
    ``leaf_ranges``, ``filters``, ``aggs``, ...) plus the part's
    ``job_id``, ``out_path`` and write settings."""
    store.check_writable()  # before any output write (read-only views)
    schema = store.schema
    now_millis = now_millis if now_millis is not None else int(time.time() * 1000)
    # mark inputs as owned by their job (AssignJobIdsTransaction) so a
    # concurrent planner cannot double-compact them — one txn for the batch
    store.assign_job_ids_batch([
        (job.job_id,
         [store.files[fn][job.partition_id] for fn in job.input_files])
        for job in jobs
    ])

    out_dir = os.path.join(data_dir, f"compaction-{uuid.uuid4().hex[:12]}")
    os.makedirs(out_dir, exist_ok=True)
    aggs = _agg_spec(parse_aggregations(props.aggregations))
    filters = [(f.column, f.max_age_millis) for f in parse_filters(props.filters)]
    key0 = schema.key_names[0]
    parallelism = spark.sparkContext.defaultParallelism
    budget = max(1, parallelism // len(jobs))

    descs: list[dict] = []
    for job in jobs:
        ranges = [
            (r.field, r.min, r.max)
            for r in (rr.canonicalise() for rr in job.partition_region.ranges)
        ]
        total_rows = sum(store.files[fn][job.partition_id].number_of_rows
                         for fn in job.input_files)
        subs = _job_subrange_bounds(job, schema, total_rows, budget)
        for si, (slo, shi) in enumerate(subs):
            desc = {
                "job_id": job.job_id,
                "files": list(job.input_files),
                "leaf_ranges": [
                    (f, slo if f == key0 else mn, shi if f == key0 else mx)
                    for f, mn, mx in ranges
                ],
                "query_regions": [],
                "filters": filters,
                "aggs": aggs,
                "key_names": list(schema.key_names),
                "column_order": [f.name for f in schema.all_fields()],
                "arrow_schema": _declared_arrow_schema(schema),
                "now_millis": now_millis,
                "out_path": os.path.join(
                    out_dir,
                    f"{job.job_id}.parquet" if len(subs) == 1
                    else f"{job.job_id}-p{si:04d}.parquet"),
                "compression": props.compression,
                "page_bytes": props.page_bytes,
                "sketch_k": props.sketch_size,
                "cpu_budget": max(1, budget // len(subs)),
                # bloom sizing: THIS PART's share of the job, not the
                # whole job — an oversized bitmap costs packbits+zlib
                # time per part and buys nothing
                "expected_rows": max(1, total_rows // len(subs)),
            }
            if slo is not None or shi is not None:
                # range-pruned read: row-group skip + exact batch trim,
                # so a subrange task reads+merges ~1/K of every sorted
                # input file, and a pull-down job over an ancestor split
                # file reads only its partition's slice
                desc["prune_range"] = (key0, slo, shi)
            descs.append(desc)

    # merge-batch sizing by concurrency: a lone task benefits from big
    # batches (fewer orchestration rounds, ~10% at 50M rows; memory
    # still bounded at n_files x batch x row-width), but 32 concurrent
    # Python workers each refilling n_files x 512k-row buffers stampede
    # the kernel allocator (measured 12x slower at 32 tasks). Cap
    # batches small whenever tasks actually run concurrently.
    batch_rows = 131072 if min(len(descs), parallelism) > 4 else 524288
    for d in descs:
        d["batch_rows"] = batch_rows
    return out_dir, descs


def _part_chunks(desc: dict):
    """One part's output rows as non-empty key-sorted tables in key
    order: the bounded-memory k-way merge of its sorted input runs
    (O(n_files x batch) rows, never the whole job), each chunk clipped
    to the part's range, aged off and aggregated. Chunk cuts never split
    an equal-key group, so per-chunk aggregation is exact (sorted_scan
    module doc)."""
    for chunk in _merge_leaf(desc):
        out = _process_chunk(chunk, desc)
        if out.num_rows:
            yield out


def _write_part(desc: dict, tables) -> int:
    """Write one part's file and sidecar (``sketches.write_sorted_file``)
    with the part's write settings; no tables write the empty file."""
    return sketches.write_sorted_file(
        desc["out_path"], tables, key_names=desc["key_names"],
        sketch_k=desc["sketch_k"], expected_rows=desc["expected_rows"],
        compression=desc["compression"], page_bytes=desc["page_bytes"],
        declared_schema=desc["arrow_schema"])


def _arrow_compact_one(desc: dict) -> tuple[str, str, int]:
    """Run one part with Arrow kernels (executed on an executor): merge
    and process its rows (:func:`_part_chunks`) and stream them into the
    part's file and sidecar in one pass (:func:`_write_part`)."""
    # Spark pins python workers to OMP_NUM_THREADS=1; a lone huge job
    # should use the cores its batch left idle (the reference's DataFusion
    # containers get 4 vCPUs each, SystemTestInstance.java:202-218)
    budget = desc.get("cpu_budget", 1)
    if budget > pa.cpu_count():
        pa.set_cpu_count(budget)
        pa.set_io_thread_count(max(8, budget // 2))
    n_out = _write_part(desc, _part_chunks(desc))
    return desc["job_id"], desc["out_path"], n_out


def _commit_parts(store: StateStore, jobs: list[CompactionJob],
                  descs: list[dict],
                  rows_by_path: dict[str, int]) -> list[FileReference]:
    """Swap every job's inputs for its parts in ONE
    REPLACE_FILE_REFERENCES transaction (the reference's transaction
    carries a job list; 1000 jobs != 1000 log appends). A job commits
    its non-empty parts as a list of disjoint sorted FileReferences —
    together they ARE the compacted partition, in key order, and every
    reader already treats a partition's files as sorted runs. A job
    whose every row was filtered commits one empty part."""
    paths_by_job: dict[str, list[str]] = {}
    for d in descs:
        paths_by_job.setdefault(d["job_id"], []).append(d["out_path"])
    out_refs: list[FileReference] = []
    replacements = []
    for job in jobs:
        parts = [
            FileReference(
                filename=path,
                partition_id=job.partition_id,
                number_of_rows=rows_by_path[path],
                only_contains_data_for_this_partition=True,
            )
            for path in paths_by_job[job.job_id]
        ]
        keep = [r for r in parts if r.number_of_rows > 0] or parts[:1]
        kept = {r.filename for r in keep}
        for r in parts:
            # a dropped zero-row part is referenced by nothing, so it
            # would never enter the GC queue — delete it (and its sketch
            # sidecar) now, before the reference swap
            if r.filename not in kept:
                for p in (r.filename, sketches.sidecar_path(r.filename)):
                    try:
                        os.remove(p)
                    except FileNotFoundError:
                        pass
        out_refs.extend(keep)
        replacements.append((job.partition_id, list(job.input_files), keep))
    store.replace_file_references_batch(replacements)
    return out_refs


def run_jobs_arrow(
    spark: SparkSession,
    jobs: list[CompactionJob],
    store: StateStore,
    data_dir: str,
    props: TableProperties,
    now_millis: int | None = None,
) -> list[FileReference]:
    """Execute compaction jobs of a table without custom iterators: one
    Spark action, one task per part (:func:`_arrow_compact_one`), no
    shuffle; commit all REPLACE_FILE_REFERENCES afterwards in one
    transaction."""
    if not jobs:
        return []
    _, descs = _claim_parts(spark, jobs, store, data_dir, props, now_millis)
    results = (
        spark.sparkContext.parallelize(descs, len(descs))
        .map(_arrow_compact_one)
        .collect()
    )
    return _commit_parts(store, jobs, descs,
                         {path: n for _, path, n in results})


def run_jobs(
    spark: SparkSession,
    jobs: list[CompactionJob],
    store: StateStore,
    data_dir: str,
    props: TableProperties,
    now_millis: int | None = None,
) -> list[FileReference]:
    """Execute compaction jobs of a table with custom iterators
    (U1: table iterators run on every read path, compaction included,
    and must preserve the schema) as one Spark action; commit all
    REPLACE_FILE_REFERENCES afterwards in one transaction.

    The parts' merged, processed rows come out of an Arrow source
    (``sorted_scan.arrow_task_frame``) tagged with their part
    (``JOB_COL``); descriptors pack into at most 4 x defaultParallelism
    tasks, since the write's shuffle regroups the rows by part anyway.
    After the iterators, each part is re-sorted and written to its own
    file, which then moves to the part's output path; a part the
    iterators emptied gets an empty file."""
    if not jobs:
        return []
    import shutil

    out_dir, descs = _claim_parts(spark, jobs, store, data_dir, props,
                                  now_millis)
    schema = store.schema
    tags = [os.path.basename(d["out_path"])[:-len(".parquet")]
            for d in descs]
    n_tasks = min(len(descs), 4 * spark.sparkContext.defaultParallelism)

    def task_tables(task):
        for i in range(task, len(descs), n_tasks):
            for out in _part_chunks(descs[i]):
                yield out.append_column(
                    pa.field(JOB_COL, pa.string(), False),
                    pa.array([tags[i]] * out.num_rows, pa.string()))

    struct = T.StructType(list(schema.to_struct_type().fields)
                          + [T.StructField(JOB_COL, T.StringType(), False)])
    df = apply_custom_iterators(
        arrow_task_frame(spark, n_tasks, task_tables, struct),
        props.iterators, schema)
    staging = os.path.join(out_dir, "iterators")
    (
        df.repartition(len(descs), F.col(JOB_COL))
        .sortWithinPartitions(JOB_COL, *schema.key_names)
        .write.option("compression", props.compression)
        .option("parquet.block.size", str(props.row_group_bytes))
        .option("parquet.page.size", str(props.page_bytes))
        .partitionBy(JOB_COL)
        .parquet(staging)
    )
    written = {}
    for tag in tags:
        tag_dir = os.path.join(staging, f"{JOB_COL}={tag}")
        written[tag] = sorted(
            os.path.join(tag_dir, f) for f in os.listdir(tag_dir)
            if f.endswith(".parquet")) if os.path.isdir(tag_dir) else []
        if len(written[tag]) > 1:
            # one shuffle partition per tag writes one file, unless a
            # writer option (spark.sql.files.maxRecordsPerFile) cut it:
            # moving only one would drop rows the commit then forgets
            shutil.rmtree(out_dir, ignore_errors=True)
            raise RuntimeError(
                f"compaction part {tag} was written as "
                f"{len(written[tag])} files, expected one")
    rows_by_path: dict[str, int] = {}
    moved = []
    for tag, d in zip(tags, descs):
        if written[tag]:
            os.replace(written[tag][0], d["out_path"])
            rows_by_path[d["out_path"]] = \
                pq.ParquetFile(d["out_path"]).metadata.num_rows
            moved.append(d["out_path"])
        else:
            rows_by_path[d["out_path"]] = _write_part(d, [])
    shutil.rmtree(staging)
    # sketch sidecars before the reference swap, so a split planned right
    # after commit sees them (compact.rs writes file + sketch together)
    sketches.write_sidecars_distributed(
        spark, moved, list(schema.key_names), props.sketch_size)
    return _commit_parts(store, jobs, descs, rows_by_path)


# ---------------------------------------------------------------------------
# OPTIMIZE ZORDER: layout rewrite (Delta/Iceberg OPTIMIZE ZORDER analog)
# ---------------------------------------------------------------------------

def run_zorder_rewrite(
    spark: SparkSession,
    store: StateStore,
    data_dir: str,
    props: TableProperties,
    layout_cols: list[str],
    files_per_leaf: int = 8,
    bits: int = 16,
    derive_cols: dict | None = None,
) -> list[FileReference]:
    """Rewrite each eligible leaf's files into ``files_per_leaf``
    Z-clustered key-sorted files (the compaction-side counterpart of
    ``ingest(layout="zorder")``): every output file keeps the per-file
    key-sorted invariant the merge scan needs, while its footer min/max
    box — and therefore its skipping sidecar — is tight in every layout
    column, so multi-dim value_ranges queries prune files instead of
    scanning the leaf.

    ``derive_cols`` ({name: Column}) recomputes existing VALUE columns
    from the read rows before clustering — how an index-maintenance
    rewrite (e.g. build_ann_index refreshing cell assignments under new
    centroids) refreshes a derived column in the same pass that
    clusters on it. Keys may not be derived (row identity is
    immutable).

    A PURE layout rewrite: rows are preserved exactly (no filters, no
    aggregation, no iterators — unlike compaction), so results are
    unchanged on every read path. Eligible leaves are those whose
    references are all leaf-local, single-reference, and not assigned to
    a running compaction job; others are skipped (run ``compact()``
    first to pull parent files down). Inputs are locked with job-id
    assignment and the whole rewrite commits as ONE
    replace_file_references_batch transaction, same as compaction.
    """
    from sleeper_spark.ingest import (
        PARTITION_COL,
        _manifest_from_written_dir,
        zorder_range_partitioned,
    )

    store.check_writable()
    schema = store.schema
    tree = store.tree
    assert tree is not None, "table not initialised"
    chosen: list[tuple[str, list[FileReference]]] = []
    for leaf in tree.leaves():
        refs = store.references_for_partition(leaf.id)
        if not refs:
            continue
        if all(r.job_id is None
               and r.only_contains_data_for_this_partition
               and len(store.files[r.filename]) == 1 for r in refs):
            chosen.append((leaf.id, refs))
    if not chosen:
        return []

    assignments = [(f"zorder-{uuid.uuid4().hex[:12]}", refs)
                   for _, refs in chosen]
    store.assign_job_ids_batch(assignments)

    out_dir = os.path.join(data_dir, f"zorder-{uuid.uuid4().hex[:12]}")
    struct = schema.to_struct_type()
    paths = [r.filename for _, refs in chosen for r in refs]
    df = (
        spark.read.schema(struct).parquet(*paths)
        .select(*[f.name for f in schema.all_fields()])
    )
    if derive_cols:
        keys = set(schema.key_names)
        bad = keys.intersection(derive_cols)
        if bad:
            raise ValueError(f"derive_cols may not touch key fields: {bad}")
        known = {f.name for f in schema.all_fields()}
        unknown = set(derive_cols) - known
        if unknown:
            raise ValueError(
                f"derive_cols must name existing value fields "
                f"(a rewrite cannot grow the schema): {sorted(unknown)}")
        for name, col in derive_cols.items():
            df = df.withColumn(name, col)
    # eligibility guarantees every file is leaf-local, so the tree's
    # leaf-id expression re-derives exactly the owning leaf
    df = df.withColumn(PARTITION_COL, tree.leaf_id_column())
    clustered = zorder_range_partitioned(
        df, layout_cols, max(1, len(chosen) * files_per_leaf), bits,
        list(schema.key_names))
    (
        clustered
        .write.option("compression", props.compression)
        .option("parquet.block.size", str(props.row_group_bytes))
        .option("parquet.page.size", str(props.page_bytes))
        .partitionBy(PARTITION_COL)
        .parquet(out_dir)
    )

    new_refs = _manifest_from_written_dir(out_dir)
    by_leaf: dict[str, list[FileReference]] = {}
    for r in new_refs:
        by_leaf.setdefault(r.partition_id, []).append(r)

    replacements, empties = [], []
    for leaf_id, refs in chosen:
        outs = by_leaf.get(leaf_id, [])
        if not outs:
            # the leaf's inputs held zero rows (e.g. post-ageOff empty
            # files): the swap still needs an output ref
            path = os.path.join(out_dir, f"{PARTITION_COL}={leaf_id}",
                                "empty.parquet")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            sketches.write_sorted_file(
                path, [], key_names=list(schema.key_names),
                sketch_k=props.sketch_size, expected_rows=0,
                compression=props.compression, page_bytes=props.page_bytes,
                declared_schema=_declared_arrow_schema(schema))
            outs = [FileReference(
                filename=path, partition_id=leaf_id, number_of_rows=0,
                only_contains_data_for_this_partition=True)]
            empties.extend(outs)
        replacements.append((leaf_id, [r.filename for r in refs], outs))

    sketches.write_sidecars_distributed(
        spark, [r.filename for r in new_refs],
        list(schema.key_names), props.sketch_size)
    store.replace_file_references_batch(replacements)
    return new_refs + empties
