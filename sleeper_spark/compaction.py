"""Compaction: merge N sorted files of one partition into 1, applying the
table's filters + aggregation, then atomically swap the file references.

Reference (O1: JavaCompactionRunner.java:69-166, compact.rs:61-140): a
compaction job reads its partition's file references filtered to the
partition region, runs the iterator chain, writes one sorted file + sketch
sidecar, and commits a REPLACE_FILE_REFERENCES transaction.

Spark-first shape — and our scale-out advantage over the reference's
one-ECS-task-per-job model: MANY jobs batch into ONE Spark action. ONE
scan over all jobs' distinct input files is joined to a broadcast
``file -> (job id, region)`` map (see ``_tag_rows_with_jobs``), and
``partitionBy(tag)`` writes one sorted file per job. Disjoint partition
regions guarantee per-job key spaces never collide, so a single
``groupBy(tag, keys)`` collapses all jobs at once. 1000 pending
compactions = one Spark job with ONE scan node and 1000 write
partitions, not 1000 task submissions or a 1000-branch union plan.

Job creation strategies (O3):
- ``basic`` — batch leaf files in creation order, size
  ``compaction_files_batch_size`` (BasicLeafStrategy.java:39-47).
- ``size_ratio`` — compact a candidate set only if
  sum(sizes of all but largest) >= ratio * largest, Accumulo-style
  (SizeRatioLeafStrategy.java:36-121).
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sleeper_spark.iterators import (
    apply_custom_iterators,
    parse_aggregations,
    parse_filters,
)
from sleeper_spark import sketches
from sleeper_spark.partitions import PartitionTree
from sleeper_spark.processing import apply_filters, apply_aggregations
from sleeper_spark.properties import TableProperties
from sleeper_spark.query import local_rows_df
from sleeper_spark.ranges import Region
from sleeper_spark.schema import Schema
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

_FILE_COL = "__sleeper_file__"


def _tag_rows_with_jobs(spark: SparkSession, jobs: list[CompactionJob],
                        schema: Schema):
    """ONE scan of all jobs' distinct input files + a broadcast
    (file -> job, job region) map join.

    The naive shape — one scan branch per job unioned N ways — re-lists
    files per branch and grows the Catalyst plan linearly in N, so 1000
    pending jobs means a 1000-branch plan whose analysis time dominates.
    This shape is N-invariant: a single Parquet scan node, one broadcast
    hash join against a rows-sized-in-jobs map, and a codegen'd range
    filter. A shared ancestor file feeding several jobs joins to each of
    them, and the per-job partition region (the reference's dedup guard,
    RangeQueryUtils.java:49-56) keeps exactly the rows the job owns.
    """
    struct = schema.to_struct_type()
    all_files = sorted({fn for job in jobs for fn in job.input_files})

    # broadcast map: file path -> (job id, canonical region bounds per dim)
    map_fields = [T.StructField(_FILE_COL, T.StringType(), False),
                  T.StructField(JOB_COL, T.StringType(), False)]
    for f in schema.row_key_fields:
        map_fields.append(T.StructField(f"__min_{f.name}__", f.dtype, True))
        map_fields.append(T.StructField(f"__max_{f.name}__", f.dtype, True))
    rows = []
    for job in jobs:
        bounds = {r.field: r.canonicalise() for r in job.partition_region.ranges}
        for fn in job.input_files:
            row = [fn, job.job_id]
            for f in schema.row_key_fields:
                rng = bounds.get(f.name)
                row.append(rng.min if rng is not None else None)
                row.append(rng.max if rng is not None else None)
            rows.append(tuple(row))
    mapping = local_rows_df(spark, rows, T.StructType(map_fields))

    scan = (
        spark.read.schema(struct).parquet(*all_files)
        # input_file_name() is a percent-encoded file:// URI; decode and
        # strip the scheme to recover the stored absolute path. url_decode
        # has x-www-form-urlencoded semantics (a bare '+' becomes a
        # space), but URI encoding never emits '+' for space — so protect
        # literal '+' in paths by re-encoding it first, or a table under
        # a '+' directory would silently drop every row.
        .withColumn(_FILE_COL, F.expr(
            "regexp_replace(url_decode(replace(input_file_name(), '+', '%2B')),"
            " '^file://', '')"))
    )
    # accounting guard as an OBSERVED METRIC on the main write action:
    # the decoded scan key must cover every input file, else the inner
    # join below silently drops a file's rows and the REPLACE commit
    # loses data. observe() rides the write — no extra Spark action —
    # and the caller checks it BEFORE committing the reference swap.
    # The set is bounded by the batch's input-file count (not data).
    from pyspark.sql import Observation

    accounting = Observation("compaction-accounting")
    scan = scan.observe(
        accounting, F.collect_set(F.col(_FILE_COL)).alias("files_seen"))

    def check_accounting() -> None:
        seen = set(accounting.get["files_seen"])
        missing = sorted(set(all_files) - seen)
        if missing:
            raise RuntimeError(
                "compaction input files unmatched by scan file-name "
                f"decoding (would lose their rows): {missing[:3]}"
                f"{'...' if len(missing) > 3 else ''}")

    joined = scan.join(F.broadcast(mapping), _FILE_COL, "inner")
    region_pred = F.lit(True)
    for f in schema.row_key_fields:
        mn, mx = F.col(f"__min_{f.name}__"), F.col(f"__max_{f.name}__")
        region_pred = (
            region_pred
            & (mn.isNull() | (F.col(f.name) >= mn))
            & (mx.isNull() | (F.col(f.name) < mx))
        )
    drop = [_FILE_COL] + [c for f in schema.row_key_fields
                          for c in (f"__min_{f.name}__", f"__max_{f.name}__")]
    return joined.where(region_pred).drop(*drop), check_accounting


#: below this many jobs the broadcast file->job machinery's fixed cost
#: (broadcast build + input_file_name decode + accounting action)
#: dominates — tag via a direct per-job scan union instead. The union
#: plan grows linearly in N, so the threshold stays well under the point
#: where Catalyst analysis time matters (the 200-job plan tests pin the
#: single-scan shape above it).
SMALL_BATCH_JOBS = 32


#: separator between job id and subrange part index in the write tag
_PART_SEP = "@p"


def _tag_rows_small_batch(spark: SparkSession, jobs: list[CompactionJob],
                          schema: Schema, store: StateStore,
                          budget: int) -> tuple[DataFrame, dict[str, list[str]]]:
    """Small-N tagging: one scan branch per (job, dim-0 subrange), region
    + range filters pushed to each branch (Catalyst prunes parquet row
    groups), no join and no extra action. At N <= SMALL_BATCH_JOBS this
    beats the N-invariant broadcast plan by ~2x (fixed costs), and the
    subrange tags let ONE big job sort in K reducers instead of one —
    each tag becomes its own shuffle partition and output file, committed
    as a list of disjoint sorted range-parts (same contract as the Arrow
    engine's subrange merge).

    Returns (tagged df, job id -> ordered list of write tags)."""
    struct = schema.to_struct_type()
    key0 = schema.key_names[0]
    branches = []
    job_tags: dict[str, list[str]] = {}
    for job in jobs:
        total_rows = sum(store.files[fn][job.partition_id].number_of_rows
                         for fn in job.input_files)
        subs = _job_subrange_bounds(job, schema, total_rows, budget)
        tags = []
        for si, (slo, shi) in enumerate(subs):
            tag = job.job_id if len(subs) == 1 \
                else f"{job.job_id}{_PART_SEP}{si:04d}"
            pred = job.partition_region.to_column()
            if slo is not None:
                pred = pred & (F.col(key0) >= F.lit(slo))
            if shi is not None:
                pred = pred & (F.col(key0) < F.lit(shi))
            branches.append(
                spark.read.schema(struct).parquet(*job.input_files)
                .where(pred)
                .withColumn(JOB_COL, F.lit(tag)))
            tags.append(tag)
        job_tags[job.job_id] = tags
    out = branches[0]
    for p in branches[1:]:
        out = out.unionByName(p)
    return out, job_tags


def _declared_arrow(schema):
    """Table schema as Arrow (sorted_scan._declared_arrow_schema): the
    padding source for files written before an add_value_column."""
    from sleeper_spark.sorted_scan import _declared_arrow_schema

    return _declared_arrow_schema(schema)


def _write_empty_parquet(out_path: str, sample_input: str,
                         column_order: list[str], compression: str,
                         declared=None) -> None:
    """Zero-row parquet with the table's column schema, cloned from an
    input file's footer (or the declared table schema, which also
    covers columns a schema-evolved input lacks) — pure Arrow, no
    Spark action."""
    import pyarrow as pa

    in_schema = declared or pq.ParquetFile(sample_input).schema_arrow
    empty = pa.table({
        name: pa.array([], type=in_schema.field(name).type)
        for name in column_order})
    pq.write_table(empty, out_path, compression=compression)


def run_jobs(
    spark: SparkSession,
    jobs: list[CompactionJob],
    store: StateStore,
    data_dir: str,
    props: TableProperties,
    now_millis: int | None = None,
) -> list[FileReference]:
    """Execute many compaction jobs as ONE Spark action; commit each job's
    REPLACE_FILE_REFERENCES transaction afterwards."""
    if not jobs:
        return []
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
    struct = schema.to_struct_type()

    budget = max(1, spark.sparkContext.defaultParallelism // len(jobs))
    check_accounting = None
    if len(jobs) <= SMALL_BATCH_JOBS:
        tagged, job_tags = _tag_rows_small_batch(
            spark, jobs, schema, store, budget)
    else:
        tagged, check_accounting = _tag_rows_with_jobs(spark, jobs, schema)
        job_tags = {job.job_id: [job.job_id] for job in jobs}
    n_parts = sum(len(tags) for tags in job_tags.values())

    filters = parse_filters(props.filters)
    aggs = parse_aggregations(props.aggregations)
    df = apply_filters(tagged, filters, now_millis)
    if aggs:
        df = apply_aggregations(df, schema, aggs, extra_group_cols=[JOB_COL])
    # table-level custom iterators run at compaction too (U1: table
    # iterators are applied on every read path; must preserve the schema)
    df = apply_custom_iterators(df, props.iterators, schema)

    (
        df.repartition(n_parts, F.col(JOB_COL))
        .sortWithinPartitions(JOB_COL, *schema.key_names)
        .write.option("compression", props.compression)
        .option("parquet.block.size", str(props.row_group_bytes))
        .option("parquet.page.size", str(props.page_bytes))
        .partitionBy(JOB_COL)
        .parquet(out_dir)
    )
    if check_accounting is not None:
        # observed metric from the write above: every input file must have
        # been matched by the file-name decode, or rows were lost — abort
        # before the reference swap. The just-written outputs are
        # referenced by nothing and would never enter the GC queue, so
        # delete them before re-raising (same leak class as zero-row
        # subrange parts in run_jobs_arrow).
        try:
            check_accounting()
        except Exception:
            import shutil

            shutil.rmtree(out_dir, ignore_errors=True)
            raise

    # commit: one REPLACE_FILE_REFERENCES per job (docs/design.md:169-199);
    # a subrange-split job commits its ordered sorted range-parts as a
    # list (same contract as the Arrow engine)
    out_refs: list[FileReference] = []
    new_paths: list[str] = []
    replacements = []
    empty_template: str | None = None
    for job in jobs:
        part_refs: list[FileReference] = []
        for tag in job_tags[job.job_id]:
            jdir = os.path.join(out_dir, f"{JOB_COL}={tag}")
            files = sorted(os.listdir(jdir)) if os.path.isdir(jdir) else []
            parquets = [os.path.join(jdir, f) for f in files
                        if f.endswith(".parquet")]
            if not parquets:
                continue
            path = parquets[0]
            part_refs.append(FileReference(
                filename=path,
                partition_id=job.partition_id,
                number_of_rows=pq.ParquetFile(path).metadata.num_rows,
                only_contains_data_for_this_partition=True,
            ))
        if not part_refs:
            # every input row was filtered/aged off — the swap still needs
            # an output ref. Write ONE empty template with Arrow (no Spark
            # action) and copy it per empty job: a mass ageOff sweep over
            # hundreds of expired partitions must not serialize hundreds
            # of tiny Spark jobs.
            if empty_template is None:
                empty_template = os.path.join(out_dir, ".empty-template.parquet")
                os.makedirs(out_dir, exist_ok=True)
                _write_empty_parquet(empty_template, job.input_files[0],
                                     [f.name for f in schema.all_fields()],
                                     props.compression,
                                     declared=_declared_arrow(schema))
            jdir = os.path.join(out_dir, f"{JOB_COL}={job.job_id}")
            path = os.path.join(jdir, "empty.parquet")
            os.makedirs(jdir, exist_ok=True)
            import shutil
            shutil.copyfile(empty_template, path)
            part_refs = [FileReference(
                filename=path, partition_id=job.partition_id,
                number_of_rows=0,
                only_contains_data_for_this_partition=True,
            )]
        new_paths.extend(r.filename for r in part_refs)
        out_refs.extend(part_refs)
        replacements.append((job.partition_id, list(job.input_files), part_refs))
    # sketch sidecars before the reference swap, so a split planned right
    # after commit sees them (compact.rs writes file + sketch together)
    sketches.write_sidecars_distributed(
        spark, new_paths, list(schema.key_names), props.sketch_size,
        first_key_sorted=True)  # merge outputs are key-sorted per file
    # ONE transaction for the whole batch (the reference's transaction
    # carries a job list; 1000 jobs != 1000 log appends)
    store.replace_file_references_batch(replacements)
    return out_refs


# ---------------------------------------------------------------------------
# job execution, Arrow engine
# ---------------------------------------------------------------------------
#
# The reference runs compaction on one of two engines per table: the Java
# streaming-merge engine or the Rust/DataFusion vectorized engine
# (QueryEngineSelector.java:49-57; compact.rs:61-140, ~17x faster). We
# mirror that split: the Spark-SQL path above (shared shuffle plan, best
# when many jobs amortize one action and for the full aggregation algebra)
# and this Arrow path — one task per job running C++ vectorized kernels
# (filter → group_by → sort_by → write) with ZERO shuffle: a compaction
# job's inputs are one partition's files, so the work is embarrassingly
# parallel and the only cross-node traffic is the object-store read/write,
# exactly like the reference's per-container DataFusion jobs.

def arrow_engine_supported(schema: Schema, props: TableProperties) -> bool:
    """The Arrow COMPACTION engine covers ageOff + the full aggregation
    algebra that ``validate_aggregations`` admits; only custom iterators
    (arbitrary DataFrame transforms) force the Spark engine."""
    return not props.iterators


def _arrow_compact_one(desc: dict) -> tuple[str, str, int]:
    """Run one compaction job with Arrow kernels (executed on an executor).

    Mirrors compact.rs:118-140: merge sorted runs → partition-region
    filter → ageOff → group-adjacent aggregate → write one sorted file.

    Streaming shape: the inputs are SORTED runs, so instead of
    concat+full-sort (which materialises the whole job — at the
    reference's 440M-rows/job that is tens of GB per task) the job runs
    the same vectorized bounded-memory k-way merge as sorted_scan and
    appends each merged chunk to a ParquetWriter. Memory is
    O(n_files x batch); chunk cuts never split an equal-key group, so
    per-chunk group-by aggregation is exact (sorted_scan module doc).
    """
    import pyarrow as pa
    import pyarrow.parquet as _pq

    from sleeper_spark import sketches as sk_mod
    from sleeper_spark.sorted_scan import _merge_leaf, _process_chunk

    # Spark pins python workers to OMP_NUM_THREADS=1; a lone huge job
    # should use the cores its batch left idle (the reference's DataFusion
    # containers get 4 vCPUs each, SystemTestInstance.java:202-218)
    budget = desc.get("cpu_budget", 1)
    if budget > pa.cpu_count():
        pa.set_cpu_count(budget)
        pa.set_io_thread_count(max(8, budget // 2))

    keys = desc["key_names"]
    merge_desc = {
        "files": list(desc["input_files"]),
        "key_names": keys,
        "column_order": desc["column_order"],
        "arrow_schema": desc.get("arrow_schema"),
        "leaf_ranges": desc["ranges"],
        "query_regions": [],
        "filters": desc["filters"],
        "aggs": desc["aggs"],
        "now_millis": desc["now_millis"],
        # bigger merge batches than the query-latency-oriented
        # sorted_scan default: fewer orchestration rounds (~10% at 50M),
        # memory still bounded at n_files x batch x row-width
        "batch_rows": desc.get("batch_rows", 524288),
        # subrange jobs: row-group skip + exact batch trim at read time
        "prune_range": desc.get("prune_range"),
    }
    writer = None
    n_out = 0
    # dim-0 output is globally sorted -> streaming O(k)-memory sketch (no
    # buffered copy, no re-sort of the key column the merge already
    # ordered); secondary dims are not globally sorted by themselves, so
    # they keep the buffer + sort_indices path (usually narrow numerics)
    d0_sketch = sk_mod.SortedColumnSketch(desc["sketch_k"])
    # per-file Bloom over the first row key (bloom.py): sized from the
    # planner's per-part row estimate (an upper bound on output rows —
    # filters/aggregation only shrink it), fed from the same output
    # batches the writer gets — zero extra passes over the data
    from sleeper_spark import bloom as bl
    # _reuse_bits is safe here: exactly one accumulator lives per task
    # invocation and tasks run to completion per worker thread — the
    # borrowed per-thread bitmap (one byte per bit, dtype=bool: up to
    # 128 MiB per worker thread at the MAX_BITS cap) is re-zeroed
    # in place instead of freshly faulted per output file, which
    # measured ~1s/file of first-touch stalls on a memory-pressured host
    d0_bloom = bl.BloomAccumulator(
        keys[0], max(1, desc.get("expected_rows") or sum(
            _pq.ParquetFile(f).metadata.num_rows
            for f in desc["input_files"])), _reuse_bits=True)
    rest_chunks: list[list] = [[] for _ in keys[1:]]
    try:
        for chunk in _merge_leaf(merge_desc):
            out = _process_chunk(chunk, merge_desc)
            if not out.num_rows:
                continue
            if writer is None:
                writer = _pq.ParquetWriter(
                    desc["out_path"], out.schema,
                    compression=desc["compression"],
                    data_page_size=desc["page_bytes"])
            writer.write_table(out)
            n_out += out.num_rows
            d0_sketch.update(out.column(keys[0]))
            if d0_bloom is not None:
                try:
                    d0_bloom.update(out.column(keys[0]))
                except TypeError:
                    d0_bloom = None  # non-hashable key type -> no bloom
            for i, k in enumerate(keys[1:]):
                rest_chunks[i].append(out.column(k).combine_chunks())
    finally:
        if writer is not None:
            writer.close()
    if writer is None:
        # all rows filtered: still write an empty file for the swap.
        # Prefer the declared table schema (schema-evolved inputs may
        # lack new columns); fall back to the first input's footer
        in_schema = (desc.get("arrow_schema")
                     or _pq.ParquetFile(desc["input_files"][0]).schema_arrow)
        empty = pa.table({
            name: pa.array([], type=in_schema.field(name).type)
            for name in desc["column_order"]})
        _pq.write_table(empty, desc["out_path"],
                        compression=desc["compression"])
    # sketch sidecar computed inside the task — zero extra IO, like the
    # reference computing sketches inside the compaction job
    # (compact.rs writes file + sketch together)
    rest_cols = {
        k: pa.chunked_array(rest_chunks[i]) if rest_chunks[i]
        else pa.chunked_array([pa.array([], type=pa.int64())])
        for i, k in enumerate(keys[1:])
    }
    sketch = sk_mod.sketch_from_arrow_columns(
        rest_cols, n_out, desc["sketch_k"])
    sketch["fields"][keys[0]] = d0_sketch.field_dict()
    if d0_bloom is not None and d0_bloom.n:
        sketch["bloom"] = d0_bloom.to_dict()
    sk_mod.write_sidecar(desc["out_path"], sketch)
    return desc["job_id"], desc["out_path"], n_out


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


def run_jobs_arrow(
    spark: SparkSession,
    jobs: list[CompactionJob],
    store: StateStore,
    data_dir: str,
    props: TableProperties,
    now_millis: int | None = None,
) -> list[FileReference]:
    """Execute compaction jobs on the Arrow engine — no shuffle; commit
    all REPLACE_FILE_REFERENCES afterwards in one transaction.

    Task fan-out: small jobs run as one task each; a big job is cut into
    K disjoint dim-0 subranges (sketch/row-group metadata, no data read)
    and each subrange merges independently with row-group-pruned reads,
    emitting one sorted range-part file. The job commits its parts as a
    list of disjoint sorted FileReferences — together they ARE the
    compacted partition, in key order, and every reader already treats a
    partition's files as sorted runs."""
    if not jobs:
        return []
    store.check_writable()  # before any output write (read-only views)
    schema = store.schema
    now_millis = now_millis if now_millis is not None else int(time.time() * 1000)
    store.assign_job_ids_batch([
        (job.job_id,
         [store.files[fn][job.partition_id] for fn in job.input_files])
        for job in jobs
    ])

    out_dir = os.path.join(data_dir, f"compaction-{uuid.uuid4().hex[:12]}")
    os.makedirs(out_dir, exist_ok=True)
    from sleeper_spark.sorted_scan import _agg_spec

    aggs = _agg_spec(parse_aggregations(props.aggregations))
    filters = [(f.column, f.max_age_millis) for f in parse_filters(props.filters)]
    key0 = schema.key_names[0]
    parallelism = spark.sparkContext.defaultParallelism
    budget = max(1, parallelism // len(jobs))

    descs: list[dict] = []
    job_part_paths: dict[str, list[str]] = {}
    for job in jobs:
        ranges = [
            (r.field, r.min, r.max)
            for r in (rr.canonicalise() for rr in job.partition_region.ranges)
        ]
        total_rows = sum(store.files[fn][job.partition_id].number_of_rows
                         for fn in job.input_files)
        subs = _job_subrange_bounds(job, schema, total_rows, budget)
        paths: list[str] = []
        for si, (slo, shi) in enumerate(subs):
            sub_ranges = [
                (f, slo if f == key0 else mn, shi if f == key0 else mx)
                for f, mn, mx in ranges
            ]
            out_path = os.path.join(
                out_dir,
                f"{job.job_id}.parquet" if len(subs) == 1
                else f"{job.job_id}-p{si:04d}.parquet")
            desc = {
                "job_id": job.job_id,
                "input_files": list(job.input_files),
                "ranges": sub_ranges,
                "filters": filters,
                "aggs": aggs,
                "key_names": list(schema.key_names),
                "column_order": [f.name for f in schema.all_fields()],
                "arrow_schema": _declared_arrow(schema),
                "out_path": out_path,
                "compression": props.compression,
                "page_bytes": props.page_bytes,
                "now_millis": now_millis,
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
            paths.append(out_path)
        job_part_paths[job.job_id] = paths

    # merge-batch sizing by concurrency: a lone task benefits from big
    # batches (fewer orchestration rounds), but 32 concurrent Python
    # workers each refilling n_files x 512k-row buffers stampede the
    # kernel allocator (measured 12x slower at 32 tasks). Cap batches
    # small whenever tasks actually run concurrently.
    if min(len(descs), parallelism) > 4:
        for d in descs:
            d.setdefault("batch_rows", 131072)

    results = (
        spark.sparkContext.parallelize(descs, len(descs))
        .map(_arrow_compact_one)
        .collect()
    )
    rows_by_path = {path: n for _, path, n in results}

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
            for path in job_part_paths[job.job_id]
        ]
        keep = [r for r in parts if r.number_of_rows > 0]
        if not keep:
            keep = parts[:1]  # fully-filtered job: one empty marker ref
        kept_files = {r.filename for r in keep}
        for r in parts:
            # a dropped zero-row part is referenced by nothing, so it
            # would never enter the GC queue — delete it (and its sketch
            # sidecar) now, before the reference swap
            if r.filename not in kept_files:
                for p in (r.filename, sketches.sidecar_path(r.filename)):
                    try:
                        os.remove(p)
                    except FileNotFoundError:
                        pass
        out_refs.extend(keep)
        replacements.append((job.partition_id, list(job.input_files), keep))
    store.replace_file_references_batch(replacements)
    return out_refs


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

    replacements = []
    empty_template: str | None = None
    for (leaf_id, refs), (job_id, _) in zip(chosen, assignments):
        outs = by_leaf.get(leaf_id, [])
        if not outs:
            # the leaf's inputs held zero rows (e.g. post-ageOff empty
            # files): the swap still needs an output ref
            if empty_template is None:
                empty_template = os.path.join(out_dir,
                                              ".empty-template.parquet")
                os.makedirs(out_dir, exist_ok=True)
                _write_empty_parquet(empty_template, refs[0].filename,
                                     [f.name for f in schema.all_fields()],
                                     props.compression,
                                     declared=_declared_arrow(schema))
            jdir = os.path.join(out_dir, f"{PARTITION_COL}={leaf_id}")
            path = os.path.join(jdir, "empty.parquet")
            os.makedirs(jdir, exist_ok=True)
            import shutil
            shutil.copyfile(empty_template, path)
            outs = [FileReference(
                filename=path, partition_id=leaf_id, number_of_rows=0,
                only_contains_data_for_this_partition=True)]
            new_refs.extend(outs)
        replacements.append((leaf_id, [r.filename for r in refs], outs))

    sketches.write_sidecars_distributed(
        spark, [r.filename for r in new_refs],
        list(schema.key_names), props.sketch_size,
        first_key_sorted=True)  # zorder files keep the key-sort invariant
    store.replace_file_references_batch(replacements)
    return new_refs
