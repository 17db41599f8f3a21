"""Per-layer instrumentation for the traced run: which public engine
functions are wrapped, what is counted at each boundary, and how the
counts become the per-layer metrics."""

from __future__ import annotations

import os
from functools import lru_cache

from perfbench.trace import Tracer, union_length

LAYERS = ("op", "query", "bloom", "statestore", "ingest", "sketches",
          "compaction", "rewrite", "replication", "maintenance")

# every per-layer metric: (unit, better); BENCHMARK.json lists the same
PER_LAYER = {
    "spark.jobs_per_op": ("count", "lower"),
    "spark.tasks_per_op": ("count", "lower"),
    "spark.job_s": ("s", "lower"),
    "spark.driver_gap_s": ("s", "lower"),
    "query.plan_s": ("s", "lower"),
    "query.files_scanned_per_op": ("count", "lower"),
    "query.rows_examined_per_row_returned": ("ratio", "lower"),
    "processing.rows_in_per_row_out": ("ratio", "lower"),
    "bloom.probe_s": ("s", "lower"),
    "bloom.files_pruned_frac": ("ratio", "higher"),
    "bloom.false_positive_frac": ("ratio", "lower"),
    "bloom.cache_hit_frac": ("ratio", "higher"),
    "bloom.cache_evictions": ("count", "lower"),
    "statestore.load_s": ("s", "lower"),
    "statestore.commit_s": ("s", "lower"),
    "statestore.commits": ("count", "lower"),
    "statestore.log_bytes": ("bytes", "lower"),
    "ingest.write_s": ("s", "lower"),
    "sketches.sidecar_s": ("s", "lower"),
    "ingest.files_per_call": ("count", "lower"),
    "compaction.plan_s": ("s", "lower"),
    "compaction.run_s": ("s", "lower"),
    "compaction.jobs": ("count", "lower"),
    "compaction.bytes_rewritten": ("bytes", "lower"),
    "storage.write_amp": ("ratio", "lower"),
    "rewrite.files_per_op": ("count", "lower"),
    "rewrite.rows_rewritten_per_row_changed": ("ratio", "lower"),
    "replication.events_applied": ("count", "lower"),
    "replication.files_shipped_frac": ("ratio", "higher"),
    "maintenance.gc_s": ("s", "lower"),
    "maintenance.files_collected": ("count", "higher"),
    **{f"self_ms_per_op.{layer}": ("ms", "lower") for layer in LAYERS},
    "trace.overhead_frac": ("ratio", "lower"),
}


def _size(path: str) -> int:
    try:
        return os.path.getsize(path)
    except OSError:
        return 0


def install(tracer: Tracer) -> None:
    """Wrap the layer entry points; ``tracer.enabled`` gates recording."""
    from sleeper_spark import (compaction, deletes, ingest, maintenance,
                               merge, query, replication, sketches, updates)
    from sleeper_spark.statestore import StateStore
    from sleeper_spark.table import SleeperTable

    add = tracer.add

    tracer.patch(query.QueryPlanner, "split_into_leaf_queries", "query.plan")
    tracer.patch(query.QueryExecutor, "_files_of", "query.plan",
                 after=lambda out, a, k: add("query.files_scanned", len(out)))

    def probed(kept, args, kwargs):
        add("bloom.probes")
        add("bloom.kept", bool(kept))
        if kept:
            tracer.bloom_kept.append((args[0], tuple(args[1])))
    tracer.patch(query, "file_may_contain_keys", "bloom.probe", after=probed)

    tracer.patch(SleeperTable, "load", "statestore.load")
    tracer.patch(StateStore, "add_files", "statestore.commit")
    tracer.patch(StateStore, "replace_file_references_batch",
                 "statestore.commit")
    tracer.patch(StateStore, "_commit", "statestore.tx",
                 after=lambda out, a, k: add("statestore.commits"))

    def wrote(refs, args, kwargs):
        add("ingest.calls")
        add("ingest.files", len(refs))
    tracer.patch(ingest, "write_sorted_files", "ingest.write", after=wrote)
    tracer.patch(ingest, "ingest_dataframe", "ingest.call",
                 after=lambda refs, a, k: add(
                     f"user_bytes:{a[3]}", sum(_size(r.filename)
                                               for r in refs)))
    tracer.patch(sketches, "write_sidecars_distributed", "sketches.sidecar")

    def planned(jobs, args, kwargs):
        add("compaction.jobs", len(jobs))
        add("compaction.bytes_rewritten",
            sum(_size(f) for j in jobs for f in j.input_files))
    tracer.patch(compaction, "create_jobs", "compaction.plan", after=planned)
    tracer.patch(compaction, "run_jobs_arrow", "compaction.run")
    tracer.patch(compaction, "run_jobs", "compaction.run")

    tracer.patch(deletes, "delete_where", "rewrite.delete")
    tracer.patch(updates, "update_where", "rewrite.update")
    tracer.patch(merge, "merge_upsert", "rewrite.merge")

    def synced(steps, args, kwargs):
        add("replication.events", sum(
            s["deletes_applied"] + s["updates_applied"] + s["merges_applied"]
            for s in steps))
    tracer.patch(replication, "sync_cdc_to_head", "replication.sync",
                 after=synced)

    def shipped(refs, args, kwargs):
        add("replication.events")
        add("replication.shipped", refs is not None)
    tracer.patch(replication, "_ship_append_window", "replication.ship",
                 after=shipped)

    tracer.patch(maintenance, "collect_garbage", "maintenance.gc",
                 after=lambda out, a, k: add("maintenance.files_collected",
                                             len(out)))


def dir_files(root: str) -> dict[str, int]:
    out = {}
    for d, _subdirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = _size(p)
    return out


@lru_cache(maxsize=4096)
def _file_keys(path: str) -> frozenset:
    import pyarrow.parquet as pq
    return frozenset(pq.read_table(path, columns=["key"])
                     .column("key").to_pylist())


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def metrics(tracer: Tracer, ops: list[dict], jobs: dict[str, list[dict]],
            bloom_cache: tuple, storage: dict,
            overhead: float) -> dict[str, float]:
    """Every per-layer metric from the traced phase.

    ``ops`` are the traced operations (``id``, ``kind``, ``start``,
    ``end``, ``audit``, ``explain``, ``rows_written``); ``jobs`` the
    Spark jobs per job group; ``bloom_cache`` the decoded-Bloom LRU's
    (hits, misses, size growth) over the phase; ``storage`` the byte
    counts of the primary table."""
    c = tracer.counters.get
    n_ops = len(ops)
    m: dict[str, float] = {}

    per_op = [jobs.get(o["id"], []) for o in ops]
    job_union = [union_length([(j["start"], j["end"]) for j in js])
                 for js in per_op]
    m["spark.jobs_per_op"] = _ratio(sum(len(js) for js in per_op), n_ops)
    m["spark.tasks_per_op"] = _ratio(
        sum(j["tasks"] for js in per_op for j in js), n_ops)
    m["spark.job_s"] = _mean(job_union)
    m["spark.driver_gap_s"] = _mean(
        [o["end"] - o["start"] - u for o, u in zip(ops, job_union)])

    m["query.plan_s"] = _mean(tracer.durations("query.plan"))
    m["query.files_scanned_per_op"] = _ratio(
        c("query.files_scanned", 0), sum(1 for o in ops if o["kind"] in (
            "point_get", "range_scan", "full_scan")))
    ex = [o["explain"] for o in ops if o.get("explain")]
    m["query.rows_examined_per_row_returned"] = _ratio(
        sum(e["rows_examined"] for e in ex), sum(e["rows_out"] for e in ex))
    m["processing.rows_in_per_row_out"] = _ratio(
        sum(e["rows_in"] for e in ex), sum(e["rows_out"] for e in ex))

    m["bloom.probe_s"] = _mean(tracer.durations("bloom.probe"))
    m["bloom.files_pruned_frac"] = _ratio(
        c("bloom.probes", 0) - c("bloom.kept", 0), c("bloom.probes", 0))
    false_pos = sum(1 for f, pts in tracer.bloom_kept
                    if os.path.exists(f) and not (_file_keys(f) & set(pts)))
    m["bloom.false_positive_frac"] = _ratio(false_pos,
                                            len(tracer.bloom_kept))
    hits, misses, growth = bloom_cache
    m["bloom.cache_hit_frac"] = _ratio(hits, hits + misses)
    m["bloom.cache_evictions"] = float(max(0, misses - growth))

    m["statestore.load_s"] = _mean(tracer.durations("statestore.load"))
    m["statestore.commit_s"] = _mean(tracer.durations("statestore.commit"))
    m["statestore.commits"] = c("statestore.commits", 0)
    m["statestore.log_bytes"] = float(storage["log_bytes"])

    m["ingest.write_s"] = _mean(tracer.durations("ingest.write"))
    m["sketches.sidecar_s"] = _mean(tracer.durations("sketches.sidecar"))
    m["ingest.files_per_call"] = _ratio(c("ingest.files", 0),
                                        c("ingest.calls", 0))

    m["compaction.plan_s"] = _mean(tracer.durations("compaction.plan"))
    m["compaction.run_s"] = _mean(tracer.durations("compaction.run"))
    m["compaction.jobs"] = c("compaction.jobs", 0)
    m["compaction.bytes_rewritten"] = c("compaction.bytes_rewritten", 0)
    m["storage.write_amp"] = _ratio(storage["bytes_written"],
                                    storage["user_bytes"])

    rw = [o for o in ops
          if o["kind"] in ("delete_where", "update_where", "merge_upsert")]
    m["rewrite.files_per_op"] = _mean(
        [float(o["audit"].get("files_rewritten", 0)) for o in rw])
    changed = sum(o["audit"].get("rows_deleted", 0)
                  + o["audit"].get("rows_updated", 0)
                  + o["audit"].get("rows_inserted", 0) for o in rw)
    m["rewrite.rows_rewritten_per_row_changed"] = _ratio(
        sum(o["rows_written"] for o in rw), changed)

    m["replication.events_applied"] = c("replication.events", 0)
    m["replication.files_shipped_frac"] = _ratio(
        c("replication.shipped", 0), c("replication.events", 0))

    m["maintenance.gc_s"] = _mean(tracer.durations("maintenance.gc"))
    m["maintenance.files_collected"] = c("maintenance.files_collected", 0)

    traced_ids = {o["id"] for o in ops}
    self_s = tracer.layer_self_s(traced_ids)
    for layer in LAYERS:
        m[f"self_ms_per_op.{layer}"] = 1000 * _ratio(self_s.get(layer, 0.0),
                                                     n_ops)
    m["trace.overhead_frac"] = overhead
    return m
