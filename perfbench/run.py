"""sparkkv benchmark: one seeded workload per run on ``local[4]``.

    python3 perfbench/run.py --workload write_cycle --seed 1 --seconds 20 --trace 0

Run from the repository root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json, with ``--trace 1``
the per-layer metrics. The line before it carries every measurement of
the run (per-operation latency families, host-noise probes, sample
counts). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.layers import PER_LAYER, dir_files, install, metrics  # noqa: E402
from perfbench.model import REFERENCE, Inputs  # noqa: E402
from perfbench.stats import PeakRss, process_tree, summarize  # noqa: E402
from perfbench.trace import Tracer, read_event_log  # noqa: E402

CORES = 4
WARM_UP_S = 5.0
END_TO_END = {"setup_s": "s", "point_get_per_read": "ratio",
              "op_time_per_read": "ratio", "space_amp": "ratio"}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(work: str, event_dir: str | None):
    from pyspark.sql import SparkSession

    b = (SparkSession.builder.master(f"local[{CORES}]")
         .appName("perfbench")
         .config("spark.sql.shuffle.partitions", str(CORES))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.driver.memory", "2g")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={work} -Dderby.system.home={work}"))
    if event_dir:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.eventLog.dir", event_dir))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM (it exits when its stdin pipe
    closes), and wait until every process this run started has ended."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    for grace_s in (30, 5):
        deadline = time.monotonic() + grace_s
        while (left := process_tree(os.getpid())[1:]) and \
                time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def host_noise() -> dict:
    """The legacy bench's host-contention probes, imported, not copied."""
    import bench
    return {"loadavg": list(os.getloadavg()),
            "spin_probe_ms": bench.spin_probe_ms(),
            "sibling_spark_procs": bench.sibling_spark_procs(),
            "arrow_probe_ms": bench.arrow_probe_ms()}


class Runner:
    """Runs cycles of operations closed-loop and records each one."""

    def __init__(self, spark, workload, ctx, tracer=None):
        self.spark, self.w, self.ctx, self.tracer = spark, workload, ctx, tracer
        self.records: list[dict] = []
        self.attempted = self.failed = 0
        self.next_id = 0
        self.cycle_no = 0
        self.done = 0
        self.written: dict[str, int] = {}  # traced: path -> bytes written
        self.bloom_cache = [0, 0, 0]  # traced: hits, misses, size growth

    def run_op(self, op, record: bool, traced: bool) -> None:
        op_id = f"op-{self.next_id}"
        self.next_id += 1
        snap = None
        if traced:
            sc = self.spark.sparkContext
            self.tracer.op = op_id
            sc.setJobGroup(op_id, op.kind)
            snap = dir_files(self.w.tables[self.w.primary].path)
        self.attempted += 1
        start = time.time()
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.span(f"op.{op.kind}"):
                    out = op.run()
            else:
                out = op.run()
            dt = time.perf_counter() - t0
            end = time.time()
            ok = bool(op.check(out))
        except Exception as e:  # a failed operation is counted, not fatal
            print(f"[perfbench] {op.kind} failed: {e!r}", file=sys.stderr)
            self.failed += 1
            return
        finally:
            if traced:
                sc.setJobGroup("bench-aux", "untimed")
        if not ok:
            print(f"[perfbench] {op.kind} returned a wrong result",
                  file=sys.stderr)
            self.failed += 1
        if traced:
            for p, size in dir_files(self.w.tables[self.w.primary].path
                                     ).items():
                if snap.get(p) != size:
                    self.written[p] = size
        if not record:
            return
        rec = {"id": op_id, "kind": op.kind, "metric": op.metric, "s": dt,
               "units": op.units(out), "start": start, "end": end,
               "traced": traced}
        if traced:
            rec["audit"] = out if isinstance(out, dict) else {}
            rec["explain"] = op.explain(out) if op.explain else None
            rec["rows_written"] = self.rows_written(snap)
        self.records.append(rec)

    def rows_written(self, before: dict[str, int]) -> int:
        """Rows in live data files of the primary table that the last
        operation created (its copy-on-write output)."""
        t = self.w.tables[self.w.primary]
        return sum(r.number_of_rows for r in t.store.all_references()
                   if r.filename not in before)

    def warm_up(self, seconds: float) -> None:
        """Whole cycles, checked but not recorded, until ``seconds`` have
        passed: the JVM keeps compiling hot paths for the first several
        seconds of a run, and set-up time absorbs that."""
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds:
            for op in self.w.cycle(self.ctx, self.cycle_no):
                self.run_op(op, record=False, traced=False)
            self.cycle_no += 1

    def cycles(self, seconds: float, interleave_trace: bool) -> None:
        """Whole cycles until ``seconds`` have passed. With
        ``interleave_trace`` every second cycle is traced, so host drift
        and warm-up fall equally on traced and untraced cycles."""
        from sleeper_spark.query import _bloom_read

        t0 = time.perf_counter()
        done = 0
        while time.perf_counter() - t0 < seconds or (
                interleave_trace and done < 2):
            traced = interleave_trace and done % 2 == 1
            if traced:
                self.tracer.enabled = True
                before = _bloom_read.cache_info()
            for op in self.w.cycle(self.ctx, self.cycle_no):
                self.run_op(op, record=True, traced=traced)
            if traced:
                self.tracer.enabled = False
                after = _bloom_read.cache_info()
                for i, (a, b) in enumerate(zip(after[:2] + after[3:],
                                               before[:2] + before[3:])):
                    self.bloom_cache[i] += a - b
            self.cycle_no += 1
            done += 1
        self.done = done


def latency_families(records: list[dict]) -> dict[str, float]:
    fams: dict[str, list[float]] = {}
    for r in records:
        if r["metric"]:
            fams.setdefault(r["metric"], []).append(1000 * r["s"])
    out: dict[str, float] = {}
    for name, xs in sorted(fams.items()):
        out.update(summarize(name, xs))
    return out


def end_to_end(records, setup_s, ingest_samples, peak_mb, space) -> dict:
    """The gated metrics and the detail line's. ``records`` hold the
    workload's operations and the reference reads paired with them."""
    detail = latency_families(records)
    ref_ms = detail["spark_read_ms.p50"]
    by_kind: dict[str, list[float]] = {}
    for r in records:
        if r["kind"] != REFERENCE:
            by_kind.setdefault(r["kind"], []).append(r["s"])
    n_ops = sum(len(xs) for xs in by_kind.values())
    # the cycle mix's time at each kind's median latency: one stalled
    # operation moves a median less than a sum
    busy = sum(len(xs) * statistics.median(xs) for xs in by_kind.values())
    # the run's first ingest pays JVM warm-up; set-up time shows it
    ingest = ingest_samples[1:] + [
        (r["s"], r["units"]) for r in records if r["kind"] == "ingest"]
    m = {"setup_s": setup_s,
         # the host's speed of the moment slows an engine operation and
         # the reference read next to it alike, and cancels in a ratio
         "point_get_per_read": detail["point_get_ms.p50"] / ref_ms,
         "op_time_per_read": 1000 * busy / n_ops / ref_ms,
         "ops_per_s": n_ops / busy,
         "space_amp": space["dir_bytes"] / space["referenced_bytes"],
         "ingest_rows_per_s": statistics.median(n / s for s, n in ingest),
         "peak_rss_mb": peak_mb}

    def rate(kind):
        rs = [r for r in records if r["kind"] == kind]
        busy_k = sum(r["s"] for r in rs)
        return sum(r["units"] for r in rs) / busy_k if busy_k else None
    for name, kind in (("batch_get_keys_per_s", "batch_get"),
                       ("scan_rows_per_s", "full_scan"),
                       ("range_rows_per_s", "range_scan"),
                       ("sorted_stream_rows_per_s", "sorted_rows"),
                       ("compact_rows_per_s", "compact")):
        v = rate(kind)
        if v is not None:
            detail[name] = v
    return m, detail


def storage_bytes(w) -> dict:
    """Bytes on disk: the primary table's directory, the data files its
    state store references, and every table's state-store log."""
    t = w.tables[w.primary]
    refs = {r.filename for r in t.store.all_references()}
    return {
        "log_bytes": sum(sum(dir_files(os.path.join(x.path,
                                                    "statestore")).values())
                         for x in w.tables.values()),
        "dir_bytes": sum(dir_files(t.path).values()),
        "referenced_bytes": sum(os.path.getsize(f) for f in refs),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    # the workloads import the engine: outside a checkout this fails
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-"
                        f"{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    tempfile.tempdir = None
    event_dir = os.path.join(work, "events") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    try:
        return run(args, work, event_dir, WORKLOADS[args.workload]())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, event_dir: str | None, w) -> int:
    from perfbench.workloads import Ctx

    clock = {}
    mark = time.perf_counter()

    def lap(name):
        nonlocal mark
        now = time.perf_counter()
        clock[name] = now - mark
        mark = now

    spark = start_spark(work, event_dir)
    lap("spark_start")
    rss = PeakRss().start()
    try:
        ctx = Ctx(spark, os.path.join(work, "tables"),
                  Inputs(args.seed, w.key_space))
        tracer = None
        if args.trace:
            tracer = Tracer()
            install(tracer)
        w.setup(ctx)
        w.setup_reference(ctx)
        runner = Runner(spark, w, ctx, tracer)
        runner.warm_up(WARM_UP_S)
        lap("setup")
        if tracer:
            runner.written = dir_files(w.tables[w.primary].path)
            tracer.enabled = False
        # a traced run measures twice as long: half its cycles traced
        runner.cycles(args.seconds * (2 if tracer else 1), bool(tracer))
        lap("measure")
        attempted, failed = w.final_check(ctx)
        runner.attempted += attempted
        runner.failed += failed
        space = storage_bytes(w)
        lap("restart_check")
        noise = host_noise()
        lap("noise")
    finally:
        peak_mb = rss.stop()
        app_id = spark.sparkContext.applicationId
        stop_spark(spark)
    lap("spark_stop")
    untraced = [r for r in runner.records if not r["traced"]]
    # the reference reads serve only the end-to-end ratios
    traced = [r for r in runner.records
              if r["traced"] and r["kind"] != REFERENCE]
    e2e, detail = end_to_end(untraced, clock["setup"],
                             ctx.ingest_samples, peak_mb, space)
    if tracer:
        t = w.tables[w.primary]
        space["bytes_written"] = sum(runner.written.values())
        space["user_bytes"] = tracer.counters.get(f"user_bytes:{t.data_dir}",
                                                  0.0)
        overhead = mean_s(traced) / mean_s(
            [r for r in untraced if r["kind"] != REFERENCE]) - 1.0
        layer = metrics(tracer, traced, read_event_log(event_dir),
                        runner.bloom_cache, space, overhead)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-"
                                 f"{args.seed}-{app_id}.json"))
    correct = runner.failed == 0
    measured = {"ops_failed_frac": runner.failed / runner.attempted,
                **e2e, **detail}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "cores": CORES, "cycles": runner.done,
                      "metrics": {k: {"value": v, "unit": unit_of(k)}
                                  for k, v in measured.items()},
                      "phases_s": clock, "noise": noise}))
    if args.trace:
        out = {k: {"value": layer[k], "unit": u}
               for k, (u, _better) in PER_LAYER.items()}
    else:
        out = {k: {"value": e2e[k], "unit": u}
               for k, u in END_TO_END.items()}
    print(json.dumps({"correct": correct, "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": out}))
    return 0 if correct else 1


def unit_of(name: str) -> str:
    """The unit of a metric of the run's detail line, from its name."""
    if name in END_TO_END:
        return END_TO_END[name]
    if name.endswith(".n"):
        return "count"
    for suffix, unit in (("rows_per_s", "rows/s"), ("keys_per_s", "keys/s"),
                         ("_per_s", "1/s"), ("_mb", "MB"), ("_frac", "ratio"),
                         ("_s", "s")):
        if name.endswith(suffix):
            return unit
    return "ms"  # the latency families: <op>_ms.p50, <op>_ms.p75, ...


def mean_s(records: list[dict]) -> float:
    return sum(r["s"] for r in records) / len(records)


if __name__ == "__main__":
    sys.exit(main())
