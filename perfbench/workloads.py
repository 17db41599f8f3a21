"""The benchmark's workloads. Each builds its tables from seeded
inputs through the engine's public API, then yields cycles of
operations; every operation carries the check of its result against
the workload's pure-Python model.

Sizes are chosen so that set-up, a warm-up cycle and the measured
cycles of one run fit in well under a minute on 4 cores.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from functools import partial
from typing import Any, Callable

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sleeper_spark import Field, Query, Range, Region, Schema, SleeperTable
from sleeper_spark import TableProperties
from sleeper_spark import replication

from perfbench.model import REFERENCE, AggModel, Inputs, PlainModel


@dataclass
class Op:
    """One closed-loop operation. ``run`` is timed; ``check`` and
    ``explain`` run after it, untimed."""
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], bool]
    units: Callable[[Any], float] = lambda _out: 1.0
    explain: Callable[[Any], dict] | None = None
    metric: str | None = None  # end-to-end latency family, if any


@dataclass
class Ctx:
    spark: Any
    work_dir: str
    inputs: Inputs
    ingest_samples: list[tuple[float, int]] = field(default_factory=list)


PLAIN_SCHEMA = Schema(
    (Field("key", T.LongType()),), (),
    (Field("v", T.LongType(), True), Field("s", T.StringType(), True)))
AGG_SCHEMA = Schema(
    (Field("key", T.LongType()),), (),
    (Field("cnt", T.LongType()), Field("mx", T.LongType())))
REFERENCE_ROWS = 10_000  # rows of the reference reads' Parquet file


def _frame(spark, schema: Schema, rows: list[tuple]):
    pdf = pd.DataFrame(rows, columns=[f.name for f in schema.all_fields()])
    return spark.createDataFrame(pdf, schema.to_struct_type())


def _splits(key_space: int, leaves: int) -> list[int]:
    return [2 * key_space * i // leaves for i in range(1, leaves)]


def _key_region(lo: int, hi: int) -> Region:
    return Region.of(Range("key", lo, hi))


def _tuples(rows, cols) -> list[tuple]:
    return sorted(tuple(r[c] for c in cols) for r in rows)


def timed_ingest(ctx: Ctx, table: SleeperTable, schema: Schema,
                 rows: list[tuple]) -> None:
    df = _frame(ctx.spark, schema, rows)
    t0 = time.perf_counter()
    table.ingest(df)
    ctx.ingest_samples.append((time.perf_counter() - t0, len(rows)))


def _scan_explain(table: SleeperTable, query: Query):
    """Trace-only: rows the scan may examine (whole surviving files) and
    rows entering query-time processing (surviving files' rows inside
    the query's key ranges), read from file footers and key columns."""
    import pyarrow.parquet as pq

    def explain(out) -> dict:
        ex = table.explain_query(query)
        rows_in = 0
        for f in ex["files_scanned"]:
            keys = pq.read_table(f, columns=["key"]).column("key")
            for region in query.regions:
                r = region.range_for("key")
                rows_in += sum(1 for k in keys.to_pylist()
                               if (r.min is None or k >= r.min)
                               and (r.max is None or k < r.max))
        return {"rows_examined": ex["rows_upper_bound"],
                "rows_in": rows_in, "rows_out": len(out)}
    return explain


class Workload:
    name = ""
    key_space = 0
    tables: dict[str, SleeperTable]
    primary = "table"

    def __init__(self):
        self.tables = {}

    def path(self, ctx: Ctx, name: str) -> str:
        return os.path.join(ctx.work_dir, name)

    def point_get(self, key: int, metric: str = "point_get_ms") -> Op:
        t = self.tables[self.primary]
        cols = [f.name for f in t.schema.all_fields()]
        return Op("point_get", lambda: t.exact_key_query(key=key).collect(),
                  lambda rows: _tuples(rows, cols) == self.model.get(key),
                  metric=metric)

    def setup_reference(self, ctx: Ctx) -> None:
        """Write the reference reads' Parquet file, with pyarrow, from
        seeded rows; the engine never sees it."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        ins = ctx.inputs
        rows = ins.rows(ins.base_keys(REFERENCE_ROWS))
        self.ref_path = os.path.join(ctx.work_dir, "reference.parquet")
        os.makedirs(ctx.work_dir, exist_ok=True)
        pq.write_table(pa.table({c: [r[i] for r in rows]
                                 for i, c in enumerate(("key", "v", "s"))}),
                       self.ref_path)
        self.ref_rows = {r[0]: r for r in rows}
        self.ref_keys = sorted(self.ref_rows)

    def spark_read(self, ctx: Ctx) -> Op:
        """The reference operation: the Spark query a point get amounts
        to, on a plain Parquet file and without the engine — a keyed
        read, aggregated per key when the primary table aggregates.
        Paired with the point gets, it makes ratios in which the host's
        speed at the time cancels."""
        key = self.ref_keys[int(ctx.inputs.rng.integers(len(self.ref_keys)))]

        def run():
            df = ctx.spark.read.parquet(self.ref_path).where(
                F.col("key") == key)
            if self.tables[self.primary].props.aggregations:
                # keys are unique in the file: the row comes back as is
                df = df.groupBy("key").agg(F.sum("v").alias("v"),
                                           F.max("s").alias("s"))
            return df.collect()
        return Op(REFERENCE, run,
                  lambda rows: _tuples(rows, ["key", "v", "s"])
                  == [self.ref_rows[key]],
                  metric="spark_read_ms")

    def batch_get(self, keys: list[int]) -> Op:
        t = self.tables[self.primary]
        cols = [f.name for f in t.schema.all_fields()]
        want = sorted(r for k in set(keys) for r in self.model.get(k))
        return Op("batch_get",
                  lambda: t.batch_exact_key_query(
                      [{"key": k} for k in keys]).collect(),
                  lambda rows: _tuples(rows, cols) == want,
                  units=lambda _out: float(len(keys)),
                  metric="batch_get_ms")

    def final_check(self, ctx: Ctx) -> tuple[int, int]:
        """A fresh load of every table from disk must equal the model."""
        attempted = failed = 0
        for name, t in self.tables.items():
            fresh = SleeperTable.load(ctx.spark, t.path)
            cols = [f.name for f in fresh.schema.all_fields()]
            got = _tuples(fresh.full_scan().collect(), cols)
            attempted += 1
            failed += got != self.model.all_rows()
        return attempted, failed


class LookupL0(Workload):
    """Point and batch gets on an un-compacted table: many sorted runs
    per leaf, so every get pays partition pruning, Bloom probes and
    Spark's fixed cost per job."""

    name = "lookup_l0"
    key_space = 1_000_000
    LEAVES, ROUNDS, ROWS, BASE = 32, 5, 4000, 20000
    BATCH_PRESENT, BATCH_ABSENT = 80, 20

    def setup(self, ctx: Ctx) -> None:
        ins = ctx.inputs
        self.model = PlainModel()
        base = [int(k) for k in ins.base_keys(self.BASE)]
        path = self.path(ctx, "table")
        t = SleeperTable.create(ctx.spark, path, PLAIN_SCHEMA,
                                TableProperties(),
                                split_points=_splits(self.key_space,
                                                     self.LEAVES))
        for _ in range(self.ROUNDS):
            rows = ins.rows(ins.sample(base, self.ROWS))
            timed_ingest(ctx, t, PLAIN_SCHEMA, rows)
            self.model.ingest(rows)
        # a reader opens the table from disk (state-store replay)
        self.tables["table"] = SleeperTable.load(ctx.spark, path)

    def cycle(self, ctx: Ctx, i: int) -> list[Op]:
        ins = ctx.inputs
        live = self.model.live_keys()
        present = ins.zipf_pick(live, 8)
        absent = ins.absent_keys(4)
        ops = []
        for j, k in enumerate(present):
            ops += [self.point_get(k), self.spark_read(ctx)]
            if j % 2 == 1:
                # a family of their own: absent-key gets take about twice
                # as long, and a median over both would sit in the gap
                ops.append(self.point_get(absent[j // 2], "absent_get_ms"))
        keys = ins.zipf_pick(live, self.BATCH_PRESENT) + \
            ins.absent_keys(self.BATCH_ABSENT)
        ops.append(self.batch_get(keys))
        return ops


class ScanCompacted(Workload):
    """Range scans, full scans and sorted streams over a compacted,
    query-time-aggregating table: the Spark scan, aggregation and the
    driver merge, with almost no Bloom pruning."""

    name = "scan_compacted"
    key_space = 1_000_000
    LEAVES, ROUNDS, ROWS, BASE = 16, 3, 10000, 20000
    BATCH_PRESENT, BATCH_ABSENT = 32, 8
    MX_ABOVE = 900_000

    def setup(self, ctx: Ctx) -> None:
        ins = ctx.inputs
        self.model = AggModel()
        base = [int(k) for k in ins.base_keys(self.BASE)]
        path = self.path(ctx, "table")
        t = SleeperTable.create(
            ctx.spark, path, AGG_SCHEMA,
            TableProperties(aggregations="sum(cnt), max(mx)"),
            split_points=_splits(self.key_space, self.LEAVES))
        for _ in range(self.ROUNDS):
            rows = ins.agg_rows(ins.sample(base, self.ROWS))
            timed_ingest(ctx, t, AGG_SCHEMA, rows)
            self.model.ingest(rows)
        t.compact()
        self.tables["table"] = SleeperTable.load(ctx.spark, path)

    def cycle(self, ctx: Ctx, i: int) -> list[Op]:
        ins = ctx.inputs
        live = self.model.live_keys()
        g = [[self.point_get(k), self.spark_read(ctx)]
             for k in ins.zipf_pick(live, 8)]
        keys = ins.zipf_pick(live, self.BATCH_PRESENT) + \
            ins.absent_keys(self.BATCH_ABSENT)
        return [self.range_scan(*ins.key_range(0.001)), *g[0], *g[1],
                self.range_scan(*ins.key_range(0.01)), *g[2], *g[3],
                self.range_scan(*ins.key_range(0.1)), *g[4], *g[5],
                self.full_scan(), *g[6], *g[7],
                self.sorted_stream(*ins.key_range(0.01)),
                self.batch_get(keys)]

    def range_scan(self, lo: int, hi: int) -> Op:
        t = self.tables["table"]
        want = self.model.range_rows(lo, hi)
        return Op("range_scan",
                  lambda: t.range_key_query([("key", lo, hi)]).collect(),
                  lambda rows: _tuples(rows, ["key", "cnt", "mx"]) == want,
                  units=lambda out: float(len(out)),
                  explain=_scan_explain(t, Query([_key_region(lo, hi)])),
                  metric="range_scan_ms")

    def full_scan(self) -> Op:
        t = self.tables["table"]
        want = self.model.totals(self.MX_ABOVE)

        def run():
            # value_ranges are refused on aggregating tables (they would
            # skip rows before the collapse), so the value filter
            # applies to the returned frame, as the refusal advises
            return t.full_scan().agg(
                F.count("*"), F.sum("cnt"), F.max("mx"),
                F.sum(F.when(F.col("mx") > self.MX_ABOVE, 1)
                      .otherwise(0))).collect()[0]
        return Op("full_scan", run, lambda row: tuple(row) == want,
                  units=lambda _out: float(want[0]), metric="full_scan_ms")

    def sorted_stream(self, lo: int, hi: int) -> Op:
        t = self.tables["table"]
        want = self.model.range_rows(lo, hi)
        q = Query([_key_region(lo, hi)])
        return Op("sorted_rows",
                  lambda: [(r["key"], r["cnt"], r["mx"])
                           for r in t.sorted_rows(q)],
                  lambda rows: rows == want,
                  units=lambda out: float(len(out)),
                  metric="sorted_rows_ms")


class WriteCycle(Workload):
    """Writes beside reads on one table and its CDC replica: ingest with
    rewrites, copy-on-write delete and update, merge, replica sync,
    garbage collection and compaction, with point gets in between."""

    name = "write_cycle"
    key_space = 1_000_000
    LEAVES, SEED_ROUNDS, SEED_ROWS = 8, 1, 10000
    NEW_ROWS, REWRITE_ROWS, MERGE_OLD, MERGE_NEW = 1500, 500, 40, 10
    RANGE_FRAC = 0.002

    def setup(self, ctx: Ctx) -> None:
        ins = ctx.inputs
        self.model = PlainModel()
        self.used: set[int] = set()
        props = TableProperties(gc_delay_seconds=0.0)
        splits = _splits(self.key_space, self.LEAVES)
        src = SleeperTable.create(ctx.spark, self.path(ctx, "table"),
                                  PLAIN_SCHEMA, props, split_points=splits)
        dst = SleeperTable.create(ctx.spark, self.path(ctx, "replica"),
                                  PLAIN_SCHEMA, props, split_points=splits)
        for _ in range(self.SEED_ROUNDS):
            rows = ins.rows(self.fresh_keys(ins, self.SEED_ROWS))
            timed_ingest(ctx, src, PLAIN_SCHEMA, rows)
            self.model.ingest(rows)
        self.last_batch = [r[0] for r in rows]
        # the replica starts empty: the warm-up cycle's sync seeds it
        self.tables["table"] = SleeperTable.load(ctx.spark, src.path)
        self.tables["replica"] = SleeperTable.load(ctx.spark, dst.path)

    def fresh_keys(self, ins: Inputs, n: int) -> list[int]:
        out: list[int] = []
        while len(out) < n:
            for k in ins.rng.integers(0, self.key_space, size=n):
                k = int(k)
                if k not in self.used and len(out) < n:
                    self.used.add(k)
                    out.append(k)
        return sorted(out)

    def cycle(self, ctx: Ctx, i: int):
        """A generator: each operation is built after the previous one
        ran and was checked, so a point get's key, drawn from the model,
        is drawn outside the timed call and after the last write."""
        writes = (partial(self.ingest, ctx), partial(self.delete, ctx),
                  partial(self.update, ctx), partial(self.merge, ctx),
                  self.sync, self.gc, self.compact)
        for write in writes:
            op = write()
            yield op
            if op.kind == "collect_garbage":
                continue
            # point gets follow every write, so each sees the state the
            # write left, and a run holds enough of them for a steady
            # median
            for recent in (True, False, True):
                pool = self.last_batch if recent else self.model.live_keys()
                yield self.point_get(ctx.inputs.zipf_pick(pool, 1)[0])
                yield self.spark_read(ctx)

    def ingest(self, ctx: Ctx) -> Op:
        ins = ctx.inputs
        state: dict = {}

        def run():
            keys = self.fresh_keys(ins, self.NEW_ROWS)
            old = ins.sample(self.last_batch, self.REWRITE_ROWS)
            rows = ins.rows(keys) + [(k, *r[1:]) for k, r in
                                     zip(old, ins.rows(old))]
            state["rows"] = rows
            df = _frame(ctx.spark, PLAIN_SCHEMA, rows)
            return self.tables["table"].ingest(df)

        def check(refs) -> bool:
            self.model.ingest(state["rows"])
            self.last_batch = sorted({r[0] for r in state["rows"]})
            return sum(r.number_of_rows for r in refs) == len(state["rows"])
        return Op("ingest", run, check,
                  units=lambda _out: float(len(state["rows"])),
                  metric="ingest_ms")

    def delete(self, ctx: Ctx) -> Op:
        lo, hi = ctx.inputs.key_range(self.RANGE_FRAC)
        return Op("delete_where",
                  lambda: self.tables["table"].delete_where(
                      regions=[_key_region(lo, hi)]),
                  lambda audit: audit["rows_deleted"]
                  == self.model.delete_range(lo, hi),
                  metric="cow_rewrite_ms")

    def update(self, ctx: Ctx) -> Op:
        lo, hi = ctx.inputs.key_range(self.RANGE_FRAC)
        v = int(ctx.inputs.rng.integers(0, 1_000_000))
        return Op("update_where",
                  lambda: self.tables["table"].update_where(
                      {"v": v}, regions=[_key_region(lo, hi)]),
                  lambda audit: audit["rows_updated"]
                  == self.model.update_range(lo, hi, v),
                  metric="cow_rewrite_ms")

    def merge(self, ctx: Ctx) -> Op:
        ins = ctx.inputs
        state: dict = {}

        def run():
            keys = ins.sample(self.model.live_keys(), self.MERGE_OLD) + [
                2 * k for k in self.fresh_keys(ins, self.MERGE_NEW)]
            state["rows"] = [(k, *r[1:]) for k, r in
                             zip(keys, ins.rows(keys))]
            df = _frame(ctx.spark, PLAIN_SCHEMA, state["rows"])
            return self.tables["table"].merge_upsert(df)

        def check(audit) -> bool:
            ins_rows, replaced = self.model.merge(state["rows"])
            return (audit["rows_inserted"], audit["rows_replaced"]) == (
                ins_rows, replaced)
        return Op("merge_upsert", run, check, metric="merge_upsert_ms")

    def sync(self) -> Op:
        src, dst = self.tables["table"], self.tables["replica"]

        def fingerprint(t):
            return tuple(t.full_scan().agg(
                F.count("*"), F.sum(F.hash("key", "v", "s"))).collect()[0])

        def check(_steps) -> bool:
            a, b = fingerprint(src), fingerprint(dst)
            return a == b and a[0] == sum(
                len(r) for r in self.model.rows.values())
        return Op("replica_sync",
                  lambda: replication.sync_cdc_to_head(src, dst), check,
                  metric="replica_sync_ms")

    def gc(self) -> Op:
        t = self.tables["table"]

        def check(deleted) -> bool:
            live = {r.filename for r in t.store.all_references()}
            return not any(f in live or os.path.exists(f) for f in deleted)
        return Op("collect_garbage", t.collect_garbage, check,
                  metric="gc_ms")

    def compact(self) -> Op:
        t = self.tables["table"]

        def check(_out) -> bool:
            rows_now = sum(r.number_of_rows for r in t.store.all_references())
            return rows_now == sum(len(r) for r in self.model.rows.values())
        return Op("compact", t.compact, check,
                  units=lambda out: float(sum(r.number_of_rows for r in out)),
                  metric="compact_ms")


WORKLOADS = {w.name: w for w in (LookupL0, ScanCompacted, WriteCycle)}
