"""Structured Streaming surface: continuous ingest + streaming analogs of
the table-processing operators.

The reference has no streaming operators in the watermark/window sense
(SURVEY §2.10) — its streaming-shaped machinery is:

- the **ingest batcher**, which groups incoming file-ingest requests into
  jobs by size/age thresholds (IngestBatcher.java, docs/design.md:261-272)
  — exactly Structured Streaming's micro-batch trigger; and
- **continual aggregation** (docs/usage/data-processing.md:33-48), the
  same commutative/associative algebra as a streaming
  ``groupBy().agg()`` with state collapsed at compaction instead of at a
  watermark.

This module provides the parity-plus mapping:

- :func:`stream_ingest` — ``writeStream.foreachBatch`` into a
  ``SleeperTable``: each micro-batch becomes one ingest job (sorted
  partition files + ADD_FILES transaction), so the LSM machinery
  (compaction, splitting, GC) runs unchanged underneath a live stream.
- :func:`windowed_aggregate` — event-time tumbling/sliding windows with a
  watermark for late data.
- :func:`ageoff_stream` — the P3 ageOff filter applied on a stream
  (state-TTL analog).
- :func:`stateful_running_totals` — ``applyInPandasWithState`` custom
  stateful operator (the U1 custom-iterator analog for streams).

Scale notes: foreachBatch ingest inherits the batch ingest path's
``repartitionByRange + sortWithinPartitions`` — each micro-batch is one
Spark job whose parallelism is the partition tree's leaf count; watermarked
aggs keep per-key state in the state store (RocksDB-backed on a real
cluster via ``spark.sql.streaming.stateStore.providerClass``).
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.query import StreamingQuery
from pyspark.sql import types as T

from sleeper_spark.processing import age_off_condition
from sleeper_spark.iterators import AgeOffFilter
from sleeper_spark.table import SleeperTable
from sleeper_spark.views import bound_window


def stream_ingest(
    table: SleeperTable,
    stream_df: DataFrame,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Continuously ingest a stream into a SleeperTable.

    Each micro-batch runs the standard ingest path (O7: one sorted file
    per overlapping leaf partition + atomic ADD_FILES commit), mirroring
    the reference's ingest batcher turning a request stream into ingest
    jobs (IngestBatcher.java). Exactly-once comes from the checkpoint
    plus an idempotent ADD_FILES commit keyed on a deterministic
    (checkpoint, batch_id) job id — a re-delivered micro-batch after a
    crash between table commit and checkpoint is skipped by the state
    store rather than appended twice.
    """

    import hashlib

    ckpt_key = hashlib.sha256(
        os.path.abspath(checkpoint_dir).encode()).hexdigest()[:12]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # deterministic (checkpoint, batch) job id -> the ADD_FILES
        # commit is idempotent: a batch re-delivered after a crash
        # between the table commit and the stream checkpoint is skipped
        # by the state store instead of appending duplicate rows
        table.ingest(batch_df,
                     job_id=f"stream-{ckpt_key}-batch-{batch_id}")

    writer = (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_results(
    stream_df: DataFrame,
    output,
    checkpoint_dir: str,
    query_id: str,
    tracker,
    available_now: bool = True,
    on_published=None,
) -> StreamingQuery:
    """Publish a stream's micro-batches through a pluggable
    :class:`~sleeper_spark.output.ResultsOutput` transport with
    EXACTLY-ONCE publishes keyed on (query_id, epoch) — the streaming
    face of the reference's results-output + query-tracker pair
    (S3ResultsOutput.java / DynamoDBQueryTracker.java), closing the
    loop ``stream_ingest`` opened on the write side.

    Idempotence protocol, per micro-batch:

    1. the epoch is a tracked SUB-QUERY ``epoch-N`` of ``query_id`` in a
       (file-backed) :class:`~sleeper_spark.tracker.QueryTracker`;
    2. an epoch already COMPLETED in the tracker is SKIPPED — the
       re-delivery that happens when the driver crashed between a
       successful publish and the stream checkpoint must not publish
       twice;
    3. a failed publish (``ResultsOutputInfo.error``) marks the epoch
       FAILED and raises, so the trigger retries the SAME epoch — a
       batch is never checkpointed past an unpublished transport;
    4. the parent query's state rolls up from its epochs, exactly like
       leaf sub-queries of a batch query.

    ``on_published(info, batch_id)`` fires after each successful
    publish (metrics hook; also how the crash-recovery test injects a
    failure between publish and checkpoint).
    """
    from sleeper_spark.tracker import QueryState

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        sub = f"epoch-{batch_id}"
        done = tracker.get(query_id, sub)
        if done is not None and done.state == QueryState.COMPLETED:
            return    # crash between publish and checkpoint: re-delivery
        tracker.query_in_progress(query_id, sub)
        info = output.publish(f"{query_id}-{sub}", batch_df)
        if info.error:
            tracker.query_failed(query_id, info.error, sub)
            raise RuntimeError(
                f"results transport failed for {query_id}/{sub}: "
                f"{info.error}")
        # tracker COMPLETED is written BEFORE the checkpoint commits:
        # the failure window leaves a published-but-uncheckpointed
        # epoch, which step 2 skips on re-delivery — never the reverse
        # (a checkpointed-but-unpublished epoch would be silent loss)
        rows = info.rows if info.rows is not None else batch_df.count()
        tracker.query_completed(query_id, rows, sub)
        if on_published is not None:
            on_published(info, batch_id)

    writer = (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_aggregate(
    stream_df: DataFrame,
    ts_col: str,
    window: str = "1 day",
    slide: str | None = None,
    watermark: str = "1 hour",
    group_cols: list[str] | None = None,
    aggs: list | None = None,
) -> DataFrame:
    """Event-time windowed aggregation with late-data watermark.

    Defaults to counting; pass ``aggs`` for custom aggregate columns.
    Works identically on batch DataFrames (no watermark applied there).
    """
    cols = group_cols or []
    w = F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    df = stream_df
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    out_aggs = aggs or [F.count(F.lit(1)).alias("n_events")]
    agged = df.groupBy(w.alias("w"), *cols).agg(*out_aggs)
    rest = [c for c in agged.columns if c != "w"]
    return agged.select(F.col("w.start").alias("window_start"),
                        F.col("w.end").alias("window_end"), *rest)


def windowed_approx_distinct(
    stream_df: DataFrame,
    ts_col: str,
    col: str,
    window: str = "1 day",
    slide: str | None = None,
    watermark: str = "1 hour",
    p: int = 12,
) -> DataFrame:
    """Approximate distinct count per event-time window with BOUNDED
    streaming state: the aggregation keeps (window, register) -> max
    rho — at most ``2^p`` rows per window whatever the stream's
    cardinality. An exact streaming ``COUNT(DISTINCT)`` would have to
    hold every key in the state store; at 100 TB/day that state is the
    job's memory ceiling, while the HLL register state is a fixed few
    KB per window (error ~1.04/sqrt(2^p)).

    Output is the per-window REGISTER TABLE
    (window_start, window_end, register, rho_max) — deliberately NOT
    the scalar estimate: registers stay mergeable downstream
    (cross-shard union, re-emits under update mode, backfill overlap
    all combine by per-register max, exactly like the per-file
    sidecars in ``table.approx_distinct``). Feed collected rows to
    :func:`~sleeper_spark.functions.cardinality.hll_estimate` per
    window for the number. Works identically on batch DataFrames."""
    from sleeper_spark.functions import cardinality

    c = F.col(col)
    df = stream_df.where(c.isNotNull())
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    w = F.window(F.col(ts_col), window, slide) if slide \
        else F.window(F.col(ts_col), window)
    return (df.select(w.alias("w"), cardinality.hll_register(c, p),
                      cardinality.hll_rho(c))
            .groupBy("w", "register")
            .agg(F.max("rho").alias("rho_max"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "register", "rho_max"))


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    max_delay: str = "5 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: match a right-side row
    to a left-side row sharing ``on`` keys when it arrives within
    ``(left_ts, left_ts + max_delay]`` event time — the
    impression→click / request→response correlation every event
    pipeline runs. The time bound plus watermarks on BOTH sides is what
    lets Spark expire join state (an unbounded stream-stream equi-join
    would buffer each side forever); state held per side is
    ~``max_delay`` worth of rows, independent of stream length — the
    100 TB/day property.

    ``left_ts``/``right_ts`` must be distinct TIMESTAMP column names
    (both survive into the output so consumers can compute the lag).
    The join keys keep one copy. Works identically on batch frames
    (watermarks are a no-op there), so a batch backfill and the live
    stream share this exact plan."""
    if left_ts == right_ts:
        raise ValueError(
            "left_ts and right_ts must differ (both are returned; "
            "rename one side before joining)")
    lf, rf = left, right
    if lf.isStreaming:
        lf = lf.withWatermark(left_ts, max_delay)
    if rf.isStreaming:
        rf = rf.withWatermark(right_ts, max_delay)
    cond = None
    for k in on:
        c = lf[k] == rf[k]
        cond = c if cond is None else (cond & c)
    cond = cond & (rf[right_ts] > lf[left_ts]) & (
        rf[right_ts] <= lf[left_ts] + F.expr(f"INTERVAL {max_delay}"))
    joined = lf.join(rf, cond, how)
    # exactly one copy of each join key (the left's, which outer rows
    # of a left-outer join also populate)
    return joined.drop(*[rf[k] for k in on])


def ageoff_stream(stream_df: DataFrame, f: AgeOffFilter, now_millis: int) -> DataFrame:
    """P3 ageOff on a stream: drop expired/null rows (state-TTL analog).
    ``now`` is fixed per trigger for determinism, as in the batch path."""
    return stream_df.where(age_off_condition(f, now_millis))


_STATE_SCHEMA = T.StructType([
    T.StructField("n", T.LongType()),
    T.StructField("v", T.DoubleType()),
])


def stateful_running_totals(
    stream_df: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-key running (count, sum) that survives across micro-batches — the
    streaming analog of the reference's custom-iterator surface (U1,
    ConfigStringIterator) where state lives in files between compactions."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        n, v = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            v += float(pdf[value_col].sum())
        state.update((n, v))
        yield pd.DataFrame({"key": [key[0]], "n_total": [n], "value_total": [v]})

    grouped = stream_df.select(
        F.col(key_col).alias("key"), F.col(value_col).alias(value_col)
    ).groupBy("key")
    # output key field carries the INPUT key column's type — hardcoding
    # long broke string-keyed streams at runtime
    out_schema = T.StructType([
        T.StructField("key", stream_df.schema[key_col].dataType),
        T.StructField("n_total", T.LongType()),
        T.StructField("value_total", T.DoubleType()),
    ])
    return grouped.applyInPandasWithState(
        fn, out_schema, _STATE_SCHEMA, "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_funnel(
    stream_df: DataFrame,
    steps: list,
    user_col: str = "user_id",
    step_col: str = "event_type",
    ts_col: str = "ts",
    max_gap: int | None = None,
    max_events_per_step: int = 100_000,
) -> DataFrame:
    """Continuous ordered-funnel: the streaming composition of
    ``timeseries.funnel_counts`` — per-user reach depth maintained
    across micro-batches via ``applyInPandasWithState``, so conversion
    counts update as events arrive instead of re-running k passes over
    the event table.

    State per user: the SORTED DISTINCT event times of each funnel
    step (k int64 arrays — the same per-user footprint a session
    window holds). Each batch merges its events and RE-DERIVES the
    reach chain (reach_i = min step-i time strictly after reach_{i-1},
    hop-bounded by ``max_gap`` like the batch operator), which makes
    the result EXACT under any arrival order — a late-arriving step-1
    event that lowers reach_1 correctly re-enables step-2 events that
    were already seen. Greedy reach-only state (just k reach scalars)
    cannot do that; order-exactness is what lets the final counts
    hash-match the batch funnel on the same data (the registry gate).

    Emitted rows: ``(user, depth)`` per touched user per batch. With
    ``max_gap=None`` (the default, and the registry query) depth is
    MONOTONE non-decreasing — more events never shrink a chain — so
    the final depth table is ``max(depth) per user`` over the update
    stream. With ``max_gap`` SET that monotonicity does NOT hold: a
    late-arriving EARLIER step-0 event lowers reach_0 and can break a
    previously-satisfied hop bound (step0 {100}, step1 {105}, gap 10
    -> depth 2; late step0 at t=1 -> depth 1), so ``max(depth)`` can
    disagree with the final re-derived answer. max_gap consumers must
    take the LATEST update per user (``max_by(depth, update_seq)`` on
    an external sequence, or the last micro-batch's emission) — each
    emitted row is always the exact batch answer for the events seen
    so far; only the cross-update max shortcut is gap-unsafe.
    Rows with NULL user or time are dropped (the batch
    operator's joins drop NULL users past stage 0; feed it non-NULL
    data for exact parity — the registry query's source has none).

    ``max_events_per_step`` bounds per-user state and raises loudly
    beyond it (a key that hot needs sessionization first), keeping the
    state store's per-key row bounded at any stream length.
    Integer event times only — exact comparisons, no float drift."""
    if not steps:
        raise ValueError("funnel needs at least one step")
    k = len(steps)
    step_idx = {s: i for i, s in enumerate(steps)}

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        import numpy as np

        cur = [list(c) if c is not None else []
               for c in (state.get if state.exists
                         else [[]] * k)]
        for pdf in pdfs:
            for s, t in zip(pdf["__step"], pdf["__t"]):
                cur[step_idx[s]].append(int(t))
        arrs = []
        for c in cur:
            if len(c) > max_events_per_step:
                raise ValueError(
                    f"user {key[0]!r} holds {len(c)} events for one "
                    f"funnel step (cap {max_events_per_step}) — "
                    "sessionize or pre-filter before funneling")
            arrs.append(np.unique(np.asarray(c, dtype=np.int64)))
        depth, reach = 0, None
        for i in range(k):
            a = arrs[i]
            if i == 0:
                if not len(a):
                    break
                reach = a[0]
            else:
                j = int(np.searchsorted(a, reach, side="right"))
                if j >= len(a) or (max_gap is not None
                                   and a[j] > reach + max_gap):
                    break
                reach = a[j]
            depth = i + 1
        state.update(tuple(a.tolist() for a in arrs))
        yield pd.DataFrame({"user": [key[0]], "depth": [depth]})

    src = (stream_df
           .where(F.col(step_col).isin(list(steps))
                  & F.col(user_col).isNotNull()
                  & F.col(ts_col).isNotNull())
           .select(F.col(user_col).alias("user"),
                   F.col(step_col).alias("__step"),
                   F.col(ts_col).cast("long").alias("__t")))
    state_schema = T.StructType([
        T.StructField(f"t{i}", T.ArrayType(T.LongType())) for i in range(k)])
    out_schema = T.StructType([
        T.StructField("user", stream_df.schema[user_col].dataType),
        T.StructField("depth", T.IntegerType()),
    ])
    return src.groupBy("user").applyInPandasWithState(
        fn, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout)


class ChangeFeedTail:
    """Bridge a table's change data feed into Structured Streaming: each
    :meth:`drain` takes the next window (at most ``max_seqs`` seqs, as
    ``poll_changes`` bounds it) and lands its appended rows as parquet
    files in a staging directory that :meth:`read_stream` tails as an ordinary file-source
    stream — so the table's CDF becomes consumable by the engine's own
    streaming operators (windowed aggregation, streaming dedup, stateful
    totals) without any custom source implementation.

    Exactly-once landing across poller crashes via a two-phase
    checkpoint: the (from, to] range is recorded as a PENDING intent
    before any write, the range lands as ONE parquet file staged under a
    hidden name and made visible with a single atomic ``os.replace`` to
    its deterministic range name, and the checkpoint commits only after
    that — a crash anywhere replays the SAME range onto the SAME name,
    which the downstream file source (tracking files by name) neither
    duplicates nor misses. One file per range is a correctness
    requirement, not a simplification: a multi-part landing could split
    rows across parts DIFFERENTLY on replay (Spark's partitioning is
    config-dependent), and a stream that consumed some old-split parts
    before the crash would then silently lose or duplicate the rows
    that moved. Downstream exactly-once is the stream checkpoint's own
    guarantee.

    Scale: ``max_seqs`` is the rate limit AND the landing-size bound —
    each drain copies one bounded window of the transaction log into one
    file; size the window so a single file stays healthy (the tail is a
    feed, not a bulk export). Rows must still be on disk: raise the GC
    delay above the poller's worst-case lag (same contract as
    ``added_rows_between``).
    """

    def __init__(self, table: SleeperTable, staging_dir: str,
                 max_seqs: int | None = None):
        import json

        self.table = table
        self.staging_dir = staging_dir
        self.max_seqs = max_seqs
        self.state_path = os.path.join(staging_dir, "_feed_ckpt.json")
        os.makedirs(staging_dir, exist_ok=True)
        if os.path.exists(self.state_path):
            with open(self.state_path) as f:
                self.state = json.load(f)
        else:
            self.state = {"seq": 0, "pending": None}

    def _save(self) -> None:
        import json

        tmp = self.state_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.state, f)
        os.replace(tmp, self.state_path)

    def _land(self, from_seq: int, to_seq: int) -> int:
        """Land the range's rows as ONE deterministically-named staged
        file via an atomic rename; returns the row count. Re-running
        the same range overwrites the same name (idempotent), and the
        file source never observes a partial landing (the tmp dir is
        dot-prefixed, which file sources ignore)."""
        df = self.table.added_rows_between(from_seq, to_seq)
        tmp_dir = os.path.join(
            self.staging_dir, f".landing-{from_seq + 1}-{to_seq}")
        import shutil

        shutil.rmtree(tmp_dir, ignore_errors=True)
        # coalesce(1): single-file visibility must be atomic (see class
        # doc); max_seqs bounds the size. JVM-side read -> no Python
        # worker cost in the coalesced task.
        df.coalesce(1).write.parquet(tmp_dir)
        parts = sorted(f for f in os.listdir(tmp_dir)
                       if f.endswith(".parquet"))
        n = 0
        if parts:
            import pyarrow.parquet as pq

            src = os.path.join(tmp_dir, parts[0])
            n = pq.ParquetFile(src).metadata.num_rows
            os.replace(src, os.path.join(
                self.staging_dir,
                f"changes-{from_seq + 1:012d}-{to_seq:012d}.parquet"))
        shutil.rmtree(tmp_dir, ignore_errors=True)
        return n

    def drain(self) -> int:
        """One poll: land everything appended since the checkpoint (up
        to ``max_seqs`` transactions). Returns rows landed."""
        n = 0
        if self.state.get("pending"):
            frm, to = self.state["pending"]   # crashed mid-land: replay
            n += self._land(frm, to)
            self.state = {"seq": to, "pending": None}
            self._save()
        # the bound only: _land builds the window's frame itself
        to_seq = bound_window(
            self.table.store, self.state["seq"], self.max_seqs,
            self.table.props.query_cache_timeout_seconds)
        if to_seq == self.state["seq"]:
            return n
        self.state["pending"] = [self.state["seq"], to_seq]
        self._save()                           # intent BEFORE the write
        n += self._land(self.state["seq"], to_seq)
        self.state = {"seq": to_seq, "pending": None}
        self._save()
        return n

    def read_stream(self, spark) -> DataFrame:
        """The staged feed as a file-source stream (the table's schema)."""
        return (spark.readStream
                .schema(self.table.schema.to_struct_type())
                .option("pathGlobFilter", "changes-*.parquet")
                .parquet(self.staging_dir))


def dedup_stream(
    stream_df: DataFrame,
    key_cols: list[str],
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming deduplication: first occurrence of each key wins,
    subsequent arrivals are dropped — ``dropDuplicates`` backed by the
    streaming state store. With ``ts_col`` a watermark bounds the state
    (keys older than the watermark are evicted, so state is windowed,
    not unbounded — the scale requirement for a continuous 100 TB/day
    dedup). Works identically on batch DataFrames (global dedup).

    The streaming face of the exact-dedup operator family
    (functions/dedup.py); emitted columns are the key columns, which
    makes the output deterministic regardless of which physical row
    arrived first.
    """
    df = stream_df
    if df.isStreaming and ts_col is not None:
        df = df.withWatermark(ts_col, watermark)
        return df.dropDuplicatesWithinWatermark(key_cols).select(*key_cols)
    return df.dropDuplicates(key_cols).select(*key_cols)


def streaming_heavy_hitters(
    stream_df: DataFrame,
    col: str,
    k: int,
    n_buckets: int = 32,
) -> DataFrame:
    """Continuous Misra-Gries candidate maintenance — the streaming
    half of :func:`sleeper_spark.functions.stats.heavy_hitters`: the
    incoming stream's values hash into ``n_buckets`` groups and each
    group's state holds an MG summary with k-1 counters, updated per
    micro-batch via ``applyInPandasWithState``. Because buckets
    PARTITION the value space, a value's whole stream lands in one
    bucket, and bucket row count n_b <= n makes the classic guarantee
    only stronger: any value with GLOBAL frequency > n/k is always
    among its bucket's survivors — the candidate union never loses a
    true heavy hitter, at any stream length, in O(k) state per bucket.

    Emits one row per touched bucket per batch:
    ``(bucket, upd, cands array<string>, n_b long)`` with ``upd`` a
    monotone per-bucket update counter — the LATEST row per bucket
    (max upd) is the live summary. Candidates are a SUPERSET with
    estimate error <= n_b/k; for the exact final answer run
    :func:`finalize_heavy_hitters` over the accumulated updates plus a
    batch view of the same data (candidate recount — the same
    integer-exact count*k > n cut as the batch operator, so the result
    hash-matches the plain GROUP BY oracle). NULL values are dropped;
    values compare as strings, like the batch operator."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    cap = k - 1
    src = (stream_df.where(F.col(col).isNotNull())
           .select(F.col(col).cast("string").alias("v"))
           .withColumn("bucket",
                       F.pmod(F.hash(F.col("v")), n_buckets)))

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            vals, cnts, n_b, upd = state.get
            counts = dict(zip(vals, cnts))
        else:
            counts, n_b, upd = {}, 0, 0
        for pdf in pdfs:
            n_b += len(pdf)
            for val, cnt in pdf["v"].value_counts().items():
                counts[val] = counts.get(val, 0) + int(cnt)
            if len(counts) > cap:
                cut = sorted(counts.values(), reverse=True)[cap]
                counts = {v: c - cut for v, c in counts.items()
                          if c > cut}
        upd += 1
        state.update((list(counts.keys()),
                      [int(c) for c in counts.values()],
                      int(n_b), int(upd)))
        yield pd.DataFrame({
            "bucket": [key[0]], "upd": [upd],
            "cands": [list(counts.keys())], "n_b": [int(n_b)]})

    state_schema = T.StructType([
        T.StructField("vals", T.ArrayType(T.StringType())),
        T.StructField("cnts", T.ArrayType(T.LongType())),
        T.StructField("n_b", T.LongType()),
        T.StructField("upd", T.LongType()),
    ])
    out_schema = T.StructType([
        T.StructField("bucket", T.IntegerType()),
        T.StructField("upd", T.LongType()),
        T.StructField("cands", T.ArrayType(T.StringType())),
        T.StructField("n_b", T.LongType()),
    ])
    return src.groupBy("bucket").applyInPandasWithState(
        fn, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout)


def finalize_heavy_hitters(updates_df: DataFrame, data_df: DataFrame,
                           col: str, k: int) -> DataFrame:
    """Exact answer from a drained candidate stream: keep each
    bucket's LATEST summary (max ``upd``), union its candidates, and
    recount them exactly against a batch view of the same data —
    identical second pass to the batch operator, so the output is the
    exact ``{v: freq > n/k}`` set regardless of how candidates were
    accumulated. ``updates_df`` is the (completed) output of
    :func:`streaming_heavy_hitters`; ``data_df`` the batch frame."""
    latest = (updates_df.groupBy("bucket")
              .agg(F.max_by("cands", "upd").alias("cands")))
    candidates = (latest.select(F.explode("cands").alias("v"))
                  .distinct())
    src = (data_df.where(F.col(col).isNotNull())
           .select(F.col(col).cast("string").alias("v")))
    n = src.count()
    return (src.join(F.broadcast(candidates), "v", "leftsemi")
            .groupBy("v").agg(F.count(F.lit(1)).alias("n_rows"))
            .where(F.col("n_rows") * k > F.lit(n)))


def streaming_sessionize(
    stream_df: DataFrame,
    key_col: str,
    ts_col: str,
    gap: int,
    max_events_per_key: int = 100_000,
) -> DataFrame:
    """Continuous sessionization — the streaming composition of
    ``timeseries.sessionize``: per-key session statistics maintained
    across micro-batches via ``applyInPandasWithState``.

    Same exactness idiom as :func:`streaming_funnel`: state per key is
    the SORTED DISTINCT event times seen so far, and each batch merges
    its events then RE-DERIVES the gaps-and-islands segmentation over
    the full set — so a late event that BRIDGES two sessions (lands in
    a gap, pulling both sides within ``gap`` of it) correctly merges
    them, which incremental per-session counters cannot do. Emitted per
    touched key per batch: ``(key, upd, n_sessions, span_micros,
    max_session_len)`` — n_sessions can go DOWN when a bridge arrives,
    so read the LATEST row per key (``max_by`` on the monotone ``upd``
    counter), never an aggregate over updates.

    Spark's built-in ``session_window`` aggregation covers windowed
    counts; this exists for session STATISTICS over the key's whole
    history (session count, spans, largest session) with exact
    late-data semantics — the shape the batch operator answers, so the
    batch oracle must match at stream completion. Distinct event times
    only (duplicate (key, ts) pairs collapse, matching DISTINCT-input
    batch semantics; feed deduplicated streams for exact parity).
    ``max_events_per_key`` raises loudly when one key's history
    outgrows sane state (sessionize offline instead)."""
    if gap <= 0:
        raise ValueError(f"gap must be positive, got {gap}")

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        import numpy as np

        if state.exists:
            cur, upd = list(state.get[0]), int(state.get[1])
        else:
            cur, upd = [], 0
        for pdf in pdfs:
            cur.extend(int(t) for t in pdf["__t"])
        if len(cur) > max_events_per_key:
            raise ValueError(
                f"key {key[0]!r} holds {len(cur)} events (cap "
                f"{max_events_per_key}) — sessionize offline")
        ts = np.unique(np.asarray(cur, dtype=np.int64))
        gaps = np.diff(ts)
        starts = int((gaps > gap).sum()) + 1 if len(ts) else 0
        if len(ts):
            bounds = np.concatenate(
                ([0], np.flatnonzero(gaps > gap) + 1, [len(ts)]))
            lens = np.diff(bounds)
            max_len = int(lens.max())
            span = int(ts[-1] - ts[0])
        else:
            max_len, span = 0, 0
        upd += 1
        state.update((ts.tolist(), upd))
        yield pd.DataFrame({
            "key": [key[0]], "upd": [upd], "n_sessions": [starts],
            "span_micros": [span], "max_session_len": [max_len]})

    src = (stream_df
           .where(F.col(key_col).isNotNull() & F.col(ts_col).isNotNull())
           .select(F.col(key_col).alias("key"),
                   F.col(ts_col).cast("long").alias("__t")))
    state_schema = T.StructType([
        T.StructField("ts", T.ArrayType(T.LongType())),
        T.StructField("upd", T.LongType())])
    out_schema = T.StructType([
        T.StructField("key", stream_df.schema[key_col].dataType),
        T.StructField("upd", T.LongType()),
        T.StructField("n_sessions", T.IntegerType()),
        T.StructField("span_micros", T.LongType()),
        T.StructField("max_session_len", T.IntegerType()),
    ])
    return src.groupBy("key").applyInPandasWithState(
        fn, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout)


def streaming_retention(
    stream_df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period: int = 86_400_000_000,
    max_periods_per_key: int = 100_000,
) -> DataFrame:
    """Continuous cohort retention — the streaming composition of
    ``timeseries.retention_cohorts``: per-user activity periods
    maintained across micro-batches via ``applyInPandasWithState``,
    so the cohort table updates as events arrive instead of re-passing
    the event history.

    Same exactness idiom as :func:`streaming_funnel` /
    :func:`streaming_sessionize`: state per user is the SORTED
    DISTINCT activity periods (``ts div period``, computed JVM-side
    for bit-parity with the batch operator's integer division), and
    each batch merges its periods then RE-DERIVES cohort + offsets
    over the full set. That re-derivation is what makes late data
    exact: a late EARLIER event re-cohorts the user and shifts every
    offset, which incremental (cohort, offset) counters cannot undo.

    Emitted per touched user per batch: ``(user, upd, cohort,
    offsets)`` — the user's cohort period and their int array of
    period offsets. ``upd`` is the per-user monotone update counter;
    the final retention table is the LATEST row per user
    (``max_by(offsets, upd)``), exploded and counted::

        updates.groupBy("user")
               .agg(F.max_by("cohort", "upd").alias("cohort"),
                    F.max_by("offsets", "upd").alias("offsets"))
               .select("cohort", F.explode("offsets").alias("period_offset"))
               .groupBy("cohort", "period_offset")
               .agg(F.count("*").alias("n_users"))

    which hash-matches the batch ``retention_cohorts`` on the same
    data (the registry gate). State is bounded by DISTINCT PERIODS per
    user — days active, not events — naturally tiny at day
    granularity; ``max_periods_per_key`` raises loudly beyond it.
    NULL users/timestamps are dropped, like the batch operator."""
    if period <= 0:
        raise ValueError(f"period must be positive, got {period}")

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        import numpy as np

        if state.exists:
            cur, upd = list(state.get[0]), int(state.get[1])
        else:
            cur, upd = [], 0
        for pdf in pdfs:
            cur.extend(int(p) for p in pdf["__p"])
        ps = np.unique(np.asarray(cur, dtype=np.int64))
        if len(ps) > max_periods_per_key:
            raise ValueError(
                f"user {key[0]!r} holds {len(ps)} distinct activity "
                f"periods (cap {max_periods_per_key}) — widen `period` "
                "or cohort offline")
        cohort = int(ps[0])
        offsets = (ps - cohort).astype(np.int32)
        upd += 1
        state.update((ps.tolist(), upd))
        yield pd.DataFrame({
            "user": [key[0]], "upd": [upd], "cohort": [cohort],
            "offsets": [offsets.tolist()]})

    # integer division JVM-side: `div` truncates like the batch
    # operator's expr, so stream and batch agree on every boundary
    src = (stream_df
           .where(F.col(user_col).isNotNull()
                  & F.col(ts_col).isNotNull())
           .select(F.col(user_col).alias("user"),
                   F.expr(f"`{ts_col}` div {int(period)}")
                   .alias("__p")))
    state_schema = T.StructType([
        T.StructField("periods", T.ArrayType(T.LongType())),
        T.StructField("upd", T.LongType())])
    out_schema = T.StructType([
        T.StructField("user", stream_df.schema[user_col].dataType),
        T.StructField("upd", T.LongType()),
        T.StructField("cohort", T.LongType()),
        T.StructField("offsets", T.ArrayType(T.IntegerType())),
    ])
    return src.groupBy("user").applyInPandasWithState(
        fn, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout)


def stream_merge(
    table: SleeperTable,
    stream_df: DataFrame,
    checkpoint_dir: str,
    cap: int = 100_000,
    available_now: bool = True,
) -> StreamingQuery:
    """Continuously apply a CDC stream to a SleeperTable as
    exactly-once MERGE upserts: each micro-batch runs
    ``table.merge_upsert`` (merge.py — key groups replaced, unseen
    keys inserted, ONE atomic MERGE_FILES commit) under a
    deterministic ``merge-<checkpoint>-batch-<id>`` job id. The
    streaming twin of :func:`stream_ingest` for sources that emit row
    VERSIONS rather than appends (database CDC, dimension snapshots).

    Exactly-once across crashes is the same two-legged contract as
    streaming ingest: the checkpoint replays an unacknowledged batch,
    and the merge's job-id idempotence makes the replay a no-op when
    the commit already landed — and a RESUMPTION when it did not (a
    crash between the claim and the commit leaves candidates claimed
    by this very job id; the retry re-claims its own and recommits).

    Per-batch cost is the merge's plan: per-key tree descent + Bloom
    pruning rewrites only files holding matched keys — a CDC batch
    touching k keys rewrites O(k) files, never the table. ``cap``
    bounds the per-batch distinct keys (merge is the CDC tool; a
    stream restating the whole table should ``stream_ingest`` into a
    ``max_by`` last-writer-wins aggregation table instead)."""
    import hashlib

    ckpt_key = hashlib.sha256(
        os.path.abspath(checkpoint_dir).encode()).hexdigest()[:12]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        table.merge_upsert(
            batch_df, cap=cap,
            job_id=f"merge-{ckpt_key}-batch-{batch_id}")

    writer = (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
