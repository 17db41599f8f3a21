"""Structured Streaming surface: stream ingest into a SleeperTable,
watermarked windowed aggregation, stateful running totals.

All tests drive real file-source streams over the driver testdata with
``availableNow`` triggers so they are deterministic and terminate."""

import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sleeper_spark import Field, Schema, SleeperTable
from sleeper_spark.iterators import AgeOffFilter
from sleeper_spark.properties import TableProperties
from sleeper_spark import streaming

SF_DIR = "/root/testdata/sf0.001"

EVENTS_READ_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.LongType()),          # raw int64 (micros or nanos)
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


@pytest.fixture()
def events_stream_dir(spark, tmp_path):
    """A directory the stream source watches, seeded with the events file."""
    d = tmp_path / "in"
    d.mkdir()
    shutil.copy(os.path.join(SF_DIR, "events.parquet"), d / "events.parquet")
    return str(d)


def _ts_per_us():
    """Stored ts units per microsecond (1=TIMESTAMP(MICROS), 1000=nanos)."""
    import pyarrow.parquet as pq
    t = pq.read_schema(os.path.join(SF_DIR, "events.parquet")).field("ts").type
    return 1 if "us" in str(t) else 1000


def _read_stream(spark, path):
    return spark.readStream.schema(EVENTS_READ_SCHEMA).parquet(path)


def test_stream_ingest_matches_batch(spark, tmp_path, events_stream_dir):
    stream = _read_stream(spark, events_stream_dir).select(
        "event_id", "user_id", "event_type", F.col("value"))
    schema = Schema(
        (Field("event_id", T.LongType()),),
        (),
        (Field("user_id", T.LongType(), True),
         Field("event_type", T.StringType(), True),
         Field("value", T.DoubleType(), True)),
    )
    table = SleeperTable.create(
        spark, str(tmp_path / "t"), schema, TableProperties(),
        split_points=[400])
    q = streaming.stream_ingest(table, stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    batch = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    assert table.full_scan().count() == batch.count()
    got = {r.event_id for r in table.range_key_query([("event_id", 0, 100)]).collect()}
    want = {r.event_id for r in batch.where("event_id < 100").collect()}
    assert got == want


def test_stream_ingest_multiple_batches_accumulate(spark, tmp_path, events_stream_dir):
    """A second file arriving later lands as a second ingest commit."""
    stream = _read_stream(spark, events_stream_dir).select("event_id", "user_id")
    schema = Schema((Field("event_id", T.LongType()),), (),
                    (Field("user_id", T.LongType(), True),))
    table = SleeperTable.create(spark, str(tmp_path / "t"), schema,
                                TableProperties())
    streaming.stream_ingest(table, stream, str(tmp_path / "ckpt")).awaitTermination(120)
    n1 = table.full_scan().count()

    # drop a second (small) file into the watched dir, run the stream again
    more = spark.read.schema(EVENTS_READ_SCHEMA).parquet(events_stream_dir).limit(10) \
        .withColumn("event_id", F.col("event_id") + 1_000_000)
    more.write.mode("append").parquet(events_stream_dir)
    stream2 = _read_stream(spark, events_stream_dir).select("event_id", "user_id")
    streaming.stream_ingest(table, stream2, str(tmp_path / "ckpt")).awaitTermination(120)

    assert table.full_scan().count() == n1 + 10
    # the checkpoint prevented re-ingesting the first file
    assert table.range_key_query([("event_id", 1_000_000, 2_000_000)]).count() == 10


def test_windowed_aggregate_stream_matches_batch(spark, tmp_path, events_stream_dir):
    to_ts = F.timestamp_micros(F.expr(f"ts div {_ts_per_us()}"))
    stream = _read_stream(spark, events_stream_dir).withColumn("ts", to_ts)
    out = streaming.windowed_aggregate(stream, "ts", window="1 day",
                                       watermark="1 hour")
    q = (out.writeStream.format("memory").queryName("winagg")
         .outputMode("complete").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    q.awaitTermination(120)
    got = {(r.window_start, r.n_events)
           for r in spark.sql("SELECT * FROM winagg").collect()}

    batch = spark.read.schema(EVENTS_READ_SCHEMA).parquet(events_stream_dir) \
        .withColumn("ts", to_ts)
    want = {(r.window_start, r.n_events)
            for r in streaming.windowed_aggregate(batch, "ts").collect()}
    assert got == want
    assert len(got) > 1


def test_ageoff_stream_filters(spark, events_stream_dir):
    stream = _read_stream(spark, events_stream_dir) \
        .withColumn("ts_ms", F.expr(f"ts div {1000 * _ts_per_us()}"))
    now_ms = 1706140800000  # 2024-01-25 UTC
    out = streaming.ageoff_stream(stream, AgeOffFilter("ts_ms", 1209600000), now_ms)
    assert out.isStreaming


def test_stateful_running_totals(spark, tmp_path, events_stream_dir):
    stream = _read_stream(spark, events_stream_dir)
    out = streaming.stateful_running_totals(stream, "user_id", "value")
    q = (out.writeStream.format("memory").queryName("running")
         .outputMode("update").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    q.awaitTermination(120)
    got = {r.key: (r.n_total, round(r.value_total, 4))
           for r in spark.sql("SELECT * FROM running").collect()}

    batch = spark.read.parquet(events_stream_dir)
    want = {r.user_id: (r.n, round(r.v, 4)) for r in
            batch.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
            .collect()}
    assert got == want


def test_append_mode_watermark_drops_late_data(spark, tmp_path):
    """Append-mode windowed aggregation: a window is emitted exactly once
    the watermark passes its end, and data arriving after that (behind
    the operative watermark) is DROPPED — checked against a batch oracle
    computed from only the on-time rows. Spark applies a batch's
    event-time watermark from the NEXT micro-batch, so the late row
    arrives two batches after the rows that advanced the watermark.
    (complete/update modes are covered elsewhere; this pins the one
    Structured-Streaming semantic they can't show.)"""
    import time as _time

    src = tmp_path / "src"
    src.mkdir()
    base = 1_700_000_000  # seconds
    # 10s tumbling windows, 5s watermark delay. Batch timeline:
    #   f1: fills window [base, base+10) and sets max event time base+60
    #       -> watermark base+55 operative from the NEXT batch
    #   f2: advances max event time to base+120 (wm base+115 next)
    #   f3: a LATE row for window [base, base+10) — operative wm is
    #       base+115, far past the window end -> dropped; plus one open
    #       window row that must NOT be emitted (wm never passes it)
    batches = [
        [(1, base + 1), (2, base + 3), (3, base + 9), (4, base + 60)],
        [(6, base + 120)],
        [(5, base + 3), (7, base + 200)],
    ]
    dfs = [spark.createDataFrame(rows, "event_id long, ts_s long")
           for rows in batches]
    now = _time.time()
    for i, df in enumerate(dfs):
        d = src / f"f{i}"
        df.coalesce(1).write.parquet(str(d))
        for f in d.glob("*.parquet"):
            os.utime(f, (now + i * 10, now + i * 10))

    stream = (
        spark.readStream.schema("event_id long, ts_s long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
        .withColumn("ts", F.timestamp_seconds(F.col("ts_s")))
    )
    out = streaming.windowed_aggregate(stream, "ts", window="10 seconds",
                                       watermark="5 seconds")
    q = (out.writeStream.format("memory").queryName("appendwin")
         .outputMode("append").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    q.awaitTermination(120)
    dropped = sum((p["stateOperators"][0]["numRowsDroppedByWatermark"]
                   if p["stateOperators"] else 0)
                  for p in q.recentProgress)
    got = {(r.window_start.timestamp(), r.n_events)
           for r in spark.sql("SELECT * FROM appendwin").collect()}
    # batch oracle over ON-TIME rows only (late event_id=5 excluded),
    # restricted to windows the FINAL watermark closed (availableNow runs
    # a trailing no-data batch that applies wm = base+200-5, so the
    # base+120 window is emitted; only base+200's stays open, unemitted)
    on_time = dfs[0].unionByName(dfs[1]).unionByName(
        dfs[2].where("event_id != 5"))
    want = {
        (r.w.start.timestamp(), r.n)
        for r in (on_time
                  .withColumn("ts", F.timestamp_seconds(F.col("ts_s")))
                  .groupBy(F.window("ts", "10 seconds").alias("w"))
                  .agg(F.count(F.lit(1)).alias("n"))
                  .collect())
        if r.w.end.timestamp() <= base + 200 - 5
    }
    assert got == want
    assert dropped == 1  # exactly the late row
    # [base,+10) with 4 on-time rows; [base+60,+70) and [base+120,+130)
    assert len(got) == 3


class TestStreamResultsTransport:
    """Round-6: streaming results through the ResultsOutput protocol
    with exactly-once (query_id, epoch) publishes via the tracker —
    the streaming face of S3ResultsOutput + DynamoDBQueryTracker."""

    def _run(self, spark, in_dir, ckpt, tracker, sent, on_published=None,
             fail_payloads=None):
        from sleeper_spark.output import CallbackResultsOutput

        def send(payload):
            if fail_payloads is not None and fail_payloads[0] > 0:
                fail_payloads[0] -= 1
                raise IOError("transport down")
            sent.append(payload)

        stream = _read_stream(spark, in_dir).select("event_id", "user_id")
        q = streaming.stream_results(
            stream, CallbackResultsOutput(send, batch_size=10_000),
            ckpt, "stream-q", tracker, on_published=on_published)
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    def _ids(self, sent):
        import json as _json
        out = []
        for payload in sent:
            out += [_json.loads(line)["event_id"]
                    for line in payload.splitlines()]
        return out

    def test_crash_between_publish_and_checkpoint_no_duplicate(
            self, spark, tmp_path, events_stream_dir):
        """Driver dies AFTER a successful publish but BEFORE the stream
        checkpoints: on restart the batch is re-delivered and must be
        SKIPPED (tracker shows the epoch COMPLETED), and later data must
        still flow — no duplicate, no loss."""
        from sleeper_spark.tracker import QueryState, QueryTracker

        ckpt = str(tmp_path / "ckpt")
        tpath = str(tmp_path / "tracker.json")
        sent: list = []

        def boom(info, batch_id):
            raise RuntimeError("simulated crash before checkpoint")

        with pytest.raises(Exception, match="simulated crash"):
            self._run(spark, events_stream_dir, ckpt,
                      QueryTracker(tpath), sent, on_published=boom)
        n_events = spark.read.parquet(
            os.path.join(SF_DIR, "events.parquet")).count()
        assert len(self._ids(sent)) == n_events   # published once already

        # second file arrives while we were down
        shutil.copy(os.path.join(SF_DIR, "events.parquet"),
                    os.path.join(events_stream_dir, "again.parquet"))
        # restart: fresh tracker handle over the SAME file, same ckpt
        self._run(spark, events_stream_dir, ckpt, QueryTracker(tpath), sent)
        ids = self._ids(sent)
        # epoch 0 NOT republished; the new file's rows all arrived
        assert len(ids) == 2 * n_events
        tr = QueryTracker(tpath)
        assert {c.state for c in tr.children("stream-q")} == {
            QueryState.COMPLETED}
        assert tr.get("stream-q").state == QueryState.COMPLETED
        assert tr.get("stream-q").row_count == 2 * n_events

    def test_transport_failure_retries_without_loss(
            self, spark, tmp_path, events_stream_dir):
        """A transport outage fails the epoch (tracked FAILED) and the
        stream raises rather than checkpointing past it; the restart
        republishes the SAME epoch — no batch is lost."""
        from sleeper_spark.tracker import QueryState, QueryTracker

        ckpt = str(tmp_path / "ckpt")
        tpath = str(tmp_path / "tracker.json")
        sent: list = []
        fails = [1]    # first send raises, then the transport recovers

        with pytest.raises(Exception, match="transport"):
            self._run(spark, events_stream_dir, ckpt,
                      QueryTracker(tpath), sent, fail_payloads=fails)
        assert sent == []
        tr = QueryTracker(tpath)
        assert tr.get("stream-q", "epoch-0").state == QueryState.FAILED

        self._run(spark, events_stream_dir, ckpt, QueryTracker(tpath), sent)
        n_events = spark.read.parquet(
            os.path.join(SF_DIR, "events.parquet")).count()
        ids = self._ids(sent)
        assert sorted(set(ids)) == sorted(ids)    # no duplicates either
        assert len(ids) == n_events
        tr = QueryTracker(tpath)
        assert tr.get("stream-q", "epoch-0").state == QueryState.COMPLETED
        assert tr.get("stream-q").state == QueryState.COMPLETED


class TestChangeFeedTail:
    """Round-6 stretch: the table's change data feed bridged into the
    engine's own streaming operators via a staged file-source tail."""

    def _table(self, spark, tmp_path):
        schema = Schema((Field("k", T.LongType()),), (),
                        (Field("v", T.LongType(), True),))
        return SleeperTable.create(spark, str(tmp_path / "t"), schema)

    def test_tail_appends_through_streaming_dedup(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        tail = streaming.ChangeFeedTail(t, str(tmp_path / "stage"))
        seen: list = []

        def run_dedup():
            dd = streaming.dedup_stream(tail.read_stream(spark), ["k"])
            q = (dd.writeStream.outputMode("append")
                 .foreachBatch(lambda df, _b: seen.extend(
                     r.k for r in df.collect()))
                 .option("checkpointLocation", str(tmp_path / "ckpt"))
                 .trigger(availableNow=True).start())
            q.awaitTermination(120)
            q.stop()

        t.ingest(spark.range(10).selectExpr("id AS k", "id AS v"))
        assert tail.drain() == 10
        run_dedup()
        assert sorted(seen) == list(range(10))
        # overlapping second append: streaming state dedups ACROSS
        # drains — only the genuinely new keys come out
        t.ingest(spark.range(5, 20).selectExpr("id AS k", "id AS v"))
        assert tail.drain() == 15
        run_dedup()
        assert sorted(seen) == list(range(20))
        # idle drain: nothing new staged, stream emits nothing
        assert tail.drain() == 0
        run_dedup()
        assert sorted(seen) == list(range(20))
        # compaction commits add no rows to the feed
        t.compact()
        assert tail.drain() == 0

    def test_crashed_drain_replays_same_range_without_duplicates(
            self, spark, tmp_path):
        """Crash between the pending intent and the checkpoint commit:
        the restart replays the SAME range to the SAME file names, so
        the downstream file source sees each row exactly once."""
        t = self._table(spark, tmp_path)
        stage = str(tmp_path / "stage")
        tail = streaming.ChangeFeedTail(t, stage)
        t.ingest(spark.range(8).selectExpr("id AS k", "id AS v"))
        assert tail.drain() == 8
        t.ingest(spark.range(8, 12).selectExpr("id AS k", "id AS v"))

        # simulate the crash: land the new range, write the PENDING
        # intent, but never commit — as if the process died mid-drain
        frm = tail.state["seq"]
        _, to = t.poll_changes(frm)
        tail.state["pending"] = [frm, to]
        tail._save()
        tail._land(frm, to)

        files_before = sorted(f for f in os.listdir(stage)
                              if f.endswith(".parquet"))
        # a fresh tail (restart) replays the pending range idempotently
        tail2 = streaming.ChangeFeedTail(t, stage)
        assert tail2.state["pending"] == [frm, to]
        tail2.drain()
        files_after = sorted(f for f in os.listdir(stage)
                             if f.endswith(".parquet"))
        assert files_before == files_after      # same names, overwritten
        total = spark.read.schema(t.schema.to_struct_type()).parquet(
            os.path.join(stage, "changes-*.parquet")).count()
        assert total == 12                      # every row exactly once
        assert tail2.state == {"seq": to, "pending": None}


def test_windowed_approx_distinct_bounded_state(spark, tmp_path,
                                                events_stream_dir):
    """Per-window HLL registers: streaming result equals the batch
    sketch exactly (same register algebra), state is bounded at 2^p
    rows per window, and per-window estimates land near the exact
    distinct counts."""
    from sleeper_spark.functions import cardinality

    to_ts = F.timestamp_micros(F.expr(f"ts div {_ts_per_us()}"))
    stream = _read_stream(spark, events_stream_dir).withColumn("ts", to_ts)
    out = streaming.windowed_approx_distinct(
        stream, "ts", "user_id", window="1 day", watermark="1 hour", p=8)
    q = (out.writeStream.format("memory").queryName("apxd")
         .outputMode("complete").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM apxd").collect()

    batch = spark.read.schema(EVENTS_READ_SCHEMA).parquet(events_stream_dir) \
        .withColumn("ts", to_ts)
    want = streaming.windowed_approx_distinct(
        batch, "ts", "user_id", window="1 day", p=8).collect()
    key = lambda r: (r.window_start, r.register, r.rho_max)
    assert sorted(map(key, got)) == sorted(map(key, want))

    # bounded state: never more than 2^p register rows per window
    from collections import Counter
    per_win = Counter(r.window_start for r in got)
    assert per_win and max(per_win.values()) <= 256

    # estimates per window vs exact distinct per window
    exact = {r.d: r.n for r in batch.groupBy(
        F.date_trunc("day", "ts").alias("d")).agg(
        F.countDistinct("user_id").alias("n")).collect()}
    by_win = {}
    for r in got:
        by_win.setdefault(r.window_start, []).append((r.register, r.rho_max))
    assert set(by_win) == set(exact)
    for w, regs in by_win.items():
        est = cardinality.hll_estimate(regs, p=8)
        assert abs(est - exact[w]) <= max(2.0, 0.12 * exact[w]), (w, est, exact[w])


def test_interval_join_streams_matches_batch(spark, tmp_path,
                                             events_stream_dir):
    """Stream-stream interval join: views joined to the same user's
    clicks within 1 hour; the availableNow run must produce EXACTLY the
    batch join's rows (same plan, watermarks a no-op in batch)."""
    to_ts = F.timestamp_micros(F.expr(f"ts div {_ts_per_us()}"))

    def sides(df):
        views = df.where(F.col("event_type") == "view").select(
            "user_id", to_ts.alias("view_ts"),
            F.col("event_id").alias("view_id"))
        clicks = df.where(F.col("event_type") == "click").select(
            "user_id", to_ts.alias("click_ts"),
            F.col("event_id").alias("click_id"))
        return views, clicks

    sv, sc = sides(_read_stream(spark, events_stream_dir))
    out = streaming.interval_join_streams(
        sv, sc, on=["user_id"], left_ts="view_ts", right_ts="click_ts",
        max_delay="1 hour")
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("ivj")
         .outputMode("append").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    q.awaitTermination(120)
    got = {(r.view_id, r.click_id)
           for r in spark.sql("SELECT * FROM ivj").collect()}

    bv, bc = sides(spark.read.schema(EVENTS_READ_SCHEMA)
                   .parquet(events_stream_dir))
    want = {(r.view_id, r.click_id)
            for r in streaming.interval_join_streams(
                bv, bc, on=["user_id"], left_ts="view_ts",
                right_ts="click_ts", max_delay="1 hour").collect()}
    assert got == want
    assert len(got) > 0
    # one copy of the join key survives
    assert [c for c in spark.table("ivj").columns].count("user_id") == 1


def test_interval_join_requires_distinct_ts_names(spark,
                                                  events_stream_dir):
    s = _read_stream(spark, events_stream_dir)
    with pytest.raises(ValueError):
        streaming.interval_join_streams(s, s, on=["user_id"],
                                        left_ts="ts", right_ts="ts")


def test_streaming_funnel_matches_batch_and_late_arrival(spark, tmp_path):
    """The continuous funnel must converge to the batch funnel's
    counts even under ADVERSARIAL cross-batch arrival order: clicks
    and purchases land in earlier micro-batches than the views that
    enable them (maxFilesPerTrigger=1 pins the batch boundaries), so a
    greedy reach-only state would undercount every stage past 0."""
    from sleeper_spark.functions.timeseries import funnel_counts

    rows_late = [  # batch 1: effects before causes
        (1, "click", 200), (1, "purchase", 300),
        (2, "click", 150),
        (3, "purchase", 50),
    ]
    rows_early = [  # batch 2: the enabling views (and one more hop)
        (1, "view", 100),
        (2, "view", 100), (2, "purchase", 175),  # view<click<purchase: full depth
        (3, "view", 100),  # purchase at 50 precedes the view: no hop
        (4, "view", 500),
    ]
    src = tmp_path / "fsrc"
    src.mkdir()
    schema = "user_id long, event_type string, ts long"
    spark.createDataFrame(rows_late, schema).coalesce(1) \
        .write.parquet(str(src / "b1"))
    spark.createDataFrame(rows_early, schema).coalesce(1) \
        .write.parquet(str(src / "b2"))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(str(src / "*")))
    out = streaming.streaming_funnel(
        stream, ["view", "click", "purchase"], ts_col="ts")
    q = (out.writeStream.format("memory").queryName("sfunnel")
         .outputMode("update").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "fckpt")).start())
    q.awaitTermination(120)
    got = {r.user: r.d for r in spark.sql(
        "SELECT user, max(depth) AS d FROM sfunnel GROUP BY user"
    ).collect()}
    assert got == {1: 3, 2: 3, 3: 1, 4: 1}
    # and the per-step counts equal the batch operator's on this data
    batch = spark.createDataFrame(rows_late + rows_early, schema)
    want = {r.step_index: r.n_users for r in funnel_counts(
        batch, ["view", "click", "purchase"], ts_col="ts").collect()}
    counts = {i: sum(1 for d in got.values() if d >= i + 1)
              for i in range(3)}
    assert counts == want == {0: 4, 1: 2, 2: 2}


def test_streaming_funnel_max_gap_and_cap(spark, tmp_path):
    rows = [(1, "view", 100), (1, "click", 5000),
            (2, "view", 100), (2, "click", 150)]
    schema = "user_id long, event_type string, ts long"
    src = tmp_path / "gsrc"
    src.mkdir()
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.parquet(str(src / "b1"))
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    out = streaming.streaming_funnel(
        stream, ["view", "click"], ts_col="ts", max_gap=100)
    q = (out.writeStream.format("memory").queryName("gfunnel")
         .outputMode("update").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "gckpt")).start())
    q.awaitTermination(120)
    got = {r.user: r.d for r in spark.sql(
        "SELECT user, max(depth) AS d FROM gfunnel GROUP BY user"
    ).collect()}
    assert got == {1: 1, 2: 2}  # user 1's click misses the 100-gap
    with pytest.raises(ValueError, match="at least one step"):
        streaming.streaming_funnel(stream, [])


def test_streaming_heavy_hitters_cross_batch_exact(spark, tmp_path):
    """MG state must persist across micro-batches and the finalize
    recount must trim candidate noise exactly: a cold-value flood in
    batch 1 forces decrements before the true heavy hitter's bulk
    arrives in batch 2 (maxFilesPerTrigger=1 pins the boundaries)."""
    b1 = [("hot",)] * 30 + [(f"cold{i}",) for i in range(299)]
    b2 = [("hot",)] * 171 + [("warm",)] * 60 + \
         [(f"late{i}",) for i in range(40)]
    src = tmp_path / "hhsrc"
    src.mkdir()
    spark.createDataFrame(b1, "v string").coalesce(1) \
        .write.parquet(str(src / "b1"))
    spark.createDataFrame(b2, "v string").coalesce(1) \
        .write.parquet(str(src / "b2"))
    stream = (spark.readStream.schema("v string")
              .option("maxFilesPerTrigger", "1").parquet(str(src / "*")))
    out = streaming.streaming_heavy_hitters(stream, "v", k=3,
                                            n_buckets=4)
    q = (out.writeStream.format("memory").queryName("shh")
         .outputMode("update").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "hhckpt")).start())
    q.awaitTermination(120)
    batch = spark.createDataFrame(b1 + b2, "v string")
    got = {(r.v, r.n_rows) for r in streaming.finalize_heavy_hitters(
        spark.table("shh"), batch, "v", k=3).collect()}
    n = len(b1) + len(b2)
    want = {}
    for (v,) in b1 + b2:
        want[v] = want.get(v, 0) + 1
    want = {(v, c) for v, c in want.items() if c * 3 > n}
    assert got == want
    # n = 600: hot (201*3 = 603 > 600) is in; warm (60) and the cold
    # flood are out — the recount trimmed every surviving candidate
    assert ("hot", 201) in got and len(got) == 1


def test_streaming_sessionize_bridge_event_merges(spark, tmp_path):
    """A late event that lands INSIDE a gap must merge the two sessions
    around it — the case incremental per-session counters get wrong.
    Batch 1: THREE sessions ({0,100}, {2500}, {5000,5100}) with gap
    1000. Batch 2: events at 900 and 1800 chain-bridge the first two:
    100->900 (800 apart), 900->1800 (900), 1800->2500 (700);
    2500->5000 stays a gap.
    Final: sessions {0,100,900,1800,2500} and {5000,5100} -> 2 sessions,
    max len 5."""
    b1 = [(1, 0), (1, 100), (1, 2500), (1, 5000), (1, 5100), (2, 7)]
    b2 = [(1, 900), (1, 1800), (2, 7)]  # dup (2,7) collapses
    src = tmp_path / "ssrc"
    src.mkdir()
    schema = "user_id long, ts long"
    spark.createDataFrame(b1, schema).coalesce(1) \
        .write.parquet(str(src / "b1"))
    spark.createDataFrame(b2, schema).coalesce(1) \
        .write.parquet(str(src / "b2"))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(str(src / "*")))
    out = streaming.streaming_sessionize(stream, "user_id", "ts",
                                         gap=1000)
    q = (out.writeStream.format("memory").queryName("ssz")
         .outputMode("update").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "sckpt")).start())
    q.awaitTermination(120)
    got = {r.key: (r.n_sessions, r.span_micros, r.max_session_len)
           for r in spark.sql(
               "SELECT key, max_by(n_sessions, upd) AS n_sessions, "
               "max_by(span_micros, upd) AS span_micros, "
               "max_by(max_session_len, upd) AS max_session_len "
               "FROM ssz GROUP BY key").collect()}
    assert got[1] == (2, 5100, 5)
    assert got[2] == (1, 0, 1)
    # and mid-stream the count was transiently HIGHER (3 sessions
    # after batch 1): the update stream recorded both states
    hist = sorted(r.n_sessions for r in spark.sql(
        "SELECT n_sessions FROM ssz WHERE key = 1").collect())
    assert hist == [2, 3]


def test_streaming_retention_late_event_recohorts(spark, tmp_path):
    """A late EARLIER event must RE-COHORT its user, shifting every
    offset — the case incremental (cohort, offset) counters cannot
    undo. Day = 100 units here. Batch 1: user 1 active at days 5 and 7
    (cohort 5, offsets {0, 2}); user 2 at day 5. Batch 2: user 1's
    LATE event at day 3 arrives — cohort moves to 3, offsets become
    {0, 2, 4}. Final table must equal the batch operator on the full
    data."""
    from sleeper_spark.functions.timeseries import retention_cohorts

    b1 = [(1, 500), (1, 510), (1, 700), (2, 500)]
    b2 = [(1, 300), (2, 501)]  # late day-3 event; dup day for user 2
    src = tmp_path / "rsrc"
    src.mkdir()
    schema = "user_id long, ts long"
    spark.createDataFrame(b1, schema).coalesce(1) \
        .write.parquet(str(src / "b1"))
    spark.createDataFrame(b2, schema).coalesce(1) \
        .write.parquet(str(src / "b2"))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(str(src / "*")))
    out = streaming.streaming_retention(stream, "user_id", "ts",
                                        period=100)
    q = (out.writeStream.format("memory").queryName("sret")
         .outputMode("update").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "rckpt")).start())
    q.awaitTermination(120)
    got = {(r.cohort, r.period_offset): r.n_users for r in spark.sql(
        "SELECT cohort, period_offset, count(*) AS n_users FROM ("
        "SELECT user, max_by(cohort, upd) AS cohort, "
        "explode(max_by(offsets, upd)) AS period_offset "
        "FROM sret GROUP BY user) GROUP BY cohort, period_offset"
    ).collect()}
    batch = spark.createDataFrame(b1 + b2, schema)
    want = {(r.cohort, r.period_offset): r.n_users
            for r in retention_cohorts(batch, "user_id", "ts",
                                       period=100).collect()}
    assert got == want
    assert got[(3, 0)] == 1 and got[(3, 4)] == 1  # re-cohorted user 1
    assert got[(5, 0)] == 1                        # user 2 stayed
    assert (5, 2) not in got  # user 1's old cohort rows are gone
    # mid-stream the user really was in cohort 5 (update history)
    hist = sorted(r.cohort for r in spark.sql(
        "SELECT cohort FROM sret WHERE user = 1").collect())
    assert hist == [3, 5]


def test_streaming_retention_guards(spark, tmp_path):
    src = tmp_path / "rgsrc"
    src.mkdir()
    spark.createDataFrame([(1, 5)], "user_id long, ts long") \
        .coalesce(1).write.parquet(str(src / "b"))
    stream = spark.readStream.schema("user_id long, ts long") \
        .parquet(str(src / "*"))
    with pytest.raises(ValueError, match="period must be"):
        streaming.streaming_retention(stream, "user_id", "ts", period=0)


def test_streaming_sessionize_guards(spark, tmp_path):
    src = tmp_path / "gsrc"
    src.mkdir()
    spark.createDataFrame([(1, 5)], "user_id long, ts long") \
        .coalesce(1).write.parquet(str(src / "b"))
    stream = spark.readStream.schema("user_id long, ts long") \
        .parquet(str(src / "*"))
    with pytest.raises(ValueError, match="gap must be"):
        streaming.streaming_sessionize(stream, "user_id", "ts", gap=0)


def test_interval_join_query_leaves_parent_conf_untouched(spark):
    """The registry interval-join sizes its state partitioning in a
    CLONED session: the parent session's shuffle partitioning must be
    identical before and after (the round-7 concurrency nit)."""
    import sys
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import __spark_entry__ as em
    before = spark.conf.get("spark.sql.shuffle.partitions")
    out = em.q_streaming_interval_join(spark, SF_DIR)
    assert out.count() >= 0
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_change_feed_tail_builds_one_frame_per_drain(spark, tmp_path,
                                                     monkeypatch):
    """drain takes only the window bound from the shared code: the
    window's rows are read once, by the landing, not also by a
    discarded poll_changes frame."""
    schema = Schema((Field("k", T.LongType()),), (),
                    (Field("v", T.LongType(), True),))
    t = SleeperTable.create(spark, str(tmp_path / "t"), schema)
    tail = streaming.ChangeFeedTail(t, str(tmp_path / "stage"))
    t.ingest(spark.range(10).selectExpr("id AS k", "id AS v"))
    built = {"n": 0}
    real = t.added_rows_between

    def counting(*a, **kw):
        built["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(t, "added_rows_between", counting)
    assert tail.drain() == 10
    assert built["n"] == 1
    with pytest.raises(ValueError, match="max_seqs must be >= 1"):
        streaming.ChangeFeedTail(t, str(tmp_path / "s2"), 0).drain()
