"""Results outputs (S5) and bulk export (S6).

Reference surfaces:
- Query results go to S3 Parquet, SQS JSON messages, or WebSocket frames
  (S3ResultsOutput/SQSResultsOutput/WebSocketResultsOutput, SURVEY §2.1
  S5). Spark-native: ``df.write.parquet`` / JSON-lines; the queue/socket
  transports are driver-side concerns fed by ``toJSON`` batches, stubbed
  here behind a callback.
- Bulk export re-reads the whole table through the compaction read path,
  one job per leaf partition (BulkExportQuerySplitter.java:43,106). Spark
  shape: ONE job over all leaves — the zero-shuffle sorted scan with a
  partitionBy write — emitting one sorted file per leaf.
"""

from __future__ import annotations

import abc
import json
import os
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame

from sleeper_spark.table import SleeperTable

EXPORT_COL = "__sleeper_export_partition__"


def write_results_parquet(results: DataFrame, dest: str,
                          compression: str = "zstd") -> str:
    """S3ResultsOutput analog: persist query results as Parquet."""
    results.write.option("compression", compression).parquet(dest)
    return dest


def write_results_json(results: DataFrame, dest: str) -> str:
    """JSON-lines results (the payload format of the SQS/WebSocket sinks)."""
    results.write.json(dest)
    return dest


def stream_results_json(results: DataFrame,
                        send: Callable[[str], None],
                        batch_size: int = 1000) -> int:
    """SQS/WebSocket-style sink: hand JSON rows to a transport callback in
    batches without materialising the full result on the driver
    (``toLocalIterator`` pulls one partition at a time)."""
    n = 0
    batch: list[str] = []
    it: Iterator = results.toJSON().toLocalIterator()
    for row in it:
        batch.append(row)
        if len(batch) >= batch_size:
            send("\n".join(batch))
            n += len(batch)
            batch = []
    if batch:
        send("\n".join(batch))
        n += len(batch)
    return n


# ---------------------------------------------------------------------------
# Pluggable results transports (S5 parity-plus)
# ---------------------------------------------------------------------------
#
# The reference routes query results through a ResultsOutput interface
# with per-destination impls selected by configuration
# (java/query/query-runner/src/main/java/sleeper/query/runner/output/
# S3ResultsOutput.java, SQSResultsOutput.java,
# WebSocketResultsOutput.java; each returns a ResultsOutputInfo with the
# published locations). The in-process analogs below share that
# contract so a user can plug a queue/websocket/custom sink WITHOUT
# touching the query path: implement publish(), hand the instance to
# whatever runs the query.

@dataclass
class ResultsOutputInfo:
    """Where one query's results went (ResultsOutputInfo.java analog):
    the published locations, the row count when the transport had to
    materialise it anyway (callback sinks; file sinks leave it None
    rather than re-scan), and the error if publishing failed partway."""
    query_id: str
    locations: list[str] = field(default_factory=list)
    rows: int | None = None
    error: str | None = None


class ResultsOutput(abc.ABC):
    """One query-results destination. Implementations must be safe to
    reuse across queries (the reference constructs one per query from
    config; here an instance is the config)."""

    @abc.abstractmethod
    def publish(self, query_id: str, results: DataFrame) -> ResultsOutputInfo:
        """Deliver ``results`` for ``query_id``; never raises — failures
        are reported in ``.error`` so a runner can record them in the
        query tracker (the reference contract)."""


class ParquetResultsOutput(ResultsOutput):
    """S3ResultsOutput analog: one Parquet directory per query under a
    base path."""

    def __init__(self, base_dir: str, compression: str = "zstd"):
        self.base_dir = base_dir
        self.compression = compression

    def publish(self, query_id: str, results: DataFrame) -> ResultsOutputInfo:
        dest = os.path.join(self.base_dir, query_id)
        try:
            write_results_parquet(results, dest, self.compression)
            return ResultsOutputInfo(query_id, [dest])
        except Exception as e:  # noqa: BLE001
            return ResultsOutputInfo(query_id, [], error=f"{type(e).__name__}: {e}")


class JsonFileResultsOutput(ResultsOutput):
    """JSON-lines per query — the payload format of the queue sinks,
    landed to files."""

    def __init__(self, base_dir: str):
        self.base_dir = base_dir

    def publish(self, query_id: str, results: DataFrame) -> ResultsOutputInfo:
        dest = os.path.join(self.base_dir, query_id)
        try:
            write_results_json(results, dest)
            return ResultsOutputInfo(query_id, [dest])
        except Exception as e:  # noqa: BLE001
            return ResultsOutputInfo(query_id, [], error=f"{type(e).__name__}: {e}")


class CallbackResultsOutput(ResultsOutput):
    """SQS/WebSocket analog: batches of JSON-line payloads handed to a
    transport callable (queue producer, socket send, test recorder) —
    results stream through ``toLocalIterator``, never fully
    materialised on the driver."""

    def __init__(self, send: Callable[[str], None], batch_size: int = 1000,
                 location: str = "callback"):
        self.send = send
        self.batch_size = batch_size
        self.location = location

    def publish(self, query_id: str, results: DataFrame) -> ResultsOutputInfo:
        try:
            n = stream_results_json(results, self.send, self.batch_size)
            return ResultsOutputInfo(query_id, [self.location], rows=n)
        except Exception as e:  # noqa: BLE001
            return ResultsOutputInfo(query_id, [self.location],
                                     error=f"{type(e).__name__}: {e}")


class SpoolQueueResultsOutput(ResultsOutput):
    """Message-queue transport over a spool DIRECTORY — the runnable
    analog of the reference's SQSResultsOutput
    (java/query/query-runner/src/main/java/sleeper/query/runner/output/
    SQSResultsOutput.java: results as batched JSON messages on a queue;
    this container has no queue service, so the queue is a directory
    any consumer — or a real queue forwarder — tails).

    Exactly-once delivery contract:

    - each ≤``batch_size``-row message lands as
      ``{query_id}-{seq:06d}.jsonl`` via hidden-temp write + atomic
      ``os.replace`` — consumers never observe a torn message;
    - the COMMIT POINT is the ``{query_id}.done`` marker (message and
      row counts inside), written last: a publisher crash mid-stream
      leaves messages but no marker, and the retry REWRITES the same
      deterministic names then re-attempts the marker — consumers that
      honor the marker see each query's results exactly once, however
      many times publish() ran;
    - re-publishing a completed query_id is a refused no-op (the
      marker exists; queues do not deliver twice).

    Streaming-shaped like the callback sink: ``toLocalIterator`` pulls
    one partition at a time, so the driver holds one batch, never the
    result set."""

    def __init__(self, spool_dir: str, batch_size: int = 1000):
        self.spool_dir = spool_dir
        self.batch_size = batch_size

    def _land(self, name: str, payload: str) -> str:
        tmp = os.path.join(self.spool_dir, f".tmp-{name}")
        final = os.path.join(self.spool_dir, name)
        with open(tmp, "w") as f:
            f.write(payload)
        os.replace(tmp, final)
        return final

    def publish(self, query_id: str, results: DataFrame) -> ResultsOutputInfo:
        try:
            os.makedirs(self.spool_dir, exist_ok=True)
            marker = os.path.join(self.spool_dir, f"{query_id}.done")
            if os.path.exists(marker):
                return ResultsOutputInfo(
                    query_id, [marker],
                    error="already published (marker exists) — a queue "
                          "does not deliver twice; use a new query_id")
            seq = n = 0
            batch: list[str] = []

            def flush():
                nonlocal seq, n, batch
                if batch:
                    self._land(f"{query_id}-{seq:06d}.jsonl",
                               "\n".join(batch))
                    seq += 1
                    n += len(batch)
                    batch = []

            for row in results.toJSON().toLocalIterator():
                batch.append(row)
                if len(batch) >= self.batch_size:
                    flush()
            flush()
            self._land(f"{query_id}.done",
                       json.dumps({"messages": seq, "rows": n}))
            return ResultsOutputInfo(query_id, [self.spool_dir], rows=n)
        except Exception as e:  # noqa: BLE001
            return ResultsOutputInfo(query_id, [self.spool_dir],
                                     error=f"{type(e).__name__}: {e}")


def read_spool(spool_dir: str, query_id: str) -> list[dict]:
    """Consumer side of :class:`SpoolQueueResultsOutput`: the committed
    rows of one query, in message order — raises if the query has no
    ``.done`` marker (uncommitted: the publisher crashed or is still
    streaming) or if the marker's counts disagree with the spool (a
    torn queue — atomic replace makes this unreachable without manual
    tampering)."""
    marker = os.path.join(spool_dir, f"{query_id}.done")
    if not os.path.exists(marker):
        raise FileNotFoundError(
            f"query {query_id!r} is not committed in {spool_dir!r} "
            "(no .done marker)")
    with open(marker) as f:
        meta = json.load(f)
    rows: list[dict] = []
    for i in range(meta["messages"]):
        with open(os.path.join(spool_dir,
                               f"{query_id}-{i:06d}.jsonl")) as f:
            rows.extend(json.loads(ln) for ln in f.read().splitlines())
    if len(rows) != meta["rows"]:
        raise ValueError(
            f"spool for {query_id!r} holds {len(rows)} rows, marker "
            f"says {meta['rows']} — torn queue")
    return rows


def results_output_from_config(config: dict[str, Any]) -> ResultsOutput:
    """Build a transport from a config map — the reference's
    query-processing-config flavor (``resultsOutput`` type + per-type
    properties, QueryProcessingConfig.java). Types: ``parquet``,
    ``json``, ``callback``, ``spool``."""
    kind = config.get("type", "parquet")
    if kind == "parquet":
        return ParquetResultsOutput(
            config["base_dir"], config.get("compression", "zstd"))
    if kind == "json":
        return JsonFileResultsOutput(config["base_dir"])
    if kind == "callback":
        return CallbackResultsOutput(
            config["send"], int(config.get("batch_size", 1000)),
            config.get("location", "callback"))
    if kind == "spool":
        return SpoolQueueResultsOutput(
            config["spool_dir"], int(config.get("batch_size", 1000)))
    raise ValueError(f"unknown results output type {kind!r}; "
                     "expected parquet | json | callback | spool")


def bulk_export(table: SleeperTable, dest: str) -> dict[str, str]:
    """S6: export the whole table, one sorted file per leaf partition, in
    ONE Spark job (the reference runs one job per leaf; SQS fan-out →
    Spark tasks). Table filters/aggregations apply, so the export is the
    user-visible collapsed view. Returns {leaf_partition_id: file}.

    Zero-shuffle: the export rides ``sorted_scan`` — one task per leaf
    merges its sorted runs and ``partitionBy`` writes that task's leaf
    directly, so the plan has NO exchange and NO re-sort; custom
    iterators apply as DataFrame transforms, which keep the leaf tag.
    At 100 TB the export is then pure streaming IO.
    """
    from sleeper_spark.sorted_scan import distributed_sorted_scan

    df = distributed_sorted_scan(table, leaf_id_col=EXPORT_COL)
    (
        df.write.option("compression", table.props.compression)
        .partitionBy(EXPORT_COL)
        .parquet(dest)
    )
    return _exported_files(table.store.tree, dest)


def _exported_files(tree, dest: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for leaf in tree.leaves():
        d = os.path.join(dest, f"{EXPORT_COL}={leaf.id}")
        if os.path.isdir(d):
            files = [f for f in os.listdir(d) if f.endswith(".parquet")]
            if files:
                out[leaf.id] = os.path.join(d, files[0])
    return out
