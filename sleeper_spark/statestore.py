"""Transaction-log state store: table metadata (partitions + file refs).

Reference semantics (docs/design.md:135-199; core/statestore/):
- Table state = the partition tree + file references. A ``FileReference``
  points a physical file at one partition with a row count; one physical
  file may be referenced by several partitions (after a split, before
  compaction) (FileReference.java:29-35).
- All mutations are transactions appended to a log; state is rebuilt by
  replaying the log (snapshots make that O(1)). All 10 transaction types
  of core/statestore/transactionlog/transaction/impl/ are implemented:
  ADD_FILES, REPLACE_FILE_REFERENCES (compaction commit),
  SPLIT_PARTITION, EXTEND_PARTITION_TREE (atomic multi-split),
  ASSIGN_JOB_IDS, SPLIT_FILE_REFERENCES, INITIALISE_PARTITIONS,
  CLEAR_PARTITIONS, DELETE_FILES, CLEAR_FILES — plus the
  beyond-reference MERGE_FILES (atomic replace+add, merge.py).

Implementation: each transaction is one JSON file
``<table>/statestore/transactions/{seq:012d}.json`` created with
O_CREAT|O_EXCL — an atomic "put-if-absent", the same single-writer
optimistic-concurrency primitive the reference gets from DynamoDB
conditional writes and Delta Lake gets from its log. A writer that loses
the race re-reads and retries. Snapshots are written every
``SNAPSHOT_EVERY`` transactions so cold loads replay a bounded suffix.

This is driver-side metadata only — it never touches row data and is
deliberately tiny; at 100 TB the log holds O(#files) entries, not O(rows).
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from dataclasses import dataclass, replace
from typing import Any, Iterable

from sleeper_spark.partitions import Partition, PartitionTree
from sleeper_spark.schema import Schema

SNAPSHOT_EVERY = 100

#: a completed log/snapshot artifact: 12-digit sequence + .json — tmp
#: files from crashed writers never match
_COMPLETED_NAME = re.compile(r"^\d{12}\.json$")


@dataclass(frozen=True)
class FileReference:
    """A file's membership in one partition (FileReference.java:29-35)."""

    filename: str
    partition_id: str
    number_of_rows: int
    job_id: str | None = None
    count_approximate: bool = False
    only_contains_data_for_this_partition: bool = True
    last_update_time: float = 0.0

    def to_json(self) -> dict[str, Any]:
        return {
            "filename": self.filename,
            "partitionId": self.partition_id,
            "numberOfRows": self.number_of_rows,
            "jobId": self.job_id,
            "countApproximate": self.count_approximate,
            "onlyContainsDataForThisPartition": self.only_contains_data_for_this_partition,
            "lastUpdateTime": self.last_update_time,
        }

    @staticmethod
    def from_json(d: dict[str, Any]) -> "FileReference":
        return FileReference(
            d["filename"], d["partitionId"], d["numberOfRows"], d.get("jobId"),
            d.get("countApproximate", False),
            d.get("onlyContainsDataForThisPartition", True),
            d.get("lastUpdateTime", 0.0),
        )


class StateStoreException(Exception):
    pass


class TransactionConflict(StateStoreException):
    """Another writer committed this sequence number first — reload and retry."""


def unassigned_job_ids(tx: dict[str, Any]) -> list[str]:
    """The job ids an UNASSIGN_JOB_IDS record releases; records written
    before one record could release several carry a single ``jobId``."""
    return tx["jobIds"] if "jobIds" in tx else [tx["jobId"]]


#: change feed -> {transaction type: field listing the feed's files}:
#: appended rows (ingests, a merge's inserts), removed rows (the
#: tombstones of a delete, update or merge) and update_where's new rows
FEED_FIELDS = {
    "added": {"ADD_FILES": "files", "MERGE_FILES": "addFiles"},
    "deleted": {"REPLACE_FILE_REFERENCES": "tombstones",
                "MERGE_FILES": "tombstones"},
    "updated": {"REPLACE_FILE_REFERENCES": "updates"},
}


def feed_files(txs: Iterable[tuple[int, dict[str, Any]]],
               kind: str) -> list[str]:
    """The distinct files feed ``kind`` reads from ``(seq, tx)`` pairs,
    sorted (ADD_FILES lists a file once per partition reference)."""
    fields = FEED_FIELDS[kind]
    return sorted({f if isinstance(f, str) else f["filename"]
                   for _seq, tx in txs if tx.get("type") in fields
                   for f in tx.get(fields[tx["type"]], ())})


class StateStore:
    """Append-only transaction log over a local/posix directory.

    In-memory state: ``tree`` (PartitionTree) and ``files``:
    {filename: {partition_id: FileReference}}. ``gc_queue`` holds filenames
    with zero references awaiting garbage collection (docs/design.md:331-343).
    """

    def __init__(self, path: str, schema: Schema):
        self.path = path
        self.schema = schema
        self.tx_dir = os.path.join(path, "transactions")
        self.snap_dir = os.path.join(path, "snapshots")
        os.makedirs(self.tx_dir, exist_ok=True)
        os.makedirs(self.snap_dir, exist_ok=True)
        self.tree: PartitionTree | None = None
        self.files: dict[str, dict[str, FileReference]] = {}
        self.gc_queue: dict[str, float] = {}  # filename -> time dereferenced
        self.ingest_jobs_seen: set[str] = set()  # idempotent ADD_FILES ids
        self._seq = 0
        # query-planner caching (QueryPlanner.java:111-149): wall-clock of
        # the last staleness check + a per-log-version partition->files
        # index so repeated point queries plan in O(ancestors) dict hits
        self._refreshed_at = time.time()
        self._index_seq = -1
        self._files_by_partition: dict[str, list[FileReference]] = {}
        self._read_only = False
        self._load()

    # ------------------------------------------------------------------
    # log machinery
    # ------------------------------------------------------------------
    def _completed(self, d: str) -> list[tuple[int, str]]:
        """Sorted (seq, name) of COMPLETED artifacts in a log dir — a
        crash inside a writer can leave .tmp-* files with truncated
        JSON, which must never be read (or lexicographically win)."""
        if not os.path.isdir(d):
            return []
        return sorted(
            (int(n.split(".")[0]), n)
            for n in os.listdir(d) if _COMPLETED_NAME.match(n))

    def check_writable(self) -> None:
        """Raise before ANY side effect (data-file writes included) on a
        read-only time-travel view — failing only at commit time would
        already have orphaned the written files."""
        if getattr(self, "_read_only", False):
            raise StateStoreException(
                "historical view (state_at) is read-only")

    def _load(self) -> None:
        self.tree = None
        self.files = {}
        self.gc_queue = {}
        self.ingest_jobs_seen = set()
        self._seq = 0
        snaps = self._completed(self.snap_dir)
        if snaps:
            with open(os.path.join(self.snap_dir, snaps[-1][1])) as f:
                snap = json.load(f)
            self._restore_snapshot(snap)
            self._seq = snap["seq"]
        for seq, name in self._completed(self.tx_dir):
            if seq <= self._seq:
                continue
            if seq != self._seq + 1:
                # a hole past the snapshot (improper manual archival,
                # partial restore): applying across it would silently
                # build wrong state and could re-commit it as new
                # transactions — refuse loudly instead
                raise StateStoreException(
                    f"transaction log has a gap: replayed to {self._seq}, "
                    f"next available transaction is {seq}")
            with open(os.path.join(self.tx_dir, name)) as f:
                tx = json.load(f)
            self._apply(tx)
            self._seq = seq

    #: attempts before surfacing a conflict (the reference's
    #: TransactionLogHead retries with exponential backoff; local file
    #: races resolve immediately after a reload)
    MAX_COMMIT_ATTEMPTS = 20

    def _commit_with_retry(self, build) -> bool:
        """Optimistic-concurrency loop: build the transaction against
        current state (validations raise BEFORE anything is written — a
        post-write validation failure would poison the log), try to take
        the next sequence number, and on losing the race reload and
        retry. Mirrors the reference's transaction-log update loop.

        Returns True if a transaction was committed, False if ``build``
        decided (possibly only after a reload) there is nothing to do —
        callers use this to clean up side effects of a no-op commit
        (e.g. an ingest replay's already-written data files)."""
        for _ in range(self.MAX_COMMIT_ATTEMPTS):
            tx = build()
            if tx is None:
                return False  # nothing left to do after re-validation
            try:
                self._commit(tx)
                return True
            except TransactionConflict:
                self._load()
        raise TransactionConflict(
            f"gave up after {self.MAX_COMMIT_ATTEMPTS} attempts")

    def state_at(self, seq: int) -> "StateStore":
        """Time travel: a READ-ONLY view of the table state as of
        transaction ``seq`` (1-based; 0 = empty pre-init state).

        The append-only log makes this free: replay transactions
        1..seq into a detached view (snapshots are an acceleration for
        ``_load`` only — the full log is retained, so any historical
        seq is reachable). Commits through the view raise.

        Caveat (inherent to any log-compacted store, same as
        Delta/Iceberg VACUUM): data files dereferenced before ``seq``'s
        horizon may already be garbage-collected — the GC delay
        (``collect_garbage`` min_age) is exactly the window that keeps
        recent history queryable. ``SleeperTable.as_of`` validates file
        existence and names what GC took.
        """
        if seq < 0 or seq > self._seq:
            raise ValueError(
                f"seq {seq} out of range: log is at {self._seq}")
        view = StateStore.__new__(StateStore)
        view.path, view.schema = self.path, self.schema
        view.tx_dir, view.snap_dir = self.tx_dir, self.snap_dir
        view.tree = None
        view.files = {}
        view.gc_queue = {}
        view.ingest_jobs_seen = set()
        view._seq = 0
        view._refreshed_at = time.time()
        view._index_seq = -1
        view._files_by_partition = {}
        view._read_only = True
        # start from the newest snapshot at-or-before seq (same
        # acceleration _load uses), then replay the remainder
        snaps = [(s, n) for s, n in self._completed(self.snap_dir)
                 if s <= seq]
        if snaps:
            with open(os.path.join(self.snap_dir, snaps[-1][1])) as f:
                snap = json.load(f)
            view._restore_snapshot(snap)
            view._seq = snap["seq"]
        for s, name in self._completed(self.tx_dir):
            if s <= view._seq:
                continue
            if s > seq:
                break
            if s != view._seq + 1:
                # a gap (archived transactions) — applying across it
                # would silently reconstruct WRONG state
                break
            with open(os.path.join(self.tx_dir, name)) as f:
                tx = json.load(f)
            view._apply(tx)
            view._seq = s
        if view._seq != seq:
            raise StateStoreException(
                f"log is missing transactions: wanted seq {seq}, "
                f"contiguous replay reached {view._seq} (older history "
                "was archived by delete_old_transactions)")
        return view

    def seq_at_time(self, ts: float) -> int:
        """Largest committed seq whose transaction file was written at
        or before unix-time ``ts`` (file mtimes ARE the commit times:
        each transaction is fsync'd then linked once).

        Raises if ``ts`` falls inside ARCHIVED history (the oldest
        retained transaction is both younger than ``ts``-unreachable
        and not seq 1): mapping such a timestamp to seq 0 would make
        ``as_of(timestamp=...)`` silently read an empty pre-init table
        instead of surfacing that the history was compacted away."""
        txs = self._completed(self.tx_dir)
        best = 0
        for seq, name in txs:
            if os.path.getmtime(os.path.join(self.tx_dir, name)) <= ts:
                best = seq
            else:
                break
        archived_before = (txs[0][0] if txs
                           else self._seq + 1 if self._seq else 1)
        if best == 0 and archived_before != 1:
            # The retained TAIL starts after ts — but a snapshot written
            # at-or-before ts is still a servable state point (state_at
            # replays snapshot+tail, and the snapshot IS the state at its
            # own seq). Without this, a fully-archived log (snapshot-only
            # store after delete_old_transactions) would reject EVERY
            # timestamp, including ones after the head commit. Snapshot
            # mtime >= its head transaction's commit time, so mapping
            # ts >= mtime to the snapshot's seq never claims a state
            # newer than what was actually committed by ts.
            covered = [
                s for s, n in self._completed(self.snap_dir)
                if os.path.getmtime(os.path.join(self.snap_dir, n)) <= ts]
            if covered:
                return max(covered)
            raise StateStoreException(
                f"timestamp {ts} precedes the retained history: "
                f"transactions before seq {archived_before} were archived "
                "(delete_old_transactions)")
        return best

    @property
    def current_seq(self) -> int:
        return self._seq

    def transactions_between(self, from_seq: int,
                             to_seq: int | None = None
                             ) -> list[tuple[int, dict[str, Any]]]:
        """The raw transactions in ``(from_seq, to_seq]``, in order —
        the change feed a downstream consumer tails. ``to_seq`` must be
        at or below the committed head: silently clamping would let a
        consumer checkpoint the seq it ASKED for rather than the seq it
        actually consumed, permanently dropping the difference from the
        feed — bounded polling goes through ``SleeperTable.poll_changes``,
        which computes and RETURNS the effective bound. Raises
        StateStoreException if any transaction in the range was archived
        (delete_old_transactions): a gap would silently drop changes."""
        if to_seq is not None and to_seq > self._seq:
            raise ValueError(
                f"to_seq {to_seq} is beyond the committed head "
                f"{self._seq}; use poll_changes for bounded polling — "
                "it returns the effective bound to checkpoint")
        to_seq = to_seq if to_seq is not None else self._seq
        if from_seq > to_seq:
            if from_seq > self._seq:
                raise ValueError(
                    f"from_seq {from_seq} is beyond the committed head "
                    f"{self._seq} — a stale/corrupt consumer checkpoint")
            raise ValueError(f"from_seq {from_seq} > to_seq {to_seq}")
        out: list[tuple[int, dict[str, Any]]] = []
        expected = from_seq + 1
        for s, name in self._completed(self.tx_dir):
            if s <= from_seq:
                continue
            if s > to_seq:
                break
            if s != expected:
                raise StateStoreException(
                    f"change feed has a gap: wanted seq {expected}, next "
                    f"retained transaction is {s} (history was archived)")
            with open(os.path.join(self.tx_dir, name)) as f:
                out.append((s, json.load(f)))
            expected = s + 1
        if expected != to_seq + 1:
            raise StateStoreException(
                f"change feed has a gap: transactions "
                f"{expected}..{to_seq} are not retained")
        return out

    def _commit(self, tx: dict[str, Any]) -> None:
        """Atomic append at seq+1; use :meth:`_commit_with_retry` for
        automatic conflict handling.

        Two-phase for crash safety: the payload is fully written (and
        flushed) to a private ``.tmp-`` file first, then ``os.link``
        claims the sequence-numbered name — link is atomic, fails with
        FileExistsError when another writer took the seq, and the final
        name only ever points at COMPLETE content. The old direct
        O_EXCL-create-then-write left a truncated JSON at the final name
        if the process died mid-dump, which poisoned every subsequent
        load AND deadlocked all writers on that seq forever."""
        if getattr(self, "_read_only", False):
            raise StateStoreException(
                "historical view (state_at) is read-only")
        seq = self._seq + 1
        path = os.path.join(self.tx_dir, f"{seq:012d}.json")
        tmp = os.path.join(
            self.tx_dir, f".tmp-{seq:012d}-{uuid.uuid4().hex[:8]}.json")
        with open(tmp, "w") as f:
            json.dump(tx, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
        except FileExistsError as e:
            raise TransactionConflict(f"transaction {seq} already committed") from e
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass
        self._apply(tx)
        self._seq = seq
        if seq % SNAPSHOT_EVERY == 0:
            self._write_snapshot()

    def _write_snapshot(self) -> None:
        snap = {
            "seq": self._seq,
            "partitions": self.tree.to_json() if self.tree else None,
            "files": [r.to_json() for refs in self.files.values() for r in refs.values()],
            "gcQueue": self.gc_queue,
            "ingestJobs": sorted(self.ingest_jobs_seen),
        }
        tmp = os.path.join(self.snap_dir, f".tmp-{self._seq:012d}.json")
        with open(tmp, "w") as f:
            json.dump(snap, f)
        os.replace(tmp, os.path.join(self.snap_dir, f"{self._seq:012d}.json"))

    def _restore_snapshot(self, snap: dict[str, Any]) -> None:
        if snap.get("partitions"):
            self.tree = PartitionTree.from_json(snap["partitions"], self.schema)
        for d in snap.get("files", []):
            r = FileReference.from_json(d)
            self.files.setdefault(r.filename, {})[r.partition_id] = r
        self.gc_queue = dict(snap.get("gcQueue", {}))
        self.ingest_jobs_seen = set(snap.get("ingestJobs", []))

    # ------------------------------------------------------------------
    # transaction application (replay)
    # ------------------------------------------------------------------
    def _apply(self, tx: dict[str, Any]) -> None:
        t = tx["type"]
        if t == "INITIALISE_PARTITIONS":
            self.tree = PartitionTree.from_json(tx["partitions"], self.schema)
        elif t == "ADD_FILES":
            jid = tx.get("jobId")
            if jid is not None:
                if jid in self.ingest_jobs_seen:
                    return  # idempotent ingest commit replayed
                self.ingest_jobs_seen.add(jid)
            for d in tx["files"]:
                r = FileReference.from_json(d)
                self.files.setdefault(r.filename, {})[r.partition_id] = r
        elif t == "REPLACE_FILE_REFERENCES":
            # compaction commit: remove input refs per partition, add the
            # output. One transaction carries MANY jobs
            # (ReplaceFileReferencesTransaction.java:54-59 holds a list);
            # the legacy single-job shape is still replayed.
            jobs = tx.get("jobs")
            if jobs is None:
                jobs = [{"partitionId": tx["partitionId"],
                         "inputFiles": tx["inputFiles"],
                         "outputFile": tx["outputFile"]}]
            for job in jobs:
                pid = job["partitionId"]
                for fn in job["inputFiles"]:
                    refs = self.files.get(fn, {})
                    refs.pop(pid, None)
                    if not refs:
                        self.files.pop(fn, None)
                        self.gc_queue[fn] = tx.get("time", 0.0)
                # a job may emit several disjoint sorted range-parts (the
                # subrange-parallel Arrow engine); legacy single-output
                # shape still replays
                outs = job.get("outputFiles")
                if outs is None:
                    outs = [job["outputFile"]]
                for d in outs:
                    out = FileReference.from_json(d)
                    self.files.setdefault(out.filename, {})[out.partition_id] = out
            # delete_where tombstones are never referenced: queue them
            # for GC at commit time so they live exactly as long as the
            # replaced inputs (the GC delay = the consumer-lag bound)
            for tomb in tx.get("tombstones", ()):
                self.gc_queue[tomb] = tx.get("time", 0.0)
        elif t == "MERGE_FILES":
            # atomic MERGE (merge.py): a REPLACE component (matched key
            # groups dropped from candidate files) and an ADD component
            # (the source batch's sorted per-leaf files) applied as ONE
            # state change — no interleaving, no half-upserted window
            jid = tx.get("jobId")
            if jid is not None:
                if jid in self.ingest_jobs_seen:
                    return  # idempotent merge commit replayed
                self.ingest_jobs_seen.add(jid)
            for job in tx["jobs"]:
                pid = job["partitionId"]
                for fn in job["inputFiles"]:
                    refs = self.files.get(fn, {})
                    refs.pop(pid, None)
                    if not refs:
                        self.files.pop(fn, None)
                        self.gc_queue[fn] = tx.get("time", 0.0)
                for d in job.get("outputFiles", ()):
                    out = FileReference.from_json(d)
                    self.files.setdefault(
                        out.filename, {})[out.partition_id] = out
            for d in tx.get("addFiles", ()):
                r = FileReference.from_json(d)
                self.files.setdefault(r.filename, {})[r.partition_id] = r
            for tomb in tx.get("tombstones", ()):
                self.gc_queue[tomb] = tx.get("time", 0.0)
        elif t == "SPLIT_PARTITION":
            assert self.tree is not None
            self.tree.apply_split(
                Partition.from_json(tx["parent"], self.schema),
                Partition.from_json(tx["left"], self.schema),
                Partition.from_json(tx["right"], self.schema),
            )
        elif t == "EXTEND_PARTITION_TREE":
            # atomic multi-split: updated leaves become internal, new
            # partitions appear (ExtendPartitionTreeTransaction.java:89-93)
            assert self.tree is not None
            for d in tx["updatePartitions"] + tx["newPartitions"]:
                self.tree.put(Partition.from_json(d, self.schema))
        elif t == "CLEAR_PARTITIONS":
            # invalidates everything; table must be re-initialised
            # (ClearPartitionsTransaction.java:20-24)
            self.tree = None
        elif t == "SPLIT_FILE_REFERENCES":
            # move a file ref one level down the tree: remove parent ref, add
            # child refs with halved (approximate) counts (docs/design.md:293-299)
            for mv in tx["moves"]:
                fn, parent = mv["filename"], mv["fromPartition"]
                old = self.files[fn].pop(parent)
                for cid in mv["toPartitions"]:
                    self.files[fn][cid] = replace(
                        old, partition_id=cid,
                        number_of_rows=max(1, old.number_of_rows // len(mv["toPartitions"])),
                        count_approximate=True,
                        only_contains_data_for_this_partition=False,
                        job_id=None,
                    )
        elif t == "ASSIGN_JOB_IDS":
            for a in tx["assignments"]:
                ref = self.files[a["filename"]][a["partitionId"]]
                if ref.job_id is not None:
                    raise StateStoreException(
                        f"file {a['filename']} already assigned to job {ref.job_id}")
                self.files[a["filename"]][a["partitionId"]] = replace(ref, job_id=a["jobId"])
        elif t == "UNASSIGN_JOB_IDS":
            # crash recovery: release a dead job's input claims so the
            # files become compactable/deletable again (the reference's
            # dead-job detection re-opens inputs the same way)
            jids = set(unassigned_job_ids(tx))
            for fn, by_pid in self.files.items():
                for pid, ref in list(by_pid.items()):
                    if ref.job_id in jids:
                        by_pid[pid] = replace(ref, job_id=None)
        elif t == "EVOLVE_SCHEMA":
            # schema evolution record (add/drop value column): a no-op
            # for FILE state — schema truth for readers stays
            # table.json (metadata-first, like Iceberg) — but being IN
            # the log gives it an ordering slot that CDC replication
            # replays onto replicas (replication.sync_cdc) and an
            # audit trail for fsck
            pass
        elif t == "DELETE_FILES":
            for fn in tx["filenames"]:
                self.gc_queue.pop(fn, None)
        elif t == "CLEAR_FILES":
            self.files = {}
            self.gc_queue = {}
        else:
            raise StateStoreException(f"unknown transaction type {t}")

    # ------------------------------------------------------------------
    # public API (one method per transaction type)
    # ------------------------------------------------------------------
    def initialise_partitions(self, tree: PartitionTree) -> None:
        self._commit({"type": "INITIALISE_PARTITIONS", "partitions": tree.to_json()})

    def add_files(self, refs: Iterable[FileReference],
                  job_id: str | None = None) -> bool:
        """Commit new file references. With a ``job_id`` the append is
        IDEMPOTENT: a re-delivered commit for an already-applied job id
        (streaming micro-batch replay after a crash between the table
        commit and the stream checkpoint) is skipped instead of
        duplicating the rows — the reference's ingest-job commit is
        keyed the same way (AddFilesTransaction.java job id).

        Returns True if the references were committed, False for a
        skipped replay — the caller then owns deleting the data files it
        wrote for the no-op commit (nothing references them and GC will
        never see them)."""
        refs = list(refs)

        def build():
            if job_id is not None and job_id in self.ingest_jobs_seen:
                return None  # replayed commit: already in the log
            tx: dict[str, Any] = {
                "type": "ADD_FILES",
                "files": [replace(r, last_update_time=time.time()).to_json()
                          for r in refs],
            }
            if job_id is not None:
                tx["jobId"] = job_id
            return tx

        return self._commit_with_retry(build)

    def replace_file_references(self, partition_id: str, input_files: list[str],
                                output: FileReference) -> None:
        self.replace_file_references_batch(
            [(partition_id, input_files, output)])

    def replace_file_references_batch(
        self,
        replacements: list[tuple[str, list[str],
                                 "FileReference | list[FileReference]"]],
        allow_empty_outputs: bool = False,
        job_id: str | None = None,
        tombstones: list[str] | None = None,
        updates: list[str] | None = None,
    ) -> None:
        """Commit MANY compaction jobs' reference swaps as ONE
        transaction (ReplaceFileReferencesTransaction.java:54-59 carries
        a job list; the reference batches commits through its committer
        queue). 1000 finished jobs = one log append, not 1000.

        A job's output may be one file or a list of disjoint sorted
        range-part files (subrange-parallel compaction). Compaction must
        always produce output (even an empty file keeps the swap
        uniform); ``allow_empty_outputs`` is for delete_where, where a
        fully-deleted reference is legitimately replaced by nothing.

        ``job_id``/``tombstones`` are stamped onto the transaction by
        delete_where: the tombstone files hold the DELETED rows, making
        the deletion observable to incremental consumers
        (``SleeperTable.deleted_rows_between``). Tombstones enter the
        GC queue at commit time — like replaced inputs, they live for
        the GC delay, which is the documented bound on consumer lag.

        ``updates`` is stamped by update_where: the subset of output
        files that hold the NEW versions of updated rows (they are
        ordinary LIVE references, not GC candidates — the stamp is
        metadata that makes the update observable to
        ``SleeperTable.updated_rows_between`` without re-deriving it
        from a diff)."""
        def build() -> dict[str, Any]:
            now = time.time()
            for partition_id, input_files, _ in replacements:
                for fn in input_files:
                    ref = self.files.get(fn, {}).get(partition_id)
                    if ref is None:
                        raise StateStoreException(
                            f"{fn} not referenced in {partition_id}")
            jobs = []
            for pid, input_files, out in replacements:
                outs = out if isinstance(out, list) else [out]
                if not outs and not allow_empty_outputs:
                    raise StateStoreException(
                        f"job in {pid} committed no output files")
                jobs.append({
                    "partitionId": pid,
                    "inputFiles": input_files,
                    "outputFiles": [
                        replace(o, last_update_time=now).to_json()
                        for o in outs
                    ],
                })
            tx: dict[str, Any] = {"type": "REPLACE_FILE_REFERENCES",
                                  "jobs": jobs, "time": now}
            if job_id is not None:
                tx["jobId"] = job_id
            if tombstones:
                tx["tombstones"] = list(tombstones)
            if updates:
                tx["updates"] = list(updates)
            return tx

        self._commit_with_retry(build)

    def merge_files(
        self,
        replacements: list[tuple[str, list[str],
                                 "FileReference | list[FileReference]"]],
        add_refs: list[FileReference],
        job_id: str,
        tombstones: list[str] | None = None,
    ) -> None:
        """Commit an atomic MERGE (merge.py): swap the rewritten
        candidate references (matched key groups removed; empty
        outputs allowed — a fully-matched file is replaced by nothing)
        AND add the source batch's files in ONE transaction. The two
        components land together or not at all — there is never a
        window where the old versions are gone and the new rows are
        not yet visible (the hole a delete_where + ingest composition
        would have). Idempotent on ``job_id`` (a replayed commit is
        skipped by the log, like ingest); ``tombstones`` carry the
        replaced key groups' old rows for the deletion feed and GC on
        the replaced inputs' clock."""
        add_refs = list(add_refs)

        def build() -> dict[str, Any] | None:
            if job_id in self.ingest_jobs_seen:
                return None  # replayed commit: already in the log
            now = time.time()
            for partition_id, input_files, _ in replacements:
                for fn in input_files:
                    if self.files.get(fn, {}).get(partition_id) is None:
                        raise StateStoreException(
                            f"{fn} not referenced in {partition_id}")
            jobs = []
            for pid, input_files, out in replacements:
                outs = out if isinstance(out, list) else [out]
                jobs.append({
                    "partitionId": pid,
                    "inputFiles": input_files,
                    "outputFiles": [
                        replace(o, last_update_time=now).to_json()
                        for o in outs
                    ],
                })
            tx: dict[str, Any] = {
                "type": "MERGE_FILES", "jobs": jobs,
                "addFiles": [replace(r, last_update_time=now).to_json()
                             for r in add_refs],
                "jobId": job_id, "time": now,
            }
            if tombstones:
                tx["tombstones"] = list(tombstones)
            return tx

        self._commit_with_retry(build)

    def extend_partition_tree(self, update_partitions: list[Partition],
                              new_partitions: list[Partition]) -> None:
        """Add any number of splits as ONE atomic transaction
        (ExtendPartitionTreeTransaction.java:60-93): ``update_partitions``
        are existing leaves that become internal, ``new_partitions`` are
        their children. Validates like the reference before committing."""
        assert self.tree is not None
        for p in update_partitions:
            if p.id not in self.tree:
                raise StateStoreException(
                    f"attempted to update a partition which does not exist: {p.id}")
            if not self.tree[p.id].is_leaf:
                raise StateStoreException(
                    f"attempted to update a partition which has already been split: {p.id}")
            if p.is_leaf:
                raise StateStoreException(
                    f"attempted to update a partition without splitting it: {p.id}")
        for p in new_partitions:
            if p.id in self.tree:
                raise StateStoreException(
                    f"attempted to add a partition which already exists: {p.id}")
        # resulting tree must be valid: every new partition's parent must
        # exist among updated/new/current partitions
        ids = ({p.id for p in self.tree.all_partitions()}
               | {p.id for p in new_partitions})
        for p in new_partitions:
            if p.parent_id not in ids:
                raise StateStoreException(
                    f"update results in invalid partition tree: "
                    f"{p.id} has unknown parent {p.parent_id}")
        self._commit({
            "type": "EXTEND_PARTITION_TREE",
            "updatePartitions": [p.to_json() for p in update_partitions],
            "newPartitions": [p.to_json() for p in new_partitions],
        })

    def clear_partitions(self) -> None:
        """Clear all partitions. Only legal when no file references exist
        — they would dangle (ClearPartitionsTransaction.java:20-24); the
        table must be re-initialised before use."""
        if self.files:
            raise StateStoreException(
                "cannot clear partitions while file references are present")
        self._commit({"type": "CLEAR_PARTITIONS"})

    def split_partition(self, parent: Partition, left: Partition, right: Partition) -> None:
        def build() -> dict[str, Any] | None:
            # revalidate on every retry: losing the seq race reloads the
            # store (rebuilding the tree from the log, which discards any
            # caller-side tree.split mutation), and another writer may
            # have split this partition first. A bare _commit raising
            # conflict would leave the caller's mutated tree diverged
            # from the log — phantom leaves that ingest could then
            # reference in ADD_FILES no other reader understands.
            assert self.tree is not None
            if parent.id not in self.tree:
                return None  # superseded (parent gone from the tree)
            cur = self.tree[parent.id]
            if not cur.is_leaf and cur.child_ids != (left.id, right.id):
                return None  # another writer split it differently
            # still a leaf (post-reload state) or carrying exactly our
            # children (the caller's own tree.split mutation): commit
            return {
                "type": "SPLIT_PARTITION",
                "parent": parent.to_json(),
                "left": left.to_json(),
                "right": right.to_json(),
            }

        self._commit_with_retry(build)

    def split_file_references(self, moves: list[dict[str, Any]]) -> None:
        def build() -> dict[str, Any]:
            # re-validate against CURRENT state on every retry: a losing
            # race reloads, and another writer may have removed the ref
            # (compaction REPLACE, or its own split). Committing the
            # stale move would write a transaction whose replay raises
            # KeyError — permanently poisoning the log for every reader.
            still_valid = []
            for mv in moves:
                ref = self.files.get(mv["filename"], {}).get(mv["fromPartition"])
                if ref is None or ref.job_id is not None:
                    continue  # moved/compacted/claimed meanwhile: skip it
                still_valid.append(mv)
            if not still_valid:
                return None  # benign: every ref was handled meanwhile
            return {"type": "SPLIT_FILE_REFERENCES", "moves": still_valid}

        self._commit_with_retry(build)

    def assign_job_ids(self, job_id: str, refs: list[FileReference]) -> None:
        self.assign_job_ids_batch([(job_id, refs)])

    def assign_job_ids_batch(
        self, assignments: list[tuple[str, list[FileReference]]]
    ) -> None:
        """Assign many jobs' input ownership in ONE transaction
        (AssignJobIdsTransaction carries a list of AssignJobIdRequest)."""
        def build() -> dict[str, Any]:
            # validate BEFORE writing: a transaction that fails in
            # _apply after its file exists would poison the log (every
            # later load would crash replaying it)
            for job_id, refs in assignments:
                for r in refs:
                    cur = self.files.get(r.filename, {}).get(r.partition_id)
                    if cur is None:
                        raise StateStoreException(
                            f"{r.filename} not referenced in {r.partition_id}")
                    if cur.job_id is not None:
                        raise StateStoreException(
                            f"file {r.filename} already assigned to job {cur.job_id}")
            return {
                "type": "ASSIGN_JOB_IDS",
                "assignments": [
                    {"filename": r.filename, "partitionId": r.partition_id,
                     "jobId": job_id}
                    for job_id, refs in assignments for r in refs
                ],
            }

        self._commit_with_retry(build)

    def unassign_job_ids(self, *job_ids: str,
                         missing_ok: bool = False) -> None:
        """Release every file reference claimed by ``job_ids``, in one
        transaction — the recovery step after a compaction/delete
        worker died between its ASSIGN and its REPLACE (without it the
        claims leak forever and those files can never be compacted or
        deleted again). Refuses unknown job ids: unassigning a job that
        holds nothing is almost certainly a caller bug (e.g. double
        recovery racing the job's own late commit, which the REPLACE
        path would then let through against re-claimed files).

        ``missing_ok`` skips the ids that hold no claim instead, checked
        against the state each commit attempt builds on: a failed batch
        releases what is left of its claims after another process
        abandoned some of its jobs."""
        def build() -> dict[str, Any] | None:
            held = {r.job_id for by_pid in self.files.values()
                    for r in by_pid.values()}
            if not missing_ok:
                for job_id in job_ids:
                    if job_id not in held:
                        raise StateStoreException(
                            f"job {job_id} holds no file claims (already "
                            "finished, already recovered, or never "
                            "existed)")
            release = [j for j in job_ids if j in held]
            if not release:
                return None
            return {"type": "UNASSIGN_JOB_IDS", "jobIds": release}

        self._commit_with_retry(build)

    def record_schema_evolution(self, action: str,
                                field_json: dict | None,
                                name: str,
                                resulting_schema_json: str) -> None:
        """Commit an EVOLVE_SCHEMA transaction: the log record of an
        ``add_value_column``/``drop_value_column`` metadata change.
        Committed BEFORE table.json is rewritten (table.py) so a crash
        between the two leaves a re-runnable source (replicas apply
        evolution records idempotently) rather than an evolution the
        log never heard about. ``resulting_schema_json`` is the full
        post-evolution schema — replication validates the replica
        landed on exactly this shape and refuses divergent histories
        loudly."""
        tx: dict[str, Any] = {"type": "EVOLVE_SCHEMA",
                              "action": action, "name": name,
                              "schema": resulting_schema_json}
        if field_json is not None:
            tx["field"] = field_json
        self._commit_with_retry(lambda: tx)

    def delete_files(self, filenames: list[str]) -> None:
        self._commit_with_retry(
            lambda: {"type": "DELETE_FILES", "filenames": filenames})

    def clear_files(self) -> None:
        self._commit_with_retry(lambda: {"type": "CLEAR_FILES"})

    # ------------------------------------------------------------------
    # queries over state
    # ------------------------------------------------------------------
    def all_references(self) -> list[FileReference]:
        return [r for refs in self.files.values() for r in refs.values()]

    def refresh_if_stale(self, ttl_seconds: float) -> bool:
        """TTL-cached metadata for query planning, mirroring the
        reference's ``sleeper.table.query.processor.cache.timeout``
        (QueryPlanner.initIfNeeded, QueryPlanner.java:111-149): within
        the TTL queries plan against cached state with ZERO IO; past it,
        an O(1) probe for the next sequence number detects whether any
        other writer committed, and only then is the log replayed.
        Returns True when a reload happened."""
        if getattr(self, "_read_only", False):
            return False  # a time-travel view is pinned to its seq
        now = time.time()
        if now - self._refreshed_at < ttl_seconds:
            return False
        self._refreshed_at = now
        nxt = os.path.join(self.tx_dir, f"{self._seq + 1:012d}.json")
        if not os.path.exists(nxt):
            return False
        self._load()
        return True

    def partition_files_index(self) -> dict[str, list[FileReference]]:
        """partition id -> its references, memoised per log version —
        invalidated automatically by any committed transaction (the
        sequence number moves). Thousands-of-queries/s point lookups hit
        this instead of rescanning the file map."""
        if self._index_seq != self._seq:
            idx: dict[str, list[FileReference]] = {}
            for refs in self.files.values():
                for pid, r in refs.items():
                    idx.setdefault(pid, []).append(r)
            self._files_by_partition = idx
            self._index_seq = self._seq
        return self._files_by_partition

    def references_for_partition(self, pid: str) -> list[FileReference]:
        return list(self.partition_files_index().get(pid, []))

    def files_for_leaf_query(self, leaf_id: str) -> list[FileReference]:
        """Files of the leaf AND all its ancestors — a row may still live in
        a parent-partition file before compaction pulls it down
        (QueryPlanner.java:222-237)."""
        assert self.tree is not None
        pids = [leaf_id] + [p.id for p in self.tree.ancestors(leaf_id)]
        out: list[FileReference] = []
        for pid in pids:
            out.extend(self.references_for_partition(pid))
        return out

    def gc_candidates(self, min_age_seconds: float = 600.0,
                      now: float | None = None) -> list[str]:
        """Files with zero references, dereferenced > N seconds ago
        (docs/design.md:331-343; default 10 min protects in-flight
        queries). The single source of the GC-eligibility rule —
        maintenance.collect_garbage delegates here."""
        cutoff = (now if now is not None else time.time()) - min_age_seconds
        return [fn for fn, t in self.gc_queue.items() if t <= cutoff]

    def reload(self) -> None:
        if getattr(self, "_read_only", False):
            raise StateStoreException(
                "historical view (state_at) is pinned to its seq")
        self._load()

    # ------------------------------------------------------------------
    # log compaction (TransactionLogTransactionDeleter.java:27-39)
    # ------------------------------------------------------------------
    def delete_old_transactions(self, number_behind: int = SNAPSHOT_EVERY,
                                min_snapshot_age_seconds: float = 600.0,
                                now: float | None = None) -> list[str]:
        """Delete transaction files already covered by a snapshot — the
        reference's log compaction (TransactionLogTransactionDeleter:
        pick the newest snapshot older than a min age, delete
        transactions at-or-before its seq minus
        TRANSACTION_LOG_NUMBER_BEHIND_TO_DELETE).

        ``min_snapshot_age_seconds`` protects readers mid-replay (they
        loaded an older snapshot and are still consuming the tail);
        ``number_behind`` is the retained TIME-TRAVEL window —
        ``state_at`` below the horizon raises its missing-transactions
        error, the same bound VACUUM puts on Delta/Iceberg history.
        Returns the deleted file names.

        The horizon additionally CLAMPS DOWN to a snapshot boundary:
        deleting past a snapshot but not up to the next one would leave
        a mid-span gap, and any ``state_at`` inside the gap's shadow
        could otherwise only be served by replaying ACROSS missing
        transactions — i.e. silently wrong state (state_at refuses,
        enforcing contiguity, but the clamp keeps the whole retained
        window actually travelable rather than only snapshot points)."""
        self.check_writable()
        now = now if now is not None else time.time()
        snaps = self._completed(self.snap_dir)
        eligible = [
            (s, n) for s, n in snaps
            if os.path.getmtime(os.path.join(self.snap_dir, n))
            <= now - min_snapshot_age_seconds]
        if not eligible:
            return []
        horizon = eligible[-1][0] - number_behind
        at_or_below = [s for s, _ in snaps if s <= horizon]
        horizon = max(at_or_below) if at_or_below else 0
        deleted = []
        for seq, name in self._completed(self.tx_dir):
            if seq > horizon:
                break
            try:
                os.remove(os.path.join(self.tx_dir, name))
                deleted.append(name)
            except FileNotFoundError:
                pass  # concurrent deleter won the race
        return deleted

    def delete_old_snapshots(self, keep: int = 2) -> list[str]:
        """Drop all but the newest ``keep`` snapshots (the reference's
        snapshot deletion sweep; design.md: 'find old snapshots that can
        be deleted') — EXCEPT the base snapshot still serving the
        time-travel window: after delete_old_transactions the oldest
        retained transaction is base+1, and deleting the base snapshot
        would orphan every seq between it and the next snapshot (no
        contiguous snapshot+tail replay could serve them)."""
        if keep < 1:
            raise ValueError("must keep at least the newest snapshot")
        snaps = self._completed(self.snap_dir)
        txs = self._completed(self.tx_dir)
        protected: set[int] = set()
        if txs and txs[0][0] > 1:
            base_candidates = [s for s, _ in snaps if s < txs[0][0]]
            if base_candidates:
                protected.add(max(base_candidates))
        deleted = []
        for seq, name in snaps[:-keep]:
            if seq in protected:
                continue
            try:
                os.remove(os.path.join(self.snap_dir, name))
                deleted.append(name)
            except FileNotFoundError:
                pass
        return deleted
