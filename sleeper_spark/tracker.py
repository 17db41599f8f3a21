"""Query tracker: status + row counts for async query execution.

Reference parity (java/query/query-core/src/main/java/sleeper/query/core/
tracker/: QueryState.java, TrackedQuery.java, QueryTrackerStore.java;
DynamoDB implementation in query-runner/tracker/DynamoDBQueryTracker.java):

- A query moves QUEUED -> IN_PROGRESS -> COMPLETED / FAILED; a parent
  query with leaf sub-queries rolls up to COMPLETED / FAILED /
  PARTIALLY_FAILED once every child finishes
  (QueryState.getParentStateIfFinished, QueryState.java:40-70).
- Tracked fields mirror TrackedQuery.java:33-40: query id, sub-query id,
  last update time, expiry date, state, row count, error message.
- The store is keyed on (query_id, sub_query_id) with "-" for the parent
  row, exactly like the DynamoDB table's composite key.

The JSON-file persistence here plays the role of the DynamoDB table:
driver-side metadata, O(#queries), nothing on the data path.
"""

from __future__ import annotations

import json
import os
import time
import weakref
from dataclasses import dataclass, replace
from enum import Enum
from typing import Any, Callable


class QueryState(str, Enum):
    """QueryState.java:25-30."""

    QUEUED = "QUEUED"
    IN_PROGRESS = "IN_PROGRESS"
    COMPLETED = "COMPLETED"
    FAILED = "FAILED"
    PARTIALLY_FAILED = "PARTIALLY_FAILED"


_FINISHED = {QueryState.COMPLETED, QueryState.FAILED, QueryState.PARTIALLY_FAILED}

#: sub-query id used for the parent row (DynamoDBQueryTracker stores "-")
PARENT = "-"

DEFAULT_EXPIRY_SECONDS = 7 * 24 * 3600


@dataclass(frozen=True)
class TrackedQuery:
    """TrackedQuery.java:33-40."""

    query_id: str
    sub_query_id: str = PARENT
    last_update_time: float = 0.0
    expiry_date: float = 0.0
    state: QueryState = QueryState.QUEUED
    row_count: int | None = None
    error_message: str | None = None

    def to_json(self) -> dict[str, Any]:
        return {
            "queryId": self.query_id,
            "subQueryId": self.sub_query_id,
            "lastUpdateTime": self.last_update_time,
            "expiryDate": self.expiry_date,
            "lastKnownState": self.state.value,
            "rowCount": self.row_count,
            "errorMessage": self.error_message,
        }

    @staticmethod
    def from_json(d: dict[str, Any]) -> "TrackedQuery":
        return TrackedQuery(
            d["queryId"], d.get("subQueryId", PARENT),
            d.get("lastUpdateTime", 0.0), d.get("expiryDate", 0.0),
            QueryState(d.get("lastKnownState", "QUEUED")),
            d.get("rowCount"), d.get("errorMessage"),
        )


def parent_state_if_finished(children: list[TrackedQuery]) -> QueryState | None:
    """QueryState.getParentStateIfFinished (QueryState.java:40-70)."""
    all_succeeded = True
    all_failed = True
    for c in children:
        if c.state == QueryState.FAILED:
            all_succeeded = False
        elif c.state == QueryState.PARTIALLY_FAILED:
            # some rows WERE returned: the parent can never be a full
            # FAILED, whatever the other children did
            all_succeeded = False
            all_failed = False
        elif c.state == QueryState.COMPLETED:
            all_failed = False
        else:
            return None  # still active children
    if all_succeeded:
        return QueryState.COMPLETED
    if all_failed:
        return QueryState.FAILED
    return QueryState.PARTIALLY_FAILED


class QueryTracker:
    """File-backed query tracker (DynamoDBQueryTracker analog). Pass
    ``path=None`` for a purely in-memory tracker (InMemoryQueryTracker)."""

    def __init__(self, path: str | None = None,
                 expiry_seconds: float = DEFAULT_EXPIRY_SECONDS):
        self.path = path
        self.expiry_seconds = expiry_seconds
        self._rows: dict[tuple[str, str], TrackedQuery] = {}
        if path and os.path.exists(path):
            with open(path) as f:
                for d in json.load(f):
                    t = TrackedQuery.from_json(d)
                    self._rows[(t.query_id, t.sub_query_id)] = t

    def _save(self) -> None:
        if not self.path:
            return
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump([t.to_json() for t in self._rows.values()], f)
        os.replace(tmp, self.path)

    def _put(self, t: TrackedQuery) -> None:
        self._rows[(t.query_id, t.sub_query_id)] = t
        self._save()

    def _update(self, query_id: str, sub_query_id: str, state: QueryState,
                row_count: int | None = None,
                error_message: str | None = None) -> None:
        now = time.time()
        self._put(TrackedQuery(
            query_id, sub_query_id, now, now + self.expiry_seconds,
            state, row_count, error_message))
        # roll the parent up when a sub-query finishes
        if sub_query_id != PARENT and state in _FINISHED:
            children = self.children(query_id)
            parent_state = parent_state_if_finished(children)
            if parent_state is not None:
                rows = sum(c.row_count or 0 for c in children)
                # surface the first child failure cause on the parent
                err = next((c.error_message for c in children
                            if c.error_message), None)
                self._put(TrackedQuery(
                    query_id, PARENT, now, now + self.expiry_seconds,
                    parent_state, rows, err))

    # -- state transitions (QueryStatusReportListener surface) ------------
    def query_queued(self, query_id: str, sub_query_id: str = PARENT) -> None:
        self._update(query_id, sub_query_id, QueryState.QUEUED)

    def query_in_progress(self, query_id: str, sub_query_id: str = PARENT) -> None:
        self._update(query_id, sub_query_id, QueryState.IN_PROGRESS)

    def query_completed(self, query_id: str, row_count: int,
                        sub_query_id: str = PARENT) -> None:
        self._update(query_id, sub_query_id, QueryState.COMPLETED, row_count)

    def query_failed(self, query_id: str, error: str,
                     sub_query_id: str = PARENT) -> None:
        self._update(query_id, sub_query_id, QueryState.FAILED,
                     error_message=error)

    def query_partially_failed(self, query_id: str, error: str,
                               row_count: int = 0,
                               sub_query_id: str = PARENT) -> None:
        """Some rows were returned before the failure (the reference's
        PARTIALLY_FAILED tracker state)."""
        self._update(query_id, sub_query_id, QueryState.PARTIALLY_FAILED,
                     row_count, error_message=error)

    # -- lookups (QueryTrackerStore surface) ------------------------------
    def get(self, query_id: str, sub_query_id: str = PARENT) -> TrackedQuery | None:
        return self._rows.get((query_id, sub_query_id))

    def children(self, query_id: str) -> list[TrackedQuery]:
        return [t for (qid, sub), t in self._rows.items()
                if qid == query_id and sub != PARENT]

    def queries_in_state(self, state: QueryState) -> list[TrackedQuery]:
        return [t for t in self._rows.values() if t.state == state]

    def expire(self, now: float | None = None) -> int:
        """Drop rows past their expiry date (the DynamoDB table uses a
        TTL attribute for this). Returns number removed."""
        now = now if now is not None else time.time()
        dead = [k for k, t in self._rows.items() if t.expiry_date <= now]
        for k in dead:
            del self._rows[k]
        if dead:
            self._save()
        return len(dead)


def run_tracked(tracker: QueryTracker, query_id: str,
                run: Callable[[], Any]) -> Any:
    """Execute an action under tracking: IN_PROGRESS -> COMPLETED with
    the result's row count (a DataFrame's count, a list's length, or an
    opaque result counted as written), FAILED on exception (re-raised) —
    the shape of SqsQueryProcessorLambda's tracked execution."""
    tracker.query_in_progress(query_id)
    try:
        result = run()
    except Exception as e:
        tracker.query_failed(query_id, str(e))
        raise
    from pyspark.sql import DataFrame
    if isinstance(result, DataFrame):
        # cache before counting so the caller's own action reuses the
        # computed result instead of re-running the whole query; a
        # weakref finalizer unpersists once the caller drops the last
        # reference, so tracked queries do not pin executor storage for
        # the session's lifetime (unpersisting a cache() is always safe:
        # lineage survives, a late derived reader just recomputes)
        result = result.cache()
        n = result.count()
        jdf = getattr(result, "_jdf", None)
        if jdf is not None:  # absent under Spark Connect — degrade to
            weakref.finalize(result, _unpersist_quietly, jdf)  # no-op
    elif hasattr(result, "__len__"):
        n = len(result)
    else:
        n = 0
    tracker.query_completed(query_id, n)
    return result


def _unpersist_quietly(jdf) -> None:
    try:
        jdf.unpersist(False)
    except Exception:  # noqa: BLE001 - gateway may be gone at shutdown
        pass
