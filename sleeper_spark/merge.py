"""Atomic MERGE (full-row upsert by row key): ``SleeperTable.merge_upsert``.

The warehouse MERGE INTO shape — "replace the target's rows for these
keys with the source's rows, insert the keys the target doesn't have"
— as ONE transaction. The reference upserts only through its
aggregation algebra (sum/min/max/map_* collapse at compaction); this
engine also has last-writer-wins via ``max_by`` (the LSM-native answer:
zero write amplification, collapse deferred to compaction — prefer it
for high-rate streams). ``merge_upsert`` is the copy-on-write answer
for when the table must hold exactly one physical version: CDC batch
application, dimension-table maintenance, GDPR-style rectification.

Why a new transaction type: composing ``delete_where`` + ``ingest``
leaves a window where the old rows are gone and the new ones are not
yet visible (and a crash inside it loses data). ``MERGE_FILES``
(statestore.py) applies the REPLACE component (matched key groups
dropped from candidate files, old rows tombstoned) and the ADD
component (the source batch as ordinary sorted per-leaf files) as one
state change — a reader sees wholly-before or wholly-after, never
between; a crash anywhere before the commit leaves the old version
fully readable (the written files are unreferenced bytes).

Semantics: matching is by the table's ROW KEY fields; a matched key's
ENTIRE group (all sort-key rows) is replaced by the source's rows for
that key — well-defined on duplicate-keyed and sort-keyed tables where
a per-row UPDATE would not be. Aggregation-configured tables are
allowed (key-group replacement is the same key-region semantics as
key-region deletes; the source rows simply become the group's new
physical rows and collapse like any ingest).

Plan, claim, rewrite and commit are the shared copy-on-write
rewriter's (deletes.py module doc) with a key set as the plan input:
the source's distinct row keys (bounded by ``cap`` — MERGE is for
CDC-sized batches; a bulk restatement should ingest + last-writer-wins
compact instead) descend the partition tree, and candidates are claimed
under a ``merge-*`` job id. The insert files come from the ingest
writer (``write_sorted_files``), commit-free, inside the claim. A
source small enough for ingest's driver branch is collected ONCE
(``ingest.collect_batch``): its keys come from that Arrow table, which
the writer then sorts and writes, so a small merge runs one Spark job.
A bigger source lists its keys with a distinct collect and is written
by Spark.

Incremental consumers: the commit carries tombstones (old rows of
replaced key groups — the deletion feed) and its addFiles flow through
``added_rows_between``; MaterializedView applies a merge seq as
delete-old + ingest-new, and ``replication.sync_cdc`` replays the
commit as a replica-side merge of its insert rows (replication.py
module doc) — shipping the insert half alone while the replaced rows
survive would duplicate key versions.
"""

from __future__ import annotations

import os
import uuid
from functools import partial
from typing import TYPE_CHECKING

from sleeper_spark.deletes import (
    _key_match,
    claimed,
    plan_candidates,
    rewrite,
)
from sleeper_spark.query import local_rows_df
from sleeper_spark.schema import key_tuple

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame

    from sleeper_spark.table import SleeperTable


def merge_upsert(table: "SleeperTable", source_df: "DataFrame",
                 cap: int = 100_000, job_id: str | None = None,
                 delete_keys: "list[tuple] | None" = None,
                 known_keys: "list[tuple] | None" = None) -> dict:
    """See the module doc. ``delete_keys`` (key tuples in row-key
    order) names key groups to REPLACE WITH NOTHING in the same atomic
    commit — the building block :func:`merge_when`'s WHEN MATCHED ...
    DELETE clause rides; counted against the same ``cap``.

    ``known_keys``: the caller GUARANTEES this list equals
    ``source_df``'s distinct row-key tuples (in row-key order). Skips
    the distinct-key collect — for a caller like :func:`merge_when`
    that already derived the key set driver-side, that collect was a
    full re-execution of the source plan purely to list keys it
    already knew. Same null/cap/noop checks, applied to the given
    list."""
    from pyspark.errors import PySparkException

    from sleeper_spark.ingest import collect_batch, write_sorted_files

    schema = table.schema
    src_cols = set(source_df.columns)
    need = [f.name for f in schema.all_fields()]
    missing = [c for c in need if c not in src_cols]
    if missing:
        raise ValueError(
            f"merge source is missing table column(s) {missing}")
    source_df = source_df.select(*need)
    key_names = schema.row_key_names

    store = table.store
    store.check_writable()
    store.refresh_if_stale(0)

    if job_id is not None and not job_id.startswith("merge-"):
        # the claim-barrier and commit classification key off the
        # prefix; an unprefixed claim would look like a compaction's
        raise ValueError(
            f"merge job ids must start with 'merge-', got {job_id!r}")
    # caller-supplied job ids make the WHOLE merge idempotent (the
    # streaming micro-batch replay contract, same as ingest): a
    # re-delivered batch whose commit already landed is skipped before
    # any work, and one that crashed mid-flight re-claims its own
    # candidates and recommits under the same id
    # Every exit returns the SAME key set so callers aggregating merge
    # stats never branch on shape. files_untouched uniformly means
    # "references present at call time that THIS call did not rewrite
    # or remove" — for a replayed or empty merge that is all of them
    # (the original run's result already reported its own candidates).
    def _noop_result(job: str | None, replayed: bool) -> dict:
        return {"rows_inserted": 0, "rows_replaced": 0,
                "files_rewritten": 0, "files_removed": 0,
                "files_untouched": len(store.all_references()),
                "tombstone_files": 0, "job_id": job,
                "replayed": replayed}

    if job_id is not None and job_id in store.ingest_jobs_seen:
        # a crash between the commit and the release of the untouched
        # candidates' claims leaves those claims behind: release them
        if any(r.job_id == job_id for r in store.all_references()):
            store.unassign_job_ids(job_id)
        return _noop_result(job_id, replayed=True)

    # a small source is collected once (the driver branch of ingest):
    # its keys come from that table, which the insert write then reuses
    try:
        batch = collect_batch(source_df, store.tree, schema, table.props)
    except PySparkException as e:
        if "null key" not in str(e):
            raise
        raise ValueError(
            "null row key (or sort key) in merge source — key fields "
            "are non-nullable; filter or quarantine first") from e
    if known_keys is not None:
        key_rows = [tuple(kk) for kk in known_keys]
    elif batch is not None:
        distinct = batch.group_by(key_names).aggregate([])
        key_rows = list(zip(*(distinct.column(k).to_pylist()
                              for k in key_names)))
    else:
        head = (source_df.select(*key_names).distinct()
                .limit(cap + 1).collect())
        key_rows = [tuple(row[k] for k in key_names) for row in head]
    if not key_rows and not delete_keys:
        return _noop_result(job_id, replayed=False)
    if len(key_rows) + len(delete_keys or ()) > cap:
        raise ValueError(
            f"merge source has more than {cap} distinct row keys — "
            "MERGE is the CDC-batch tool; bulk restatements should "
            "ingest and collapse with last-writer-wins aggregation "
            "(max_by) instead")
    for kk in key_rows:
        if any(v is None for v in kk):
            raise ValueError(
                "null row key in merge source — key fields are "
                "non-nullable; filter or quarantine first")

    keys = [key_tuple(kk) for kk in key_rows]
    seen_keys = set(keys)
    for kk in delete_keys or ():
        if len(kk) != len(key_names) or any(v is None for v in kk):
            raise ValueError(
                f"delete_keys entries must be non-null tuples in "
                f"row-key order {key_names}, got {kk!r}")
        kk = key_tuple(kk)
        if kk not in seen_keys:
            seen_keys.add(kk)
            keys.append(kk)
    n_total = len(store.all_references())
    candidates = plan_candidates(table, keys=keys)
    if job_id is None:
        job_id = f"merge-{uuid.uuid4().hex[:12]}"
    with claimed(table, job_id, candidates) as out_dir:
        add_refs = write_sorted_files(
            source_df, store.tree, store, os.path.join(out_dir, "inserts"),
            table.props, batch=batch)
        rw = rewrite(table, candidates, out_dir,
                     partial(_key_match, key_names, keys))
    store.merge_files(rw.replacements, add_refs, job_id,
                      tombstones=sorted(rw.tombstones))
    if rw.noops:
        store.unassign_job_ids(job_id)
    return {"rows_inserted": sum(r.number_of_rows for r in add_refs),
            "rows_replaced": rw.rows_matched,
            "files_rewritten": rw.files_rewritten,
            "files_removed": rw.files_removed,
            "files_untouched":
            n_total - rw.files_rewritten - rw.files_removed,
            "tombstone_files": len(rw.tombstones),
            "job_id": job_id,
            "replayed": False}


def merge_when(table: "SleeperTable", source_df: "DataFrame",
               update_set: "dict[str, str] | None" = None,
               update_condition: "str | None" = None,
               delete_condition: "str | None" = None,
               insert: bool = True,
               cap: int = 100_000,
               job_id: str | None = None,
               target_alias: str = "t",
               source_alias: str = "s") -> dict:
    """Conditional MERGE — the full Delta/ANSI ``MERGE INTO`` clause
    surface, atomic in ONE ``MERGE_FILES`` commit:

    - ``WHEN MATCHED [AND update_condition] THEN UPDATE SET
      update_set`` — matched target rows get the assignments applied
      (expressions may reference target columns as ``t.<col>`` and
      source columns as ``s.<col>``; when the table itself has a
      column named ``t`` or ``s``, pass different
      ``target_alias``/``source_alias`` — Spark's resolver cannot
      disambiguate a qualifier that is also a column name);
    - ``WHEN MATCHED [AND delete_condition] THEN DELETE`` — matched
      target rows satisfying it are removed (evaluated BEFORE the
      update clause, Delta's clause-order semantics);
    - ``WHEN NOT MATCHED THEN INSERT`` (``insert=True``) — source rows
      whose key the target lacks are inserted as-is.

    Matching is by the table's ROW KEY fields, and the source must be
    UNIQUE per row key (raises otherwise — the same several-matches
    error Delta throws, because two source rows updating one target
    row is non-deterministic). Unlike :func:`merge_upsert` (full-group
    replacement by the source's rows), the clauses here are ROW-level
    within each matched key group: on duplicate-keyed / sort-keyed
    tables every target row of the group pairs with its key's single
    source row, conditions evaluate per pair, and the group's
    replacement is its transformed survivors.

    Scale shape: the bounded distinct key set (``cap``) routes through
    ``batch_exact_key_query`` — only the files holding matched keys
    are read to build the replacement rows — and key groups NO clause
    touches are left physically untouched (they never enter the merge
    key set, so their files are not rewritten). The commit itself is
    :func:`merge_upsert` with ``delete_keys`` for fully-deleted
    groups: same atomicity, same tombstone/insert feeds, same
    idempotent-by-job-id replay contract, so every incremental
    consumer (views, indexes, CDC replication) applies it like any
    merge."""
    from pyspark.sql import functions as F

    if update_condition is not None and update_set is None:
        raise ValueError("update_condition without update_set")
    if update_set is None and delete_condition is None:
        raise ValueError(
            "merge_when needs at least one WHEN MATCHED clause "
            "(update_set and/or delete_condition); for plain full-row "
            "upsert use merge_upsert")
    schema = table.schema
    key_names = [f.name for f in schema.row_key_fields]
    need = [f.name for f in schema.all_fields()]
    missing = [c for c in need if c not in set(source_df.columns)]
    if missing:
        raise ValueError(
            f"merge source is missing table column(s) {missing}")
    bad_assign = sorted(set(update_set or ()) - set(need))
    if bad_assign:
        raise ValueError(
            f"update_set assigns unknown column(s) {bad_assign}")
    bad_keys = sorted(set(update_set or ()) & set(schema.key_names))
    if bad_keys:
        raise ValueError(
            f"update_set assigns key column(s) {bad_keys} — keys "
            "order data on disk and are not assignable (delete + "
            "insert under the new key instead)")
    source_df = source_df.select(*need)

    head = (source_df.groupBy(*key_names).count()
            .limit(cap + 1).collect())
    if len(head) > cap:
        raise ValueError(
            f"merge source has more than {cap} distinct row keys — "
            "MERGE is the CDC-batch tool (see merge_upsert)")
    dups = [tuple(r[k] for k in key_names) for r in head
            if r["count"] > 1]
    if dups:
        raise ValueError(
            f"merge source has multiple rows for row key(s) "
            f"{dups[:3]}{'...' if len(dups) > 3 else ''} — conditional "
            "MERGE requires a source unique per row key (several "
            "source rows updating one target row is "
            "non-deterministic)")
    if not head:
        res = merge_upsert(table, source_df.limit(0), cap=cap,
                           job_id=job_id)
        res["groups_deleted"] = res["groups_touched"] = 0
        return res
    src_keys = [{k: r[k] for k in key_names} for r in head]

    col_names = set(need)
    for a, label in ((target_alias, "target_alias"),
                     (source_alias, "source_alias")):
        if a in col_names:
            raise ValueError(
                f"{label} {a!r} is also a table column name — Spark "
                "cannot disambiguate the qualifier; pass a different "
                f"{label}")
    if target_alias == source_alias:
        raise ValueError("target_alias and source_alias must differ")

    # matched target rows: only the files holding these keys are read.
    # The frame is consumed several times (clause join, touched-key
    # probe, surviving-key probe, insert anti-join, the merge's write)
    # — persist it so the pruned scan runs once, not five times; it is
    # bounded by the capped key set's group sizes
    matched = table.batch_exact_key_query(src_keys).persist()
    t = matched.alias(target_alias)
    s = source_df.alias(source_alias)
    joined = t.join(F.broadcast(s), on=key_names, how="inner")
    del_cond = (F.expr(delete_condition) if delete_condition
                else F.lit(False))
    upd_cond = (F.expr(update_condition) if update_condition
                else F.lit(True)) if update_set else F.lit(False)
    # delete evaluates first (Delta clause order); survivors carry the
    # update assignments where their condition holds, else stay as-is.
    # Join output columns: key names (coalesced), then t-only cols,
    # then s-only cols — target columns resolve via the t alias.
    affected = del_cond | upd_cond

    def out_col(c):
        base = (F.col(c) if c in key_names
                else F.col(f"{target_alias}.{c}"))
        if update_set and c in update_set:
            return F.when(upd_cond, F.expr(update_set[c])) \
                .otherwise(base).alias(c)
        return base.alias(c)

    survivors = joined.where(~del_cond)
    replacement = survivors.select(*[out_col(c) for c in need])
    # touched groups (some clause fired) and fully-deleted groups
    # (touched, no surviving row) in ONE aggregate pass over the
    # pruned join — previously two sequential collects, the second of
    # which re-executed the whole replacement chain just to list its
    # distinct keys (guide §1.2: one pass where one pass suffices).
    # Updates cannot assign keys, so replacement's key set == the
    # survivor key set this computes.
    stats = (joined.groupBy(*key_names)
             .agg(F.max(affected.cast("int")).alias("__t"),
                  F.max((~del_cond).cast("int")).alias("__sv"))
             .limit(cap + 1).collect())

    touched_keys = {tuple(r[k] for k in key_names) for r in stats
                    if r["__t"] == 1}
    if touched_keys:
        touched_df = local_rows_df(
            table.spark, sorted(touched_keys),
            matched.select(*key_names).schema)
        replacement = replacement.join(F.broadcast(touched_df),
                                       on=key_names, how="leftsemi")
    else:
        replacement = replacement.limit(0)
    delete_keys = sorted(
        tuple(r[k] for k in key_names) for r in stats
        if r["__t"] == 1 and r["__sv"] == 0)

    frame = replacement
    # the frame's distinct key set is fully known driver-side —
    # replacement keys are the touched groups with >=1 survivor, insert
    # keys are the source keys absent from the matched table (stats
    # lists exactly the matched keys: the clause join is inner on the
    # key columns and the source carries every source key) — so
    # merge_upsert can skip its distinct-key collect, which re-executed
    # this whole replacement chain purely to list these keys
    frame_keys = {key_tuple(r[k] for k in key_names) for r in stats
                  if r["__t"] == 1 and r["__sv"] == 1}
    if insert:
        inserts = s.join(matched.select(*key_names).distinct(),
                         on=key_names, how="leftanti") \
            .select(*need)
        frame = replacement.unionByName(inserts)
        matched_keys = {key_tuple(r[k] for k in key_names)
                        for r in stats}
        frame_keys |= {key_tuple(r[k] for k in key_names)
                       for r in head} - matched_keys
    try:
        res = merge_upsert(table, frame, cap=cap, job_id=job_id,
                           delete_keys=delete_keys,
                           known_keys=sorted(frame_keys, key=repr))
    finally:
        matched.unpersist()
    res["groups_deleted"] = len(delete_keys)
    res["groups_touched"] = len(touched_keys)
    return res
