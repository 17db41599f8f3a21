"""Incremental table replication over the change data feed.

Keeps a replica SleeperTable converged with a source table by replaying
the source's log past the replica's watermark, never re-reading the
whole source: at 100 TB the per-sync cost is the new history. Compactions
on the source correctly ship nothing (REPLACE rewrites are
content-neutral in the feed) — the replica runs its own compactions on
its own schedule, and the tables still converge because the table
algebra is commutative/associative by construction (the same property
that lets the reference collapse at arbitrary compaction times,
docs/usage/data-processing.md:88-93).

:func:`sync_cdc` is the one replication step. It replays the FULL
content history: appends ship (as file copies when the files line up
with the replica, else as a row-replay ingest), ``delete_where``
commits apply as exact-row deletes of the tombstone feed (key-exact
``delete_where`` on aggregation tables, where whole key groups are the
unit), ``update_where`` as delete-old + ingest-new, and
``merge_upsert`` as a replica-side merge of the commit's insert rows —
each at its own seq, strictly in log order, individually durable before
the next event is touched. Source schema evolutions (``EVOLVE_SCHEMA``
log records) replay automatically, so an evolving source converges
without operator intervention. :func:`sync_cdc_to_head` repeats the
step until the replica is caught up.

Crash safety without a checkpoint file: each applied event commits
either an ingest under a job id that ENCODES the source identity and
the replicated seq range (``cdf-sync-<src-ident>-<from>-<to>``, so
multiple sources feeding one replica keep independent watermarks) or a
zero-file marker transaction whose id parses to the event seq, and the
applied watermark is recovered from the replica's own durable
``ingest_jobs_seen`` log. Every event's application is idempotent
(exact-row re-delete is a no-op, ingests/merges dedupe by deterministic
job id), so a crash anywhere replays at most one event. There is no
side-file that can disagree with the log.

Beyond-reference surface (the reference replicates via S3 itself);
this is the disaster-recovery / cross-region story an on-prem
deployment needs.
"""

from __future__ import annotations

from typing import Any

JOB_PREFIX = "cdf-sync-"

# Safety bounds, not tuning knobs: a source event touching more distinct
# keys/rows than these is a mass restatement that should re-seed the
# replica (the driver collects each event's key/row set), and a
# sync_cdc_to_head that has not caught up after MAX_STEPS steps is a
# source outrunning replication.
DELETE_CAP = 1_000_000
MERGE_CAP = 1_000_000
MAX_STEPS = 10_000


def source_prefix(src: Any) -> str:
    """Job-id prefix for replication from ``src``: derived from the
    source's identity (its table path), so two different sources
    syncing into ONE replica keep independent watermarks. With a shared
    prefix, ``applied_seq`` would take the max ``to`` across BOTH
    sources' job ids even though their seq spaces are unrelated — the
    lagging source's data would be silently skipped."""
    import hashlib
    ident = hashlib.md5(str(src.path).encode()).hexdigest()[:10]
    return f"{JOB_PREFIX}{ident}-"


def applied_seq(dst: Any, prefix: str = JOB_PREFIX) -> int:
    """The source seq the replica has durably applied: the largest
    trailing seq of any job id under ``prefix`` (``<prefix><from>-<to>``
    ingests and ``<prefix>applied-<seq>`` markers) in the replica's own
    transaction log. Recovered from the log, so it survives any crash
    that the log survives. Pass ``source_prefix(src)`` for one source's
    watermark."""
    best = 0
    for j in dst.store.ingest_jobs_seen:
        if j.startswith(prefix):
            try:
                best = max(best, int(j.rsplit("-", 1)[-1]))
            except ValueError:
                continue
    return best


def _columns(struct: Any) -> list[tuple[str, str]]:
    """``(name, Spark simpleString)`` per column of a Spark StructType:
    the column signature replica and source schemas (and shipped file
    footers) must agree on. Nullability is deliberately not part of
    it."""
    return [(f.name, f.dataType.simpleString()) for f in struct.fields]


def _ship_append_window(src: Any, dst: Any, window: list, job_id: str):
    """Fast path for one append window: replicate the source's
    committed data files by COPYING file + sketch sidecar into the
    replica's data dir and committing the references — instead of
    re-reading, re-shuffling and re-sorting every appended row through
    ``dst.ingest`` (guide §8: the heavy bytes move exactly once; the
    placement decision runs on sidecar metadata). At 100 TB this turns
    per-window replication cost from a full sort job over the new data
    into an object-store copy.

    Returns the committed references, ``[]`` for a replayed job id, or
    ``None`` when ANY precondition fails — the caller then falls back
    to the row-replay ingest for the WHOLE window (all-or-nothing, so
    rows can never double-apply). Preconditions, each checked before a
    single byte is copied:

    - every ``ADD_FILES`` reference is leaf-pure with an exact count;
    - the file and its sketch sidecar still exist, and the sidecar's
      row count matches the reference (the sidecar also ships, so the
      replica keeps split planning / Bloom skipping without a re-read);
    - the file's physical columns — names AND Spark types — equal the
      replica's CURRENT schema (pre-evolution files lack replayed
      columns, or hold a dropped-then-re-added column under its old
      type, and take the row path, which projects through the source's
      head schema);
    - the file's per-row-key [min, max] box (sidecar endpoints are
      exact) fits inside ONE replica leaf — the shipped file keeps the
      one-leaf-per-file invariant under ANY replica split tree, or the
      window falls back.

    Durability/idempotency are the ingest path's own: bytes land under
    an uncommitted job dir (a crash leaves orphan bytes, not state),
    the commit is ``add_files(job_id=...)`` with the SAME job id the
    row path would use, so replays dedupe and the watermark parses
    identically."""
    import os
    import shutil
    import uuid
    from dataclasses import replace

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    from sleeper_spark import sketches as sk
    from sleeper_spark.statestore import FileReference

    refs = [FileReference.from_json(f)
            for _s, tx in window if tx.get("type") == "ADD_FILES"
            for f in tx.get("files", [])]
    if not refs:
        return None
    if job_id in dst.store.ingest_jobs_seen:
        return []  # replayed window: committed previously
    dst.store.check_writable()
    dst_cols = sorted(_columns(dst.schema.to_struct_type()))
    row_key_names = [f.name for f in dst.schema.row_key_fields]
    plans = []
    for r in refs:
        if not r.only_contains_data_for_this_partition \
                or r.count_approximate or not os.path.exists(r.filename):
            return None
        sc = sk.load_sidecar(r.filename)
        if sc is None or sc.get("rows") != r.number_of_rows:
            return None
        try:
            cols = sorted(_columns(
                from_arrow_schema(pq.read_schema(r.filename))))
        except Exception:  # noqa: BLE001 - unreadable footer -> row path
            return None
        if cols != dst_cols:
            return None
        fields = sc.get("fields", {})
        lo, hi = {}, {}
        for kn in row_key_names:
            e = fields.get(kn)
            if not e or not e.get("values"):
                return None
            lo[kn] = sk._dec(e["values"][0])
            hi[kn] = sk._dec(e["values"][-1])
        leaf = dst.store.tree.leaf_for_row(lo)
        if not (leaf.region.contains_point(lo)
                and leaf.region.contains_point(hi)):
            return None  # box straddles replica leaves
        plans.append((r, leaf.id))
    out_dir = os.path.join(dst.data_dir,
                           f"{job_id}-ship-{uuid.uuid4().hex[:8]}")
    os.makedirs(out_dir, exist_ok=True)
    new_refs = []
    try:
        for i, (r, leaf_id) in enumerate(plans):
            path = os.path.join(
                out_dir, f"s{i}-{os.path.basename(r.filename)}")
            shutil.copyfile(r.filename, path)
            shutil.copyfile(sk.sidecar_path(r.filename),
                            sk.sidecar_path(path))
            new_refs.append(replace(r, filename=path, partition_id=leaf_id,
                                    job_id=None))
    except OSError:
        # a source file/sidecar vanished mid-copy (concurrent GC):
        # nothing is committed — clean the partial dir, take the row
        # path, which reads through the statestore and raises loudly
        shutil.rmtree(out_dir, ignore_errors=True)
        return None
    if not dst.store.add_files(new_refs, job_id=job_id):
        shutil.rmtree(out_dir, ignore_errors=True)  # lost the replay race
        return []
    return new_refs


_CDC_REFUSE_MSG = (
    "the source log holds a legacy pre-tombstone delete in the "
    "replicated window — its removed rows cannot be recovered from the "
    "log, so the replica cannot replay it; re-seed the replica from the "
    "source")


def sync_cdc(src: Any, dst: Any, max_seqs: int | None = None) -> dict:
    """One replication step: replay the source's FULL content history
    — appends, deletes, updates and merges — onto the replica, strictly
    in log order. Converges a replica through ``delete_where`` /
    ``update_where`` / ``merge_upsert`` without a re-seed, because the
    source commits carry everything needed (tombstones = removed rows,
    ``updates`` = new versions, MERGE addFiles = upserted rows).
    ``max_seqs`` bounds how much source history one step covers — the
    backpressure knob for a replica catching up from far behind.

    Event application per kind, each individually durable before the
    next event is touched (``prefix`` is :func:`source_prefix`):

    - append window ``(a, b]`` → the committed files ship as copies
      (:func:`_ship_append_window`), else ``dst.ingest(job_id=prefix+
      "a-b")`` (idempotent by job id; windows with no ADD_FILES commit
      nothing and cost nothing);
    - ``delete`` at seq d → ``dst.delete_exact_rows(tombstones)``
      (key-exact ``delete_where`` on aggregation tables, where source
      deletes are key-region only and whole key groups are the unit),
      then a zero-file marker transaction ``prefix+"applied-d"``
      advances the watermark;
    - ``update`` at seq d → exact-row delete of the old versions, then
      ``dst.ingest(new_versions, job_id=prefix+"(d-1)-d")`` (the
      ingest itself is the watermark);
    - ``merge`` at seq d → ``dst.merge_upsert(insert_rows,
      job_id="merge-"+prefix+"(d-1)-d")`` (durably idempotent via the
      merge replay contract), then the marker.

    Crash safety without a side file (module doc): the watermark is
    recovered from the replica's own log (:func:`applied_seq`), every
    application is idempotent against a replica already holding its
    effect (re-deleting absent rows no-ops, re-ingests/re-merges
    dedupe), and ordering is enforced by never applying event N+1
    before event N's watermark commit is durable — so a replay can
    never re-apply an old delete AFTER rows it would wrongly match were
    legitimately re-added.

    Schema evolution REPLAYS (r10 VERDICT Next #3): the source's
    ``add_value_column``/``drop_value_column`` commits an
    ``EVOLVE_SCHEMA`` record into its log; when a step sees schema
    drift it replays ALL such records past the watermark onto the
    replica (in log order, idempotently — an already-evolved replica
    skips; a shape diverging from a record's stamped resulting schema
    raises loudly). Replay is EAGER — ahead of the window's data
    events, and even ahead of a bounded ``max_seqs`` horizon or a
    claim barrier — and
    must be: every feed reads through the source's HEAD schema, so
    after a source DROP the shipped appends no longer carry the
    column and the replica must drop it before ingesting them. Eager
    is also safe: ingest projects to the replica schema, so pre-add
    rows carry the new column as all-NULL and pre-drop rows lose only
    values the drop erases anyway. Drift with NO evolution record
    anywhere past the watermark refuses loudly (manual/divergent drift
    cannot converge; ingesting through the narrower schema would
    silently drop columns).

    An in-flight delete/update claim (commit not yet landed) is a
    BARRIER: the step stops before its seq and reports
    ``caught_up=False``; the next call re-plans. The window is planned
    by ``views.walk_window`` from one read of the source log, which
    also refuses ``max_seqs < 1`` and a watermark beyond the source
    head. :data:`DELETE_CAP` /
    :data:`MERGE_CAP` bound the driver-side row sets per event (a mass
    delete should re-seed instead — the caps raise loudly)."""
    from pyspark.sql import functions as F

    from sleeper_spark.merge import merge_upsert
    from sleeper_spark.ranges import Region
    from sleeper_spark.schema import key_tuple
    from sleeper_spark.views import walk_window

    prefix = source_prefix(src)
    from_seq = applied_seq(dst, prefix)
    to_seq, segments = walk_window(src.store, from_seq, max_seqs,
                                   _CDC_REFUSE_MSG)
    head = src.store.current_seq
    summary = {"from_seq": from_seq, "to_seq": to_seq,
               "files_ingested": 0, "deletes_applied": 0,
               "updates_applied": 0, "merges_applied": 0,
               "schema_evolutions_applied": 0,
               "rows_deleted": 0, "caught_up": to_seq >= head}

    if (_columns(src.schema.to_struct_type())
            != _columns(dst.schema.to_struct_type())):
        # drift. Every feed reads through the source's HEAD schema, so
        # the only consistent replica shape is head's — find the
        # evolution records that explain the drift and replay them ALL
        # (in log order), even the ones past a bounded or blocked
        # to_seq: schema is metadata, not content, and applying an
        # add/drop "early" is safe precisely because ingest projects to
        # the replica schema (pre-add rows carry the new column as
        # all-NULL; pre-drop rows lose values the drop erases anyway).
        # Replays are idempotent, so the EVOLVE seqs inside later
        # windows skip as already-applied.
        window = (src.store.transactions_between(from_seq)
                  if to_seq < head
                  else [st for seg in segments for st in seg.txs])
        evolutions = [(s, tx) for s, tx in window
                      if tx.get("type") == "EVOLVE_SCHEMA"]
        if not evolutions:
            # no evolution record anywhere past the watermark: the
            # drift is manual/divergent — strict refusal
            _check_schema(src, dst)
        for _s, tx in evolutions:
            if _apply_evolution(dst, tx):
                summary["schema_evolutions_applied"] += 1
        # after replaying every record the shapes must agree —
        # anything else is a divergently-evolved replica
        _check_schema(src, dst)

    # the FULL key group (row keys + sort keys): aggregation tables
    # group on schema.key_names (processing.apply_aggregations), and a
    # source delete_where region may legally constrain sort keys — a
    # row-keys-only replay would delete EVERY sort-key group sharing
    # the row key, silently diverging the replica
    key_names = list(src.schema.key_names)
    # merge replay matches by ROW keys (merge_upsert's unit), unlike
    # the delete path's full key group
    key_names_row = [f.name for f in src.schema.row_key_fields]
    progressed = False

    def _mark(seq: int) -> None:
        # zero-file marker: parses to `seq` in applied_seq, durable in
        # the replica's own log like any ingest job id
        dst.store.add_files([], job_id=f"{prefix}applied-{seq}")

    for seg in segments:
        a, b = seg.start, seg.end
        if seg.kind == "append":
            # events are segments of their own, so ADD_FILES is the
            # only content-carrying type here; a content-neutral run
            # (claims, compactions, splits) commits nothing — if the
            # whole call turns out neutral, ONE marker at the end
            # advances the watermark (see below)
            if not any(tx.get("type") == "ADD_FILES"
                       for _s, tx in seg.txs):
                continue
            # file-shipping fast path: copy the committed files +
            # sidecars instead of re-sorting the rows (falls back to the
            # row replay when schemas/leaf boxes don't line up — see
            # the helper)
            refs = _ship_append_window(src, dst, seg.txs,
                                       f"{prefix}{a}-{b}")
            if refs is None:
                refs = dst.ingest(src._read_feed(seg.txs, "added"),
                                  job_id=f"{prefix}{a}-{b}")
            summary["files_ingested"] += len(refs)
        elif seg.kind == "merge":
            # replays of a half-applied step dedupe via the merge
            # replay contract (ingest_jobs_seen). The commit's insert
            # rows replace their key groups — but a conditional merge
            # (merge_when WHEN MATCHED DELETE) can tombstone groups
            # with NO replacement rows; those keys must ship as
            # delete_keys or they silently survive on the replica.
            ins = src._read_feed(seg.txs, "added")
            old = src._read_feed(seg.txs, "deleted")
            # one collect for both key sets, each side under its own cap
            both = (ins.select(*key_names_row).distinct()
                    .limit(MERGE_CAP + 1).withColumn("__ins", F.lit(True))
                    .unionByName(
                        old.select(*key_names_row).distinct()
                        .limit(MERGE_CAP + 1)
                        .withColumn("__ins", F.lit(False)))
                    .collect())
            ins_keys = {key_tuple(r[k] for k in key_names_row)
                        for r in both if r["__ins"]}
            old_keys = [key_tuple(r[k] for k in key_names_row)
                        for r in both if not r["__ins"]]
            if len(old_keys) > MERGE_CAP or len(ins_keys) > MERGE_CAP:
                raise ValueError(
                    f"merge commit at seq {b} touched more than "
                    f"{MERGE_CAP} distinct keys — a mass restatement; "
                    "re-seed the replica instead")
            gone = sorted(k for k in old_keys if k not in ins_keys)
            merge_upsert(dst, ins, cap=MERGE_CAP, delete_keys=gone,
                         job_id=f"merge-{prefix}{a}-{b}")
            _mark(b)
            summary["merges_applied"] += 1
        else:
            old = src._read_feed(seg.txs, "deleted")
            if dst.props.aggregations:
                # aggregation tables: source deletes are key-region
                # only → whole key groups; exact-key delete_where is
                # the well-defined unit (physical pre-collapse rows
                # differ between source and replica by design)
                keys = old.select(*key_names).distinct() \
                    .limit(DELETE_CAP + 1).collect()
                if len(keys) > DELETE_CAP:
                    raise ValueError(
                        f"delete commit at seq {b} removed more "
                        f"than {DELETE_CAP} distinct keys — a mass "
                        "delete; re-seed the replica instead")
                if keys:
                    res = dst.delete_where(regions=[
                        Region.exact(dst.schema, **dict(zip(
                            key_names, key_tuple(r[k] for k in key_names))))
                        for r in keys])
                    summary["rows_deleted"] += res["rows_deleted"]
            else:
                # match_nan: tombstones are the literal removed rows,
                # so a source row holding float NaN must still be
                # removable from the replica (NaN-as-equal), or a
                # legitimate source delete would strand the replica
                res = dst.delete_exact_rows(old, cap=DELETE_CAP,
                                            match_nan=True)
                summary["rows_deleted"] += res["rows_deleted"]
            if seg.kind == "update":
                dst.ingest(src._read_feed(seg.txs, "updated"),
                           job_id=f"{prefix}{a}-{b}")
                summary["updates_applied"] += 1
            else:
                _mark(b)
                summary["deletes_applied"] += 1
        progressed = True
    if not progressed and to_seq > from_seq:
        # the whole window was content-neutral (claims, compactions,
        # splits, GC): advance the watermark with ONE marker, or a
        # bounded catch-up (max_seqs) over neutral history would stall
        # below the next content event forever. One marker per CALL,
        # not per segment — events and ingests carry their own
        # watermark, so a call that applied anything needs none.
        _mark(to_seq)
    return summary


def _apply_evolution(dst: Any, tx: dict) -> bool:
    """Apply one source EVOLVE_SCHEMA record to the replica,
    idempotently: an already-applied action (crash replay, or an
    operator who evolved the replica manually ahead of the sync)
    skips; a replica whose shape after the action differs from the
    record's stamped resulting schema raises loudly — a divergently
    evolved replica cannot converge and must re-seed. Returns True
    when the action actually changed the replica."""
    from sleeper_spark.schema import Field, Schema

    action = tx.get("action")
    name = tx.get("name")
    applied = False
    have = {f.name: f for f in dst.schema.all_fields()}
    if action == "add_value_column":
        field = Field.from_json(tx["field"])
        if name in have:
            if have[name] != field:
                raise ValueError(
                    f"replica already has a column {name!r} with a "
                    f"different shape than the source evolution adds "
                    f"({have[name]} vs {field}) — divergently evolved "
                    "replica; re-seed it")
        else:
            dst.add_value_column(field)
            applied = True
    elif action == "drop_value_column":
        if name in have:
            dst.drop_value_column(name)
            applied = True
    else:
        raise ValueError(
            f"unknown schema-evolution action {action!r} in the source "
            "log — upgrade the replica's engine before syncing")
    want_cols = _columns(Schema.from_json(tx["schema"]).to_struct_type())
    got_cols = _columns(dst.schema.to_struct_type())
    if want_cols != got_cols:
        raise ValueError(
            "replica schema after replaying the source evolution "
            f"({got_cols}) differs from the evolution's recorded "
            f"resulting schema ({want_cols}) — divergently evolved "
            "replica; re-seed it")
    return applied


def _check_schema(src: Any, dst: Any) -> None:
    src_cols = _columns(src.schema.to_struct_type())
    dst_cols = _columns(dst.schema.to_struct_type())
    if src_cols != dst_cols:
        raise ValueError(
            "replica schema differs from source "
            f"(source {src_cols} vs replica {dst_cols}) and no source "
            "schema evolution past the replica's watermark explains it: "
            "apply the same schema evolution to the replica, or re-seed "
            "it — ingesting through the narrower schema would silently "
            "drop columns")


def sync_cdc_to_head(src: Any, dst: Any,
                     max_seqs: int | None = None) -> list[dict]:
    """Run :func:`sync_cdc` steps until the replica is caught up with
    the source head observed at each step, at most :data:`MAX_STEPS`
    of them — a runaway guard: a source committing faster than the
    replica applies would otherwise loop forever. A persistent
    in-flight delete/update claim on the source keeps ``caught_up``
    false by design (the barrier); three consecutive no-progress steps
    raise instead of spinning.

    The replica's own ``compact()`` runs after every step that
    progressed: each replayed delete/update rewrites candidate files
    1:1, so a long replay otherwise accretes N generations of small
    files and replica reads degrade. The call is the table's normal
    strategy-gated compaction — planning is metadata-only and produces
    jobs only when the strategy's thresholds trip, so steady-state
    steps pay one in-memory plan, not a rewrite, and small compactions
    run on driver threads, without a Spark job (``tasks.run_tasks``)."""
    steps = []
    blocked = 0
    for _ in range(MAX_STEPS):
        s = sync_cdc(src, dst, max_seqs=max_seqs)
        steps.append(s)
        if s["to_seq"] > s["from_seq"]:
            dst.compact()
        if s["caught_up"]:
            return steps
        # a barrier step makes no progress; three consecutive
        # no-progress steps means the claim is not resolving — say so
        # instead of burning MAX_STEPS polls
        if s["to_seq"] <= s["from_seq"]:
            blocked += 1
            if blocked >= 3:
                raise RuntimeError(
                    "replication blocked on an in-flight delete/"
                    "update claim on the source for 3 consecutive "
                    "steps — finish or abandon that job "
                    "(unassign_job_ids), then resume")
        else:
            blocked = 0
    raise RuntimeError(
        f"replica still behind after {MAX_STEPS} sync_cdc steps — the "
        "source is outrunning replication; raise max_seqs, or call "
        "again once the source's write rate drops")
