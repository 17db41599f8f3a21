"""SleeperTable: the user-facing facade over schema + state store + data.

Layout of a table directory::

    <path>/table.json            # schema + properties
    <path>/statestore/           # transaction log + snapshots
    <path>/data/<job>/...        # sorted parquet, one file per partition

Lifecycle mirrors the reference's table API surface: create/init, ingest,
query (exact key / ranges / SQL stage), compact, split partitions, GC
(SURVEY §1-3). All data-plane work is Spark; all metadata is the
transaction log.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sleeper_spark import compaction as compaction_mod
from sleeper_spark import maintenance
from sleeper_spark.ingest import ingest_dataframe
from sleeper_spark.partitions import PartitionTree
from sleeper_spark.properties import TableProperties
from sleeper_spark.query import (
    DRIVER_BATCH_ROWS,
    LeafPartitionQuery,
    Query,
    QueryExecutor,
    local_frame,
    local_rows_df,
)
from sleeper_spark.ranges import Range, Region
from sleeper_spark.schema import Field, Schema
from sleeper_spark.statestore import (
    FileReference, StateStore, StateStoreException, feed_files)


class SleeperTable:
    def __init__(self, spark: SparkSession, path: str, schema: Schema,
                 props: TableProperties, store: StateStore):
        self.spark = spark
        self.path = path
        self.schema = schema
        self.props = props
        self.store = store
        self.data_dir = os.path.join(path, "data")

    # ------------------------------------------------------------------
    # create / load
    # ------------------------------------------------------------------
    @staticmethod
    def create(
        spark: SparkSession,
        path: str,
        schema: Schema,
        props: TableProperties | None = None,
        split_points: list[Any] | None = None,
    ) -> "SleeperTable":
        props = props or TableProperties()
        props.validate(schema)
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "table.json"), "w") as f:
            json.dump({"schema": json.loads(schema.to_json()),
                       "properties": json.loads(props.to_json())}, f)
        store = StateStore(os.path.join(path, "statestore"), schema)
        store.initialise_partitions(PartitionTree.initial(schema, split_points))
        t = SleeperTable(spark, path, schema, props, store)
        os.makedirs(t.data_dir, exist_ok=True)
        return t

    @staticmethod
    def create_as(
        spark: SparkSession,
        path: str,
        df: "DataFrame",
        row_keys: list[str],
        sort_keys: list[str] | None = None,
        props: TableProperties | None = None,
        n_partitions: int = 8,
        split_method: str = "exact",
    ) -> "SleeperTable":
        """CTAS — materialise a DataFrame (typically query results) as a
        NEW pre-balanced sorted table in one call: the schema is derived
        from the frame (``row_keys``/``sort_keys`` name key columns,
        everything else becomes a value field), split points come from
        the split-point advisor over the frame's own leading-key
        distribution (maintenance.suggest_split_points — the
        EstimateSplitPoints onboarding flow, clients/.../
        EstimateSplitPoints.java:43-70, applied to derived data), and
        the frame is bulk-ingested sorted-per-leaf. The first import
        lands balanced across ``n_partitions`` leaves instead of
        hammering one root leaf and splitting its way out — at 100 TB
        the difference between a parallel bulk import and a sequential
        split cascade. ``split_method="sketch"`` switches the advisor
        to the mergeable-sketch tier for frames too wide for the exact
        order-statistic pass."""
        from sleeper_spark.maintenance import suggest_split_points

        sort_keys = sort_keys or []
        missing = [c for c in (*row_keys, *sort_keys)
                   if c not in df.columns]
        if missing:
            raise ValueError(f"create_as key column(s) {missing} absent "
                             f"from the frame ({df.columns})")
        if not row_keys:
            raise ValueError("create_as needs at least one row key")
        dtypes = dict(zip(df.schema.names,
                          [f.dataType for f in df.schema.fields]))
        keyset = set(row_keys) | set(sort_keys)
        schema = Schema(
            tuple(Field(c, dtypes[c]) for c in row_keys),
            tuple(Field(c, dtypes[c]) for c in sort_keys),
            tuple(Field(c, dtypes[c], True) for c in df.columns
                  if c not in keyset))
        splits = suggest_split_points(
            df, row_keys[0], n_partitions, method=split_method) \
            if n_partitions > 1 else None
        table = SleeperTable.create(spark, path, schema, props,
                                    split_points=splits or None)
        table.ingest(df.select(*[f.name for f in schema.all_fields()]))
        return table

    def files_manifest(self) -> "DataFrame":
        """Files metadata as a queryable DataFrame (the Iceberg
        ``.files`` metadata-table analog): one row per active file
        REFERENCE with its partition id, the partition's leading-key
        bounds, row count, exactness, and claim state. Driver-side
        metadata only — never opens a data file, so it stays O(refs)
        at any data size; feed it to SQL for compaction-debt, skew, or
        claim-audit queries."""
        tree = self.store.tree
        lead = self.schema.row_key_fields[0].name
        rows = []
        for r in self.store.all_references():
            part = tree[r.partition_id] \
                if tree and r.partition_id in tree else None
            rng = part.region.range_for(lead) if part else None
            rows.append((
                r.partition_id,
                None if rng is None or rng.min is None else str(rng.min),
                None if rng is None or rng.max is None else str(rng.max),
                os.path.basename(r.filename),
                int(r.number_of_rows),
                bool(r.count_approximate),
                r.job_id,
            ))
        return local_rows_df(
            self.spark, rows,
            "partition_id string, min_key string, max_key string, "
            "filename string, n_rows long, approx boolean, "
            "job_id string")

    def count_rows(self, allow_scan: bool = True) -> int:
        """Metadata-only row count — O(references) driver arithmetic,
        zero data reads. EXACT whenever every reference carries an
        exact count AND nothing collapses or drops rows at read time
        (aggregations merge same-key rows; filters/iterators drop
        rows). When those conditions fail the metadata sum is an upper
        bound, so this falls back to the real scan (or raises if
        ``allow_scan=False`` — the caller asked for O(1) and must not
        silently get O(data))."""
        refs = self.store.all_references()
        metadata_exact = (
            not self.props.aggregations
            and not self.props.filters
            and not getattr(self.props, "iterators", "")
            and not any(r.count_approximate for r in refs))
        if metadata_exact:
            return sum(r.number_of_rows for r in refs)
        if not allow_scan:
            raise ValueError(
                "count_rows: metadata count is not exact here "
                "(aggregation/filter/iterator config or approximate "
                "references) and allow_scan=False — run with "
                "allow_scan=True to pay for the scan knowingly")
        return self.full_scan().count()

    def clone(self, dest_path: str) -> "SleeperTable":
        """Zero-copy table branch (Delta/Iceberg SHALLOW CLONE analog,
        done the LSM way): copy the metadata (table.json + transaction
        log + snapshots, with data paths rewritten to the new root) and
        HARD-LINK every data file + sidecar instead of copying bytes.

        Both tables then evolve fully independently — ingest, compact,
        delete_where, GC: each table's garbage collector unlinks only
        its OWN directory entry, and the shared inode survives until the
        last branch drops it, so neither side can break the other. Time
        travel works on the clone over the rewritten log. Cost is
        O(metadata + number of files), zero data bytes; requires dest on
        the same filesystem (hard-link semantics — the same constraint
        every zero-copy clone has)."""
        import shutil

        if os.path.exists(dest_path) and os.listdir(dest_path):
            raise ValueError(f"clone destination {dest_path} is not empty")
        os.makedirs(dest_path, exist_ok=True)
        shutil.copy2(os.path.join(self.path, "table.json"),
                     os.path.join(dest_path, "table.json"))
        # metadata rewrite: every absolute data path in the retained
        # log/snapshots moves under the clone's root (JSON-escaped forms
        # so exotic path characters can't half-match)
        src_pref = json.dumps(os.path.join(self.path, ""))[1:-1]
        dst_pref = json.dumps(os.path.join(dest_path, ""))[1:-1]
        for sub in ("transactions", "snapshots"):
            sdir = os.path.join(self.path, "statestore", sub)
            ddir = os.path.join(dest_path, "statestore", sub)
            os.makedirs(ddir, exist_ok=True)
            for name in os.listdir(sdir):
                if ".tmp-" in name:
                    continue  # incomplete writer artifacts never travel
                with open(os.path.join(sdir, name)) as f:
                    body = f.read()
                with open(os.path.join(ddir, name), "w") as f:
                    f.write(body.replace(src_pref, dst_pref))
        # hard-link the data tree (files already GC'd at the source are
        # simply absent — time travel to their seqs raises by name, the
        # same contract the source has)
        for root, dirs, files in os.walk(self.data_dir):
            rel = os.path.relpath(root, self.data_dir)
            troot = os.path.join(dest_path, "data", rel) \
                if rel != "." else os.path.join(dest_path, "data")
            os.makedirs(troot, exist_ok=True)
            for fn in files:
                src = os.path.join(root, fn)
                dst = os.path.join(troot, fn)
                try:
                    os.link(src, dst)
                except OSError:
                    # cross-device/filesystem destination: degrade to a
                    # byte copy for THIS file — correctness identical,
                    # just not zero-copy (EXDEV is the classic case)
                    shutil.copy2(src, dst)
        return SleeperTable.load(self.spark, dest_path)

    @staticmethod
    def load(spark: SparkSession, path: str) -> "SleeperTable":
        with open(os.path.join(path, "table.json")) as f:
            d = json.load(f)
        schema = Schema.from_json(d["schema"])
        props = TableProperties(**d["properties"])
        store = StateStore(os.path.join(path, "statestore"), schema)
        return SleeperTable(spark, path, schema, props, store)

    def as_of(self, seq: int | None = None,
              timestamp: float | None = None) -> "SleeperTable":
        """Time travel: a read-only table view as of transaction ``seq``
        (or the last transaction committed at/before unix ``timestamp``)
        — free on the append-only log (StateStore.state_at). Every read
        API works on the view; writes raise.

        Raises StateStoreException naming any data file the view needs
        that garbage collection has already deleted — the GC delay
        (O6) is the knob that bounds how far back reads stay valid.
        """
        if (seq is None) == (timestamp is None):
            raise ValueError("pass exactly one of seq= or timestamp=")
        if seq is None:
            seq = self.store.seq_at_time(timestamp)
        view = self.store.state_at(seq)
        missing = sorted({
            r.filename for r in view.all_references()
            if not os.path.exists(r.filename)})
        if missing:
            raise StateStoreException(
                f"time travel to seq {seq} needs {len(missing)} "
                f"garbage-collected file(s): {missing[:3]}... — raise the "
                "GC delay to keep more history queryable")
        return SleeperTable(self.spark, self.path, self.schema,
                            self.props, view)

    def _read_feed(self, txs: list, kind: str) -> DataFrame:
        """The rows of feed ``kind`` (a ``statestore.FEED_FIELDS`` key)
        in the loaded ``(seq, tx)`` pairs ``txs``, through the head
        schema. A garbage-collected feed file raises by name."""
        files = feed_files(txs, kind)
        missing = [f for f in files if not os.path.exists(f)]
        if missing:
            raise StateStoreException(
                f"{kind}-rows feed needs {len(missing)} garbage-collected "
                f"file(s): {missing[:3]} — raise the GC delay to cover "
                "your consumers' lag")
        struct = self.schema.to_struct_type()
        if not files:
            return local_frame(self.spark, struct)
        return (self.spark.read.schema(struct).parquet(*files)
                .select(*[f.name for f in self.schema.all_fields()]))

    def _log(self, from_seq: int, to_seq: int | None) -> list:
        # a long-lived poller must see other writers' commits (same TTL
        # contract as table.query); without this the feed's head is
        # pinned at open time and every poll returns empty forever
        self.store.refresh_if_stale(self.props.query_cache_timeout_seconds)
        return self.store.transactions_between(from_seq, to_seq)

    def added_rows_between(self, from_seq: int,
                           to_seq: int | None = None) -> DataFrame:
        """Change data feed: the rows APPENDED to the table in
        ``(from_seq, to_seq]`` — ingest commits and the inserted rows
        of ``merge_upsert`` commits — what an incremental downstream
        pipeline consumes per poll instead of re-reading the table
        (checkpoint = the last ``current_seq`` it processed).

        Log-native: compaction's REPLACE rewrites are content-neutral
        and correctly emit nothing; partition splits move references,
        not rows. Removed rows are in :meth:`deleted_rows_between` and
        the new versions ``update_where`` writes in
        :meth:`updated_rows_between`; a consumer that must see every
        change classifies the commits (``views.classify_window``) and
        reads all three. The returned frame reads exactly the files
        those commits added — at any scale the cost is the new data,
        never a table scan.

        Two inherent caveats, both surfaced loudly: an ARCHIVED range
        (delete_old_transactions) raises from the statestore, and a
        GC'd added file raises here by name — size the GC delay / log
        retention to your consumers' max lag. For aggregation-configured
        tables the feed is the RAW appended rows (pre-collapse): the
        merge is a table-read-time semantic, not an append-time one.
        """
        return self._read_feed(self._log(from_seq, to_seq), "added")

    def deleted_rows_between(self, from_seq: int,
                             to_seq: int | None = None) -> DataFrame:
        """Deletion feed: the rows REMOVED by ``delete_where`` commits
        in ``(from_seq, to_seq]``, read from the tombstone files each
        delete's rewrite landed (deletes.py) — the counterpart of
        ``added_rows_between`` that lets an incremental consumer (a
        materialized view, a secondary index) APPLY a delete instead of
        rebuilding from a snapshot. Cost ∝ deleted rows, never table
        size. Compactions, splits and GC contribute nothing; a delete
        that matched zero rows wrote no tombstones and contributes
        nothing. Tombstones share the replaced inputs' GC clock, so the
        same rule applies: a GC'd tombstone raises here by name — size
        the GC delay to your consumers' max lag. Deletes committed
        BEFORE this engine recorded tombstones are invisible here
        (consumers detect them via the transaction shape and refuse —
        see views.classify_window)."""
        return self._read_feed(self._log(from_seq, to_seq), "deleted")

    def updated_rows_between(self, from_seq: int,
                             to_seq: int | None = None) -> DataFrame:
        """Update feed: the NEW versions of rows rewritten by
        ``update_where`` commits in ``(from_seq, to_seq]``, read from
        the updated-rows output files the transaction stamped
        (updates.py) — paired with :meth:`deleted_rows_between` (which
        carries the OLD versions from the same commits' tombstones),
        an incremental consumer applies an update as delete-old +
        ingest-new instead of rebuilding from a snapshot. Cost ∝
        updated rows. The stamped files are ordinary live references;
        one a LATER compaction already collected raises here by name —
        same GC-delay-vs-consumer-lag rule as every feed."""
        return self._read_feed(self._log(from_seq, to_seq), "updated")

    def poll_changes(self, from_seq: int,
                     max_seqs: int | None = None) -> tuple[DataFrame, int]:
        """Bounded change-feed poll: returns ``(appended_rows,
        effective_to_seq)`` — the consumer checkpoints the RETURNED seq,
        never the bound it asked for (the head may be below
        ``from_seq + max_seqs``; checkpointing the request would
        permanently skip whatever lands in the gap next).

        The loop a downstream pipeline runs::

            ckpt = 0
            while True:
                batch, ckpt = table.poll_changes(ckpt, max_seqs=1000)
                process(batch)
        """
        from sleeper_spark.views import bound_window
        to_seq = bound_window(self.store, from_seq, max_seqs,
                              self.props.query_cache_timeout_seconds)
        return self.added_rows_between(from_seq, to_seq), to_seq

    # ------------------------------------------------------------------
    # write path
    # ------------------------------------------------------------------
    def ingest(self, df: DataFrame,
               job_id: str | None = None,
               layout: str | None = None,
               layout_cols: list[str] | None = None,
               layout_files_per_leaf: int = 8,
               layout_bits: int = 16) -> list[FileReference]:
        """O7: one sorted file per leaf + ADD_FILES commit. A batch of
        at most ``ingest.DRIVER_INGEST_ROWS`` rows and
        ``ingest.DRIVER_INGEST_BYTES`` bytes is collected once and
        sorted in Arrow on the driver (standard ingest, J2), a bigger
        one sorted by Spark (the reference's local-sort bulk import,
        J4); ``layout="zorder"`` Z-clusters each leaf's rows on
        ``layout_cols`` into ``layout_files_per_leaf`` files so multi-dim
        value_ranges queries skip files — see
        :func:`sleeper_spark.ingest.ingest_dataframe`."""
        assert self.store.tree is not None
        return ingest_dataframe(df, self.store.tree, self.store,
                                self.data_dir, self.props,
                                job_id=job_id, layout=layout,
                                layout_cols=layout_cols,
                                layout_files_per_leaf=layout_files_per_leaf,
                                layout_bits=layout_bits)

    def optimize_zorder(self, layout_cols: list[str],
                        files_per_leaf: int = 8,
                        bits: int = 16) -> list[FileReference]:
        """OPTIMIZE ZORDER: rewrite every leaf's current files into
        ``files_per_leaf`` Z-clustered key-sorted files (the compaction
        rewrite counterpart of ``ingest(layout="zorder")``) — see
        :func:`sleeper_spark.compaction.run_zorder_rewrite`."""
        from sleeper_spark.compaction import run_zorder_rewrite
        return run_zorder_rewrite(
            self.spark, self.store, self.data_dir, self.props,
            layout_cols, files_per_leaf=files_per_leaf, bits=bits)

    # ------------------------------------------------------------------
    # read path
    # ------------------------------------------------------------------
    def executor(self) -> QueryExecutor:
        """A QueryExecutor over the current state — ``plan_files()`` on
        it shows exactly which physical files a query would scan
        (partition pruning + sidecar min/max + Bloom skipping)."""
        return QueryExecutor(
            self.spark, self.store, self.schema,
            table_filters=self.props.filters,
            table_aggregations=self.props.aggregations,
            table_iterators=self.props.iterators,
        )

    def explain_query(self, query: Query) -> dict:
        """Metadata-only scan audit for ``query`` (no Spark job): per
        pruning tier — partition regions, sidecar min/max value
        skipping, point-lookup Blooms — how many files survived, plus
        the surviving file list and a worst-case row bound. The operator
        a user runs to check their layout is actually pruning before
        paying for the scan (see QueryExecutor.explain_scan)."""
        self.store.refresh_if_stale(self.props.query_cache_timeout_seconds)
        return self.executor().explain_scan(query)

    def query(self, query: Query, now_millis: int | None = None) -> DataFrame:
        now_millis = now_millis if now_millis is not None else int(time.time() * 1000)
        # pick up other writers' commits at most every cache-TTL seconds
        # (QueryPlanner.java:111-149); in-process commits are always
        # visible immediately (they mutate this store directly)
        self.store.refresh_if_stale(self.props.query_cache_timeout_seconds)
        return self.executor().execute(query, now_millis)

    def exact_key_query(self, now_millis: int | None = None, **keys: Any) -> DataFrame:
        """Point lookup: min=max inclusive on each given row key
        (SleeperClient.exact_key_query, python/src/sleeper/client.py:221-260).

        Read on the driver, like the reference's single-reader leaf
        query: the Bloom-surviving files' row groups that can hold the
        key are merged and processed by the Arrow kernels of the sorted
        scan and Arrow compaction, and returned as a local DataFrame, so
        collecting it runs no Spark job. The rows are read when this is
        called: a frame taken before a compaction and GC still holds the
        earlier rows. It
        runs as the Spark plan instead when a table iterator has no
        row-wise form, when the matched row groups hold more than
        ``query.DRIVER_SCAN_ROWS`` rows, or when more than
        ``query.DRIVER_KEY_ROWS`` of their rows hold the key;
        ``explain_query`` reports the choice as ``read_path``. Many keys
        at once belong in ``batch_exact_key_query``, which plans them
        in one tree descent per key."""
        return self.query(Query([Region.exact(self.schema, **keys)]), now_millis)

    def range_key_query(
        self,
        ranges: list[tuple[str, Any, Any]] | list[Range],
        now_millis: int | None = None,
        value_ranges: list[Range] | None = None,
    ) -> DataFrame:
        """Each entry is one region; tuples are (field, min_incl, max_excl).
        ``value_ranges`` are conjunctive Range predicates on VALUE
        columns — applied as ordinary filters AND as Iceberg-style file
        skipping against sidecar-held footer min/max stats (see
        Query.value_ranges; rejected on aggregation-configured tables).

        When every range bounds the first row key on both sides, the
        query is read on the driver like ``exact_key_query`` (a local
        DataFrame, no Spark job) while the row groups overlapping the
        ranges hold at most ``query.DRIVER_SCAN_ROWS`` rows and at most
        ``query.DRIVER_KEY_ROWS`` of their rows lie inside the ranges;
        a wide range, like a full scan, is the Spark plan
        (``explain_query`` reports ``read_path``)."""
        regions = []
        for r in ranges:
            if isinstance(r, Range):
                regions.append(Region.of(r))
            else:
                field, mn, mx = r
                regions.append(Region.of(Range(field, mn, mx)))
        return self.query(Query(regions, value_ranges=value_ranges or []),
                          now_millis)

    def full_scan(self, now_millis: int | None = None,
                  value_ranges: list[Range] | None = None) -> DataFrame:
        full = Region(tuple(Range(f.name, None, None) for f in self.schema.row_key_fields))
        return self.query(Query([full], value_ranges=value_ranges or []),
                          now_millis)

    def sorted_rows(self, query: Query | None = None,
                    batch_size: int = DRIVER_BATCH_ROWS,
                    now_millis: int | None = None):
        """Stream query results in total table key order (J1 k-way merge,
        MergingIterator.java:37-114) with the table's filters and
        group-adjacent aggregation applied — no global Spark sort;
        single-reader streaming like the reference's query iterator."""
        if query is None:
            full = Region(tuple(Range(f.name, None, None)
                                for f in self.schema.row_key_fields))
            query = Query([full])
        now_millis = now_millis if now_millis is not None else int(time.time() * 1000)
        self.store.refresh_if_stale(self.props.query_cache_timeout_seconds)
        return self.executor().sorted_rows(query, now_millis, batch_size)

    def batch_exact_key_query(self, keys: list[dict],
                              now_millis: int | None = None) -> DataFrame:
        """Thousands of point lookups in one planned read (the
        reference's headline access pattern: "many thousands in
        parallel", README.md:22-24, each query a one-point region). A
        key duplicated in ``keys`` returns its rows once; an absent key
        returns nothing.

        Planning is O(keys x tree depth) and metadata only: a tree
        descent per key finds its leaf, and each file of those leaves
        (ancestors included) is kept if its first-row-key Bloom may
        hold a requested key. The batch is then read on the driver like
        ``exact_key_query`` — the files' row groups that can hold a key,
        one k-way merge per leaf, a local DataFrame, no Spark job —
        while it stays within ``query.DRIVER_SCAN_ROWS`` and
        ``query.DRIVER_KEY_ROWS``. Otherwise it is ONE Spark job: the
        pruned files are scanned once and the key set joins as a
        broadcast hash join on the row-key columns. A naive N-region
        Spark predicate would be an N-branch OR whose analysis cost
        grows with N; the join is N-invariant, and needs no leaf dedup
        guard, since the equi-join on exact keys selects precisely the
        requested rows wherever they physically live (split ancestor
        files included).
        """
        from sleeper_spark.iterators import (
            apply_custom_iterators,
            parse_aggregations,
            parse_filters,
        )
        from sleeper_spark.processing import apply_processing

        if not keys:
            return local_frame(self.spark, self.schema.to_struct_type())
        now_millis = now_millis if now_millis is not None else int(time.time() * 1000)
        self.store.refresh_if_stale(self.props.query_cache_timeout_seconds)
        tree = self.store.tree
        assert tree is not None
        key_names = [f.name for f in self.schema.row_key_fields]
        leaves = {}
        for key in keys:
            leaf = tree.leaf_for_row({k: key[k] for k in key_names})
            leaves[leaf.id] = leaf
        leaf_queries = [
            LeafPartitionQuery(leaf, tuple(
                self.store.files_for_leaf_query(lid)))
            for lid, leaf in leaves.items()]
        files = sorted({ref.filename for lq in leaf_queries
                        for ref in lq.files})
        # Bloom file skip (bloom.py): keep a file only if SOME requested
        # key's first-row-key value may be present. At thousands of
        # point lookups per batch this prunes every LSM run that holds
        # none of the probed keys — driver-side metadata, no IO
        from sleeper_spark.query import file_may_contain_keys
        pts = [key[key_names[0]] for key in keys]
        files = [f for f in files if file_may_contain_keys(f, pts)]
        query = Query([Region.exact(self.schema,
                                    **{k: key[k] for k in key_names})
                       for key in keys])
        df = self.executor().driver_frame(query, leaf_queries, files,
                                          now_millis)
        if df is not None:
            return df
        # an empty source still flows through the processing below
        scan = (self.spark.read.schema(self.schema.to_struct_type())
                .parquet(*files) if files
                else local_frame(self.spark, self.schema.to_struct_type()))
        from pyspark.sql import types as T

        kdf = local_rows_df(
            self.spark,
            [tuple(key[k] for k in key_names) for key in keys],
            T.StructType([T.StructField(f.name, f.dtype, False)
                          for f in self.schema.row_key_fields]))
        df = scan.join(F.broadcast(kdf.distinct()), key_names, "inner")
        df = apply_processing(
            df, self.schema,
            parse_filters(self.props.filters),
            parse_aggregations(self.props.aggregations),
            now_millis)
        return apply_custom_iterators(df, self.props.iterators, self.schema)

    def sorted_scan(self, query: Query | None = None,
                    now_millis: int | None = None) -> DataFrame:
        """S2 distributed merge-without-resort: zero-shuffle DataFrame,
        one task per leaf, rows sorted within partitions and partitions
        in leaf key order (see sorted_scan module docstring)."""
        from sleeper_spark.sorted_scan import distributed_sorted_scan
        self.store.refresh_if_stale(self.props.query_cache_timeout_seconds)
        return distributed_sorted_scan(self, query, now_millis)

    def query_tracked(self, query: Query, tracker,
                      now_millis: int | None = None) -> DataFrame:
        """Execute a query under status tracking (DynamoDBQueryTracker
        analog): QUEUED -> IN_PROGRESS -> COMPLETED with row count, or
        FAILED with the error message. Returns the result DataFrame."""
        from sleeper_spark.tracker import run_tracked
        tracker.query_queued(query.query_id)
        return run_tracked(tracker, query.query_id,
                           lambda: self.query(query, now_millis))

    def sql(self, sql: str, regions: list[Region] | None = None,
            now_millis: int | None = None) -> DataFrame:
        """Q1 SQL stage over (optionally region-restricted) query results."""
        if regions is None:
            full = Region(tuple(Range(f.name, None, None) for f in self.schema.row_key_fields))
            regions = [full]
        return self.query(Query(regions, sql=sql), now_millis)

    # ------------------------------------------------------------------
    # maintenance
    # ------------------------------------------------------------------
    def compact(self, now_millis: int | None = None) -> list[FileReference]:
        """Plan + run all pending compactions on the Arrow kernels
        (compaction module doc): ``run_jobs`` when the table has custom
        iterators, else ``run_jobs_arrow`` (driver threads when small).

        Offline tables are skipped (docs/design.md:68-71)."""
        if not self.props.online:
            return []
        jobs = compaction_mod.create_jobs(self.store, self.props)
        run = (compaction_mod.run_jobs if self.props.iterators
               else compaction_mod.run_jobs_arrow)
        return run(self.spark, jobs, self.store, self.data_dir, self.props,
                   now_millis)

    def delete_where(self, regions: list[Region] | None = None,
                     value_ranges: list[Range] | None = None) -> dict:
        """Copy-on-write row deletion (deletes.py module doc): rewrite
        only the (file, partition) references that may hold a matching
        row — pruned by partition overlap, sidecar min/max and Bloom
        filters — claim them under a ``delete-*`` job id, and swap all
        rewrites in ONE transaction. Returns the audit dict
        ``{rows_deleted, files_rewritten, files_removed,
        files_untouched, tombstone_files, job_id}``. Pre-delete states
        stay readable via ``as_of``; the ADDED-rows change feed does not
        emit deletions — incremental consumers read the deleted rows
        from :meth:`deleted_rows_between` (tombstone files landed by the
        rewrite, GC'd on the replaced inputs' clock)."""
        from sleeper_spark.deletes import delete_where as _dw
        return _dw(self, regions=regions, value_ranges=value_ranges)

    def delete_exact_rows(self, rows: DataFrame,
                          cap: int = 1_000_000,
                          match_nan: bool = False) -> dict:
        """Copy-on-write deletion of an EXPLICIT row set (null-safe
        full-row equality; deletes.delete_exact_rows) — the primitive
        CDC replication uses to apply a source delete's tombstones on
        a converged replica, where the original predicate is not
        recoverable from the log but the removed rows are. Same
        plan/claim/rewrite/commit shape and audit dict as
        :meth:`delete_where`; refused on aggregation-configured
        tables (key-region deletes are the unit there).
        ``match_nan=True`` matches float NaN as equal (the CDC
        tombstone contract); by default NaN rows are refused loudly."""
        from sleeper_spark.deletes import delete_exact_rows as _der
        return _der(self, rows, cap=cap, match_nan=match_nan)

    def vacuum_orphans(self, min_age_seconds: float | None = None
                       ) -> dict:
        """Reclaim crashed-writer orphans GC cannot see
        (maintenance.vacuum_orphans): data-dir parquet that is neither
        live-referenced nor GC-queued and older than
        ``min_age_seconds`` (default: 24 h or the table's GC delay,
        whichever is larger — a write job's staging phase must be able
        to outlive the GC consumer-lag clock; live-claimed job staging
        dirs are skipped regardless of age). Also runs as a stage of
        the :meth:`vacuum` maintenance sweep."""
        from sleeper_spark.maintenance import vacuum_orphans
        return vacuum_orphans(self.store, self.props, self.data_dir,
                              min_age_seconds=min_age_seconds)

    def update_where(self, assignments: dict,
                     regions: list[Region] | None = None,
                     value_ranges: list[Range] | None = None) -> dict:
        """Copy-on-write row UPDATE (updates.py module doc): the
        value-assignment twin of :meth:`delete_where` — matching rows
        are rewritten with ``assignments`` applied (constant per
        column, or a callable over the old rows' arrow table), kept
        rows byte-identical, both outputs sorted (keys are not
        assignable), all swapped in ONE transaction stamped with the
        old versions (tombstones) and the new versions (``updates``).
        Returns ``{rows_updated, files_rewritten, files_untouched,
        tombstone_files, update_files, job_id}``. Pre-update states
        stay readable via ``as_of``; incremental consumers apply the
        change as delete-old + ingest-new via
        :meth:`deleted_rows_between` / :meth:`updated_rows_between`
        (MaterializedView.refresh does exactly that)."""
        from sleeper_spark.updates import update_where as _uw
        return _uw(self, assignments, regions=regions,
                   value_ranges=value_ranges)

    def merge_upsert(self, source_df: DataFrame,
                     cap: int = 100_000,
                     job_id: str | None = None) -> dict:
        """Atomic MERGE / full-row upsert by row key (merge.py module
        doc): the target's rows for every source row key are REPLACED
        by the source's rows for that key; keys the target lacks are
        INSERTED — one ``MERGE_FILES`` transaction, so readers see
        wholly-before or wholly-after, never the half-upserted window
        a delete+ingest composition has. Candidates pruned by per-key
        tree descent + Blooms and claimed like compactions; bounded by
        ``cap`` distinct source keys (CDC-batch tool — bulk
        restatements should ingest + last-writer-wins compact).
        Returns ``{rows_inserted, rows_replaced, files_rewritten,
        files_removed, files_untouched, tombstone_files, job_id}``."""
        from sleeper_spark.merge import merge_upsert as _mu
        return _mu(self, source_df, cap=cap, job_id=job_id)

    def merge_when(self, source_df: DataFrame,
                   update_set: dict[str, str] | None = None,
                   update_condition: str | None = None,
                   delete_condition: str | None = None,
                   insert: bool = True,
                   cap: int = 100_000,
                   job_id: str | None = None,
                   target_alias: str = "t",
                   source_alias: str = "s") -> dict:
        """Conditional MERGE (merge.merge_when) — the Delta/ANSI
        ``MERGE INTO`` clause surface in ONE atomic commit: ``WHEN
        MATCHED [AND update_condition] THEN UPDATE SET update_set``
        (expressions over ``t.<col>``/``s.<col>``; pass
        ``target_alias``/``source_alias`` when a table column shares
        those names), ``WHEN MATCHED
        [AND delete_condition] THEN DELETE`` (clause-ordered first),
        ``WHEN NOT MATCHED THEN INSERT`` (``insert=True``). Matching
        is by row key; the source must be unique per key; key groups
        no clause touches keep their physical files. Same atomicity,
        feeds, and replay contract as :meth:`merge_upsert`."""
        from sleeper_spark.merge import merge_when as _mw
        return _mw(self, source_df, update_set=update_set,
                   update_condition=update_condition,
                   delete_condition=delete_condition,
                   insert=insert, cap=cap, job_id=job_id,
                   target_alias=target_alias,
                   source_alias=source_alias)

    def describe(self) -> dict:
        """Operator's one-call table summary — all driver-side metadata
        (partition tree + manifest + sidecar presence), no data reads:
        row/file/byte totals, per-leaf file counts (compaction debt and
        skew at a glance), claim and GC backlogs, log position."""
        refs = self.store.all_references()
        files = sorted({r.filename for r in refs})
        by_leaf: dict[str, int] = {}
        for r in refs:
            by_leaf[r.partition_id] = by_leaf.get(r.partition_id, 0) + 1
        tree = self.store.tree
        n_bytes = 0
        n_sidecars = 0
        from sleeper_spark import sketches
        for fn in files:
            try:
                n_bytes += os.path.getsize(fn)
            except OSError:
                pass
            if os.path.exists(sketches.sidecar_path(fn)):
                n_sidecars += 1
        return {
            "table": self.props.table_name,
            "seq": self.store.current_seq,
            "n_partitions": len(tree.all_partitions()) if tree else 0,
            "n_leaves": len(tree.leaves()) if tree else 0,
            "n_files": len(files),
            "n_references": len(refs),
            "n_rows": sum(r.number_of_rows for r in refs),
            "approx_rows": any(r.count_approximate for r in refs),
            "total_bytes": n_bytes,
            "n_sidecars": n_sidecars,
            "files_per_leaf_max": max(by_leaf.values(), default=0),
            "claimed_jobs": self.claimed_jobs(),
            "gc_pending": len(self.store.gc_queue),
            "online": self.props.online,
        }

    def claimed_jobs(self) -> dict[str, int]:
        """job_id -> number of file references it currently claims —
        the recovery operator's view: a job that has held claims far
        longer than any compaction/delete runs is dead."""
        out: dict[str, int] = {}
        for ref in self.store.all_references():
            if ref.job_id is not None:
                out[ref.job_id] = out.get(ref.job_id, 0) + 1
        return out

    def abandon_job(self, job_id: str) -> None:
        """Release a dead job's input claims (UNASSIGN_JOB_IDS) so its
        files become compactable/deletable again. Safe against the
        'dead' job racing back to life: the REPLACE commit validates its
        inputs are still referenced inside the atomic commit, so of a
        late worker and a new claimant exactly one swap wins and the
        other aborts — rows are never lost or duplicated either way."""
        self.store.unassign_job_ids(job_id)

    def split_partitions(self) -> list[str]:
        if not self.props.online:  # docs/design.md:68-71
            return []
        return maintenance.split_partitions_if_needed(self.spark, self.store, self.props)

    def take_offline(self) -> None:
        """Pause background maintenance for this table (the reference's
        take-offline script sets sleeper.table.online=false)."""
        self.props.online = False
        self._save_properties()

    def put_online(self) -> None:
        self.props.online = True
        self._save_properties()

    def _save_properties(self) -> None:
        with open(os.path.join(self.path, "table.json"), "w") as f:
            json.dump({"schema": json.loads(self.schema.to_json()),
                       "properties": json.loads(self.props.to_json())}, f)

    def rollback(self, seq: int) -> dict[str, int]:
        """Restore the table's FILE SET to transaction ``seq`` as a new
        atomic commit (write-path time travel — the RESTORE analog of
        the read-only :meth:`as_of`). History is preserved: the
        rollback is itself a log entry, so the rolled-back-over states
        remain readable via ``as_of`` and a rollback can be rolled
        back.

        Implementation: a set-difference MERGE_FILES commit — remove
        exactly the (file, partition) references present now but not
        at ``seq``, add exactly those present at ``seq`` but not now,
        in ONE transaction (no reader ever sees an empty or half-
        restored table, the hole a clear+re-add composition would
        have). References common to both states are NOT touched:
        removing-and-re-adding would enqueue still-referenced files
        for garbage collection (gc_candidates does not re-check
        references — pinned in tests/test_rollback.py). The partition
        tree stays current (trees only ever extend; a restored
        reference on a now-split parent flows through the O4 pre-split
        machinery like any other parent reference).

        Raises if any file the target state needs has already been
        garbage-collected (same contract as ``as_of`` — the GC delay
        bounds how far back rollback reaches), and on a read-only
        view. Concurrent-writer caveat: the diff is computed against
        the state read at call time; a concurrent commit between read
        and commit surfaces as a conflict/validation error rather
        than silent loss."""
        import uuid as _uuid

        self.store.check_writable()
        target = self.store.state_at(seq)
        missing = sorted({
            r.filename for r in target.all_references()
            if not os.path.exists(r.filename)})
        if missing:
            raise StateStoreException(
                f"rollback to seq {seq} needs {len(missing)} "
                f"garbage-collected file(s): {missing[:3]}... — raise "
                "the GC delay to keep more history restorable")
        cur = {(r.filename, r.partition_id): r
               for r in self.store.all_references()}
        tgt = {(r.filename, r.partition_id): r
               for r in target.all_references()}
        remove_keys = sorted(set(cur) - set(tgt))
        add_refs = [tgt[k] for k in sorted(set(tgt) - set(cur))]
        if not remove_keys and not add_refs:
            return {"seq": seq, "removed_refs": 0, "restored_refs": 0}
        by_pid: dict[str, list[str]] = {}
        for fn, pid in remove_keys:
            by_pid.setdefault(pid, []).append(fn)
        replacements: list[tuple[str, list[str], list]] = [
            (pid, fns, []) for pid, fns in sorted(by_pid.items())]
        self.store.merge_files(replacements, add_refs,
                               job_id=f"rollback-{_uuid.uuid4().hex}")
        return {"seq": seq, "removed_refs": len(remove_keys),
                "restored_refs": len(add_refs)}

    def split_file_references(self) -> int:
        return maintenance.split_file_references(self.store)

    def collect_garbage(self, now: float | None = None) -> list[str]:
        return maintenance.collect_garbage(self.store, self.props, now)

    def vacuum(self, keep_history_seqs: int | None = None,
               keep_snapshots: int = 2,
               now: float | None = None,
               orphan_min_age_seconds: float | None = None
               ) -> dict[str, int]:
        """One-call maintenance sweep, the OPTIMIZE/VACUUM analog tying
        the background jobs together in their safe order: garbage-collect
        dereferenced data files (O6, delay-protected), reclaim
        crashed-writer orphans GC cannot see (:meth:`vacuum_orphans` —
        min-age defaults to 24 h, NOT the GC delay: the GC clock bounds
        consumer lag on committed files, not how long a write job may
        stage uncommitted parquet, and live-claimed job staging dirs are
        skipped outright), archive transactions already covered by a
        snapshot while retaining a ``keep_history_seqs`` time-travel
        window (default: one snapshot interval), then drop superseded
        snapshots (the base snapshot serving the retained window always
        survives). Returns counts per stage. Each stage is independently
        idempotent; the reference runs the equivalent sweeps as separate
        scheduled jobs. Set ``orphan_min_age_seconds`` above your
        longest conceivable write job if the default is too tight."""
        from sleeper_spark.statestore import SNAPSHOT_EVERY
        if keep_history_seqs is None:
            keep_history_seqs = SNAPSHOT_EVERY
        gc = maintenance.collect_garbage(self.store, self.props, now)
        orphans = maintenance.vacuum_orphans(
            self.store, self.props, self.data_dir,
            min_age_seconds=orphan_min_age_seconds)
        txs = self.store.delete_old_transactions(
            number_behind=keep_history_seqs, now=now)
        snaps = self.store.delete_old_snapshots(keep=keep_snapshots)
        return {"data_files_deleted": len(gc),
                "orphan_files_deleted": len(orphans["deleted"]),
                "transactions_archived": len(txs),
                "snapshots_deleted": len(snaps)}

    def build_ann_index(self, vec_col: str, cell_col: str = "ann_cell",
                        nlist: int = 16, seed: int = 42,
                        train_rows: int | None = None,
                        files_per_leaf: int = 8) -> list["FileReference"]:
        """Persistent IVF index over an embedding column: train coarse
        centroids on a BOUNDED sample of the table, store them in the
        table properties, then rewrite each leaf's files CLUSTERED BY
        CELL (recomputing ``cell_col`` in the same pass) so every
        file's footer min/max — and its skipping sidecar — is tight in
        the cell id. From then on a cell probe is a value-range query
        that SKIPS the files of every unprobed cell: the ANN index IS
        the table layout plus the sidecar stats, no external index
        structure (the same composition as Z-order + value skipping,
        aimed at vectors).

        ``cell_col`` must be an int VALUE field of the schema (any
        placeholder values are overwritten here). Later ingests should
        pre-assign it with
        ``functions.similarity.assign_cells(df, table.ann_centroids())``
        and pass ``layout="zorder", layout_cols=[cell_col]`` so NEW
        files are cell-clustered too (1-dim Z-order IS cell
        clustering); without the layout they stay correct, just
        unpruned, until the next ``build_ann_index``/rewrite. Returns
        the rewritten file references."""
        import pyspark.sql.types as T
        from sleeper_spark.compaction import run_zorder_rewrite
        from sleeper_spark.functions import similarity

        dt = {f.name: f.dtype for f in self.schema.all_fields()}
        if not isinstance(dt.get(cell_col), (T.IntegerType, T.LongType)):
            raise ValueError(
                f"cell_col {cell_col!r} must be an int/long value field, "
                f"got {dt.get(cell_col)}")
        if cell_col in self.schema.key_names:
            raise ValueError("cell_col may not be a key field")
        key0 = self.schema.key_names[0]
        centroids = similarity.train_ivf_centroids(
            self.full_scan(), nlist, id_col=key0, vec_col=vec_col,
            seed=seed, train_rows=train_rows)
        self.props.extra["ann_index"] = {
            "vec_col": vec_col, "cell_col": cell_col, "nlist": nlist,
            "seed": seed,
            "centroids": [[float(x) for x in c] for c in centroids]}
        self._save_properties()
        cell = similarity._assign_cells_udf(centroids)(
            F.col(vec_col).cast("array<double>")).cast(
                "long" if isinstance(dt[cell_col], T.LongType) else "int")
        return run_zorder_rewrite(
            self.spark, self.store, self.data_dir, self.props,
            [cell_col], files_per_leaf=files_per_leaf,
            derive_cols={cell_col: cell})

    def ann_centroids(self) -> list[list[float]]:
        idx = self.props.extra.get("ann_index")
        if not idx:
            raise ValueError("no ANN index built: call build_ann_index")
        return idx["centroids"]

    def ann_search(self, query_vec: list[float], k: int = 10,
                   nprobe: int = 2) -> DataFrame:
        """Approximate nearest neighbours of one query vector against
        the table, via the persistent index of :meth:`build_ann_index`:
        probe the ``nprobe`` nearest cells (driver math over the stored
        centroids), issue ONE file-skipping value-range query per cell
        (every file outside the probed cells is pruned off sidecar
        stats, never opened), union the probes and exact-rerank by
        cosine to the top k. Returns the probed rows' key columns +
        ``cosine``, best first."""
        import numpy as np

        from sleeper_spark.functions import similarity
        from sleeper_spark.ranges import Range

        idx = self.props.extra.get("ann_index")
        if not idx:
            raise ValueError("no ANN index built: call build_ann_index")
        cents = np.asarray(idx["centroids"], dtype=np.float64)
        cells = similarity._probe_cells(
            np.asarray(query_vec, dtype=np.float64), cents, nprobe)
        vec_col, cell_col = idx["vec_col"], idx["cell_col"]
        parts = [
            self.full_scan(value_ranges=[Range(cell_col, c, c + 1)])
            for c in sorted(set(cells))]
        df = parts[0]
        for p_ in parts[1:]:
            df = df.unionByName(p_)
        q = F.array(*[F.lit(float(x)) for x in query_vec]) \
            .cast("array<double>")
        keys = list(self.schema.key_names)
        return (df.withColumn(
                    "cosine",
                    F.round(similarity.cosine_similarity(
                        F.col(vec_col).cast("array<double>"), q), 6))
                .select(*keys, "cosine")
                .orderBy(F.col("cosine").desc(), *keys)
                .limit(k))

    def approx_key_quantiles(self, field: str | None = None,
                             qs: list[float] = (0.25, 0.5, 0.75)) -> list:
        """Quantile estimates of a row-key field across the LIVE table
        from quantile-sketch sidecars — zero data reads
        (sketches.approx_quantiles). Default field = first row key."""
        from sleeper_spark import sketches
        field = field or self.schema.row_key_names[0]
        if field not in self.schema.key_names:
            raise ValueError(
                f"{field!r} is not a key field; sidecar sketches cover "
                f"{self.schema.key_names}")
        files = sorted({r.filename for r in self.store.all_references()})
        return sketches.approx_quantiles(files, field, list(qs))

    def approx_distinct(self, col: str, p: int = 12) -> float:
        """Approximate distinct count of a column over the live table
        WITHOUT a table-wide distinct shuffle: per-file HyperLogLog
        register sidecars (functions/cardinality.py) merged driver-side.

        Sidecars are built LAZILY: the first call runs ONE Spark job
        over only the live files that don't carry a sketch for
        (col, p) yet — grouped by input_file_name(), md5 JVM-side —
        and writes the registers back into each file's sidecar JSON
        (alongside the quantile sketch, same
        merge-without-rescan design as partition splitting). Steady
        state after ingest/compaction churn therefore scans only NEW
        files; the estimate itself is O(2^p) driver math. Error
        ~1.04/sqrt(2^p) (~1.6% at the default p=12).

        Restricted to int/long/string columns: the register derives
        from md5(CAST(col AS STRING)), whose rendering is only
        engine/sidecar-stable for those types."""
        from sleeper_spark import sketches
        from sleeper_spark.functions import cardinality

        dt = {f.name: f.dtype for f in self.schema.all_fields()}.get(col)
        import pyspark.sql.types as T
        if not isinstance(dt, (T.IntegerType, T.LongType, T.StringType)):
            raise ValueError(
                f"approx_distinct supports int/long/string columns, "
                f"got {dt} for {col!r}")
        self.store.refresh_if_stale(self.props.query_cache_timeout_seconds)
        live = sorted(self.store.files.keys())
        hkey = f"{col}@{p}"
        merged: dict[int, int] = {}
        missing: list[str] = []
        cached: dict[str, dict] = {}
        for fn in live:
            sc = sketches.load_sidecar(fn) or {}
            regs = (sc.get("hll") or {}).get(hkey)
            if regs is None:
                missing.append(fn)
                cached[fn] = sc
            else:
                for reg, rho in regs.items():
                    reg = int(reg)
                    if rho > merged.get(reg, 0):
                        merged[reg] = rho
        if missing:
            built = cardinality.per_file_sketches(
                self.spark, missing, col, p)
            for fn, pairs in built.items():
                sc = cached[fn]
                sc.setdefault("hll", {})[hkey] = {
                    str(reg): rho for reg, rho in pairs}
                sketches.write_sidecar(fn, sc)
                for reg, rho in pairs:
                    if rho > merged.get(reg, 0):
                        merged[reg] = rho
        return cardinality.hll_estimate(list(merged.items()), p)

    def hot_keys(self, col: str, k: int = 10, m: int = 32) -> list[tuple]:
        """Top-k heavy-hitter candidates of a column over the live table
        WITHOUT a table-wide scan-and-sort: per-file exact top-m
        summaries (functions/frequency.py) stored in the same sidecar
        JSON as the quantile sketch and HLL registers, merged
        driver-side into ``[(value, lower, upper)]`` count bounds.

        Lazy like :meth:`approx_distinct`: the first call runs ONE
        Spark job over only the live files missing a summary for
        (col, m); later calls after ingest/compaction churn scan only
        NEW files. The merge guarantee (see merge_top_summaries): true
        count ∈ [lower, upper], and no value with true count above the
        summed thresholds can be absent — hot keys are never missed,
        they can only come with a loose upper bound."""
        from sleeper_spark import sketches
        from sleeper_spark.functions import frequency

        dt = {f.name: f.dtype for f in self.schema.all_fields()}.get(col)
        import pyspark.sql.types as T
        if not isinstance(dt, (T.IntegerType, T.LongType, T.StringType)):
            raise ValueError(
                f"hot_keys supports int/long/string columns, "
                f"got {dt} for {col!r}")
        self.store.refresh_if_stale(self.props.query_cache_timeout_seconds)
        live = sorted(self.store.files.keys())
        skey = f"{col}@{m}"
        summaries: list[dict] = []
        missing: list[str] = []
        cached: dict[str, dict] = {}
        for fn in live:
            sc = sketches.load_sidecar(fn) or {}
            s = (sc.get("topm") or {}).get(skey)
            if s is None:
                missing.append(fn)
                cached[fn] = sc
            else:
                summaries.append({"top": [tuple(t) for t in s["top"]],
                                  "threshold": s["threshold"],
                                  "rows": s["rows"]})
        if missing:
            built = frequency.per_file_top_items(
                self.spark, missing, col, m)
            for fn, s in built.items():
                sc = cached[fn]
                sc.setdefault("topm", {})[skey] = {
                    "top": [list(t) for t in s["top"]],
                    "threshold": s["threshold"], "rows": s["rows"]}
                sketches.write_sidecar(fn, sc)
                summaries.append(s)
        return frequency.merge_top_summaries(summaries)[:k]

    def advise_salting(self, col: str, n_partitions: int | None = None,
                       hot_multiple: float = 2.0, m: int = 32) -> list[tuple]:
        """Salting plan for joins/aggs on ``col``: ``[(value,
        upper_bound, salt)]`` for keys hot enough to overflow an
        average shuffle partition (see frequency.advise_salting). All
        inputs come from sidecar math — file row totals from the
        manifest, per-key bounds from :meth:`hot_keys` — so the advice
        is free at any table size. Feed the max salt to
        functions/skew.salted_join."""
        from sleeper_spark.functions import frequency
        if n_partitions is None:
            n_partitions = self.spark.sparkContext.defaultParallelism
        cand = self.hot_keys(col, k=1 << 30, m=m)
        total = sum(r.number_of_rows for r in self.store.all_references())
        return frequency.advise_salting(
            cand, total, n_partitions, hot_multiple)

    def diff(self, other: "SleeperTable") -> DataFrame:
        """Row-level diff between two table states (typically a table
        and a :meth:`clone` branch): DataFrame of ``(change, *columns)``
        where change='removed' rows exist here but not in ``other`` and
        change='added' rows exist in ``other`` but not here — multiset
        semantics (exceptAll), so duplicated LSM rows count.

        LSM-aware pruning: files present in BOTH manifests (the
        hard-linked files a clone shares with its source — detected
        with samefile, i.e. inode identity, never path or name
        equality) contribute identical rows to both sides and are
        skipped ENTIRELY. Diff cost is therefore proportional to the
        branches' DIVERGENCE (files written since the clone), not to
        table size — the same economics as the change feed. Falls back
        to full collapsed scans when either table configures
        filters/aggregations/iterators: partial-file reads would
        otherwise diff pre-collapse rows (the exact hazard
        reject_value_ranges_on_aggregation guards in query planning).

        Reference analog: none (no branching); file layout mirrors the
        snapshot/manifest design in docs/design.md.
        """
        if self.schema.to_struct_type() != other.schema.to_struct_type():
            raise ValueError("diff requires identical schemas")
        self.store.refresh_if_stale(self.props.query_cache_timeout_seconds)
        other.store.refresh_if_stale(
            other.props.query_cache_timeout_seconds)
        plain = not any([
            self.props.filters, self.props.aggregations,
            self.props.iterators, other.props.filters,
            other.props.aggregations, other.props.iterators])
        if not plain:
            a_df, b_df = self.full_scan(), other.full_scan()
        else:
            a_files = sorted(self.store.files.keys())
            b_files = sorted(other.store.files.keys())
            shared_a: set[str] = set()
            shared_b: set[str] = set()
            b_by_base: dict[str, list[str]] = {}
            for f in b_files:
                b_by_base.setdefault(os.path.basename(f), []).append(f)
            for fa in a_files:
                for fb in b_by_base.get(os.path.basename(fa), ()):
                    try:
                        same = os.path.samefile(fa, fb)
                    except OSError:
                        same = False
                    if same:
                        shared_a.add(fa)
                        shared_b.add(fb)
                        break
            struct = self.schema.to_struct_type()

            def read(paths: list[str]) -> DataFrame:
                if not paths:
                    return local_frame(self.spark, struct)
                return self.spark.read.schema(struct).parquet(*paths)

            a_df = read([f for f in a_files if f not in shared_a])
            b_df = read([f for f in b_files if f not in shared_b])
        cols = [f.name for f in self.schema.all_fields()]
        removed = a_df.exceptAll(b_df) \
            .select(F.lit("removed").alias("change"), *cols)
        added = b_df.exceptAll(a_df) \
            .select(F.lit("added").alias("change"), *cols)
        return removed.unionByName(added)

    def verify_integrity(self) -> dict:
        """fsck: cross-check the manifest against physical files using
        metadata only — existence, footer-vs-manifest row counts, the
        sorted-file invariant at row-group granularity, leaf-range
        containment, sidecar health, gc-queue sanity, crashed-writer
        orphans, and partition-tree structure. Zero data reads; see
        maintenance.verify_integrity for the full check list."""
        self.store.refresh_if_stale(self.props.query_cache_timeout_seconds)
        return maintenance.verify_integrity(
            self.store, self.schema, self.data_dir)

    def add_value_column(self, field) -> None:
        """Schema evolution: append a VALUE column (metadata-only, no
        data rewrite). Files written before the change simply lack the
        column; every reader pads NULLs of the declared type at read
        time — Spark scans via the explicit read schema, the Arrow
        merge paths via the declared-schema padding in
        sorted_scan._merge_leaf — and the next compaction materialises
        the column physically (schema-on-read, the Iceberg/Delta ADD
        COLUMN semantics; the reference has no schema evolution at
        all).

        Constraints:
        - value columns only (row/sort keys order data on disk — a new
          key would invalidate every sorted file);
        - ``field.nullable`` must be True (historic rows READ as NULL);
        - refused on tables configuring aggregations (the collapse
          algebra requires every value column non-null with exactly one
          op, A6 — NULL-padded history would poison sums).

        The updated schema is persisted to table.json and swapped into
        the live store, so subsequent ingest/compact/query in this
        process and any later load() see it. Clones made BEFORE the
        change keep their own table.json — branches evolve
        independently, like every other piece of metadata."""
        from sleeper_spark.schema import Schema as _Schema

        names = {f.name for f in self.schema.all_fields()}
        if field.name in names:
            raise ValueError(f"column {field.name!r} already exists")
        if not field.nullable:
            raise ValueError(
                "added value columns must be nullable: rows written "
                "before the change read as NULL")
        if self.props.aggregations:
            raise ValueError(
                "add_value_column is not supported on aggregation "
                "tables: the collapse algebra requires non-null value "
                "columns (A6), which NULL-padded history violates")
        new_schema = _Schema(
            self.schema.row_key_fields,
            self.schema.sort_key_fields,
            self.schema.value_fields + (field,))
        # log record FIRST, then table.json: a crash in between leaves
        # a re-runnable source (replicas apply evolution records
        # idempotently), while the reverse order would leave an
        # evolution the log never heard about — un-replayable, and
        # re-running add_value_column would refuse ("already exists")
        self.store.record_schema_evolution(
            "add_value_column", field.to_json(), field.name,
            new_schema.to_json())
        with open(os.path.join(self.path, "table.json")) as f:
            d = json.load(f)
        d["schema"] = json.loads(new_schema.to_json())
        tmp = os.path.join(self.path, "table.json.tmp")
        with open(tmp, "w") as f:
            json.dump(d, f)
        os.replace(tmp, self.path + "/table.json")
        self.schema = new_schema
        self.store.schema = new_schema

    def drop_value_column(self, name: str) -> None:
        """Schema evolution: remove a VALUE column (metadata-only).
        Files keep the physical column until their next compaction
        rewrites them without it; readers simply never project it
        (Spark scans read through the explicit schema, the Arrow merge
        selects only declared columns). Row/sort keys cannot be
        dropped (they order data on disk); refused on aggregation
        tables (the aggregation config names value columns — dropping
        one would silently orphan its op; evolve the config first by
        recreating the table). Irreversible in spirit: re-adding the
        same name later makes historic values REAPPEAR from files not
        yet compacted, so compact before re-adding if that matters."""
        from sleeper_spark.schema import Schema as _Schema

        if name in self.schema.key_names:
            raise ValueError(
                f"{name!r} is a key field; keys order data on disk and "
                "cannot be dropped")
        if name not in [f.name for f in self.schema.value_fields]:
            raise ValueError(f"no value column {name!r}")
        if self.props.aggregations:
            raise ValueError(
                "drop_value_column is not supported on aggregation "
                "tables: the aggregation config names value columns")
        new_schema = _Schema(
            self.schema.row_key_fields,
            self.schema.sort_key_fields,
            tuple(f for f in self.schema.value_fields if f.name != name))
        # log-first ordering: see add_value_column
        self.store.record_schema_evolution(
            "drop_value_column", None, name, new_schema.to_json())
        with open(os.path.join(self.path, "table.json")) as f:
            d = json.load(f)
        d["schema"] = json.loads(new_schema.to_json())
        tmp = os.path.join(self.path, "table.json.tmp")
        with open(tmp, "w") as f:
            json.dump(d, f)
        os.replace(tmp, os.path.join(self.path, "table.json"))
        self.schema = new_schema
        self.store.schema = new_schema
