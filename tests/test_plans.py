"""Physical-plan quality gates: the properties that make the engine hold
at 100 TB must stay visible in `.explain` output.

- Range predicates reach the Parquet scan (PushedFilters) — row-group and
  page skipping (SURVEY §4 'Predicate pushdown to Parquet').
- Requested-value projection prunes the read schema (ReadSchema).
- Driver-side partition pruning hands Spark only overlapping files
  (SURVEY §4 'Partition pruning' — NOT automatic, ours to guarantee).
- Small dims broadcast: no sort-merge join on the fact table.
- Continual aggregation runs as partial+final hash aggregation (map-side
  combine before the shuffle).
- Top-k plans as TakeOrderedAndProject, never a global sort.
"""

import os
import re
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sleeper_spark import Field, Schema, SleeperTable
from sleeper_spark.properties import TableProperties
from sleeper_spark.query import Query
from sleeper_spark.ranges import Range, Region

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def entry(spark):
    import sys
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as em
    return em


def test_range_predicate_pushed_to_parquet(spark, entry):
    plan = plan_of(entry.q_range_query(spark, SF))
    assert "PushedFilters" in plan
    pushed = plan[plan.index("PushedFilters"):].splitlines()[0]
    assert "GreaterThanOrEqual(event_id,1000)" in pushed
    assert "LessThan(event_id,2000)" in pushed


def test_projection_prunes_read_schema(spark, entry):
    plan = plan_of(entry.q_projection(spark, SF))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"event_id", "event_type", "value"}


def test_small_dims_broadcast_not_sort_merge(spark, entry):
    plan = plan_of(entry.q_join_agg(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_continual_agg_is_partial_final(spark, entry):
    plan = plan_of(entry.q_aggregation_sum_min_max(spark, SF))
    # map-side partial + final after one shuffle
    assert plan.count("HashAggregate") >= 2 or plan.count("SortAggregate") >= 2
    assert plan.count("Exchange") <= 2  # ts conversion must not add shuffles


def test_topk_avoids_global_sort(spark, entry):
    plan = plan_of(entry.q_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_sample_fraction_is_pure_filter(spark, entry):
    """Deterministic fraction sampling must stay a codegen'd filter —
    no shuffle, no window, no RNG node."""
    plan = plan_of(entry.q_sample_fraction(spark, SF))
    # the bucket predicate reaches the scan node as a data filter (the
    # only Exchange is _load's small-file repartition, present in every
    # documents query)
    assert re.search(r"DataFilters: \[[^\]]*,? ?100\) < 7", plan), plan
    assert "Window" not in plan
    assert plan.count("Exchange") <= 1


def test_sample_reservoir_avoids_global_sort(spark, entry):
    """Global fixed-N sampling = order-by-bucket + limit, which must
    execute as TakeOrderedAndProject (per-partition heads), never a
    full range-partition sort."""
    plan = plan_of(entry.q_sample_reservoir(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_sample_stratified_prunes_groups(spark, entry):
    """Per-stratum fixed-N sampling must carry a WindowGroupLimit so
    each group is truncated to N before the final window evaluation."""
    plan = plan_of(entry.q_sample_stratified(spark, SF))
    assert "WindowGroupLimit" in plan


def test_sleeper_query_scans_only_overlapping_partitions(spark, tmp_path,
                                                       spark_plan):
    """Driver-side pruning: a range query touching one leaf partition
    must scan exactly that partition's file (of 4). So small a range is
    read on the driver by default; the shape checked is the Spark plan
    it takes past the driver caps."""
    ev = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "user_id")
    schema = Schema((Field("event_id", T.LongType()),), (),
                    (Field("user_id", T.LongType(), True),))
    t = SleeperTable.create(spark, str(tmp_path / "t"), schema,
                            TableProperties(), split_points=[2500, 5000, 7500])
    t.ingest(ev)
    assert t.explain_query(Query([Region.of(Range(
        "event_id", 100, 200))]))["read_path"] == "driver"
    with spark_plan():
        q = t.range_key_query([("event_id", 100, 200)])
    plan = plan_of(q)
    m = re.search(r"InMemoryFileIndex\((\d+) paths?\)", plan)
    assert m, plan
    assert int(m.group(1)) == 1
    # both the query region and the leaf dedup-guard reach the scan
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(event_id,100)" in plan


def test_sleeper_full_scan_uses_all_files(spark, tmp_path):
    ev = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "user_id")
    schema = Schema((Field("event_id", T.LongType()),), (),
                    (Field("user_id", T.LongType(), True),))
    t = SleeperTable.create(spark, str(tmp_path / "t"), schema,
                            TableProperties(), split_points=[5000])
    t.ingest(ev)
    plan = plan_of(t.full_scan())
    m = re.search(r"InMemoryFileIndex\((\d+) paths?\)", plan)
    assert m and int(m.group(1)) == 2


def test_tpch_breadth_no_cartesian_dims_broadcast(spark, entry):
    """Q7/Q10/Q19: every dimension join is a broadcast hash join; no
    cartesian or nested-loop anywhere in the analytics-breadth set."""
    for q in (entry.q_tpch_q4, entry.q_tpch_q7, entry.q_tpch_q10,
              entry.q_tpch_q19):
        plan = plan_of(q(spark, SF))
        assert "CartesianProduct" not in plan, q.__name__
        assert "BroadcastNestedLoop" not in plan, q.__name__
    assert plan_of(entry.q_tpch_q19(spark, SF)).count("BroadcastHashJoin") == 1


def test_tpch_q6_predicates_push_to_scan(spark, entry):
    """Q6 is the canonical pushdown query: no join, and the quantity /
    shipdate predicates must reach the Parquet scan."""
    plan = plan_of(entry.q_tpch_q6(spark, SF))
    assert "Join" not in plan
    assert "PushedFilters" in plan
    # the filter list is truncated in toString(); assert the visible
    # prefix + that the scan reads ONLY the four referenced columns
    pushed = plan[plan.index("PushedFilters"):].splitlines()[0]
    assert "IsNotNull(l_quantity)" in pushed and "l_shipdate" in pushed
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_quantity", "l_extendedprice", "l_discount",
                    "l_shipdate"}


def test_line_dedup_first_occurrence_is_hash_agg(spark, entry):
    """The first-occurrence computation must be a partial/final hash
    aggregation (combine-friendly on million-fold boilerplate lines),
    NOT a window sort that funnels a hot line into one reducer."""
    plan = plan_of(entry.q_line_dedup(spark, SF))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_pii_scrub_is_scan_side_only(spark, entry):
    """Scrub = chained regexp expressions over the scan; the only
    exchange is _load's fixture-parallelism repartition."""
    plan = plan_of(entry.q_pii_scrub(spark, SF))
    assert plan.count("Exchange") <= 1
    assert "Join" not in plan


def test_ann_multiprobe_still_bucket_equi_join(spark, entry):
    """Multi-probe explodes the QUERY side only; the corpus join must
    stay one broadcast hash equi-join on the bucket."""
    plan = plan_of(entry.q_ann_lsh_multiprobe(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_dedup_minhash_no_cartesian(spark, entry):
    """LSH candidate generation must never plan a cartesian product."""
    plan = plan_of(entry.q_minhash_lsh_pairs(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_brute_force_broadcasts_queries(spark, entry):
    """The corpus must not shuffle: queries broadcast, scoring map-side."""
    plan = plan_of(entry.q_ann_brute_force(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_ann_topk_partial_limit_before_exchange(spark, entry):
    """No single post-scoring exchange may carry the full scored corpus
    per query: the rank-limit must plan a Partial WindowGroupLimit on the
    MAP side (before the exchange), so the shuffle carries <= k rows per
    (input partition, query)."""
    for q in (entry.q_ann_brute_force, entry.q_ann_lsh):
        plan = plan_of(q(spark, SF))
        ex = plan.index("Exchange hashpartitioning(query_id")
        # textual plan is top-down: the map-side (pre-exchange) operators
        # print BELOW the exchange, so Partial must appear after it
        partial_line = [ln for ln in plan.splitlines()
                        if "WindowGroupLimit" in ln and "Partial" in ln]
        assert partial_line, plan
        assert plan.index(partial_line[0].strip()) > ex, plan


def test_simhash_fingerprints_no_shuffle(spark):
    """Per-row HOF fingerprints are a pure map: no Exchange in the plan
    before the block join (fingerprint stage alone plans shuffle-free,
    modulo the input-spread repartition)."""
    from sleeper_spark.functions import dedup
    doc = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(dedup.simhash_fingerprints(doc))
    # only the _spread repartition may exchange; no hash-partitioned agg
    assert "HashAggregate" not in plan and "SortAggregate" not in plan


def test_simhash_block_join_reuses_exchange(spark):
    """Both sides of the pigeonhole block self-join must reuse ONE
    exchange on (block, bval) — the fingerprint pipeline runs once. At
    sf0.01 the optimizer broadcasts one side instead (fine); disable
    broadcast to see the at-scale shape, where neither side fits."""
    from sleeper_spark.functions import dedup
    doc = spark.read.parquet(f"{SF}/documents.parquet")
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        # AQE reuses shuffle stages at runtime instead of printing
        # ReusedExchange; pin the canonical rule with AQE off
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for build in (lambda: dedup.simhash_near_duplicates(doc, max_hamming=3),
                      lambda: dedup.minhash_candidate_pairs(doc)):
            plan = plan_of(build())
            assert "ReusedExchange" in plan, plan
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


class TestBatchedCompactionPlan:
    """VERDICT r1 #4: batched compaction must be N-invariant — many jobs
    run as one Spark action, not one action (or plan branch) per job."""

    def _many_job_table(self, spark, tmp_path, n_leaves=200):
        from sleeper_spark import Field, Schema, SleeperTable
        from pyspark.sql import types as T
        schema = Schema((Field("key", T.LongType()),), (),
                        (Field("value", T.LongType()),))
        splits = list(range(10, n_leaves * 10, 10))
        t = SleeperTable.create(spark, str(tmp_path / "many"), schema,
                                split_points=splits)
        df = spark.range(n_leaves * 10).select(
            F.col("id").alias("key"), (F.col("id") * 7).alias("value"))
        t.ingest(df)
        t.ingest(df)  # 2 files/leaf -> one job per leaf
        return t

    def test_200_jobs_compact_in_one_spark_job(self, spark, tmp_path,
                                               monkeypatch):
        """200 small jobs run on driver threads (no Spark job); above the
        dispatcher's byte threshold they are ONE Spark job of at most
        4 x defaultParallelism tasks, not 200 one-task jobs."""
        from sleeper_spark import compaction as cm
        from sleeper_spark import tasks
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        for side, limit in (("driver", tasks.DRIVER_SIDE_BYTES),
                            ("executor", 0)):
            monkeypatch.setattr(tasks, "DRIVER_SIDE_BYTES", limit)
            t = self._many_job_table(spark, tmp_path / side, 200)
            assert len(cm.create_jobs(t.store, t.props)) == 200
            group = f"test-plans-200-jobs-{side}"
            sc.setJobGroup(group, "job count")
            try:
                out = t.compact()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert len(out) == 200
            jobs = tracker.getJobIdsForGroup(group)
            if side == "driver":
                assert jobs == []
            else:
                assert len(jobs) == 1
                n_tasks = sum(tracker.getStageInfo(s).numTasks
                              for s in tracker.getJobInfo(jobs[0]).stageIds)
                assert n_tasks <= 4 * sc.defaultParallelism

    def test_200_jobs_execute_in_one_action_correctly(self, spark, tmp_path):
        """The iterator tail (``compaction.run_jobs``) at 200 jobs."""
        from sleeper_spark.iterators import register_iterator
        register_iterator("keepAll", lambda args, schema: lambda df: df)
        t = self._many_job_table(spark, tmp_path, 200)
        t.props.iterators = "keepAll()"
        before = sorted((r.key, r.value) for r in t.full_scan().collect())
        out = t.compact()
        assert len(out) == 200
        after = sorted((r.key, r.value) for r in t.full_scan().collect())
        assert before == after
        for leaf in t.store.tree.leaves():
            refs = t.store.references_for_partition(leaf.id)
            assert len(refs) == 1

    def test_shared_ancestor_file_dedup_guard(self, spark, tmp_path):
        """A file referenced by multiple jobs (post-split ancestor) must
        contribute each row to exactly one job, on both tails."""
        from sleeper_spark import Field, Schema, SleeperTable
        from sleeper_spark.iterators import register_iterator
        from pyspark.sql import types as T
        register_iterator("keepAll", lambda args, schema: lambda df: df)
        schema = Schema((Field("key", T.LongType()),), (),
                        (Field("value", T.LongType()),))
        for iterators in ("", "keepAll()"):
            t = SleeperTable.create(spark, str(tmp_path / f"sh{iterators}"),
                                    schema)
            props = t.props
            props.partition_split_threshold = 100
            df = spark.range(1000).select(
                F.col("id").alias("key"), (F.col("id") * 2).alias("value"))
            t.ingest(df)
            t.ingest(df)
            t.split_partitions()
            t.split_file_references()
            props.iterators = iterators
            t.compact()
            got = sorted((r.key, r.value) for r in t.full_scan().collect())
            assert got == sorted(
                [(i, 2 * i) for i in range(1000)]
                + [(i, 2 * i) for i in range(1000)]), iterators


def test_ivf_training_bounded_driver_transfer(spark, entry):
    """The IVF trainer must never collect the corpus: its sample plan is
    a TakeOrderedAndProject (orderBy+limit), capping driver transfer at
    train_rows rows regardless of corpus size."""
    from sleeper_spark.functions import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    sample = (emb.select("vec_id", "embedding")
              .orderBy("vec_id").limit(7 * 256))
    plan = plan_of(sample)
    assert "TakeOrderedAndProject" in plan, plan
    # end-to-end: trainer returns nlist centroids of the right dim
    cents = similarity.train_ivf_centroids(emb, nlist=4, train_rows=64)
    assert len(cents) == 4 and len(cents[0]) == 64


# ---------------------------------------------------------------------------
# TPC-H completion (q2/q8/.../q22) plan pins: every dimension broadcasts,
# correlated subqueries stay aggregate-joins, anti-joins build on broadcast
# key sets, and nothing degenerates into a data-sized nested loop.
# ---------------------------------------------------------------------------

def test_tpch_q2_min_cost_all_broadcast(spark, entry):
    """Q2's correlated MIN rides broadcasts end-to-end: supplier/nation/
    region/part dims and the filtered per-part minimum all broadcast —
    the only shuffle partner of the derived supply relation is its own
    group-by."""
    plan = plan_of(entry.q_tpch_q2(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 5
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan  # top-100 without global sort


def test_tpch_q8_market_share_single_fact_pass(spark, entry):
    """Q8: seven joins, zero sort-merge — the fact table is never
    re-shuffled for a dimension; the share is one conditional aggregate
    (no second pass for the denominator)."""
    plan = plan_of(entry.q_tpch_q8(spark, SF))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 6


def test_tpch_q21_no_lineitem_self_join(spark, entry):
    """Q21's EXISTS/NOT-EXISTS pair must plan as ONE aggregation over
    the order join — never the textbook l1/l2/l3 lineitem self-join
    (which explodes at scale). Top-100 stays TakeOrderedAndProject."""
    df = entry.q_tpch_q21(spark, SF)
    plan = plan_of(df)
    # one scan of lineitem, not three
    assert plan.count("lineitem.parquet") <= 1 or \
        plan.count("Scan parquet") <= 3  # lineitem + orders + supplier
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q22_anti_join_on_broadcast_key_set(spark, entry):
    """Q22's NOT EXISTS is a broadcast anti-join (urgent-customer key
    set), and the global-average comparison is a 1-row broadcast — the
    only nested-loop in the plan is that single-row cross."""
    plan = plan_of(entry.q_tpch_q22(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_tpch_q20_share_test_is_window_not_self_join(spark, entry):
    """Q20's per-part total is a window over the grouped supply relation
    — one shuffle by part — not a grouped self-join (two shuffles plus a
    join at scale)."""
    plan = plan_of(entry.q_tpch_q20(spark, SF))
    assert "Window" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tpch_q13_left_outer_preserves_customers(spark, entry):
    """Q13 keeps zero-order customers: LEFT OUTER join present, and the
    double aggregation is partial+final hash aggregation."""
    plan = plan_of(entry.q_tpch_q13(spark, SF))
    assert "LeftOuter" in plan or "left_outer" in plan
    assert plan.count("HashAggregate") >= 2


def test_hll_sketch_single_exchange_no_python(spark, entry):
    """The HLL register sketch is partial+final hash aggregation with
    exactly ONE exchange and zero Python in the plan — md5/regexp/CASE
    all codegen. At 100 TB this is a map-side-combined scan whose
    shuffle carries at most 2^p rows per map task."""
    plan = plan_of(entry.q_hll_sketch(spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") <= 2  # agg shuffle (+ _load's spread)
    assert "Python" not in plan and "BatchEvalPython" not in plan


def test_verbatim_overlap_hash_join_no_python(spark, entry):
    """Span dedup is explode -> hash agg -> one equi-join on span_md5:
    no cartesian, no sort-merge, no Python row path."""
    plan = plan_of(entry.q_verbatim_overlap(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_similarity_join_hash_joins_no_python(spark, entry):
    """Prefix-filtering similarity join: every join is a hash equi-join
    (prefix hash, then the two verify probes), never a cartesian or
    nested loop, and the whole pipeline is codegen'd Columns — zero
    Python row paths. Candidate pruning happens BEFORE the distinct."""
    plan = plan_of(entry.q_similarity_join(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "BatchEvalPython" not in plan and "Python" not in plan


def test_bpe_pair_counts_two_hash_aggs_no_python(spark, entry):
    """BPE pair counting: word-frequency hash agg, then pair hash agg
    over the DISTINCT-word vocabulary — both partial+final (map-side
    combine), TakeOrdered for the top-N (no global sort), no Python."""
    plan = plan_of(entry.q_bpe_pair_counts(spark, SF))
    assert plan.count("HashAggregate") >= 4  # 2 aggs x partial+final
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_hybrid_search_takeordered_caps_no_cartesian_blowup(spark, entry):
    """RRF fusion: both rankings cap through TakeOrdered heaps (never a
    global Sort->Limit), the only cross join is the broadcast 1-row
    query vector, and fusion is a hash aggregate."""
    plan = plan_of(entry.q_hybrid_search(spark, SF))
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_dsir_weight_table_broadcasts_no_python(spark, entry):
    """DSIR scoring: the <=B-row log-weight table reaches the gram join
    as a BroadcastHashJoin (never sort-merge on the exploded gram
    stream) and the whole pipeline is JVM expressions — no Python
    workers in the hot path."""
    plan = plan_of(entry.q_dsir_logweights(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_dsir_resample_is_takeordered(spark, entry):
    """Gumbel-top-k resampling must plan as TakeOrderedAndProject:
    per-partition k-row heaps, no global Sort before the Limit."""
    plan = plan_of(entry.q_dsir_resample(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert not re.search(r"GlobalLimit.*\n.*Sort\b", plan)


def test_nb_classifier_broadcast_fanout_no_python(spark, entry):
    """NB scoring fans each token occurrence across the label list via
    broadcast joins (labels and vocab are tiny) — the only shuffles are
    the count aggregates and the per-doc argmax window; no Python."""
    plan = plan_of(entry.q_nb_classifier(spark, SF))
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin") >= 2
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_corpus_pipeline_fused_no_python_no_cartesian(spark, entry):
    """The composed pipeline (filter -> dedup -> split -> stats) must
    stay one fused Catalyst plan: hash aggregates for the dedup and the
    stats, no Python workers, no cartesian, and the quality predicate
    evaluated scan-side (a Filter above the documents scan, not above
    the join)."""
    plan = plan_of(entry.q_corpus_pipeline(spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final x (dedup, stats)
    assert "LeftSemi" in plan  # keep-one representative join


def test_kmeans_assignment_pass_literal_centroids_no_python(spark, entry):
    """Distributed k-means: the assignment pass is k literal-centroid
    distance expressions over the scan — no Python workers, no join
    (centroids are literals, not a table), no cartesian."""
    plan = plan_of(entry.q_kmeans_assign(spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # centroid literals, never a join


def test_kmeans_assignment_plan_is_linear_in_k(spark, entry):
    """The argmin is array_position(array_min) over ONE k-element
    distance array — O(k) plan nodes. The pairwise when-chain it
    replaced was O(k²), which blew up plan size (and analysis time)
    before k reached the hundreds. Pin linearity by comparing plan
    text size at k=8 vs k=64 (assignment pass only, iterations=0):
    quadratic growth would be ~64x, linear is ~8x."""
    from sleeper_spark.functions import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p8 = plan_of(similarity.kmeans_distributed(emb, k=8, iterations=0))
    p64 = plan_of(similarity.kmeans_distributed(emb, k=64, iterations=0))
    assert "Join" not in p64 and "BatchEvalPython" not in p64
    # one argmin node regardless of k
    assert p64.count("array_position") == p64.count("array_min") == 1
    assert len(p64) < 14 * len(p8)  # linear-ish; O(k^2) would be ~64x


def test_containment_pairs_bucketed_never_pairwise(spark, entry):
    """The containment join must stay shingle-bucketed: hash joins on
    the shingle key, the hot-shingle guard as a broadcast anti-join,
    no cartesian pair space, no Python workers."""
    plan = plan_of(entry.q_containment_pairs(spark, SF))
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "LeftAnti" in plan          # hot-shingle guard pre-join
    assert "BroadcastHashJoin" in plan  # guard list broadcast


def test_grouped_quantiles_partitioned_window_no_python(spark, entry):
    """The per-group prefix sum must run as a PARTITIONED window (its
    exchange hash-partitions by the group key — work spreads across
    the cluster), never a single-partition global window, and the
    whole plan stays JVM-side."""
    plan = plan_of(entry.q_grouped_quantiles(spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "SinglePartition" not in plan
    assert "Window" in plan
    assert plan.count("HashAggregate") >= 4  # histogram + final, partial+final


def test_winsorize_thresholds_are_literals_no_second_shuffle(spark, entry):
    """After the (already-run) threshold jobs, the winsorize query's
    remaining plan is scan -> clip -> partial/final agg: the clip is a
    codegen'd least/greatest over literals, no join against a
    threshold table, no Python."""
    plan = plan_of(entry.q_winsorize(spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Join" not in plan  # thresholds embedded as literals
    assert "HashAggregate" in plan


def test_mad_outliers_fences_are_literals(spark, entry):
    plan = plan_of(entry.q_mad_outliers(spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Join" not in plan  # median/MAD embedded as literals


def test_funnel_and_retention_stay_hash_joins(spark, entry):
    """The analytics trio added in round 7 must keep their joins as
    hash joins on the user key — no cartesian, no nested loop, no
    Python — and retention's only full-volume pass is the first
    distinct (hash aggregate)."""
    for q in (entry.q_funnel_windowed, entry.q_retention_cohorts):
        plan = plan_of(q(spark, SF))
        assert "CartesianProduct" not in plan, q.__name__
        assert "BroadcastNestedLoop" not in plan, q.__name__
        assert "BatchEvalPython" not in plan, q.__name__
    plan = plan_of(entry.q_retention_cohorts(spark, SF))
    assert plan.count("HashAggregate") >= 4  # distinct + firsts + final


def test_typo_pairs_variant_equi_join_no_cartesian(spark, entry):
    """The edit-distance join must be an EQUI-join on the deletion
    variant (plus pushed residual filters), with the levenshtein
    refilter JVM-side — never a cartesian pair space or a Python
    worker."""
    plan = plan_of(entry.q_typo_dedup_pairs(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "levenshtein" in plan  # exact refilter inside the plan


def test_pii_scan_zero_shuffle_before_rollup(spark, entry):
    """The PII sweep is pure codegen'd regex projection: exactly the
    final rollup's exchange, no Python, no join."""
    plan = plan_of(entry.q_pii_scan(spark, SF))
    assert plan.count("Exchange") <= 2  # partial/final agg pair
    assert "Python" not in plan and "Join" not in plan


def test_heavy_hitters_recount_is_broadcast_semi(spark, entry):
    """The recount joins the scan against the candidate set as a
    BROADCAST left-semi — the full-cardinality shuffle the operator
    exists to avoid must not appear."""
    plan = plan_of(entry.q_heavy_hitters(spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_grouped_split_single_group_shuffle(spark, entry):
    """Rank and group-count windows share ONE hash-partitioning by the
    group column; assignment itself is codegen'd CASE arithmetic."""
    from sleeper_spark.functions.sampling import grouped_exact_split
    doc = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("lang", "doc_id")
    plan = plan_of(grouped_exact_split(
        doc, ["lang"], "doc_id",
        {"train": 0.75, "val": 0.125, "test": 0.125}))
    assert plan.count("Exchange") == 1, plan
    assert "Python" not in plan


def test_interleave_no_global_window(spark, entry):
    """Positions come from a DOMAIN-partitioned window plus per-row
    arithmetic — never a single-partition global row_number."""
    plan = plan_of(entry.q_interleave_domains(spark, SF))
    assert "SinglePartition" not in plan, plan
    assert "Python" not in plan


def test_props_extract_prunes_to_props_column(spark, entry):
    """JSON promotion reads ONLY the props column — a scan pulling the
    whole events schema for a one-field extract is wrong at 100 TB."""
    plan = plan_of(entry.q_props_extract(spark, SF))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"props"}, cols
    assert "Python" not in plan


def test_robust_scale_and_cdf_no_python_no_cartesian(spark, entry):
    for fn in (entry.q_robust_scale, entry.q_grouped_cdf):
        plan = plan_of(fn(spark, SF))
        assert "Python" not in plan, fn
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_table_profile_single_expand_aggregation(spark, entry):
    """The whole profile is ONE aggregation job: the multi-distinct
    EXPAND shape, not one scan per column."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    plan = plan_of(li.agg(
        *[F.count_distinct(li[c]).alias(c) for c in li.columns[:3]]))
    # profile_columns collects a single agg row and returns a local
    # relation built from it, so pin the plan shape on the same agg
    # expression it issues
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan


def test_boilerplate_strip_anti_join_no_cartesian_one_tokenize(spark):
    """The C4 strip plan: per-group line DF via hash aggregation, a
    LEFT ANTI equi-join back (AQE may broadcast the detected set —
    never a cartesian/NL join), and per-doc reassembly as hash
    aggregation. No Python anywhere."""
    from sleeper_spark.functions.corpus import strip_boilerplate_lines
    doc = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("lang", "doc_id", "text")
    plan = plan_of(strip_boilerplate_lines(doc, ["lang"], min_df=3))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_grouped_sketch_quantiles_summary_only_shuffles(spark):
    """The grouped sketch tree shuffles SUMMARIES, never raw rows: the
    full column enters mapInArrow straight off the scan (no Exchange
    between scan and the level-0 summarizer), and everything after is
    grouped over the tiny summary stream."""
    from sleeper_spark.functions import stats
    li = spark.read.parquet(f"{SF}/lineitem.parquet") \
        .select("l_returnflag", "l_extendedprice")
    df = stats.grouped_sketch_quantiles(
        li, ["l_returnflag"], "l_extendedprice", {"p50": 0.5})
    plan = plan_of(df)
    # level 0 runs on scan output: the first Exchange in the plan tree
    # (bottom-up) must sit ABOVE the ArrowEvalPythonExec/mapInArrow
    scan_to_arrow = plan.split("Exchange")[-1]  # bottom fragment
    assert "PythonMapInArrow" in scan_to_arrow or \
        "MapInArrow" in scan_to_arrow, scan_to_arrow[:500]
    assert "CartesianProduct" not in plan


def test_prefix_range_hot_path_semi_join(spark, tmp_path):
    """lookup_prefix_range past the hot threshold plans the same
    distributed LeftSemi as lookup — the driver never materializes a
    hot range's key set."""
    from sleeper_spark.views import SecondaryIndex
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .select("event_id", "user_id", "event_type")
    schema = Schema(
        (Field("event_id", T.LongType()),), (),
        (Field("user_id", T.LongType(), True),
         Field("event_type", T.StringType(), True)))
    src = SleeperTable.create(spark, str(tmp_path / "hsrc"), schema)
    idx = SecondaryIndex.create(src, str(tmp_path / "hidx"),
                                ["event_type", "user_id"])
    src.ingest(ev)
    idx.refresh()
    df = idx.lookup_prefix_range(["click"], 0, 10_000_000,
                                 hot_threshold=5)
    assert "LeftSemi" in plan_of(df)


def test_index_lookup_join_bounded_path_no_source_exchange(
        spark, tmp_path):
    """lookup_join's bounded path: the probe restriction broadcasts
    against the postings scan (never a sort-merge join), and the
    source side is a batch_exact_key_query union of pruned file scans
    — the final probe join is a BroadcastHashJoin/BroadcastNestedLoop
    over a bounded row set, with no sort-merge join anywhere."""
    from sleeper_spark.views import SecondaryIndex
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .select("event_id", "user_id", "event_type")
    schema = Schema(
        (Field("event_id", T.LongType()),), (),
        (Field("user_id", T.LongType(), True),
         Field("event_type", T.StringType(), True)))
    src = SleeperTable.create(spark, str(tmp_path / "ljsrc"), schema)
    idx = SecondaryIndex.create(src, str(tmp_path / "ljidx"),
                                "user_id")
    src.ingest(ev)
    idx.refresh()
    probe = spark.createDataFrame([(7, "a"), (13, "b")],
                                  "uid long, tag string")
    df = idx.lookup_join(probe, on={"user_id": "uid"})
    plan = plan_of(df)
    assert "SortMergeJoin" not in plan, plan[:800]
    assert "Broadcast" in plan


def test_gap_fill_no_nested_loop_window_reuses_spine_exchange(spark):
    """gap_fill plans the textbook densify shape: the dense spine is a
    Generate (sequence+explode) over the per-entity agg — never a
    cartesian/nested-loop — and the LOCF window runs on the spine's
    entity partitioning (no fourth exchange just for the fill)."""
    from sleeper_spark.functions.timeseries import gap_fill
    ev = spark.read.parquet(f"{SF}/events.parquet") \
        .selectExpr("user_id", "value",
                    "unix_micros(CAST(ts AS TIMESTAMP)) AS ts_us")
    df = gap_fill(ev, ["user_id"], "ts_us", 86_400_000_000, "value")
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate explode(sequence" in plan
    # densify + fill = at most 3 exchanges (bucket agg, spine agg,
    # join side); the window must NOT add its own
    assert plan.count("Exchange") <= 3, plan[:1200]


def test_merge_when_replacement_no_cartesian(spark, tmp_path):
    """merge_when's clause join broadcasts the (unique-per-key capped)
    source frame — the replacement computation must never plan a
    cartesian/nested-loop against the matched target rows."""
    from pyspark.sql import functions as F
    ev = spark.read.parquet(f"{SF}/events.parquet") \
        .select("event_id", "user_id", "event_type", "value")
    schema = Schema(
        (Field("event_id", T.LongType()),), (),
        (Field("user_id", T.LongType(), True),
         Field("event_type", T.StringType(), True),
         Field("value", T.DoubleType(), True)))
    table = SleeperTable.create(spark, str(tmp_path / "mwp"), schema)
    table.ingest(ev)
    captured = {}
    import sleeper_spark.merge as merge_mod
    orig = merge_mod.merge_upsert

    def spy(table_, frame, **kw):
        captured["plan"] = plan_of(frame)
        return orig(table_, frame, **kw)

    merge_mod.merge_upsert = spy
    try:
        src = ev.where("event_id < 50").select(
            "event_id", "user_id",
            F.lit("src").alias("event_type"), "value")
        table.merge_when(src, update_set={"event_type": "'u'"},
                         update_condition="s.value IS NOT NULL")
    finally:
        merge_mod.merge_upsert = orig
    plan = captured["plan"]
    assert "CartesianProduct" not in plan
    assert "Broadcast" in plan, plan[:800]


def test_negative_sampling_is_bucket_equi_join(spark):
    """The full-corpus negative sampler must pair rows through the
    bucket EQUI-join — never a nested loop / cartesian over the corpus:
    at 100 TB the theta form is the difference between Θ(n·occupancy)
    and Θ(n²)."""
    from sleeper_spark.functions.similarity import negative_sampling
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = plan_of(negative_sampling(emb, per_bucket=16, k=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the pair space is pruned map-side before the rank exchange
    assert any("WindowGroupLimit" in ln and "Partial" in ln
               for ln in plan.splitlines()), plan


def test_hard_negative_mining_broadcasts_anchors_and_pre_prunes(spark):
    """Hard-negative mining scores the corpus map-side against the
    BROADCAST anchor set (label-inequality theta join — nested loop is
    correct here because one side is contract-bounded), and the rank
    filter must plan the Partial WindowGroupLimit before the exchange
    so the shuffle carries <= k rows per (partition, anchor)."""
    from pyspark.sql import functions as F
    from sleeper_spark.functions.similarity import hard_negative_mining
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    anchors = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "label", "embedding")
    plan = plan_of(hard_negative_mining(emb, anchors, k=5))
    assert "BroadcastNestedLoopJoin" in plan, plan[:800]
    ex = plan.index("Exchange hashpartitioning(query_id")
    partial = [ln for ln in plan.splitlines()
               if "WindowGroupLimit" in ln and "Partial" in ln]
    assert partial, plan
    assert plan.index(partial[0].strip()) > ex, plan


def test_hopping_window_single_exchange_partial_agg(spark):
    """The 4x window fan-out happens inside the map-side partial
    aggregate: exactly ONE exchange (on the window key), carrying
    per-(window, task) partials — not 4x the event rows."""
    import sys
    sys.path.insert(0, os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as em
    plan = plan_of(em.q_hopping_window(spark, SF))
    assert plan.count("Exchange") == 1, plan
    assert "partial_count" in plan or "Partial" in plan, plan


def test_unpivot_expands_without_extra_shuffle(spark, entry):
    """The melt must plan as a map-side Expand feeding ONE partial+final
    hash aggregate pair — a 3x row expansion is free; a second exchange
    or a Python eval would not be."""
    plan = plan_of(entry.queries()["unpivot"](spark, SF))
    assert "Expand" in plan, plan[:800]
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan
    assert "partial_count" in plan or "Partial" in plan, plan


def test_rolling_interval_window_one_exchange(spark, entry):
    """The 90-day RANGE frame runs per customer partition: exactly one
    hash exchange on o_custkey, a specified window frame (value-range,
    not rows), and no join anywhere."""
    plan = plan_of(entry.queries()["rolling_interval_window"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "specifiedwindowframe(RangeFrame, -89, currentrow" in plan, plan
    assert "Join" not in plan, plan


def test_assoc_rules_broadcasts_marginals(spark, entry):
    """The |types|^2 rule table takes its marginals and the user total
    via broadcast joins — no extra shuffle after the co-occurrence
    aggregate; the only sort-merge-free shape that survives a corpus
    scale-up."""
    plan = plan_of(entry.queries()["assoc_rules"](spark, SF))
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastExchange") >= 3, plan
    assert "CartesianProduct" not in plan


def test_pareto_frontier_broadcasts_group_table(spark, entry):
    """The skyline joins the corpus to the per-price group table via
    BROADCAST (the group table is value-domain-scale) — never a
    sort-merge join or a quadratic nested loop over parts."""
    plan = plan_of(entry.queries()["pareto_frontier"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan[:800]
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ks_drift_collapses_before_global_window(spark, entry):
    """The ECDF window must run AFTER the per-value collapse: the
    single-partition exchange feeds the value-domain table, and the
    data-scale aggregation keeps a map-side partial."""
    plan = plan_of(entry.queries()["ks_drift"](spark, SF))
    lines = plan.splitlines()
    single = [i for i, ln in enumerate(lines)
              if "Exchange SinglePartition" in ln]
    assert single, plan
    # partial aggregate (per-value counts) appears BELOW (after index)
    # the single-partition exchange in the printed tree
    partial = [i for i, ln in enumerate(lines)
               if "HashAggregate" in ln and "partial_sum" in ln]
    assert partial and max(partial) > min(single), plan


def test_quantile_normalize_all_broadcast_no_global_sort(spark, entry):
    """ECDF matching must keep every join broadcast (grids are
    value-domain-scale) and never globally sort the document table —
    the single-partition exchanges may only carry grid rows."""
    plan = plan_of(entry.queries()["quantile_normalize"](spark, SF))
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 1, plan
    # the doc-scale side reads only the three needed columns
    assert "ReadSchema: struct<doc_id:bigint,source:string" in plan \
        or "doc_id" in plan.split("FileScan")[-1], plan


def test_target_encoding_one_exchange_then_broadcast(spark, entry):
    """The category aggregate is materialised once (_ck), so the final
    plan starts from the |categories|-row table (ExistingRDD) and never
    re-shuffles event-scale rows: the only exchange is the
    SinglePartition carrying the per-category partials of the 1-row
    total, which then rides a broadcast onto the encoder table."""
    plan = plan_of(entry.queries()["target_encoding"](spark, SF))
    assert "Scan ExistingRDD" in plan, plan
    # no event-scale shuffle survives in the final plan
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert plan.count("partial_sum") >= 1, plan
    assert "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan
