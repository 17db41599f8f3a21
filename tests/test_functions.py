"""Tests for the beyond-reference operator library (dedup, text,
similarity, multimodal plumbing) on the real documents/embeddings
testdata."""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


class TestText:
    def test_pii_scrub_redacts_and_counts(self, spark):
        from sleeper_spark.functions.text import pii_scrub
        df = spark.createDataFrame(
            [(1, "mail a.b+c@test.org or b@x.io, host 192.168.0.1, "
                 "call +44 20 7946 0958 now"),
             (2, "nothing sensitive here")],
            ["doc_id", "text"])
        got = {r.doc_id: r for r in pii_scrub(df).collect()}
        assert (got[1].n_emails, got[1].n_ips, got[1].n_phones) == (2, 1, 1)
        out = got[1].text_scrubbed
        assert "<EMAIL>" in out and "<IP>" in out and "<PHONE>" in out
        assert "test.org" not in out and "192.168" not in out
        assert "7946" not in out
        assert got[2].text_scrubbed == "nothing sensitive here"
        assert (got[2].n_emails, got[2].n_ips, got[2].n_phones) == (0, 0, 0)

    def test_pii_scrub_counts_equal_substitutions(self, spark):
        """Counts are progressive (each pattern counted on the text the
        scrub sees): an email whose domain embeds an IPv4-shaped token
        must NOT also count as an IP redaction."""
        from sleeper_spark.functions.text import pii_scrub
        df = spark.createDataFrame(
            [(1, "write to bob@10.0.0.1.example.com today")],
            ["doc_id", "text"])
        r = pii_scrub(df).collect()[0]
        assert (r.n_emails, r.n_ips, r.n_phones) == (1, 0, 0)
        assert r.text_scrubbed == "write to <EMAIL> today"

    def test_pii_scrub_null_text_counts_zero(self, spark):
        """NULL-text rows must audit as 0 matches, not the -1 that
        F.size emits for a NULL array under legacy sizeOfNull — a -1
        would corrupt downstream count aggregations."""
        from pyspark.sql import types as T
        from sleeper_spark.functions.text import pii_scrub
        df = spark.createDataFrame(
            [(1, None), (2, "ping a@b.co")],
            T.StructType([T.StructField("doc_id", T.LongType()),
                          T.StructField("text", T.StringType())]))
        got = {r.doc_id: r for r in pii_scrub(df).collect()}
        assert (got[1].n_emails, got[1].n_ips, got[1].n_phones) == (0, 0, 0)
        assert got[1].text_scrubbed is None
        assert got[2].n_emails == 1

    def test_token_count_matches_python(self, docs):
        import re
        from sleeper_spark.functions.text import token_count
        rows = (docs.limit(20)
                .withColumn("n", token_count("text"))
                .select("text", "n").collect())
        for r in rows:
            assert r.n == len(re.findall(r"[A-Za-z0-9']+", r.text.lower()))

    def test_quality_features(self, docs):
        from sleeper_spark.functions.text import quality_features
        out = quality_features(docs).limit(5).collect()
        for r in out:
            assert r.n_chars_computed == len(r.text)
            assert 0.0 <= r.punct_ratio <= 1.0
            assert r.n_tokens > 0

    def test_language_id_returns_known_labels(self, docs):
        from sleeper_spark.functions.text import language_id, STOPWORDS
        out = language_id(docs).groupBy("predicted_lang").count().collect()
        labels = {r.predicted_lang for r in out}
        assert labels <= set(STOPWORDS) | {"und"}

    def test_fingerprint_stable_and_normalizing(self, spark):
        from sleeper_spark.functions.text import fingerprint
        df = spark.createDataFrame(
            [("a", "Hello  World"), ("b", "hello world")], ["id", "text"])
        fps = [r.fp for r in df.select(fingerprint("text").alias("fp")).collect()]
        assert fps[0] == fps[1]  # case + whitespace normalized


class TestDedup:
    def test_exact_duplicates_on_constructed(self, spark):
        from sleeper_spark.functions.dedup import exact_duplicates, drop_exact_duplicates
        df = spark.createDataFrame(
            [(1, "same text"), (2, "same text"), (3, "other")], ["doc_id", "text"])
        groups = {r.keep_id: r.n_copies for r in exact_duplicates(df).collect()}
        assert groups == {1: 2, 3: 1}
        kept = sorted(r.doc_id for r in drop_exact_duplicates(df).collect())
        assert kept == [1, 3]

    def test_shingles(self, spark):
        from sleeper_spark.functions.dedup import shingles
        df = spark.createDataFrame([("a b c d",), ("x",)], ["text"])
        out = df.select(shingles("text", 3).alias("s")).collect()
        assert out[0].s == ["a b c", "b c d"]
        assert out[1].s == []  # shorter than k -> empty, not descending-sequence junk

    def test_minhash_finds_planted_near_dup(self, spark):
        from sleeper_spark.functions.dedup import verified_near_duplicates
        base = ("spark is a distributed engine for large scale data "
                "processing with dataframes and sql abstractions")
        near = base.replace("large scale", "massive scale")
        df = spark.createDataFrame(
            [(1, base), (2, near), (3, "completely unrelated short doc about cats")],
            ["doc_id", "text"])
        pairs = verified_near_duplicates(df, threshold=0.5, num_hashes=32, bands=16)
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        assert (1, 2) in got
        assert all(p == (1, 2) for p in got)

    def test_simhash_near_duplicates(self, spark):
        from sleeper_spark.functions.dedup import simhash_near_duplicates
        base = ("the quick brown fox jumps over the lazy dog while the "
                "cat watches from the warm windowsill in the sun")
        df = spark.createDataFrame(
            [(1, base), (2, base.replace("warm", "cold")),
             (3, "totally different content about spark executors and shuffles")],
            ["doc_id", "text"])
        # planted pair sits ~10 bits apart on these tiny docs (19 shingles,
        # 2 flipped); unrelated docs are 30+ bits away
        got = {(r.id_a, r.id_b) for r in
               simhash_near_duplicates(df, max_hamming=12).collect()}
        assert (1, 2) in got
        assert (1, 3) not in got and (2, 3) not in got

    def test_incremental_pairs_equal_full_pairs_restricted(self, docs):
        """The incremental path (new batch vs persisted band index) must
        produce EXACTLY the full self-join's pairs that touch the batch
        — same recall, no phantom pairs, old text never re-read."""
        from pyspark.sql import functions as F
        from sleeper_spark.functions.dedup import (
            banded_buckets,
            incremental_minhash_pairs,
            minhash_candidate_pairs,
        )
        old = docs.where(F.col("doc_id") % 5 != 0)
        new = docs.where(F.col("doc_id") % 5 == 0)
        idx = banded_buckets(old, num_hashes=16, bands=4)
        inc = {(r.id_a, r.id_b) for r in incremental_minhash_pairs(
            idx, new, num_hashes=16, bands=4).collect()}
        full = {(r.id_a, r.id_b) for r in minhash_candidate_pairs(
            docs, num_hashes=16, bands=4).collect()}
        want = {(a, b) for a, b in full if a % 5 == 0 or b % 5 == 0}
        assert inc == want

    def test_similarity_join_exactness_vs_brute_force(self, docs):
        """Prefix filtering must lose NOTHING: on real documents the
        output equals the brute-force all-pairs thresholded Jaccard set
        — exactness, not recall."""
        from sleeper_spark.functions.dedup import (
            jaccard_similarity, shingles, similarity_join)
        sub = docs.where(F.col("doc_id") < 120)
        got = {(r.id_a, r.id_b, r.jaccard) for r in
               similarity_join(sub, threshold=0.3).collect()}
        sh = sub.select("doc_id", shingles("text", 3).alias("s")) \
            .where(F.size("s") > 0)
        a, b = sh.alias("a"), sh.alias("b")
        brute = (a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
                 .select(F.col("a.doc_id").alias("id_a"),
                         F.col("b.doc_id").alias("id_b"),
                         F.round(jaccard_similarity(
                             F.col("a.s"), F.col("b.s")), 4).alias("j"))
                 .where(F.col("j") >= 0.3))
        want = {(r.id_a, r.id_b, r.j) for r in brute.collect()}
        assert got == want
        assert want, "fixture produced no qualifying pairs — test is vacuous"

    def test_bpe_textbook_example(self, spark):
        """Sennrich et al.'s canonical walk-through shape: merges learn
        (l,o) -> (lo,w) -> (e,r) and segmentation applies them in
        order."""
        from sleeper_spark.functions import corpus
        df = spark.createDataFrame(
            [(1, "low low low lower lower newest")], ["doc_id", "text"])
        got = {(r.pair, r.n) for r in
               corpus.bpe_pair_counts(df, top=10).collect()}
        assert ("lo", 5) in got and ("ow", 5) in got and ("we", 3) in got
        merges = corpus.learn_bpe_merges(df, n_merges=3)
        assert merges == [("l", "o"), ("lo", "w"), ("e", "r")]
        seg = df.select(
            corpus.bpe_segment("text", merges).alias("s")).collect()[0].s
        assert seg[:5] == ["low", "low", "low", "low", "er"]
        assert "newest"[0] in ("n",) and "n" in seg  # unmerged chars remain

    def test_bpe_segment_matches_reference_apply(self, docs):
        """bpe_segment (codegen'd replace chain) must agree with a
        straightforward Python re-application of the merge rules on
        real documents."""
        from sleeper_spark.functions import corpus
        from sleeper_spark.functions.text import TOKEN_PATTERN
        import re
        merges = corpus.learn_bpe_merges(docs, n_merges=15)
        sub = docs.where(F.col("doc_id") < 10)
        got = {r.doc_id: r.s for r in sub.select(
            "doc_id", corpus.bpe_segment("text", merges).alias("s"))
            .collect()}

        def apply_py(text):
            out = []
            for w in re.findall(TOKEN_PATTERN, text.lower()):
                syms = list(w)
                for a, b in merges:
                    i, merged = 0, []
                    while i < len(syms):
                        if (i + 1 < len(syms) and syms[i] == a
                                and syms[i + 1] == b):
                            merged.append(a + b)
                            i += 2
                        else:
                            merged.append(syms[i])
                            i += 1
                    syms = merged
                out.extend(syms)
            return out

        for r in sub.select("doc_id", "text").collect():
            assert got[r.doc_id] == apply_py(r.text), r.doc_id

    def test_similarity_join_planted_pair_and_short_docs(self, spark):
        from sleeper_spark.functions.dedup import similarity_join
        base = ("spark is a distributed engine for large scale data "
                "processing with dataframes and sql abstractions")
        df = spark.createDataFrame(
            [(1, base), (2, base.replace("large scale", "massive scale")),
             (3, "unrelated doc about cats and windowsills entirely"),
             (4, "too short")],  # < k words: no shingles, never a pair
            ["doc_id", "text"])
        got = {(r.id_a, r.id_b) for r in
               similarity_join(df, threshold=0.5).collect()}
        assert got == {(1, 2)}

    def test_minhash_scales_on_real_docs(self, docs):
        from sleeper_spark.functions.dedup import minhash_candidate_pairs
        pairs = minhash_candidate_pairs(docs, num_hashes=16, bands=4)
        n_docs = docs.count()
        n_pairs = pairs.count()
        assert n_pairs < n_docs * n_docs / 4  # not a cross join

    def test_lsh_band_audit_reports_planted_hot_bucket(self, spark):
        """r9 VERDICT Next #6: the pre-join band audit must surface a
        skewed bucket as a NUMBER — 30 identical docs collide in every
        band, so the heaviest buckets carry exactly C(30,2)=435
        candidate pairs each, while the distinct filler docs stay off
        the report entirely."""
        from sleeper_spark.functions.dedup import lsh_band_audit
        hot = [(i, "the exact same boilerplate page text repeated "
                   "verbatim across mirrors") for i in range(30)]
        cold = [(100 + i,
                 f"unique document number {i} about topic {i * 7} "
                 f"with distinct words w{i}a w{i}b w{i}c w{i}d")
                for i in range(50)]
        df = spark.createDataFrame(hot + cold, ["doc_id", "text"])
        audit = lsh_band_audit(df, num_hashes=16, bands=4, top_n=10)
        rows = audit.collect()
        assert rows, "hot bucket must be reported"
        top = rows[0]
        assert top.n_docs == 30 and top.n_pairs == 435
        # identical docs collide in EVERY band — all 4 reported
        assert {r.band for r in rows if r.n_docs == 30} \
            == {0, 1, 2, 3}
        # ordering contract: heaviest first
        assert [r.n_pairs for r in rows] \
            == sorted((r.n_pairs for r in rows), reverse=True)

    def test_banded_buckets_match_column_banding(self, spark, docs):
        """The array-slice banding fold produces the identical (id, band,
        bucket) rows as hashing the r extracted mh columns (the shape it
        replaced)."""
        from sleeper_spark.functions import dedup

        num_hashes, bands = 16, 4
        r = num_hashes // bands
        new = dedup.banded_buckets(docs, text_col="text", id_col="doc_id",
                                   num_hashes=num_hashes, bands=bands)
        sig = dedup.minhash_signatures(docs, text_col="text", id_col="doc_id",
                                       num_hashes=num_hashes)
        old = sig.select(
            F.col("__id").alias("doc_id"),
            F.explode(F.array(*[
                F.struct(F.lit(b).alias("band"),
                         F.xxhash64(*[F.col(f"mh{b * r + i}")
                                      for i in range(r)]).alias("bucket"))
                for b in range(bands)
            ])).alias("bb")).select("doc_id", "bb.band", "bb.bucket")
        assert sorted(map(tuple, new.collect())) == \
            sorted(map(tuple, old.collect()))


class TestSimilarity:
    def test_cosine_against_numpy(self, embeddings):
        import numpy as np
        from sleeper_spark.functions.similarity import brute_force_topk
        corpus = embeddings
        queries = embeddings.limit(2).select(
            F.col("vec_id").alias("query_id"), "embedding")
        got = brute_force_topk(corpus, queries, k=3).collect()
        # verify with numpy
        data = {r.vec_id: np.array(r.embedding, dtype=np.float64)
                for r in embeddings.collect()}
        for qid in {r.query_id for r in got}:
            q = data[qid]
            sims = sorted(
                ((np.dot(v, q) / (np.linalg.norm(v) * np.linalg.norm(q)), -i)
                 for i, v in data.items() if i != qid),
                reverse=True)
            want_top = [-s[1] for s in sims[:3]]
            got_top = [r.vec_id for r in sorted(
                (x for x in got if x.query_id == qid), key=lambda r: r.rank)]
            assert got_top == want_top

    def test_lsh_topk_subset_of_bucket(self, embeddings):
        from sleeper_spark.functions.similarity import lsh_topk
        dim = len(embeddings.first().embedding)
        queries = embeddings.limit(2).select(
            F.col("vec_id").alias("query_id"), "embedding")
        out = lsh_topk(embeddings, queries, dim=dim, k=5, bits=4)
        rows = out.collect()
        assert len(rows) > 0
        assert all(r.cosine <= 1.0001 for r in rows)


    def test_lsh_multiprobe_superset_and_flip_buckets(self, embeddings):
        """nprobe=3 candidates must be a superset of nprobe=1's (the
        signature bucket is always probed), and probing every bucket's
        worth of flips can only grow the result."""
        from sleeper_spark.functions.similarity import lsh_topk
        dim = len(embeddings.first().embedding)
        queries = embeddings.limit(2).select(
            F.col("vec_id").alias("query_id"), "embedding")
        # k larger than any candidate pool -> the result IS the pool,
        # and only pools nest (a capped top-k need not)
        big_k = embeddings.count() + 1
        one = {(r.query_id, r.vec_id) for r in lsh_topk(
            embeddings, queries, dim=dim, k=big_k, bits=4).collect()}
        multi = {(r.query_id, r.vec_id) for r in lsh_topk(
            embeddings, queries, dim=dim, k=big_k, bits=4, nprobe=3).collect()}
        assert one <= multi
        assert len(multi) > len(one)  # the flip buckets added candidates

    def test_recall_at_k(self, spark):
        from sleeper_spark.functions.similarity import recall_at_k
        exact = spark.createDataFrame(
            [(1, 10, 1), (1, 11, 2), (1, 12, 3),
             (2, 20, 1), (2, 21, 2), (2, 22, 3),
             (3, 30, 1)],
            ["query_id", "vec_id", "rank"])
        approx = spark.createDataFrame(
            [(1, 10, 1), (1, 99, 2), (1, 12, 3),
             (2, 98, 1), (2, 97, 2), (2, 96, 3)],
            ["query_id", "vec_id", "rank"])
        got = {r.query_id: r for r in
               recall_at_k(exact, approx, k=3).collect()}
        assert set(got) == {1, 2}          # query 3 not served by approx
        assert got[1].n_exact == 3 and got[1].n_hits == 2
        assert abs(got[1].recall - 0.6667) < 1e-9
        assert got[2].n_hits == 0 and got[2].recall == 0.0

    def test_candidate_counts_match_actual_joins(self, embeddings):
        """The histogram-derived per-query candidate counts must equal
        the row counts the tiers' bucket/cell joins actually score
        (uncapped k so the top-k IS the candidate pool)."""
        from sleeper_spark.functions.similarity import (
            ivf_candidate_count,
            ivf_topk,
            lsh_candidate_count,
            lsh_topk,
            train_ivf_centroids,
        )
        dim = len(embeddings.first().embedding)
        queries = embeddings.limit(3).select(
            F.col("vec_id").alias("query_id"), "embedding")
        big_k = embeddings.count() + 1
        for nprobe in (1, 3):
            got = {r.query_id: r.n_candidates for r in lsh_candidate_count(
                embeddings, queries, dim=dim, bits=4,
                nprobe=nprobe).collect()}
            pool = lsh_topk(embeddings, queries, dim=dim, k=big_k, bits=4,
                            nprobe=nprobe).groupBy("query_id").count()
            want = {r.query_id: r["count"] for r in pool.collect()}
            for qid in want:
                assert got[qid] == want[qid], (nprobe, qid)
        cents = train_ivf_centroids(embeddings, 4)
        for nprobe in (1, 2):
            got = {r.query_id: r.n_candidates for r in ivf_candidate_count(
                embeddings, queries, cents, nprobe=nprobe).collect()}
            pool = ivf_topk(embeddings, queries, dim=dim, k=big_k, nlist=4,
                            nprobe=nprobe, centroids=cents
                            ).groupBy("query_id").count()
            want = {r.query_id: r["count"] for r in pool.collect()}
            for qid in want:
                assert got[qid] == want[qid], (nprobe, qid)

    def test_select_ann_tier_choice_rules(self, embeddings):
        """Reachable target -> cheapest meeting config wins; unreachable
        target -> the highest-recall config still deploys."""
        from sleeper_spark.functions.similarity import select_ann_tier
        dim = len(embeddings.first().embedding)
        queries = embeddings.limit(3).select(
            F.col("vec_id").alias("query_id"), "embedding")
        rows = select_ann_tier(
            embeddings, queries, dim=dim, k=5, recall_target=0.0,
            lsh_bits=4, lsh_probes=(1,), ivf_nlist=4, ivf_probes=(1, 2),
        ).collect()
        assert len(rows) == 3
        assert sum(r.chosen for r in rows) == 1
        # target 0.0: every config meets it -> cheapest fraction chosen
        chosen = next(r for r in rows if r.chosen)
        assert chosen.candidate_fraction == min(
            r.candidate_fraction for r in rows)
        assert all(0.0 <= r.recall <= 1.0 for r in rows)
        assert all(0.0 < r.candidate_fraction <= 1.0 for r in rows)
        rows2 = select_ann_tier(
            embeddings, queries, dim=dim, k=5, recall_target=1.1,
            lsh_bits=4, lsh_probes=(1,), ivf_nlist=4, ivf_probes=(1, 2),
        ).collect()
        chosen2 = next(r for r in rows2 if r.chosen)
        assert chosen2.recall == max(r.recall for r in rows2)

    def test_ivf_topk_recall_vs_brute_force(self, spark, embeddings):
        """IVF with full probe (nprobe=nlist) must equal brute force;
        partial probe keeps most of the top-k (recall check)."""
        from sleeper_spark.functions.similarity import brute_force_topk, ivf_topk
        dim = len(embeddings.first().embedding)
        queries = embeddings.limit(3).select(
            F.col("vec_id").alias("query_id"), "embedding")
        exact = {(r.query_id, r.vec_id) for r in
                 brute_force_topk(embeddings, queries, k=5).collect()}
        full = {(r.query_id, r.vec_id) for r in ivf_topk(
            embeddings, queries, dim=dim, k=5, nlist=8, nprobe=8).collect()}
        assert full == exact  # probing every cell == exhaustive
        part = {(r.query_id, r.vec_id) for r in ivf_topk(
            embeddings, queries, dim=dim, k=5, nlist=8, nprobe=3).collect()}
        assert len(part & exact) / len(exact) >= 0.5  # partial-probe recall

    def test_ivf_with_distributed_trained_centroids(self, spark, embeddings):
        """train_ivf_centroids(method='distributed') — whole-corpus
        Lloyd's — must produce unit centroids that drop into ivf_topk
        and reach recall comparable to the sample trainer."""
        from sleeper_spark.functions.similarity import (
            brute_force_topk, ivf_topk, train_ivf_centroids)
        import numpy as np
        dim = len(embeddings.first().embedding)
        cents = train_ivf_centroids(
            embeddings, nlist=8, method="distributed", iterations=2)
        assert len(cents) == 8 and all(len(c) == dim for c in cents)
        for c in cents:  # re-normalized floats, drop-in for ivf_topk
            assert abs(float(np.linalg.norm(c)) - 1.0) < 1e-9
        queries = embeddings.limit(5).select(
            F.col("vec_id").alias("query_id"), "embedding")
        exact = {(r.query_id, r.vec_id) for r in
                 brute_force_topk(embeddings, queries, k=5).collect()}
        full = {(r.query_id, r.vec_id) for r in ivf_topk(
            embeddings, queries, dim=dim, k=5, nlist=8, nprobe=8,
            centroids=cents).collect()}
        assert full == exact  # full probe == exhaustive, any centroids
        part = {(r.query_id, r.vec_id) for r in ivf_topk(
            embeddings, queries, dim=dim, k=5, nlist=8, nprobe=3,
            centroids=cents).collect()}
        assert len(part & exact) / len(exact) >= 0.5

    def test_ivf_no_cartesian_and_cell_pruning(self, spark, embeddings):
        from sleeper_spark.functions.similarity import ivf_topk
        dim = len(embeddings.first().embedding)
        queries = embeddings.limit(2).select(
            F.col("vec_id").alias("query_id"), "embedding")
        df = ivf_topk(embeddings, queries, dim=dim, k=3, nlist=8, nprobe=1)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple")
        assert "CartesianProduct" not in plan
        rows = df.collect()
        assert rows and all(r.cosine <= 1.0001 for r in rows)

    def test_embedding_near_duplicates_finds_planted(self, spark, embeddings):
        """Plant two exact-duplicate vectors and a near-duplicate; the
        LSH-bucketed pair finder must surface them with exact cosines."""
        import numpy as np
        from sleeper_spark.functions.similarity import embedding_near_duplicates
        dim = len(embeddings.first().embedding)
        base = np.array(embeddings.first().embedding, dtype=np.float64)
        near = base.copy(); near[0] += 1e-4
        extra = spark.createDataFrame(
            [(90001, [float(x) for x in base]),
             (90002, [float(x) for x in base]),
             (90003, [float(x) for x in near])],
            "vec_id long, embedding array<float>")
        corpus = embeddings.select("vec_id", "embedding").unionByName(extra)
        pairs = {(r.id_a, r.id_b): r.cosine
                 for r in embedding_near_duplicates(
                     corpus, dim=dim, threshold=0.999).collect()}
        assert (90001, 90002) in pairs and pairs[(90001, 90002)] == 1.0
        assert (90001, 90003) in pairs and pairs[(90001, 90003)] >= 0.999
        # no self pairs, ordered ids
        assert all(a < b for a, b in pairs)

    def test_embedding_near_duplicates_no_cartesian(self, spark, embeddings):
        from sleeper_spark.functions.similarity import embedding_near_duplicates
        dim = len(embeddings.first().embedding)
        df = embedding_near_duplicates(embeddings, dim=dim, threshold=0.9)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_kmeans_cache_quantized_identical(self, spark):
        """cache_quantized=True must return identical assignments and is
        purely a scan-count trade (guide §5) — pinned so the flag can't
        drift semantically."""
        import numpy as np

        from sleeper_spark.functions import similarity
        rng = np.random.RandomState(3)
        rows = [(i, [float(x) for x in rng.randn(16)]) for i in range(300)]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        base = sorted(map(tuple, similarity.kmeans_distributed(
            df, k=4, iterations=3).collect()))
        cached = sorted(map(tuple, similarity.kmeans_distributed(
            df, k=4, iterations=3, cache_quantized=True).collect()))
        assert base == cached
        cents_a = similarity.train_ivf_centroids(
            df, 4, method="distributed", iterations=3)
        cents_b = similarity.train_ivf_centroids(
            df, 4, method="distributed", iterations=3, cache_quantized=True)
        assert cents_a == cents_b

    def test_array_lit_bit_exact(self, spark):
        """_array_lit parses to the identical IEEE bits F.lit builds —
        including negative zero, denormal-adjacent, huge and long-edge
        values (xxhash64 equality = bit equality)."""
        from sleeper_spark.functions import similarity

        mat = [[-0.0, 1e-300, 1.7976931348623157e308, 0.1, -2.5,
                12345678901234.567]]
        row = spark.range(1).select(
            F.xxhash64(similarity._array_lit(mat, "array<array<double>>"))
            .alias("a"),
            F.xxhash64(F.lit(mat).cast("array<array<double>>")).alias("b"),
            F.xxhash64(similarity._array_lit([[(1 << 62) + 123, -42, 0]],
                                             "array<array<long>>")).alias("c"),
            F.xxhash64(F.lit([[(1 << 62) + 123, -42, 0]])
                       .cast("array<array<long>>")).alias("d"),
        ).collect()[0]
        assert row["a"] == row["b"]
        assert row["c"] == row["d"]

    def test_lsh_topk_indexed_equivalence(self, spark, embeddings):
        """lsh_topk(indexed=lsh_index_corpus(...)) returns the exact rows of
        the self-derived corpus side."""
        from sleeper_spark.functions import similarity

        q = embeddings.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding")
        base = similarity.lsh_topk(embeddings, q, dim=64, k=5, bits=8,
                                   nprobe=3)
        idx = similarity.lsh_index_corpus(embeddings, dim=64, bits=8)
        via = similarity.lsh_topk(embeddings, q, dim=64, k=5, bits=8,
                                  nprobe=3, indexed=idx)
        assert sorted(map(tuple, base.collect())) == \
            sorted(map(tuple, via.collect()))

    def test_probe_prefix_property(self, spark, embeddings):
        """query_probe_buckets at nprobe=1 is the 1-prefix of nprobe=3 —
        the contract the ANN sweep entries rely on to evaluate probes once."""
        from sleeper_spark.functions import similarity

        planes = similarity._hyperplanes(64, 8, 42)
        rows = (embeddings.limit(8).select(
            F.col("vec_id"),
            similarity.query_probe_buckets(
                F.col("embedding").cast("array<double>"), planes, 1)
            .alias("p1"),
            similarity.query_probe_buckets(
                F.col("embedding").cast("array<double>"), planes, 3)
            .alias("p3"))).collect()
        assert rows
        for r in rows:
            assert list(r["p1"]) == list(r["p3"])[:1]

    def test_pq_index_corpus_matches_join_shape(self, spark, embeddings):
        """pq_index_corpus's single projection equals the code-table x
        cell-assignment join it replaced, and both PQ tiers return the
        exact rows of their self-derived paths when fed the shared index."""
        from sleeper_spark.functions import similarity

        cents = similarity.train_ivf_centroids(embeddings, 8, seed=42,
                                               train_rows=256)
        books = similarity.train_pq_codebooks(embeddings, dim=64, m=4,
                                              ksub=8, seed=42,
                                              train_rows=256)
        idx = similarity.pq_index_corpus(embeddings, cents, books)
        assign = similarity._assign_cells_udf(cents)
        joined = similarity.pq_encode(embeddings, books).join(
            embeddings.select(F.col("vec_id"),
                              assign(F.col("embedding").cast("array<double>"))
                              .alias("__cell")), "vec_id")
        assert sorted((r["vec_id"], tuple(r["codes"]), r["__cell"])
                      for r in idx.collect()) == \
            sorted((r["vec_id"], tuple(r["codes"]), r["__cell"])
                   for r in joined.collect())

        q = embeddings.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding")
        base_pq = similarity.pq_topk(embeddings, q, books, k=5)
        via_pq = similarity.pq_topk(embeddings, q, books, k=5, indexed=idx)
        assert sorted(map(tuple, base_pq.collect())) == \
            sorted(map(tuple, via_pq.collect()))
        base_ivfpq = similarity.ivf_pq_topk(
            embeddings, q, dim=64, k=5, nlist=8, nprobe=2, m=4, ksub=8,
            centroids=cents, codebooks=books)
        via_ivfpq = similarity.ivf_pq_topk(
            embeddings, q, dim=64, k=5, nlist=8, nprobe=2, m=4, ksub=8,
            centroids=cents, codebooks=books, indexed=idx)
        assert sorted(map(tuple, base_ivfpq.collect())) == \
            sorted(map(tuple, via_ivfpq.collect()))

    def test_multi_family_topk_matches_standalone_tiers(self, spark,
                                                        embeddings):
        """Every config slice of the fused multi-family cosine join equals
        the standalone tier it replaced (brute force / lsh_topk at each
        nprobe / ivf_topk), row for row — the ann_recall /
        ann_index_selection restructure's bit-identity contract."""
        from pyspark.sql import types as T

        from sleeper_spark.functions import similarity

        cents = similarity.train_ivf_centroids(embeddings, 8, seed=42,
                                               train_rows=256)
        c_all = similarity.ann_index_corpus(embeddings, cents, None, dim=64,
                                            bits=8)
        q = embeddings.where(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"), "embedding")
        planes = similarity._hyperplanes(64, 8, 42)
        qx = (similarity._with_norm(
            q.select("query_id", F.col("embedding").alias("__emb"),
                     F.col("embedding").cast("array<double>").alias("__qvec")),
            "__qvec", "__qnorm")
            .select("query_id", "__emb",
                    similarity.query_probe_buckets(
                        F.col("__qvec"), planes, 3).alias("__probes"))
            .collect())
        cents_np = similarity.np.asarray(cents, dtype="float64")
        cells = {r["query_id"]: similarity._probe_cells(
            similarity.np.asarray(r["__emb"], dtype="float64"), cents_np, 2)
            for r in qx}
        probe_schema = T.StructType([
            T.StructField("__cfg", T.StringType(), False),
            T.StructField("query_id", T.LongType()),
            T.StructField("__fam", T.StringType(), False),
            T.StructField("__jkey", T.LongType()),
            T.StructField("embedding",
                          T.ArrayType(T.FloatType(), True), True)])
        probe = similarity.local_rows_df(spark, (
            [("exact", r["query_id"], "all", 0, list(r["__emb"]))
             for r in qx]
            + [(f"lsh@{p}", r["query_id"], "lsh", b, list(r["__emb"]))
               for p in (1, 3) for r in qx for b in r["__probes"][:p]]
            + [(f"ivf@{p}", r["query_id"], "ivf", c, list(r["__emb"]))
               for p in (1, 2) for r in qx
               for c in cells[r["query_id"]][:p]]), probe_schema)
        fused = similarity.multi_family_topk(c_all, probe, k=5)
        by_cfg: dict = {}
        for r in fused.collect():
            by_cfg.setdefault(r["__cfg"], []).append(
                (r["query_id"], r["vec_id"], r["rank"]))

        def rows_of(df):
            return sorted((r["query_id"], r["vec_id"], r["rank"])
                          for r in df.collect())

        assert sorted(by_cfg["exact"]) == rows_of(
            similarity.brute_force_topk(embeddings, q, k=5))
        for p in (1, 3):
            assert sorted(by_cfg[f"lsh@{p}"]) == rows_of(
                similarity.lsh_topk(embeddings, q, dim=64, k=5, bits=8,
                                    nprobe=p))
        for p in (1, 2):
            assert sorted(by_cfg[f"ivf@{p}"]) == rows_of(
                similarity.ivf_topk(embeddings, q, dim=64, k=5, nlist=8,
                                    nprobe=p, centroids=cents))

    def test_multi_family_adc_topk_matches_pq_tiers(self, spark, embeddings):
        """The fused ADC join's config slices equal pq_topk (the 'all'
        family) and ivf_pq_topk (the probed-cell family) row for row."""
        from pyspark.sql import types as T

        from sleeper_spark.functions import similarity

        cents = similarity.train_ivf_centroids(embeddings, 8, seed=42,
                                               train_rows=256)
        books = similarity.train_pq_codebooks(embeddings, dim=64, m=4, ksub=8,
                                              seed=42, train_rows=256)
        c_all = similarity.ann_index_corpus(embeddings, cents, books, dim=64,
                                            bits=8)
        q = embeddings.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding")
        qrows = q.collect()
        cents_np = similarity.np.asarray(cents, dtype="float64")
        probe_schema = T.StructType([
            T.StructField("__cfg", T.StringType(), False),
            T.StructField("query_id", T.LongType()),
            T.StructField("__fam", T.StringType(), False),
            T.StructField("__jkey", T.LongType()),
            T.StructField("embedding",
                          T.ArrayType(T.FloatType(), True), True)])
        probe = similarity.local_rows_df(spark, (
            [("pq", r["query_id"], "all", 0, list(r["embedding"]))
             for r in qrows]
            + [("ivf_pq", r["query_id"], "ivfpq", c, list(r["embedding"]))
               for r in qrows
               for c in similarity._probe_cells(
                   similarity.np.asarray(r["embedding"], dtype="float64"),
                   cents_np, 2)]), probe_schema)
        fused = similarity.multi_family_adc_topk(c_all, probe, books, k=5)
        by_cfg: dict = {}
        for r in fused.collect():
            by_cfg.setdefault(r["__cfg"], []).append(
                (r["query_id"], r["vec_id"], r["rank"]))

        def rows_of(df):
            return sorted((r["query_id"], r["vec_id"], r["rank"])
                          for r in df.collect())

        assert sorted(by_cfg["pq"]) == rows_of(
            similarity.pq_topk(embeddings, q, books, k=5))
        assert sorted(by_cfg["ivf_pq"]) == rows_of(
            similarity.ivf_pq_topk(embeddings, q, dim=64, k=5, nlist=8,
                                   nprobe=2, m=4, ksub=8, centroids=cents,
                                   codebooks=books))

    def test_ann_index_corpus_matches_family_indexes(self, spark,
                                                     embeddings):
        """The combined index's bucket/cell/codes columns equal the
        per-family index builders' column for column."""
        from sleeper_spark.functions import similarity

        cents = similarity.train_ivf_centroids(embeddings, 8, seed=42,
                                               train_rows=256)
        books = similarity.train_pq_codebooks(embeddings, dim=64, m=4, ksub=8,
                                              seed=42, train_rows=256)
        combined = {r["vec_id"]: (r["__bucket"], r["__cell"],
                                  tuple(r["codes"]))
                    for r in similarity.ann_index_corpus(
                        embeddings, cents, books, dim=64, bits=8).collect()}
        lsh = {r["vec_id"]: r["__bucket"]
               for r in similarity.lsh_index_corpus(embeddings, dim=64,
                                                    bits=8).collect()}
        ivf = {r["vec_id"]: r["__cell"]
               for r in similarity.ivf_index_corpus(embeddings,
                                                    cents).collect()}
        pq = {r["vec_id"]: tuple(r["codes"])
              for r in similarity.pq_index_corpus(embeddings, cents,
                                                  books).collect()}
        assert set(combined) == set(lsh) == set(ivf) == set(pq)
        for vid, (b, c, codes) in combined.items():
            assert b == lsh[vid] and c == ivf[vid] and codes == pq[vid]


class TestMultimodal:
    def test_image_feature_plumbing(self, spark):
        from sleeper_spark.functions.multimodal import (
            IMAGE_FEATURE_DIM, extract_image_features, fake_image_decoder)
        df = spark.createDataFrame(
            [(1, b"payload-one"), (2, b"payload-two"), (3, None)],
            "doc_id long, payload binary")
        out = extract_image_features(df, decoder=fake_image_decoder).collect()
        assert len(out) == 3
        for r in out:
            assert len(r.features) == IMAGE_FEATURE_DIM
        # deterministic across runs
        out2 = extract_image_features(df, decoder=fake_image_decoder).collect()
        assert sorted((r.doc_id, tuple(r.features)) for r in out) == \
               sorted((r.doc_id, tuple(r.features)) for r in out2)

    def test_real_decoder_is_stubbed(self, spark):
        from sleeper_spark.functions.multimodal import extract_image_features
        df = spark.createDataFrame([(1, b"x")], "doc_id long, payload binary")
        from py4j.protocol import Py4JJavaError
        with pytest.raises(Exception):  # NotImplementedError inside the UDF
            extract_image_features(df).collect()

    def test_video_frame_sampling(self, spark):
        from sleeper_spark.functions.multimodal import sample_video_frames
        df = spark.createDataFrame(
            [(1, bytes(range(256)) * 4)], "doc_id long, payload binary")
        out = sample_video_frames(df, every_nth=2).collect()
        assert len(out) > 1
        assert all(r.frame_index % 2 == 0 for r in out)


class TestSimhashVectorizedVotes:
    def test_udf_matches_column_formula(self, spark):
        """The numpy unpackbits/reduceat kernel must be bit-identical to
        the pure-Column majority-vote definition (simhash())."""
        from sleeper_spark.functions import dedup
        df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
            .limit(200)
        via_udf = {r["__id"]: r["__fp"] for r in dedup.simhash_fingerprints(
            df, portable_hash=True).collect()}
        # recompute with the Column-expression majority formula over the
        # same portable shingle hashes
        from pyspark.sql import functions as F
        sh = df.select("doc_id",
                       dedup.portable_shingle_hashes("text", 2).alias("sh"))
        sh = sh.where(F.size("sh") > 0)
        n = F.size("sh")
        bit_cols = [
            F.when(
                F.size(F.filter(F.col("sh"),
                                lambda h: h.bitwiseAND(F.lit(dedup._bit64(i))) != 0)) * 2 > n,
                F.lit(dedup._bit64(i)),
            ).otherwise(F.lit(0)).cast("long")
            for i in range(64)
        ]
        from functools import reduce
        fp = reduce(lambda a, b: a.bitwiseOR(b), bit_cols)
        via_cols = {r.doc_id: r.fp for r in sh.select("doc_id", fp.alias("fp")).collect()}
        assert via_udf == via_cols
        assert len(via_udf) == 200

    def test_batch_kernel_edges(self):
        import numpy as np
        from sleeper_spark.functions.dedup import _simhash_votes_batch
        # single hash -> fingerprint equals the hash itself (every set
        # bit wins its 1-0 vote; unset bits lose 0-1)
        for h in [0, 1, -1, 2**62, -(2**63), 1234567890123456789]:
            got, ne = _simhash_votes_batch([np.array([h], dtype=np.int64)])
            assert got[0] == h and ne[0], (h, got[0])
        # 2-1 majority
        a, b = 0b1100, 0b0110
        got, _ = _simhash_votes_batch([np.array([a, a, b], dtype=np.int64)])
        assert got[0] == a  # strict majority keeps only a's bits
        # tie (1 of 2) loses: strict majority
        got, _ = _simhash_votes_batch([np.array([a, b], dtype=np.int64)])
        assert got[0] == a & b
        # empty array -> masked out (UDF surfaces it as null)
        got, ne = _simhash_votes_batch(
            [np.array([], dtype=np.int64), np.array([7], dtype=np.int64)])
        assert not ne[0] and ne[1] and got[1] == 7


class TestConnectedComponents:
    def test_chain_and_islands(self, spark):
        from sleeper_spark.functions.dedup import connected_components

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4),        # a 4-chain -> component 1
             (10, 11),                      # a pair -> component 10
             (20, 22), (22, 21)],           # out-of-order labels -> 20
            "id_a long, id_b long")
        got = {(r.doc_id, r.component_id)
               for r in connected_components(pairs).collect()}
        assert got == {(1, 1), (2, 1), (3, 1), (4, 1),
                       (10, 10), (11, 10),
                       (20, 20), (21, 20), (22, 20)}

    def test_long_chain_converges(self, spark):
        from sleeper_spark.functions.dedup import connected_components

        n = 12
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "id_a long, id_b long")
        got = {(r.doc_id, r.component_id)
               for r in connected_components(pairs).collect()}
        assert got == {(i, 0) for i in range(n + 1)}

    def test_rounds_release_checkpoint_blocks(self, spark):
        """A deep graph must NOT pin O(rounds) label checkpoints in
        executor storage: after completion, only the FINAL label table's
        checkpoint may remain cached (DataFrame.unpersist cannot free
        localCheckpoint blocks — dedup._release_local_checkpoint does)."""
        from sleeper_spark.functions.dedup import connected_components

        sc = spark.sparkContext
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(30)], "id_a long, id_b long")
        before = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
        out = connected_components(pairs, max_iterations=50)
        assert all(r.component_id == 0 for r in out.collect())
        after = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
        assert len(after - before) <= 1  # ~30 rounds, at most 1 survivor

    def test_connected_components_union_find(self, spark):
        """Min-label propagation over the partitioned-edge union-aggregate
        rounds equals a driver union-find transitive closure."""
        import random

        from sleeper_spark.functions import dedup

        rng = random.Random(11)
        pairs = [(rng.randrange(60), rng.randrange(60)) for _ in range(50)]
        pairs = [(a, b) for a, b in pairs if a != b]
        df = spark.createDataFrame(pairs, ["id_a", "id_b"])
        got = {r["doc_id"]: r["component_id"]
               for r in dedup.connected_components(df).collect()}
        parent: dict = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        exp = {x: find(x) for x in parent}
        assert got == exp


class TestRealImageDecoder:
    def test_raises_without_pil_or_decodes_with_it(self):
        """Import-guarded codec hook: with Pillow absent the hook raises
        NotImplementedError (tests use the fake codec); with Pillow
        present it must decode a real PNG to the 8x8 float grid."""
        import numpy as np
        import pytest as _pytest

        from sleeper_spark.functions import multimodal as mm

        if mm._PILImage is None:
            with _pytest.raises(NotImplementedError):
                mm.real_image_decoder(b"not-an-image")
        else:
            import io
            img = mm._PILImage.new("L", (32, 32), color=128)
            buf = io.BytesIO()
            img.save(buf, format="PNG")
            out = mm.real_image_decoder(buf.getvalue())
            assert out.shape == (8, 8) and out.dtype == np.float32
            assert np.allclose(out, 128.0)

    def test_real_png_pipeline_when_pil_installed(self, spark):
        """skipif-gated REAL-codec path (skips cleanly in this container,
        runs wherever Pillow is installed): real PNG payloads flow
        through the full Spark mapInPandas pipeline with
        real_image_decoder, and every feature matches numpy recomputed
        from the same decoded pixels."""
        import numpy as np
        import pytest as _pytest

        from sleeper_spark.functions import multimodal as mm

        if mm._PILImage is None:
            _pytest.skip("Pillow not installed — real-codec path "
                         "exercised only where the library exists")
        import io

        payloads = []
        for v in (0, 64, 255):
            img = mm._PILImage.new("L", (16, 16))
            img.putdata([min(255, v + (i % 16)) for i in range(256)])
            buf = io.BytesIO()
            img.save(buf, format="PNG")
            payloads.append(buf.getvalue())
        df = spark.createDataFrame(
            [(i, bytearray(p)) for i, p in enumerate(payloads)],
            ["doc_id", "payload"])
        got = {r.doc_id: r.features for r in mm.extract_image_features(
            df, decoder=mm.real_image_decoder).collect()}
        assert set(got) == {0, 1, 2}
        for i, p in enumerate(payloads):
            g = mm.real_image_decoder(p).astype(np.float64)
            want = np.concatenate([
                g.mean(axis=1), g.mean(axis=0)[:6],
                [g.mean(), float(g.max() - g.min())]])
            assert np.allclose(got[i], want)

    def test_real_audio_pipeline_when_lib_installed(self, spark):
        """skipif-gated compressed-audio path, same pattern: when an
        audio library (soundfile) is present, its decoder plugs into the
        decoder= hook of the SAME Spark pipeline that serves WAV —
        proving the hook's signature is what a real codec needs."""
        import pytest as _pytest

        try:
            import soundfile  # noqa: F401
        except ImportError:
            _pytest.skip("soundfile not installed — compressed-audio "
                         "decoder exercised only where a library exists")
        import io

        import numpy as np

        from sleeper_spark.functions import multimodal as mm

        def sf_decoder(payload: bytes):
            data, sr = soundfile.read(io.BytesIO(payload), dtype="float32")
            if data.ndim > 1:
                data = data.mean(axis=1)
            return sr, data
        buf = io.BytesIO()
        t = np.linspace(0, 0.25, 2000, endpoint=False)
        soundfile.write(buf, np.sin(2 * np.pi * 440 * t).astype("float32"),
                        8000, format="WAV")
        df = spark.createDataFrame([(1, bytearray(buf.getvalue()))],
                                   ["doc_id", "payload"])
        rows = mm.extract_audio_features(df, decoder=sf_decoder).collect()
        assert len(rows) == 1 and rows[0].sample_rate == 8000


class TestCorpus:
    def test_chunking_covers_all_tokens(self, spark):
        """Chunks tile each doc: starts every stride, window-sized, and
        the union of [start, start+len) intervals covers [0, n)."""
        from sleeper_spark.functions.corpus import chunk_documents
        df = spark.createDataFrame(
            [(1, " ".join(f"t{i}" for i in range(75))),
             (2, "one two three"),
             (3, ""),
             (4, "solo")],
            ["doc_id", "text"])
        out = chunk_documents(df, "text", "doc_id", window=40, stride=30)
        rows = {(r.doc_id, r.chunk_id): r for r in out.collect()}
        # doc 1: 75 tokens -> starts 0, 30, 60
        assert {(cid) for (d, cid) in rows if d == 1} == {0, 1, 2}
        assert rows[(1, 0)].n_chunk_tokens == 40
        assert rows[(1, 2)].n_chunk_tokens == 15
        assert rows[(1, 1)].chunk_text.split(" ")[0] == "t30"
        # short and empty docs still yield one chunk
        assert rows[(2, 0)].n_chunk_tokens == 3
        assert rows[(3, 0)].n_chunk_tokens == 0
        assert rows[(3, 0)].chunk_text == ""
        assert rows[(4, 0)].chunk_text == "solo"

    def test_tfidf_ranks_distinctive_terms(self, spark):
        from sleeper_spark.functions.corpus import tfidf_top_terms
        df = spark.createDataFrame(
            [(1, "common zebra zebra zebra"),
             (2, "common yak"),
             (3, "common wolf wolf")],
            ["doc_id", "text"])
        out = tfidf_top_terms(df, "text", "doc_id", k=1)
        top = {r.doc_id: r.term for r in out.collect()}
        # 'common' appears in every doc -> idf lowest; uniques win
        assert top == {1: "zebra", 2: "yak", 3: "wolf"}

    def test_tfidf_plans_window_group_limit(self, spark, docs):
        from sleeper_spark.functions.corpus import tfidf_top_terms
        plan = tfidf_top_terms(docs, "text", "doc_id", k=3) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan

    def test_contamination_finds_planted_overlap(self, spark):
        from sleeper_spark.functions.corpus import contamination_check
        shared = "alpha beta gamma delta epsilon zeta"
        test = spark.createDataFrame(
            [(10, f"intro words {shared} outro"),
             (20, "totally disjoint content here nothing shared at all")],
            ["doc_id", "text"])
        train = spark.createDataFrame(
            [(1, f"prefix {shared} suffix text"),
             (2, f"another copy {shared} again"),
             (3, "unrelated training document body")],
            ["doc_id", "text"])
        out = {r.test_id: r for r in
               contamination_check(test, train, ngram=5).collect()}
        assert 10 in out and 20 not in out
        assert out[10].n_train_docs == 2
        assert out[10].n_shared_shingles >= 2

    def test_containment_catches_what_jaccard_misses(self, spark):
        """A short eval doc pasted verbatim inside a LONG train doc:
        Jaccard is tiny (union dominated by the train doc) but
        containment is exactly 1.0 — the ratio decontamination gates
        on. A partial overlap scores proportionally; disjoint pairs
        never appear."""
        from sleeper_spark.functions.corpus import containment_pairs
        eval_text = "alpha beta gamma delta epsilon zeta eta theta"
        filler = " ".join(f"w{i}" for i in range(200))
        test = spark.createDataFrame(
            [(10, eval_text),
             (20, "totally disjoint content nothing shared here at all")],
            ["doc_id", "text"])
        train = spark.createDataFrame(
            [(1, f"{filler} {eval_text} {filler}"),
             (2, "unrelated training document body text")],
            ["doc_id", "text"])
        out = {(r.test_id, r.train_id): r for r in
               containment_pairs(test, train, ngram=5,
                                 threshold=0.5).collect()}
        assert set(out) == {(10, 1)}
        r = out[(10, 1)]
        assert r.containment == 1.0  # fully contained
        assert r.n_shared == r.n_test_shingles == 4  # 8 tokens, 5-grams
        # half-overlap: only the first 6 eval tokens appear in train
        train2 = spark.createDataFrame(
            [(3, f"{filler} alpha beta gamma delta epsilon zeta")],
            ["doc_id", "text"])
        half = containment_pairs(test, train2, ngram=5,
                                 threshold=0.1).collect()
        assert len(half) == 1 and half[0].containment == 0.5  # 2 of 4

    def test_contamination_hot_shingle_cap(self, spark):
        """Planted boilerplate: a shingle shared by 50 train docs must be
        dropped pre-join (C4-style guard) — it is chrome, not leakage —
        and the joined relation must not explode M×N on it."""
        from sleeper_spark.functions.corpus import contamination_check
        from sleeper_spark.functions.dedup import shingles
        boiler = "click here to accept all cookies now"
        unique = "quantum flux capacitor resonance harmonics alignment"
        train_rows = [(i, f"doc {i} body {boiler}") for i in range(1, 51)]
        train_rows.append((51, f"special {unique} material"))
        train = spark.createDataFrame(train_rows, ["doc_id", "text"])
        test = spark.createDataFrame(
            [(10, f"{unique} plus {boiler}"),
             (20, f"only {boiler} here")],
            ["doc_id", "text"])
        capped = {r.test_id: r for r in
                  contamination_check(test, train, max_train_df=10).collect()}
        assert 20 not in capped            # boilerplate-only: no signal
        assert capped[10].n_train_docs == 1  # the genuine leak survives
        uncapped = {r.test_id: r for r in
                    contamination_check(test, train,
                                        max_train_df=None).collect()}
        assert uncapped[20].n_train_docs == 50  # the M×N shape the cap kills
        # row-count bound on the joined relation itself
        t = test.select(F.col("doc_id").alias("test_id"),
                        F.explode(shingles("text", 5)).alias("sh"))
        tr = train.select(F.col("doc_id").alias("train_id"),
                          F.explode(shingles("text", 5)).alias("sh"))
        hot = tr.groupBy("sh").count().where(F.col("count") > 10).select("sh")
        joined_capped = t.join(tr.join(hot, "sh", "left_anti"), "sh").count()
        joined_raw = t.join(tr, "sh").count()
        assert joined_capped <= 4
        assert joined_raw >= 10 * joined_capped

    def test_dedup_lines_keeps_first_occurrence(self, spark):
        from sleeper_spark.functions.corpus import dedup_lines
        df = spark.createDataFrame(
            [(1, "cookie banner\nreal content one\ncookie banner"),
             (2, "cookie banner\nreal content two"),
             (3, "all original here")],
            ["doc_id", "text"])
        got = {r.doc_id: r for r in dedup_lines(df).collect()}
        # doc 1 keeps its first 'cookie banner' + its unique line
        assert got[1].n_lines == 3 and got[1].n_kept == 2
        assert got[1].text_dedup == "cookie banner\nreal content one"
        # doc 2's banner was first seen in doc 1 -> dropped
        assert got[2].n_kept == 1
        assert got[2].text_dedup == "real content two"
        assert got[3].n_kept == 1

    def test_dedup_lines_all_duplicate_doc_survives_empty(self, spark):
        from sleeper_spark.functions.corpus import dedup_lines
        df = spark.createDataFrame(
            [(1, "same line"), (2, "same line")], ["doc_id", "text"])
        got = {r.doc_id: r for r in dedup_lines(df).collect()}
        assert got[2].n_kept == 0 and got[2].text_dedup == ""
        assert got[1].n_kept == 1

    def test_dedup_lines_null_text(self, spark):
        from pyspark.sql import types as T
        from sleeper_spark.functions.corpus import dedup_lines
        df = spark.createDataFrame(
            [(1, "a line"), (2, None)],
            T.StructType([T.StructField("doc_id", T.LongType()),
                          T.StructField("text", T.StringType())]))
        got = {r.doc_id: r for r in dedup_lines(df).collect()}
        assert (got[2].n_lines, got[2].n_kept, got[2].text_dedup) == (0, 0, "")
        assert got[1].n_lines == 1

    def test_contamination_no_cartesian(self, spark, docs):
        from sleeper_spark.functions.corpus import contamination_check
        test = docs.where(F.col("doc_id") % 10 == 0)
        train = docs.where(F.col("doc_id") % 10 != 0)
        plan = contamination_check(test, train) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan


class TestQuantization:
    def test_codes_roundtrip_within_half_step(self, spark, embeddings):
        """Dequantized values must sit within scale/2 of the original —
        the defining property of the quantizer."""
        import numpy as np
        from sleeper_spark.functions.similarity import quantize_embeddings
        orig = {r.vec_id: np.array(r.embedding, dtype=np.float64)
                for r in embeddings.limit(50).collect()}
        out = quantize_embeddings(embeddings.limit(50)).collect()
        assert len(out) == 50
        for r in out:
            v = orig[r.vec_id]
            deq = (np.array(r.codes, dtype=np.float64) + 127) * r.scale + r.offset
            # (offset, scale) are emitted rounded to 6 decimals, so
            # dequantization carries up to (code+127) <= 254 half-ulps
            # of scale rounding on top of the half-step quantization bound
            assert np.abs(deq - v).max() <= r.scale / 2 + 254 * 5e-7 + 1e-6

    def test_constant_vector_all_zero_codes(self, spark):
        from sleeper_spark.functions.similarity import quantize_embeddings
        df = spark.createDataFrame([(1, [2.5, 2.5, 2.5])],
                                   ["vec_id", "embedding"])
        r = quantize_embeddings(df).collect()[0]
        assert r.codes == [0, 0, 0] and r.scale == 0.0


class TestStreamingDedup:
    def test_batch_mode_dedups(self, spark):
        from sleeper_spark.streaming import dedup_stream
        df = spark.createDataFrame(
            [(1, "a"), (1, "a"), (2, "b"), (1, "b")], ["k", "t"])
        got = sorted(tuple(r) for r in dedup_stream(df, ["k", "t"]).collect())
        assert got == [(1, "a"), (1, "b"), (2, "b")]


class TestCorpusFrequency:
    def test_ngram_counts_on_constructed(self, spark):
        from sleeper_spark.functions.corpus import ngram_top_counts
        df = spark.createDataFrame(
            [(1, "a b a b c"), (2, "a b x")], ["doc_id", "text"])
        got = [(r.ngram, r.n_occurrences)
               for r in ngram_top_counts(df, "text", n=2, k=3).collect()]
        # 'a b' x3 ('a b a b' contributes twice, doc 2 once)
        assert got[0] == ("a b", 3)
        assert set(got) >= {("a b", 3), ("b a", 1)}

    def test_ngram_topk_plans_take_ordered(self, spark, docs):
        from sleeper_spark.functions.corpus import ngram_top_counts
        plan = ngram_top_counts(docs, "text") \
            ._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan

    def test_grouped_boilerplate_by_doc_frequency(self, spark):
        """Doc frequency, not occurrence count: a phrase repeated 10x
        inside ONE doc is repetition, not boilerplate; per-doc distinct
        caps its contribution at 1. Ranks per group, ties by gram."""
        from sleeper_spark.functions.corpus import (
            grouped_boilerplate_ngrams)
        df = spark.createDataFrame(
            [(1, "en", "click here now " * 10),     # df 1 despite x10
             (2, "en", "click here now please"),
             (3, "en", "click here now thanks"),
             (4, "en", "one two three"),
             (5, "de", "impressum datenschutz agb x"),
             (6, "de", "impressum datenschutz agb y")],
            ["doc_id", "lang", "text"])
        got = {(r.lang, r.ngram): (r.df, r.rank) for r in
               grouped_boilerplate_ngrams(
                   df, ["lang"], n=3, k=2, min_df=2).collect()}
        assert got[("en", "click here now")] == (3, 1)
        assert got[("de", "impressum datenschutz agb")] == (2, 1)
        # min_df drops singletons; k caps per group
        assert all(v[0] >= 2 for v in got.values())
        assert all(v[1] <= 2 for v in got.values())
        plan = grouped_boilerplate_ngrams(
            df, ["lang"], n=3, k=2, min_df=2) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan

    def test_strip_boilerplate_lines_drops_all_occurrences(self, spark):
        """Cleaning semantics: a line in >= min_df distinct docs of
        its group loses EVERY occurrence (dedup keeps the first);
        within-doc repetition alone never crosses the threshold; one
        group's chrome does not strip another group's identical
        line."""
        from sleeper_spark.functions.corpus import (
            strip_boilerplate_lines)
        df = spark.createDataFrame(
            [(1, "en", "cookie banner\nreal text one"),
             (2, "en", "cookie banner\nreal text two"),
             (3, "en", "cookie banner\nmore real text"),
             (4, "en", "self repeat\nself repeat\nself repeat"),
             (5, "de", "cookie banner\nechter text")],
            ["doc_id", "lang", "text"])
        got = {r.doc_id: r for r in strip_boilerplate_lines(
            df, ["lang"], min_df=3).collect()}
        # the en banner (df 3) is gone from ALL three docs
        for d in (1, 2, 3):
            assert "cookie banner" not in got[d].text_stripped
            assert got[d].n_lines == 2 and got[d].n_kept == 1
        # within-doc repetition: df 1, survives intact
        assert got[4].n_kept == 3
        # de's identical line has df 1 IN ITS GROUP: survives
        assert got[5].text_stripped == "cookie banner\nechter text"
        assert got[5].lang == "de"

    def test_strip_boilerplate_lines_null_text_and_empty_doc(
            self, spark):
        from sleeper_spark.functions.corpus import (
            strip_boilerplate_lines)
        df = spark.createDataFrame(
            [(1, "en", "b\nx"), (2, "en", "b\ny"), (3, "en", None),
             (4, "en", "b")],
            "doc_id long, lang string, text string")
        got = {r.doc_id: r for r in strip_boilerplate_lines(
            df, ["lang"], min_df=3).collect()}
        assert got[3].n_lines == 0 and got[3].text_stripped == ""
        # doc 4 was ONLY the boilerplate line: present, empty
        assert got[4].n_lines == 1 and got[4].n_kept == 0
        assert got[4].text_stripped == ""

    def test_strip_boilerplate_lines_group_scoped_ids(self, spark):
        """ids need only be unique WITHIN their group: the same doc_id
        in two groups must come back as two separate rows with their
        own reassembled text, not interleaved / fanned out (r9 ADVICE
        corpus.py finding); and a NULL group key still gets its text
        back (never stripped, null-safe rejoin)."""
        from sleeper_spark.functions.corpus import (
            strip_boilerplate_lines)
        df = spark.createDataFrame(
            [(1, "en", "banner\nen one"), (2, "en", "banner\nen two"),
             (1, "de", "banner\nde eins"), (2, "de", "banner\nde zwei"),
             (1, None, "banner\nno group")],
            "doc_id long, lang string, text string")
        rows = strip_boilerplate_lines(df, ["lang"], min_df=2).collect()
        assert len(rows) == 5  # no fan-out
        got = {(r.lang, r.doc_id): r for r in rows}
        assert got[("en", 1)].text_stripped == "en one"
        assert got[("de", 1)].text_stripped == "de eins"
        assert got[("en", 2)].n_kept == 1
        # NULL group: nothing stripped, text intact via null-safe join
        assert got[(None, 1)].text_stripped == "banner\nno group"
        assert got[(None, 1)].n_kept == 2

    def test_repetition_scores(self, spark):
        from sleeper_spark.functions.corpus import repetition_scores
        df = spark.createDataFrame(
            [(1, "x y z x y z x y z"),      # trigrams repeat heavily
             (2, "all words totally unique here now"),
             (3, "ab"),                      # too short for trigrams
             (4, "l1\nl2\nl1")],
            ["doc_id", "text"])
        got = {r.doc_id: r for r in repetition_scores(df).collect()}
        assert got[1].dup_ngram_frac > 0.5
        assert got[2].dup_ngram_frac == 0.0
        assert got[3].n_ngrams == 0 and got[3].dup_ngram_frac == 0.0
        assert abs(got[4].dup_line_frac - 1 / 3) < 1e-3

    def test_mix_sample_respects_per_row_pct(self, spark):
        from sleeper_spark.functions.sampling import bucket_expr, mix_sample
        df = spark.createDataFrame(
            [(i, "keep" if i % 2 == 0 else "drop") for i in range(1000)],
            ["id", "grp"])
        pct = F.when(F.col("grp") == "keep", F.lit(100)).otherwise(F.lit(0))
        got = mix_sample(df, "id", pct).collect()
        assert {r.grp for r in got} == {"keep"}
        assert len(got) == 500


class TestProductQuantization:
    def test_encode_matches_numpy(self, spark, embeddings):
        import numpy as np
        from sleeper_spark.functions.similarity import (
            pq_encode, train_pq_codebooks)
        dim = len(embeddings.first().embedding)
        books = train_pq_codebooks(embeddings, dim=dim, m=4, ksub=8,
                                   train_rows=256)
        got = {r.vec_id: list(r.codes)
               for r in pq_encode(embeddings.limit(30), books).collect()}
        data = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
                for r in embeddings.limit(30).collect()}
        dsub = dim // 4
        for vid, v in data.items():
            want = []
            for s in range(4):
                cents = np.asarray(books[s])
                d2 = ((v[s * dsub:(s + 1) * dsub] - cents) ** 2).sum(axis=1)
                want.append(int(d2.argmin()))
            assert got[vid] == want

    def test_adc_approximates_true_neighbors(self, spark, embeddings):
        """PQ is approximate: the ADC top-10 must substantially overlap
        the exact L2 top-10 (random 64-dim data, 4x8 codebooks)."""
        import numpy as np
        from sleeper_spark.functions.similarity import (
            pq_topk, train_pq_codebooks)
        dim = len(embeddings.first().embedding)
        books = train_pq_codebooks(embeddings, dim=dim, m=8, ksub=16,
                                   train_rows=500)
        queries = embeddings.limit(2).select(
            F.col("vec_id").alias("query_id"), "embedding")
        got = pq_topk(embeddings, queries, books, k=10).collect()
        data = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
                for r in embeddings.collect()}
        for qid in {r.query_id for r in got}:
            qv = data[qid]
            exact = sorted(
                (float(((v - qv) ** 2).sum()), i)
                for i, v in data.items() if i != qid)[:10]
            exact_ids = {i for _, i in exact}
            pq_ids = {r.vec_id for r in got if r.query_id == qid}
            assert len(pq_ids & exact_ids) >= 3  # >= 30% recall@10

    def test_pq_topk_prunes_before_exchange(self, spark, embeddings):
        from sleeper_spark.functions.similarity import (
            pq_topk, train_pq_codebooks)
        dim = len(embeddings.first().embedding)
        books = train_pq_codebooks(embeddings, dim=dim, m=4, ksub=8,
                                   train_rows=256)
        queries = embeddings.limit(2).select(
            F.col("vec_id").alias("query_id"), "embedding")
        plan = pq_topk(embeddings, queries, books) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan

    def test_vector_column_name_with_backtick(self, spark, embeddings):
        """The codes and LUT expressions are SQL text: a vector column
        named with a backtick must be quoted, not break the parse."""
        from sleeper_spark.functions.similarity import (
            pq_topk, train_pq_codebooks)
        dim = len(embeddings.first().embedding)
        books = train_pq_codebooks(embeddings, dim=dim, m=4, ksub=8,
                                   train_rows=256)
        corpus = embeddings.limit(40)
        queries = corpus.limit(2).select(
            F.col("vec_id").alias("query_id"), "embedding")
        want = sorted(map(tuple, pq_topk(corpus, queries, books,
                                         k=5).collect()))
        got = pq_topk(corpus.withColumnRenamed("embedding", "v`x"),
                      queries.withColumnRenamed("embedding", "v`x"),
                      books, k=5, vec_col="v`x")
        assert sorted(map(tuple, got.collect())) == want


class TestSkew:
    def test_salted_join_equals_plain_join(self, spark):
        from sleeper_spark.functions.skew import salted_join
        left = spark.createDataFrame(
            [(1, i) for i in range(500)] + [(2, 0), (3, 1)], ["k", "v"])
        right = spark.createDataFrame(
            [(1, "hot"), (2, "b"), (4, "unmatched")], ["k", "name"])
        want = sorted(tuple(r) for r in left.join(right, ["k"]).collect())
        got = sorted(tuple(r) for r in
                     salted_join(left, right, ["k"], salts=8).collect())
        assert got == want
        # left join parity incl. unmatched left rows
        want_l = sorted((r.k, r.v, r.name)
                        for r in left.join(right, ["k"], "left").collect())
        got_l = sorted((r.k, r.v, r.name) for r in
                       salted_join(left, right, ["k"], "left", salts=8).collect())
        assert got_l == want_l

    def test_salted_join_rejects_right_outer(self, spark):
        import pytest as _pytest
        from sleeper_spark.functions.skew import salted_join
        df = spark.createDataFrame([(1, 2)], ["k", "v"])
        with _pytest.raises(ValueError):
            salted_join(df, df, ["k"], how="full")

    def test_salted_join_spreads_hot_key(self, spark):
        """The hot key's rows must land in several salt buckets — the
        whole point of the operator."""
        from sleeper_spark.functions import skew
        left = spark.createDataFrame([(1, i) for i in range(2000)], ["k", "v"])
        salted = left.withColumn(
            skew._SALT, (F.floor(F.rand(42) * 8)).cast("int"))
        n_buckets = salted.select(skew._SALT).distinct().count()
        assert n_buckets == 8

    def test_two_stage_count_distinct(self, spark):
        from sleeper_spark.functions.skew import two_stage_count_distinct
        df = spark.createDataFrame(
            [(1, "a"), (1, "a"), (1, "b"), (2, "z")], ["k", "x"])
        got = {r.k: r.n_distinct for r in
               two_stage_count_distinct(df, ["k"], "x").collect()}
        assert got == {1: 2, 2: 1}


class TestQualityFilter:
    def test_rules_drop_the_right_docs(self, spark):
        from sleeper_spark.functions.corpus import quality_filter
        df = spark.createDataFrame(
            [(1, "a clean sentence with enough ordinary words to pass the gate easily"),
             (2, "tiny"),                                  # too few tokens
             (3, "!!! ... ;;; " + "ok word " * 10),        # punct-heavy
             (4, ("repeat me now " * 20).strip()),         # dup trigrams
             (5, "a b c d e f g h i j k l")],              # mean token len 1
            ["doc_id", "text"])
        kept = sorted(r.doc_id for r in quality_filter(
            df, min_tokens=8, max_punct_ratio=0.05,
            max_dup_ngram_frac=0.5, min_mean_token_len=2.0).collect())
        assert kept == [1]

    def test_filter_is_pure_predicate(self, spark, docs):
        from sleeper_spark.functions.corpus import quality_filter
        plan = quality_filter(docs)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan  # one scan, no shuffle


class TestIvfPq:
    def test_full_probe_equals_pq_only(self, spark, embeddings):
        """nprobe=nlist disables the IVF pruning layer, so IVF-PQ must
        rank exactly like plain PQ-ADC on the same codebooks."""
        from sleeper_spark.functions.similarity import (
            ivf_pq_topk, pq_topk, train_ivf_centroids, train_pq_codebooks)
        dim = len(embeddings.first().embedding)
        cents = train_ivf_centroids(embeddings, 4, train_rows=256)
        books = train_pq_codebooks(embeddings, dim=dim, m=4, ksub=8,
                                   train_rows=256)
        queries = embeddings.limit(2).select(
            F.col("vec_id").alias("query_id"), "embedding")
        want = sorted(tuple(r) for r in
                      pq_topk(embeddings, queries, books, k=5).collect())
        got = sorted(tuple(r) for r in ivf_pq_topk(
            embeddings, queries, dim=dim, k=5, nlist=4, nprobe=4,
            m=4, ksub=8, centroids=cents, codebooks=books).collect())
        assert got == want

    def test_partial_probe_subset(self, spark, embeddings):
        """nprobe < nlist returns a subset of cells' candidates with
        valid ranks and ascending ADC per query."""
        from sleeper_spark.functions.similarity import (
            ivf_pq_topk, train_ivf_centroids, train_pq_codebooks)
        dim = len(embeddings.first().embedding)
        cents = train_ivf_centroids(embeddings, 8, train_rows=256)
        books = train_pq_codebooks(embeddings, dim=dim, m=4, ksub=8,
                                   train_rows=256)
        queries = embeddings.limit(2).select(
            F.col("vec_id").alias("query_id"), "embedding")
        rows = ivf_pq_topk(embeddings, queries, dim=dim, k=5, nlist=8,
                           nprobe=2, m=4, ksub=8, centroids=cents,
                           codebooks=books).collect()
        assert rows
        by_q = {}
        for r in rows:
            by_q.setdefault(r.query_id, []).append(r)
        for rs in by_q.values():
            rs.sort(key=lambda r: r.rank)
            adcs = [r.adc for r in rs]
            assert adcs == sorted(adcs)


class TestReviewFixes:
    def test_concat_sum_skips_nulls_in_chunk_kernel(self):
        """Table config validation rejects nullable aggregated columns
        (reference parity), so nulls cannot reach concat-sum through a
        SleeperTable — but the Arrow chunk kernel is also a library
        surface, and its null behavior must match the Spark engine's
        formula (collect_list drops nulls; all-null group -> '')."""
        import pyarrow as pa

        from sleeper_spark.sorted_scan import _aggregate_chunk_sorted

        chunk = pa.table({
            "k": [1, 1, 1, 2, 2, 3],
            "s": ["a", None, "b", None, None, "x"],
        })
        out = _aggregate_chunk_sorted(chunk, {
            "key_names": ["k"], "aggs": [("s", "sum")],
            "column_order": ["k", "s"]})
        got = dict(zip(out.column("k").to_pylist(),
                       out.column("s").to_pylist()))
        assert got == {1: "ab", 2: "", 3: "x"}

    def test_two_stage_count_distinct_null_semantics(self, spark):
        from sleeper_spark.functions.skew import two_stage_count_distinct
        df = spark.createDataFrame(
            [(1, "a"), (1, None), (2, None)], ["k", "x"])
        want = {r.k: r.n for r in df.groupBy("k").agg(
            F.countDistinct("x").alias("n")).collect()}
        got = {r.k: r.n_distinct for r in
               two_stage_count_distinct(df, ["k"], "x").collect()}
        assert got == want == {1: 1, 2: 0}

    def test_bucket_expr_nonnegative_for_negative_keys(self, spark):
        from sleeper_spark.functions.sampling import bucket_expr, sample_fraction
        df = spark.createDataFrame(
            [(i,) for i in range(-500, 500)], ["id"])
        stats = df.select(bucket_expr("id").alias("b")) \
            .agg(F.min("b"), F.max("b")).collect()[0]
        assert stats[0] >= 0 and stats[1] < 100
        n = sample_fraction(df, "id", 7).count()
        assert n < 200  # a 7% sample must not keep all 500 negative ids

    def test_grouped_reservoir_exact_k_and_model_agreement(self, spark):
        """Exact n per group, rows picked by the md5 scramble — checked
        against an independent hashlib model, including a group smaller
        than n (keeps all its rows) and determinism across runs."""
        import hashlib

        from sleeper_spark.functions.sampling import grouped_reservoir
        rows = [(i, "g%d" % (i % 3)) for i in range(90)] + \
               [(1000, "tiny"), (1001, "tiny")]
        df = spark.createDataFrame(rows, "id long, g string")
        out = grouped_reservoir(df, ["g"], "id", 5, rank_col="rk")
        got = {}
        for r in out.collect():
            got.setdefault(r.g, []).append((r.rk, r.id))
        want = {}
        for i, g in rows:
            want.setdefault(g, []).append(
                (hashlib.md5(str(i).encode()).hexdigest(), i))
        for g, pairs in want.items():
            ids = [i for _, i in sorted(pairs)][:5]
            assert [i for _, i in sorted(got[g])] == ids, g
        assert len(got["tiny"]) == 2  # undersized group keeps all
        again = {tuple(sorted((r.g, r.id) for r in
                 grouped_reservoir(df, ["g"], "id", 5).collect()))}
        assert again == {tuple(sorted(
            (g, i) for g, pr in want.items()
            for _, i in sorted(pr)[:5]))}

    def test_grouped_exact_split_counts_and_model(self, spark):
        """Floor-exact per-group proportions, remainder to the last
        split, total assignment, agreement with a hashlib model."""
        import hashlib

        from sleeper_spark.functions.sampling import grouped_exact_split
        rows = [(i, "g%d" % (i % 3)) for i in range(101)] + \
               [(1000, "tiny")]  # n=1 group: all remainder -> test
        df = spark.createDataFrame(rows, "id long, g string")
        fr = {"train": 0.75, "val": 0.125, "test": 0.125}
        out = grouped_exact_split(df, ["g"], "id", fr)
        got = {}
        for r in out.collect():
            got.setdefault(r.g, {}).setdefault(r.split, []).append(r.id)
        model = {}
        for i, g in rows:
            model.setdefault(g, []).append(
                (hashlib.md5(str(i).encode()).hexdigest(), i))
        import math
        for g, pairs in model.items():
            ids = [i for _, i in sorted(pairs)]
            n = len(ids)
            f1, f2 = math.floor(0.75 * n), math.floor(0.875 * n)
            want = {"train": ids[:f1], "val": ids[f1:f2],
                    "test": ids[f2:]}
            want = {k: sorted(v) for k, v in want.items() if v}
            have = {k: sorted(v) for k, v in got[g].items()}
            assert have == want, g
        # n=1: floor(0.75)=floor(0.875)=0 -> the single row is 'test'
        assert got["tiny"] == {"test": [1000]}
        # every row assigned exactly once
        assert out.count() == len(rows)

    def test_grouped_exact_split_validates_fractions(self, spark):
        import pytest as _pytest

        from sleeper_spark.functions.sampling import grouped_exact_split
        df = spark.createDataFrame([(1, "a")], "id long, g string")
        with _pytest.raises(ValueError, match="sum to 1"):
            grouped_exact_split(df, ["g"], "id", {"a": 0.5, "b": 0.4})

    def test_interleave_domains_round_robin(self, spark):
        """Positions are unique, strictly ordered, and reading in pos
        order cycles the domains while all are live; a NULL domain
        gets a NULL pos."""
        from sleeper_spark.functions.sampling import interleave_domains
        rows = [(i, ["web", "code", "wiki"][i % 3]) for i in range(30)]
        rows += [(99, None)]
        df = spark.createDataFrame(rows, "id long, d string")
        out = interleave_domains(df, "d", "id")
        got = [(r.pos, r.d) for r in out.where(F.col("pos").isNotNull())
               .orderBy("pos").collect()]
        assert len(got) == 30
        assert len({p for p, _ in got}) == 30  # unique positions
        # equal-sized domains: perfect 3-cycle in pos order
        doms = [d for _, d in got]
        assert doms == ["code", "web", "wiki"] * 10
        assert out.where(F.col("d").isNull()).first().pos is None

    def test_interleave_domains_unequal_sizes_keep_order(self, spark):
        """A depleted domain leaves gaps, never reorders: within each
        domain pos is increasing in rank, and the k-th smallest
        positions while all domains are live include every domain."""
        from sleeper_spark.functions.sampling import interleave_domains
        rows = [(i, "big") for i in range(20)] + [(100, "small")]
        df = spark.createDataFrame(rows, "id long, d string")
        got = [(r.pos, r.d) for r in
               interleave_domains(df, "d", "id").orderBy("pos").collect()]
        assert len({p for p, _ in got}) == 21
        assert {d for _, d in got[:2]} == {"big", "small"}

    def test_asof_join_rejects_colliding_payload_names(self, spark):
        import pytest as _pytest
        from sleeper_spark.functions.timeseries import asof_join
        left = spark.createDataFrame([(1, 10, 1.0)], ["k", "t", "v"])
        right = spark.createDataFrame([(1, 5, 2.0)], ["k", "t2", "v"])
        with _pytest.raises(ValueError, match="duplicate column"):
            asof_join(left, right, ["k"], "t", "t2")

    def test_merge_no_agg_skips_carry(self, tmp_path):
        """Without aggregation a dominant equal-key run must stream in
        batch-sized chunks, not accumulate into one giant carry."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from sleeper_spark.sorted_scan import _merge_leaf

        p = str(tmp_path / "one.parquet")
        n = 50_000
        pq.write_table(pa.table({"k": ["same"] * n,
                                 "v": list(range(n))}), p)
        desc = {"files": [p], "key_names": ["k"], "column_order": ["k", "v"],
                "leaf_ranges": [], "query_regions": [], "filters": [],
                "aggs": [], "now_millis": 0, "batch_rows": 4096}
        sizes = [c.num_rows for c in _merge_leaf(desc)]
        assert sum(sizes) == n
        assert max(sizes) <= 4096  # no whole-run accumulation


class TestSecondReviewFixes:
    def test_map_sum_string_values_concatenate(self, spark, spark_plan,
                                               tmp_path):
        """map_sum on a map<string,string> column concatenates values
        per key — the same per-type sum rule as scalar columns — in the
        Spark query plan over the uncompacted files and in compaction
        (F.sum would crash under ANSI)."""
        from pyspark.sql import types as T

        from sleeper_spark import Field, Schema, SleeperTable
        from sleeper_spark.properties import TableProperties

        schema = Schema(
            (Field("k", T.LongType()),), (),
            (Field("m", T.MapType(T.StringType(), T.StringType())),))
        rows = [(1, {"x": "a"}), (1, {"x": "b", "y": "q"}), (2, {"z": "w"})]
        want = {1: {"x": "ab", "y": "q"}, 2: {"z": "w"}}
        t = SleeperTable.create(spark, str(tmp_path / "t"), schema,
                                TableProperties(aggregations="map_sum(m)"))
        for batch in (rows[::2], rows[1::2]):  # key 1 in both files
            t.ingest(spark.createDataFrame(batch, schema.to_struct_type()))
        with spark_plan():
            assert {r.k: r.m for r in t.full_scan().collect()} == want
        refs = t.compact()
        got = {r.k: r.m for ref in refs
               for r in spark.read.parquet(ref.filename).collect()}
        assert got == want

    def test_simhash_exact_match_hamming_zero(self, spark):
        """max_hamming=0 (exact fingerprint equality) must not overflow
        the 64-bit block mask."""
        from sleeper_spark.functions.dedup import simhash_near_duplicates
        base = ("the quick brown fox jumps over the lazy dog while the "
                "cat watches from the warm windowsill in the sun")
        df = spark.createDataFrame(
            [(1, base), (2, base), (3, "different entirely")],
            ["doc_id", "text"])
        got = {(r.id_a, r.id_b)
               for r in simhash_near_duplicates(df, max_hamming=0).collect()}
        assert got == {(1, 2)}

    def test_validate_rejects_type_mismatched_aggregations(self, spark):
        import pytest as _pytest
        from pyspark.sql import types as T

        from sleeper_spark.iterators import (
            parse_aggregations, validate_aggregations)
        from sleeper_spark.schema import Field, Schema

        schema = Schema(
            (Field("k", T.LongType()),), (),
            (Field("n", T.LongType()),
             Field("m", T.MapType(T.StringType(), T.LongType())),
             Field("arr", T.ArrayType(T.LongType()))))
        for bad in ("map_sum(n), map_sum(m), sum(arr)",
                    "sum(n), min(m), sum(arr)",
                    "sum(n), map_sum(m), max(arr)"):
            with _pytest.raises(ValueError):
                validate_aggregations(schema, parse_aggregations(bad))

    def test_parse_rejects_trailing_comma(self):
        import pytest as _pytest
        from sleeper_spark.iterators import parse_aggregations
        with _pytest.raises(ValueError, match="trailing"):
            parse_aggregations("sum(a), max(b),")

    def test_ivf_assign_and_probe_agree_on_non_unit_centroids(self, spark):
        """The cell a vector is ASSIGNED to and the first cell a query at
        the same point PROBES must be the same formula (raw dot), or
        recall silently collapses for non-unit pre-trained centroids."""
        import numpy as np

        from sleeper_spark.functions.similarity import (
            _assign_cells_udf, _probe_cells)
        rng = np.random.RandomState(7)
        cents = rng.randn(6, 8) * rng.uniform(0.1, 10, size=(6, 1))
        vecs = rng.randn(40, 8)
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            ["vec_id", "embedding"])
        udf = _assign_cells_udf([[float(x) for x in c] for c in cents])
        got = {r.vec_id: r.cell for r in df.select(
            "vec_id", udf(F.col("embedding").cast("array<double>"))
            .alias("cell")).collect()}
        for i, v in enumerate(vecs):
            assert got[i] == _probe_cells(v.astype(np.float64), cents, 1)[0]

    def test_ivf_topk_string_query_ids(self, spark, embeddings):
        """Every ANN tier accepts non-long query ids; the IVF tiers used
        to hardcode 'long' in their probe DataFrames."""
        from sleeper_spark.functions.similarity import ivf_topk
        dim = len(embeddings.first().embedding)
        queries = embeddings.limit(2).select(
            F.concat(F.lit("q"), F.col("vec_id")).alias("query_id"),
            "embedding")
        rows = ivf_topk(embeddings, queries, dim=dim, k=3, nlist=4,
                        nprobe=4).collect()
        assert rows and all(r.query_id.startswith("q") for r in rows)


class TestLayout:
    def test_zorder_key_interleaves_bits(self, spark):
        from sleeper_spark.functions.layout import zorder_key
        df = spark.createDataFrame([(3, 5)], ["a", "b"])
        z = df.select(zorder_key(["a", "b"], bits=4).alias("z")).first().z
        want = (sum(((3 >> i) & 1) << (2 * i) for i in range(4))
                + sum(((5 >> i) & 1) << (2 * i + 1) for i in range(4)))
        assert z == want

    def test_zorder_rejects_overflow(self, spark):
        import pytest as _pytest
        from sleeper_spark.functions.layout import zorder_key
        with _pytest.raises(ValueError):
            zorder_key(["a", "b"], bits=32)

    def test_zorder_layout_prunes_better(self, spark, tmp_path):
        """The point of Z-order: for a box query selective ONLY in the
        second dimension, a first-dim-sorted layout scans EVERY row
        group (each group spans all of y) while the Morton layout's
        tile-shaped groups let Parquet min/max stats prune most of
        them."""
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq
        from sleeper_spark.functions.layout import zorder_key

        n = 256
        df = spark.range(n * n).selectExpr(
            "CAST(id / 256 AS LONG) AS x", "CAST(id % 256 AS LONG) AS y")
        zdf = df.withColumn("z", zorder_key(["x", "y"], bits=8))
        pdf = zdf.toPandas()

        def write_sorted(pdf, by, path):
            t = pa.Table.from_pandas(
                pdf.sort_values(by)[["x", "y"]], preserve_index=False)
            pq.write_table(t, path, row_group_size=2048)

        p_x = str(tmp_path / "by_x.parquet")
        p_z = str(tmp_path / "by_z.parquet")
        write_sorted(pdf, ["x", "y"], p_x)
        write_sorted(pdf, ["z"], p_z)

        def groups_touched(path, y_lo, y_hi):
            md = pq.ParquetFile(path).metadata
            hit = 0
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for c in range(rg.num_columns):
                    col = rg.column(c)
                    if col.path_in_schema == "y":
                        st = col.statistics
                        if st.min < y_hi and st.max >= y_lo:
                            hit += 1
            return hit, md.num_row_groups

        x_hit, total = groups_touched(p_x, 100, 110)
        z_hit, _ = groups_touched(p_z, 100, 110)
        assert x_hit == total            # x-sorted: every group spans all y
        assert z_hit <= total // 2       # Morton tiles: most groups pruned

    def test_shuffle_rows_deterministic_permutation(self, spark):
        from sleeper_spark.functions.layout import shuffle_rows
        df = spark.createDataFrame([(i,) for i in range(100)], ["id"])
        o1 = [r.id for r in shuffle_rows(df, "id", seed=1).collect()]
        o2 = [r.id for r in shuffle_rows(df, "id", seed=1).collect()]
        o3 = [r.id for r in shuffle_rows(df, "id", seed=2).collect()]
        assert o1 == o2                      # reproducible
        assert sorted(o1) == list(range(100))  # a true permutation
        assert o1 != list(range(100))        # decorrelated from id order
        assert o1 != o3                      # seed changes the order


class TestAutoBits:
    def test_near_dup_target_bucket_scales_bits(self, spark, embeddings):
        """target_bucket_size derives bits from the corpus count, so a
        bigger corpus gets more buckets (flat per-bucket work) while a
        small corpus keeps the floor."""
        from sleeper_spark.functions import similarity as sim
        dim = len(embeddings.first().embedding)
        n = embeddings.count()
        captured = []
        orig = sim._hyperplanes

        def spy(d, bits, seed=42):
            captured.append(bits)
            return orig(d, bits, seed)

        sim._hyperplanes = spy
        try:
            sim.embedding_near_duplicates(
                embeddings, dim=dim, bits=4, target_bucket_size=max(1, n // 8))
            sim.embedding_near_duplicates(
                embeddings, dim=dim, bits=4, target_bucket_size=n * 10)
        finally:
            sim._hyperplanes = orig
        assert captured[0] >= 3        # scaled up: ~8 buckets wanted
        assert captured[1] == 4        # floor holds for a tiny corpus
        assert captured[0] > captured[1] or captured[0] >= 3


class TestAudio:
    @staticmethod
    def _wav_bytes(freq=440.0, sr=8000, seconds=0.25, channels=1, width=2):
        import io
        import math
        import struct
        import wave
        n = int(sr * seconds)
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(channels)
            w.setsampwidth(width)
            w.setframerate(sr)
            frames = bytearray()
            for i in range(n):
                v = int(32767 * 0.5 * math.sin(2 * math.pi * freq * i / sr))
                for _ in range(channels):
                    frames += struct.pack("<h", v)
            w.writeframes(bytes(frames))
        return buf.getvalue()

    def test_decode_wav_real_codec(self):
        import numpy as np
        from sleeper_spark.functions.multimodal import decode_wav
        sr, x = decode_wav(self._wav_bytes(sr=8000, seconds=0.25))
        assert sr == 8000 and len(x) == 2000
        assert abs(float(np.abs(x).max()) - 0.5) < 0.01
        # stereo averages to mono of the same length
        sr2, x2 = decode_wav(self._wav_bytes(channels=2))
        assert len(x2) == 2000
        # non-WAV payloads raise the named hook error
        import pytest as _pytest
        with _pytest.raises(NotImplementedError, match="external decoder"):
            decode_wav(b"ID3\x03mp3-ish garbage")

    def test_extract_audio_features_end_to_end(self, spark):
        from sleeper_spark.functions.multimodal import extract_audio_features
        rows = [(1, self._wav_bytes()),            # real tone
                (2, self._wav_bytes(freq=0.0)),    # silence
                (3, b"not audio at all")]          # quarantined as NULLs
        df = spark.createDataFrame(rows, ["doc_id", "payload"])
        got = {r.doc_id: r for r in
               extract_audio_features(df, n_windows=4).collect()}
        assert got[1].sample_rate == 8000 and got[1].n_samples == 2000
        assert abs(got[1].duration_s - 0.25) < 1e-9
        assert len(got[1].window_rms) == 4
        assert all(rm > 0.2 for rm in got[1].window_rms)  # ~0.35 RMS tone
        assert got[2].peak == 0.0 and all(rm == 0.0 for rm in got[2].window_rms)
        assert got[3].sample_rate is None and got[3].window_rms is None

    def test_decode_wav_truncated_payload(self):
        """A WAV truncated mid-sample decodes its valid prefix instead
        of crashing (np.frombuffer would raise on a 19-byte buffer)."""
        from sleeper_spark.functions.multimodal import decode_wav
        full = self._wav_bytes()
        sr, x = decode_wav(full[:len(full) - 1])  # cut mid-sample
        assert sr == 8000 and len(x) > 0


class TestVerbatimSpans:
    """Rolling-window exact-substring dedup (corpus.document_spans /
    duplicated_spans / verbatim_overlap_share) — the hash-aggregation
    stand-in for suffix-array substring dedup (Lee et al. 2022)."""

    def _docs(self, spark):
        shared = " ".join(f"tok{i}" for i in range(25))  # 25-token run
        uniq_a = " ".join(f"aa{i}" for i in range(30))
        uniq_b = " ".join(f"bb{i}" for i in range(30))
        short = "tiny doc below window"
        return spark.createDataFrame(
            [(1, uniq_a + " " + shared),
             (2, shared + " " + uniq_b),
             (3, uniq_b.replace("bb", "cc")),
             (4, short)],
            "doc_id long, text string")

    def test_planted_shared_run_is_found(self, spark):
        from sleeper_spark.functions import corpus
        dup = corpus.duplicated_spans(self._docs(spark), window=20,
                                      stride=10).collect()
        # the 25-token shared run guarantees at least one aligned
        # 20-token window in both docs (window + stride - 1 = 29 > 25
        # is the detection bound; here alignment at stride boundaries
        # still catches it because the run covers token positions that
        # include a multiple of stride in both docs)
        assert any(r.n_docs == 2 for r in dup)

    def test_share_flags_copy_heavy_doc_only(self, spark):
        from sleeper_spark.functions import corpus
        rows = {r.doc_id: r for r in corpus.verbatim_overlap_share(
            self._docs(spark), window=20, stride=10).collect()}
        assert 4 not in rows  # below one window: no signal, excluded
        assert rows[3].n_dup_spans == 0 and rows[3].dup_share == 0.0
        assert rows[1].n_dup_spans >= 1 and rows[2].n_dup_spans >= 1
        assert 0.0 < rows[1].dup_share < 1.0

    def test_no_cartesian_in_plan(self, spark):
        from sleeper_spark.functions import corpus
        plan = (corpus.verbatim_overlap_share(self._docs(spark))
                ._jdf.queryExecution().executedPlan().toString())
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan


class TestRRF:
    def test_fusion_arithmetic_and_caps(self, spark):
        from sleeper_spark.functions.search import rrf_fuse
        a = spark.createDataFrame(
            [(1, 0.9), (2, 0.8), (3, 0.7)], ["doc_id", "score"])
        b = spark.createDataFrame(
            [(2, 0.95), (4, 0.5)], ["doc_id", "score"])
        got = {(r.doc_id, r.rrf_score) for r in
               rrf_fuse([a, b], k=10, k_each=2, rrf_k=60).collect()}
        c = lambda rank: 1000000000 // (60 + rank)
        # k_each=2: doc 3 (rank 3 in list a) never contributes
        want = {(1, c(1)), (2, c(2) + c(1)), (4, c(2))}
        assert got == want

    def test_rank_ties_break_on_id(self, spark):
        from sleeper_spark.functions.search import rrf_fuse
        a = spark.createDataFrame(
            [(5, 1.0), (3, 1.0)], ["doc_id", "score"])
        rows = rrf_fuse([a], k=2).collect()
        assert [r.doc_id for r in rows] == [3, 5]  # id breaks the tie


class TestEditDistancePairs:
    def test_planted_typos_found_exactly(self, spark):
        """Substitution, deletion, insertion at distance 1; a distance-2
        pair appears only at max_dist=2; unrelated keys never pair."""
        from sleeper_spark.functions.dedup import edit_distance_pairs
        rows = [(1, "spark table"), (2, "spork table"),   # sub
                (3, "spark tble"),                        # del
                (4, "sparkk table"),                      # ins
                (5, "spork tble"),                        # 2 edits from 1
                (6, "completely different")]
        df = spark.createDataFrame(rows, "doc_id long, k string")
        d1 = {(r.id_a, r.id_b): r.dist for r in
              edit_distance_pairs(df, "k", max_dist=1).collect()}
        assert d1 == {(1, 2): 1, (1, 3): 1, (1, 4): 1, (2, 5): 1,
                      (3, 5): 1}
        d2 = {(r.id_a, r.id_b): r.dist for r in
              edit_distance_pairs(df, "k", max_dist=2).collect()}
        assert d2[(1, 5)] == 2 and d2[(2, 3)] == 2
        assert all(v <= 2 for v in d2.values())
        assert not any(6 in p for p in d2)

    def test_complete_vs_brute_force_random(self, spark):
        """Deletion-neighborhood candidates must find EVERY pair a
        brute-force all-pairs levenshtein finds (completeness is the
        theorem; the refilter gives precision for free)."""
        import itertools
        import random
        from sleeper_spark.functions.dedup import edit_distance_pairs

        def lev(a, b):
            dp = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                prev, dp[0] = dp[0], i
                for j, cb in enumerate(b, 1):
                    prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                             prev + (ca != cb))
            return dp[len(b)]

        rng = random.Random(7)
        keys = ["".join(rng.choice("abc") for _ in range(rng.randint(0, 6)))
                for _ in range(40)]
        df = spark.createDataFrame(list(enumerate(keys)),
                                   "doc_id long, k string")
        for d in (1, 2):
            got = {(r.id_a, r.id_b, r.dist) for r in
                   edit_distance_pairs(df, "k", max_dist=d).collect()}
            want = {(i, j, lev(keys[i], keys[j]))
                    for i, j in itertools.combinations(range(40), 2)
                    if lev(keys[i], keys[j]) <= d}
            assert got == want, f"max_dist={d}"

    def test_guards(self, spark):
        import pytest as _pytest
        from sleeper_spark.functions.dedup import edit_distance_pairs
        df = spark.createDataFrame([(1, "x" * 100)], "doc_id long, k string")
        with _pytest.raises(ValueError, match="max_len"):
            edit_distance_pairs(df, "k")
        with _pytest.raises(ValueError, match="max_dist"):
            edit_distance_pairs(df, "k", max_dist=3)


class TestFilteredAnn:
    def test_filtered_topk_equals_per_group_brute_force(
            self, spark, embeddings):
        import numpy as np
        from sleeper_spark.functions.similarity import (
            attribute_filtered_topk, brute_force_topk)
        queries = embeddings.limit(3).select(
            F.col("vec_id").alias("query_id"), "label", "embedding")
        got = attribute_filtered_topk(
            embeddings, queries, ["label"], k=5).collect()
        # ground truth: brute force restricted per query's label
        for qid in {r.query_id for r in got}:
            qrow = queries.where(F.col("query_id") == qid).first()
            grp = embeddings.where(F.col("label") == qrow.label)
            want = brute_force_topk(
                grp, queries.where(F.col("query_id") == qid)
                .select("query_id", "embedding"), k=5).collect()
            mine = sorted((r.vec_id, r.cosine, r.rank)
                          for r in got if r.query_id == qid)
            ref = sorted((r.vec_id, r.cosine, r.rank) for r in want)
            assert mine == ref and ref
        # every result shares the query's label (pre-filter, not post)
        lbl = {r.vec_id: r.label for r in embeddings.select(
            "vec_id", "label").collect()}
        qlbl = {r.query_id: r.label for r in queries.collect()}
        assert all(lbl[r.vec_id] == qlbl[r.query_id] for r in got)

    def test_null_attribute_never_matches_and_guards(self, spark):
        from sleeper_spark.functions.similarity import (
            attribute_filtered_topk)
        c = spark.createDataFrame(
            [(1, [1.0, 0.0], "en"), (2, [0.9, 0.1], None)],
            "vec_id long, embedding array<double>, lang string")
        q = spark.createDataFrame(
            [(10, [1.0, 0.0], None)],
            "query_id long, embedding array<double>, lang string")
        assert attribute_filtered_topk(c, q, ["lang"], k=5).count() == 0
        with pytest.raises(ValueError, match="at least one"):
            attribute_filtered_topk(c, q, [], k=5)
        with pytest.raises(ValueError, match="lacks match"):
            attribute_filtered_topk(c, q, ["tenant"], k=5)


class TestNegativeSampling:
    def _frame(self, spark, n=60, n_labels=4):
        return spark.range(n).select(
            F.col("id").alias("vec_id"),
            (F.col("id") % n_labels).cast("int").alias("label"))

    def test_cross_label_bucket_scoped_deterministic(self, spark):
        from sleeper_spark.functions.similarity import negative_sampling
        df = self._frame(spark)
        out = negative_sampling(df, per_bucket=8, k=2).collect()
        assert out, "planted multi-label buckets must yield negatives"
        nb = max(16, 60 // 8)

        def bucket(i):
            return (((i % 1_000_003) * 2654435761) >> 16) % nb

        per_anchor = {}
        for r in out:
            assert r.anchor_id % 4 != r.negative_id % 4  # label differs
            assert bucket(r.anchor_id) == bucket(r.negative_id)
            assert 1 <= r.rank <= 2
            per_anchor.setdefault(r.anchor_id, []).append(
                (r.rank, r.negative_id))
        # ranks are the partner-id order (deterministic choice)
        for negs in per_anchor.values():
            negs.sort()
            assert [n for _, n in negs] == sorted(n for _, n in negs)
        # re-run is bit-identical (no randomness anywhere)
        again = negative_sampling(df, per_bucket=8, k=2).collect()
        key = lambda r: (r.anchor_id, r.rank)
        assert sorted(out, key=key) == sorted(again, key=key)

    def test_null_labels_never_pair(self, spark):
        from sleeper_spark.functions.similarity import negative_sampling
        df = spark.createDataFrame(
            [(1, None), (2, None), (3, 1)],
            "vec_id long, label int")
        out = negative_sampling(df, per_bucket=16, k=3).collect()
        for r in out:
            assert r.anchor_id != r.negative_id
            # a NULL on either side can never form a pair
            assert r.anchor_id == 3 or r.negative_id == 3
        # and NULL<->NULL specifically is absent
        assert not [r for r in out
                    if r.anchor_id in (1, 2) and r.negative_id in (1, 2)]


class TestHardNegativeMining:
    def test_matches_numpy_reference(self, spark, embeddings):
        import numpy as np
        from sleeper_spark.functions.similarity import hard_negative_mining
        anchors = embeddings.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "label", "embedding")
        got = hard_negative_mining(embeddings, anchors, k=4).collect()
        rows = embeddings.select("vec_id", "label", "embedding").collect()
        vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
                for r in rows}
        labels = {r.vec_id: r.label for r in rows}
        for qid in range(3):
            qv = vecs[qid]
            scored = sorted(
                ((-round(float(np.dot(v, qv)
                               / (np.linalg.norm(v) * np.linalg.norm(qv))),
                         6), vid)
                 for vid, v in vecs.items() if labels[vid] != labels[qid]),
            )[:4]
            want = [(vid, i + 1) for i, (_, vid) in enumerate(scored)]
            have = sorted([(r.vec_id, r.rank) for r in got
                           if r.query_id == qid], key=lambda t: t[1])
            assert have == want

    def test_anchor_cap_refused_loudly(self, spark, embeddings):
        from sleeper_spark.functions.similarity import hard_negative_mining
        anchors = embeddings.limit(30).select(
            F.col("vec_id").alias("query_id"), "label", "embedding")
        with pytest.raises(ValueError, match="anchor_cap"):
            hard_negative_mining(embeddings, anchors, k=2, anchor_cap=10)


def _lambda_bodies(plan: str):
    """Yield the balanced-paren body of every lambdafunction(...) node
    in a plan string (nested lambdas yield both outer and inner)."""
    i = 0
    marker = "lambdafunction("
    while True:
        j = plan.find(marker, i)
        if j < 0:
            return
        k = j + len(marker)
        depth = 1
        start = k
        while depth and k < len(plan):
            if plan[k] == "(":
                depth += 1
            elif plan[k] == ")":
                depth -= 1
            k += 1
        yield plan[start:k - 1]
        i = j + 1


def _assert_no_tokenize_in_lambdas(df, label):
    """The bind_once invariant (r11's O(tokens^2) class): a tokenizer
    tree (regexp_extract_all) captured inside a higher-order lambda
    BODY re-evaluates per array element — it must always be bound once
    (appear only as a HOF *input*, e.g. inside transform(array(...)))."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    for body in _lambda_bodies(plan):
        assert "regexp_extract_all(" not in body, (
            f"{label}: tokenizer tree captured inside a lambda body — "
            "the O(tokens^2) re-evaluation class; bind it once "
            "(functions.text.bind_once)")


class TestBindOnceRewrites:
    """Round-11 optimization: expensive expressions re-evaluated inside
    higher-order lambda bodies (tokenizer per gram/span — quadratic per
    document) were rewritten onto text.bind_once lambda-variable
    bindings. These tests pin (1) value identity of the rewritten
    builders on the edge shapes (null / empty / below-k / duplicate
    grams), and (2) the PythonUDF-input constraint the rewrite exposed:
    a nested lambda CAPTURING an outer lambda variable inside an Arrow
    UDF's input breaks ExtractPythonUDFs on a deduplicated self-join
    branch, so portable_shingle_hashes must stay capture-free."""

    EDGE_TEXTS = [
        (1, None),
        (2, ""),
        (3, "one"),
        (4, "one two"),
        (5, "a b c a b c a b c"),          # duplicate shingles: distinct order
        (6, "The  quick   brown fox, fox! jumps-over the lazy dog 42 x"),
    ]

    def _df(self, spark):
        return spark.createDataFrame(self.EDGE_TEXTS, "doc_id long, text string")

    def test_bind_once_null_and_value_semantics(self, spark):
        from sleeper_spark.functions.text import bind_once
        df = spark.createDataFrame([(None,), ("a b",)], "text string")
        got = df.select(
            bind_once(F.split("text", " "),
                      lambda t: F.size(t)).alias("bound"),
            F.size(F.split("text", " ")).alias("direct")).collect()
        for r in got:
            assert r.bound == r.direct  # incl. size(NULL) = -1 legacy

    def test_portable_gram_hashes_match_shingles_form(self, spark):
        # reference: md5-fold over shingles() — the pre-rewrite
        # construction; the zip_with chain must produce identical
        # hashes in identical (first-occurrence distinct) order
        from sleeper_spark.functions.dedup import (portable_shingle_hashes,
                                                   shingles)

        def _h(s):
            hx = F.md5(s)
            hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
            lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
            return F.shiftleft(hi, 32).bitwiseOR(lo)

        for k in (2, 3):
            rows = self._df(spark).select(
                portable_shingle_hashes("text", k).alias("got"),
                F.transform(shingles("text", k), _h).alias("want")).collect()
            for r in rows:
                assert r.got == r.want, (k, r)

    def test_simhash_portable_selfjoin_executes(self, spark):
        # regression: the portable hasher feeds the Arrow vote UDF and
        # is self-joined by the banding; a capture-carrying input makes
        # ExtractPythonUDFs skip the deduplicated branch and the job
        # dies with INTERNAL_ERROR "Cannot evaluate expression: _udf"
        from sleeper_spark.functions.dedup import simhash_near_duplicates
        base = ("the quick brown fox jumps over the lazy dog while the "
                "cat watches from the warm windowsill in the sun")
        df = spark.createDataFrame(
            [(1, base), (2, base.replace("warm", "cold")),
             (3, "totally different content about spark executors")],
            ["doc_id", "text"])
        got = {(r.id_a, r.id_b) for r in
               simhash_near_duplicates(df, max_hamming=12,
                                       portable_hash=True).collect()}
        assert (1, 2) in got
        assert (1, 3) not in got and (2, 3) not in got

    def test_simhash_default_hash_selfjoin_executes(self, spark):
        """ADVICE r11: the ExtractPythonUDFs regression pin only covered
        portable_hash=True; the default shingle_hashes path is also
        bind_once-wrapped and feeds the same Arrow vote UDF across the
        banding self-join — pin it against future bind_once edits."""
        from sleeper_spark.functions.dedup import simhash_near_duplicates
        base = ("the quick brown fox jumps over the lazy dog while the "
                "cat watches from the warm windowsill in the sun")
        df = spark.createDataFrame(
            [(1, base), (2, base.replace("warm", "cold")),
             (3, "totally different content about spark executors")],
            ["doc_id", "text"])
        got = {(r.id_a, r.id_b) for r in
               simhash_near_duplicates(df, max_hamming=12,
                                       portable_hash=False).collect()}
        assert (1, 2) in got
        assert (1, 3) not in got and (2, 3) not in got

    def test_bind_once_lint_detector_fires_on_seeded_regression(self, spark):
        """The detector itself must go red on a deliberately captured
        tokenizer tree (otherwise the lint proves nothing)."""
        import pytest as _pytest
        df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
        bad = df.select(F.transform(
            F.sequence(F.lit(1), F.lit(3)),
            lambda i: F.element_at(
                F.regexp_extract_all(F.lower("text"),
                                     F.lit("[a-z]+"), F.lit(0)), i)
        ).alias("t"))
        with _pytest.raises(AssertionError):
            _assert_no_tokenize_in_lambdas(bad, "seeded")

    def test_bind_once_invariant_across_text_operators(self, spark):
        """Every tokenizing operator family keeps the bind_once invariant
        in its optimized plan (r11 VERDICT Next #9)."""
        from sleeper_spark.functions import corpus as co
        from sleeper_spark.functions import dedup as dd
        from sleeper_spark.functions import lm
        from sleeper_spark.functions import text as tx

        docs = spark.createDataFrame(
            [(i, f"the quick brown fox {i} jumps over the lazy dog line\n"
                 f"and some more text tokens {i % 3} for shingling tests")
             for i in range(8)], ["doc_id", "text"])
        frames = {
            "chunk_documents": co.chunk_documents(docs, window=8, stride=6),
            "tfidf_top_terms": co.tfidf_top_terms(docs),
            "ngram_top_counts": co.ngram_top_counts(docs, n=2, k=3),
            "repetition_scores": co.repetition_scores(docs),
            "quality_filter": co.quality_filter(docs),
            "duplicated_spans": co.duplicated_spans(docs, window=4, stride=2),
            "quality_features": tx.quality_features(docs),
            "minhash_pairs": dd.minhash_candidate_pairs(docs, num_hashes=8,
                                                        bands=4),
            "simhash_fingerprints": dd.simhash_fingerprints(docs),
            "bigram_lm_scores": lm.bigram_lm_scores(docs),
        }
        for label, df in frames.items():
            _assert_no_tokenize_in_lambdas(df, label)
