"""Round-12 optimization pins: operator-internals changes made this
round."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from sleeper_spark.functions import similarity  # noqa: E402


def test_simhash_default_hash_selfjoin_executes(spark):
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


def test_bind_once_lint_detector_fires_on_seeded_regression(spark):
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


def test_bind_once_invariant_across_text_operators(spark):
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


def test_kmeans_cache_quantized_identical(spark):
    """cache_quantized=True must return identical assignments and is
    purely a scan-count trade (guide §5) — pinned so the flag can't
    drift semantically."""
    import numpy as np
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
