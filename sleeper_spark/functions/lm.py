"""Corpus-trained n-gram language-model scoring — the CCNet-style
quality signal (Wenzek et al. 2020, public method): documents whose
token transitions are improbable under a corpus-wide bigram model are
boilerplate/gibberish candidates; ones that are too probable are
templates. Used as a quality-bucketing feature next to the Gopher
rules (corpus.quality_filter).

Scale shape: training is two hash aggregates over exploded n-grams
(unigram and bigram counts — combine-friendly, shuffle carries
vocabulary-sized data); scoring joins each document's bigrams to the
probability table on the bigram hash (shuffle join, AQE-handled skew)
and reduces per document. No driver-side model, no UDFs — the model
IS a DataFrame.

Determinism for oracle parity: per-bigram log-probabilities round to
MICRO units (1e-6) and become exact LONG sums per document — float
addition order across engines cannot perturb the total (same recipe
as the RRF fusion's integer contributions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sleeper_spark.functions.text import bind_once, tokens


def _bigrams_given(t: Column) -> Column:
    """:func:`_bigrams` over an ALREADY-BOUND token array (a lambda
    variable) — callers that also need the unigram array share one
    tokenizer pass by binding it themselves (see dsir.py)."""
    n = F.size(t)
    return F.when(
        n >= 2,
        F.transform(F.sequence(F.lit(1), n - 1),
                    lambda i: F.concat_ws(" ", F.element_at(t, i),
                                          F.element_at(t, i + 1))),
    ).otherwise(F.array().cast("array<string>"))


def _bigrams(col: Column) -> Column:
    """Adjacent token pairs as 'w1 w2' strings (order preserved, NOT
    distinct — counts weight repeated transitions). The token array is
    lambda-bound (bind_once): captured inside the transform lambda it
    would re-run the tokenizer regex per bigram — O(tokens^2)."""
    return bind_once(tokens(col), _bigrams_given)


def bigram_lm_scores(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     alpha: float = 0.1) -> DataFrame:
    """Per-document average bigram log-probability under the
    corpus-trained model: ``(id_col, n_bigrams, sum_logprob_micro,
    avg_logprob_micro)`` with Lidstone-smoothed conditionals
    ``P(w2|w1) = (c12 + alpha) / (c1(w1) + alpha * V)`` (V = distinct
    unigrams). Smoothing is what makes SELF-training meaningful: an
    unsmoothed conditional scores a one-off gibberish transition as
    P=1 (its unique first word predicts its unique second word
    perfectly), while the smoothed form divides by alpha*V and sends
    rare transitions strongly negative — common prose floats to the
    top, the CCNet-style quality ordering.

    Per-bigram log-probs round to micro units (longs) before
    summation, so the per-document total is an exact integer sum
    (float addition order across engines cannot perturb it); the
    average is the same IEEE double division in every engine,
    TRUNCATED back to micro-unit longs (rounding at 4 digits sits on
    half-boundaries like -3.37205 where engines disagree — truncation
    of one shared double never does). Documents shorter than two
    tokens score NULL (no transitions to judge)."""
    # ONE bigram tokenization feeds BOTH the count model and the
    # scoring join (the unmaterialised form tokenized the corpus three
    # times: unigram counts, bigram counts, scoring stream — guide
    # §1.2). The exploded stream is executor-resident
    # (MEMORY_AND_DISK), the same recompute-vs-store trade dsir.py
    # makes for its hashed-gram stream; the unigram count table is
    # vocabulary-sized and feeds two consumers (the V count and the
    # conditional's denominator join), so it is materialised too.
    ex = df.select(F.col(id_col),
                   F.explode(_bigrams(F.col(text_col))).alias("bg")) \
        .localCheckpoint()
    uni = (df.select(F.explode(tokens(text_col)).alias("w"))
           .groupBy("w").agg(F.count("*").alias("c1"))
           .localCheckpoint())
    bi = ex.groupBy("bg").agg(F.count("*").alias("c12"))
    vocab = uni.agg(F.count("*").alias("__v"))
    logprob = bi.join(
        uni, F.split(bi.bg, " ").getItem(0) == uni.w) \
        .crossJoin(F.broadcast(vocab)) \
        .select(
            "bg",
            F.round(F.log(
                (F.col("c12").cast("double") + F.lit(alpha))
                / (F.col("c1").cast("double")
                   + F.lit(alpha) * F.col("__v").cast("double"))) * 1e6)
            .cast("long").alias("__lp_micro"))
    scored = (ex.join(logprob, "bg")
              .groupBy(id_col)
              .agg(F.count("*").alias("n_bigrams"),
                   F.sum("__lp_micro").alias("sum_logprob_micro")))
    all_docs = df.select(id_col)
    return (all_docs.join(scored, id_col, "left")
            .select(
                id_col,
                F.coalesce("n_bigrams", F.lit(0)).cast("long")
                .alias("n_bigrams"),
                F.col("sum_logprob_micro").cast("long"),
                F.when(F.col("n_bigrams") > 0,
                       (F.col("sum_logprob_micro")
                        / F.col("n_bigrams")).cast("long"))
                .alias("avg_logprob_micro")))
