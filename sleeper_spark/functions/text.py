"""Text analysis operators for training-data pipelines.

All pure Column expressions (JVM-side, whole-stage codegen): no Python in
the hot path, so these run at scan speed over 100 TB of documents and
every derived column is prunable/pushable by Catalyst.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A small portable token pattern: runs identically in Spark and ANSI-SQL
# engines (the oracle uses the same regex) — word chars incl. apostrophes.
TOKEN_PATTERN = "[A-Za-z0-9']+"

# Tiny per-language stopword lists for the n-gram/stopword language
# heuristic. Deliberately small and hard-coded: language ID here is a
# scoring heuristic, not a model.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "as"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "fr": ["le", "la", "de", "et", "un", "que", "pour", "dans", "est", "les"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein", "für", "auf"],
}


def bind_once(expr: Column, fn) -> Column:
    """Evaluate ``expr`` exactly once per row and hand the value to
    ``fn`` as a higher-order-function lambda variable.

    Why this exists: naming an expensive expression with a projection
    alias does NOT guarantee single evaluation — Catalyst re-inlines
    project aliases into every consumer (measured in corpus.py's
    quality filter: 17.8s vs sub-second at sf0.1) — and an expression
    tree captured inside a higher-order lambda BODY is re-evaluated
    interpreted for EVERY array element (higher-order functions are
    CodegenFallback with no common-subexpression elimination), turning
    a per-row tokenize into a per-element one. A lambda VARIABLE, by
    contrast, is bound to its value exactly once by construction, so
    wrapping the value in a one-element array and transforming it makes
    any expression a true let-binding; ``element_at(.., 1)`` unwraps.
    """
    return F.element_at(F.transform(F.array(expr), fn), 1)


def tokens(col: Column | str) -> Column:
    """Array of word tokens (BPE-ish regex split)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(TOKEN_PATTERN), 0)


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def whitespace_token_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    # split("") yields [""] (size 1): empty/whitespace-only text must
    # count 0 tokens, not 1
    return F.when(F.trim(c) == "", F.lit(0)) \
        .otherwise(F.size(F.split(F.trim(c), r"\s+")))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring features: length, token stats, punctuation/stopword
    ratios. Each is a single codegen'd expression over the scan."""
    c = F.col(text_col)
    toks = tokens(c)
    n_toks = F.size(toks)
    n_chars = F.length(c)
    punct = F.length(F.regexp_replace(c, r"[^.,;:!?]", ""))
    stop_hits = F.size(F.array_intersect(toks, F.lit(STOPWORDS["en"]).cast("array<string>")))
    return df.withColumns({
        "n_chars_computed": n_chars,
        "n_tokens": n_toks,
        # the token array is lambda-bound (bind_once): the three
        # references below (guard, fold, divisor) would otherwise each
        # re-run the tokenizer regex per row
        "mean_token_len": bind_once(toks, lambda t: F.when(
            F.size(t) > 0,
            F.round(F.aggregate(t, F.lit(0), lambda a, tk: a + F.length(tk))
                    .cast("double") / F.size(t), 4)
        ).otherwise(F.lit(0.0))),
        "punct_ratio": F.round(punct.cast("double") / F.greatest(n_chars, F.lit(1)), 4),
        "distinct_stopwords": stop_hits,
    })


def _language_scores_given(t: Column) -> dict[str, Column]:
    """Per-language stopword-hit counts over an ALREADY-BOUND token
    array (a lambda variable) — consumers that reference several
    scores share one tokenizer pass by binding it themselves."""
    return {
        lang: F.size(
            F.filter(t, lambda tok: tok.isin(words))  # noqa: B023 — words bound per iteration
        )
        for lang, words in STOPWORDS.items()
    }


def language_id(df: DataFrame, text_col: str = "text",
                out_col: str = "predicted_lang") -> DataFrame:
    """Heuristic language ID: argmax of per-language stopword hit counts,
    'und' (undetermined) when no list scores > 0. Pure expressions —
    no UDF, no shuffle. The token array is lambda-bound (bind_once):
    the argmax when-chain references each language's score several
    times, and each captured-tree reference would re-run the tokenizer
    regex."""
    def _pred(t: Column) -> Column:
        scores = _language_scores_given(t)
        langs = list(scores)
        best = F.greatest(*[scores[lang] for lang in langs])
        pred = F.lit("und")
        # later langs win ties in reverse build order; iterate reversed
        # so that earlier (more common) languages take precedence on
        # equal score
        for lang in reversed(langs):
            pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
        return F.when(best > 0, pred).otherwise(F.lit("und"))

    return df.withColumn(out_col, bind_once(tokens(text_col), _pred))


def fingerprint(col: Column | str, normalize: bool = True) -> Column:
    """Document fingerprint: 64-bit hash of normalized text (rolling-hash
    equivalent for exact/near-exact duplicate detection). xxhash64 is
    Spark-native and stable across runs."""
    c = F.col(col) if isinstance(col, str) else col
    if normalize:
        c = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.xxhash64(c)


def content_md5(col: Column | str) -> Column:
    """Portable content hash (md5 exists in every SQL engine — used where
    the oracle must reproduce the hash)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c)


#: PII patterns — conservative syntax valid in BOTH Java regex (Spark)
#: and RE2 (DuckDB/Go tooling), so oracles and external audits reproduce
#: the scrub exactly. Order matters: emails first (their dotted domains
#: would otherwise be half-eaten by the IP pattern), then IPs, then
#: phone-like digit runs.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\+?\d[\d()\- ]{7,}\d", "<PHONE>"),
)


def pii_scrub(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Redact PII-shaped spans (emails, IPv4 addresses, phone-like digit
    runs) — the scrub step a training pipeline runs before text ships
    into a corpus. Pure chained ``regexp_replace`` expressions: no
    shuffle, no UDF, the 100 TB cost is the scan; counts are taken
    BEFORE replacement so the audit trail survives the redaction.

    Each pattern's count is taken on the text AS THE SCRUB SEES IT
    (emails on the raw text, IPs on the email-scrubbed text, phones
    after both) — so every count equals the number of substitutions
    actually made. Counting all three on the raw text instead would
    double-count overlapping spans (an email whose domain embeds an
    IPv4-shaped token would inflate n_ips without any IP redaction).

    Output: ``id_col, n_emails, n_ips, n_phones, text_scrubbed``.
    """
    scrubbed = F.col(text_col)
    counts = []
    for (pat, repl), alias_ in zip(
            PII_PATTERNS, ("n_emails", "n_ips", "n_phones")):
        counts.append(
            # F.size of a NULL array is -1 under Spark's legacy
            # sizeOfNull default — a NULL-text row must audit as 0
            # matches, not corrupt downstream count aggregations.
            F.when(F.col(text_col).isNull(), F.lit(0))
            .otherwise(F.size(
                F.regexp_extract_all(scrubbed, F.lit(pat), F.lit(0))))
            .alias(alias_))
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return df.select(F.col(id_col), *counts,
                     scrubbed.alias("text_scrubbed"))


#: kind -> (pattern, mask) for the CONFIGURABLE audit/redaction tier
#: below. Same engine-portable regex subset as PII_PATTERNS (shared by
#: Java regex and RE2 — character classes, bounded repetition,
#: non-capturing groups, \b; no backreferences or lookaround). The
#: phone pattern here is STRUCTURED (2/3-3-3-4 groupings) where
#: pii_scrub's is a loose digit-run: prefer this one when false
#: positives on ordinary numbers matter, pii_scrub's when recall does.
PII_KIND_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
              "[EMAIL]"),
    "ipv4": (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "[IPV4]"),
    "phone": (r"\b\d{2,3}[-. ]\d{3}[-. ]\d{3}[-. ]\d{4}\b", "[PHONE]"),
}


def pii_counts(df: DataFrame, text_col: str,
               patterns: dict[str, tuple[str, str]] | None = None,
               prefix: str = "n_") -> DataFrame:
    """Per-row match counts for each pattern kind: one
    ``{prefix}{kind}`` int column per pattern plus ``{prefix}pii``
    with the total — the audit half, decoupled from masking (unlike
    :func:`pii_scrub`, counts are taken INDEPENDENTLY on the raw text
    per kind, and NULL text counts NULL — absent data is not "clean"
    data). Pure codegen'd ``regexp_count``, zero shuffle."""
    pats = PII_KIND_PATTERNS if patterns is None else patterns
    out = df
    total: Column | None = None
    for kind, (pat, _) in pats.items():
        c = F.regexp_count(F.col(text_col), F.lit(pat))
        out = out.withColumn(f"{prefix}{kind}", c)
        total = c if total is None else total + c
    assert total is not None, "patterns must be non-empty"
    return out.withColumn(f"{prefix}pii", total)


def pii_redact(df: DataFrame, text_col: str,
               patterns: dict[str, tuple[str, str]] | None = None,
               out_col: str | None = None) -> DataFrame:
    """Mask every match of every pattern, in mapping order — each
    kind's mask token contains no digits or ``@``, so later patterns
    can never re-match inside an earlier mask (order-stable output,
    same argument as :data:`PII_PATTERNS`). In-place by default
    (``out_col`` to keep the original). Pure nested
    ``regexp_replace`` — one codegen'd projection, zero shuffle."""
    pats = PII_KIND_PATTERNS if patterns is None else patterns
    expr: Column = F.col(text_col)
    for pat, mask in pats.values():
        expr = F.regexp_replace(expr, pat, mask)
    return df.withColumn(out_col or text_col, expr)
