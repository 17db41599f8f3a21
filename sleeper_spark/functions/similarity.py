"""Similarity search over embedding columns (``array<float>``).

Two tiers, as a 100 TB engine needs both:

- **Brute-force top-k** — exact baseline. The query set is small and
  broadcast; the corpus is never shuffled for scoring: each partition
  scores its own vectors against every query (map-side), and a Partial
  WindowGroupLimit prunes each partition to its local top-k per query
  BEFORE the exchange, so no task ever sees more than partitions×k rows
  (see ``_pruned_topk``). Cosine is computed with ``zip_with`` +
  ``aggregate`` higher-order functions — JVM-side, no Python.
- **LSH-bucketed (random hyperplanes)** — the scale path. Each vector gets
  a B-bit signature from the signs of dot products with B fixed random
  hyperplanes (seeded, reproducible). Vectors and queries join on the
  bucket id, so each query scores only its bucket's candidates (recall
  tunable via B and multi-probe on near-zero margins). Bucket assignment
  is a pure map; the only shuffle is the bucket equi-join.

Every tier's recall@10 against :func:`brute_force_topk` ground truth is
itself a first-class operator (:func:`recall_at_k`, driver entry
``ann_recall``) — the metric an embedding pipeline gates index deploys
on. On the synthetic near-random fixture embeddings (a worst case for
ANN: no cluster structure), measured recall@10 at sf0.1 (10k vectors,
5 queries): IVF-Flat (nlist=8, nprobe=2) 0.60; LSH (8 bits) 0.06;
multi-probe LSH (8 bits, nprobe=3) 0.10 — the margin-flip probes lift
recall ~1.7x at the same bucket granularity; PQ/IVF-PQ (m=4, ksub=8)
~0.0-0.1 — 4096 distinct codes cannot rank 10k unclustered vectors, an
expected property of random data, not of the operators (real embedding
corpora cluster, which is what PQ exploits).
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sleeper_spark.functions.text import bind_once
from sleeper_spark.query import local_frame, local_rows_df


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine_similarity(a: Column, b: Column) -> Column:
    # operands and denominator are lambda-bound (bind_once): the guard
    # + division reference the denominator twice and each operand three
    # times, and captured trees (callers pass casts) would re-evaluate
    # O(dim) work per reference
    return bind_once(a, lambda av: bind_once(b, lambda bv: bind_once(
        l2_norm(av) * l2_norm(bv),
        lambda denom: F.when(denom > 0, dot(av, bv) / denom)
        .otherwise(F.lit(0.0)))))


def _pruned_topk(scored: DataFrame, k: int, id_col: str,
                 query_id_col: str) -> DataFrame:
    """Global top-k per query without funnelling every scored corpus row
    into one task per query.

    The naive worry with ``Window.partitionBy(query_id)`` is Q tasks each
    sorting n_corpus rows. Spark ≥3.5 eliminates it: the rank-limit filter
    (``row_number() <= k``) triggers the InsertWindowGroupLimit rule,
    which plans a **Partial WindowGroupLimit BEFORE the exchange** — each
    map task streams its partition and keeps only its local top-k per
    query, so the shuffle carries ≤ k rows per (input partition, query)
    and the per-query reducer sees ≤ P×k rows, independent of corpus
    size. ``tests/test_plans.py::test_ann_topk_partial_limit_before_
    exchange`` pins this shape; an explicit two-window pre-prune would
    duplicate the work and add a second shuffle.
    """
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def _paired_cosine() -> Column:
    """round(cosine, 6) from pre-projected __cvec/__qvec/__cnorm/__qnorm
    columns — norms are computed once per VECTOR (projection), not once
    per scored pair; the float expression tree is identical to
    :func:`cosine_similarity`, so rounded values match bit-for-bit."""
    denom = F.col("__cnorm") * F.col("__qnorm")
    return F.round(
        F.when(denom > 0,
               dot(F.col("__cvec"), F.col("__qvec")) / denom)
        .otherwise(F.lit(0.0)), 6)


def _with_norm(df: DataFrame, vec_alias: str, norm_alias: str) -> DataFrame:
    return df.withColumn(norm_alias, l2_norm(F.col(vec_alias)))


def _exclude_self(scored: DataFrame, id_col: str,
                  query_id_col: str) -> DataFrame:
    """Drop the query's own corpus row — only meaningful (and only
    type-safe under ANSI) when the two id columns share a type; string
    query ids against long corpus ids would crash the != cast."""
    types = dict(scored.dtypes)
    if types[id_col] == types[query_id_col]:
        return scored.where(F.col(id_col) != F.col(query_id_col))
    return scored


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    indexed: DataFrame | None = None,
) -> DataFrame:
    """Exact cosine top-k per query: broadcast queries, score map-side,
    per-partition pre-prune then global top-k. Ties broken by corpus id
    for determinism. ``indexed`` injects any prebuilt ``(id_col,
    __cvec, __cnorm, ...)`` corpus frame (:func:`lsh_index_corpus` /
    :func:`ivf_index_corpus`) so a recall sweep shares one corpus
    projection; extra index columns are dropped by the top-k select."""
    q = _with_norm(queries.select(
        F.col(query_id_col),
        F.col(vec_col).cast("array<double>").alias("__qvec"),
    ), "__qvec", "__qnorm")
    c = indexed if indexed is not None else _with_norm(corpus.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__cvec"),
    ), "__cvec", "__cnorm")
    scored = (
        c.crossJoin(F.broadcast(q))
        .withColumn("cosine", _paired_cosine())
    )
    scored = _exclude_self(scored, id_col, query_id_col)
    return _pruned_topk(scored, k, id_col, query_id_col)


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def _array_lit(values, sql_type: str) -> Column:
    """Nested numeric array literal via ONE ``F.expr`` parse.

    ``F.lit(nested_list)`` issues a py4j call PER ELEMENT — a 512-double
    planes matrix cost ~0.5s of pure driver time to construct, paid on
    every plan build of every LSH/PQ consumer. Rendering the literal as
    SQL text and parsing it JVM-side is one round trip (~1ms).
    Bit-exact: ``repr`` of a finite double is the shortest decimal that
    round-trips, and the SQL parser's ``Double.parseDouble`` is
    correctly rounded, so the parsed literal holds the identical IEEE
    bits ``F.lit`` would have."""
    return F.expr(_array_lit_sql(values, sql_type))


def _array_lit_sql(values, sql_type: str) -> str:
    """The SQL text behind :func:`_array_lit`, for embedding inside a
    larger single-parse expression (see :func:`_pq_codes_expr`)."""
    def render(v):
        if isinstance(v, (list, tuple)):
            return "array(" + ",".join(render(x) for x in v) + ")"
        if isinstance(v, float):
            if v != v or v in (float("inf"), float("-inf")):
                raise ValueError(f"non-finite literal {v!r}")
            return repr(v) + "D"
        return f"{int(v)}L"
    return f"CAST({render(values)} AS {sql_type})"


def _planes_lit(planes: list[list[float]]) -> Column:
    """The hyperplane matrix as ONE bits×dim 2-D literal (the k-means
    centroid-literal idiom, guide §7.3): every consumer folds over it
    with a single lambda instead of building a per-plane expression
    tree, so plan size — and the Catalyst analysis time every LSH
    entry pays per pass — stays O(1) in ``bits``."""
    return _array_lit([list(p) for p in planes], "array<array<double>>")


def _plane_dots(vec: Column, planes: list[list[float]]) -> Column:
    """array of dot(vec, plane_i) in plane order — the identical
    zip_with/aggregate fold :func:`dot` runs per plane, under one
    transform lambda. ``vec`` is lambda-bound (bind_once) so a computed
    vector expression (e.g. a cast) evaluates once, not once per
    plane."""
    return bind_once(vec, lambda v: F.transform(_planes_lit(planes),
                                                lambda p: dot(v, p)))


def _bucket_from_dots(ds: Column, nbits: int) -> Column:
    """sign-bit bucket from the per-plane dot array: sum of
    ``1 << i`` over planes with ``d_i >= 0`` — term values and
    summation order identical to the unrolled per-plane chain it
    replaces (integer addition over disjoint bits)."""
    weights = F.lit([1 << i for i in range(nbits)]).cast("array<long>")
    return F.aggregate(
        F.zip_with(ds, weights, lambda d, w: F.when(d >= 0, w)
                   .otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"), lambda acc, t: acc + t)


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Bucket id = sign-bit signature over the fixed hyperplanes."""
    return _bucket_from_dots(_plane_dots(vec, planes), len(planes))


def _probe_cells(qv: np.ndarray, cents: np.ndarray, nprobe: int) -> list[int]:
    """The nprobe nearest cells by RAW dot product — the same formula as
    _assign_cells_udf and the SQL oracle. Stable argsort: equal dots
    break toward the lower cell id, the (dot DESC, cell ASC) rank rule."""
    order = np.argsort(-(cents @ qv), kind="stable")[:nprobe]
    return [int(c) for c in order]


def _assign_cells_udf(centroids):
    """Vectorized nearest-centroid assignment: one numpy matmul per Arrow
    batch against the broadcast (nlist x dim) centroid matrix — the IVF
    coarse quantizer's hot loop, never per-row Python."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    # RAW dot products, exactly like the query-side probe and the SQL
    # oracle (list_dot_product(v, cv)): normalizing only the centroids
    # here would make assignment and probe disagree whenever supplied
    # centroids are not unit-norm (kmeans_spherical's are; pre-trained
    # ones from elsewhere need not be), silently collapsing recall.
    # Per-vector normalization is argmax-invariant (positive row scale)
    # and is skipped for the same consistency.
    C = np.asarray(centroids, dtype=np.float64)          # (nlist, dim)

    @pandas_udf(IntegerType())
    def _udf(vecs: pd.Series) -> pd.Series:
        M = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        return pd.Series((M @ C.T).argmax(axis=1).astype(np.int32))

    return _udf


def auto_bits(n: int, target_bucket_size: int,
              floor_bits: int = 4, cap: int = 24) -> int:
    """LSH bits that hold expected bucket occupancy at
    ``target_bucket_size`` for an ``n``-row corpus:
    ``clamp(ceil(log2(n / target)), floor_bits, cap)``. Per-bucket pair
    work is quadratic in occupancy (total ~ n^2 / 2^bits), so bits MUST
    move with corpus size — a 10x corpus gets ~3 more bits and
    per-bucket work stays flat instead of growing 100x. Deterministic
    given the count, so an oracle derives the identical bits from the
    same data."""
    import math

    return min(cap, max(floor_bits, math.ceil(
        math.log2(max(n / target_bucket_size, 1.0)))))


def assign_cells(df: DataFrame, centroids: list[list[float]],
                 vec_col: str = "embedding",
                 out_col: str = "ann_cell") -> DataFrame:
    """Nearest-centroid cell id as a COLUMN — the persistent form of the
    IVF index: an int co-written with the data (and, cell-clustered into
    files, the bounds the sidecar file skipper prunes on — see
    SleeperTable.build_ann_index). One vectorized matmul per Arrow
    batch; same raw-dot argmax as the query-side probe."""
    return df.withColumn(
        out_col,
        _assign_cells_udf(centroids)(F.col(vec_col).cast("array<double>")))


def kmeans_spherical(X: np.ndarray, nlist: int, seed: int = 42) -> np.ndarray:
    """Deterministic spherical k-means (Lloyd, fixed 10 iterations) on a
    driver-sized sample matrix. Pure numpy so the DuckDB oracle can
    recompute identical centroids from the identical sample."""
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    cents = Xn[rng.choice(len(Xn), size=min(nlist, len(Xn)), replace=False)]
    for _ in range(10):
        assign = (Xn @ cents.T).argmax(axis=1)
        for c in range(len(cents)):
            members = Xn[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return cents


def train_ivf_centroids(
    corpus: DataFrame,
    nlist: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_rows: int | None = None,
    method: str = "sample",
    iterations: int = 4,
    cache_quantized: bool = False,
) -> list[list[float]]:
    """Train the IVF coarse quantizer.

    ``method="sample"`` (default): spherical k-means on a BOUNDED
    deterministic sample — the ``train_rows`` lowest-id vectors
    (default ``nlist * 256``, the classic FAISS sizing guide). The plan
    is a TakeOrderedAndProject — driver transfer is capped at
    train_rows rows no matter how large the corpus is, never a
    full-corpus collect.

    ``method="distributed"``: Lloyd's over the WHOLE corpus via
    :func:`_kmeans_micro` (the scale path when the bounded sample
    under-represents tail clusters — e.g. a corpus whose cluster mass
    is skewed by ingest order). Vectors are unit-normalized FIRST, so
    the micro-integer L2 argmin is the same ordering as the spherical
    trainers' cosine argmax; the returned centroids are re-normalized
    floats, drop-in for ``ivf_topk(..., centroids=...)``. Driver state
    is nlist×dim longs per round, independent of corpus size.

    Measured on the sf0.01 embeddings table (500 vectors, dim=64,
    every vector as query, k=10, nlist=16, nprobe=2, vs brute-force
    ground truth): recall@10 = 0.372 sample-trained vs 0.371
    corpus-trained (4 iterations) —
    parity on this uniform synthetic corpus, as expected; the
    distributed path exists for skewed corpora where the id-prefix
    sample misses whole modes, at the price of ``iterations``
    full-corpus passes instead of one bounded collect."""
    if method == "distributed":
        # the norm scalar is lambda-bound (bind_once): captured inside
        # the division lambda it would re-run the O(dim) aggregate for
        # every element — O(dim^2) per row
        norm = F.sqrt(F.aggregate(
            F.transform(F.col(vec_col), lambda x: x * x),
            F.lit(0.0), lambda a, x: a + x))
        unit = bind_once(
            norm,
            lambda nrm: F.transform(
                F.col(vec_col),
                lambda x: x / F.greatest(nrm, F.lit(1e-12))))
        q = corpus.select(F.col(id_col),
                          quantize_micro(unit).alias("__v"))
        if cache_quantized:
            # one source scan for iterations+1 Lloyd passes (see
            # kmeans_distributed) — identical centroids
            q = q.localCheckpoint(eager=False)
        cents_micro, _ = _kmeans_micro(q, id_col, nlist, iterations)
        out = []
        for c in cents_micro:
            v = np.asarray(c, dtype=np.float64) / 1e6
            v = v / max(float(np.linalg.norm(v)), 1e-12)
            out.append([float(x) for x in v])
        return out
    if method != "sample":
        raise ValueError(f"unknown train method {method!r}")
    if train_rows is None:
        train_rows = nlist * 256
    rows = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.col(id_col))
        .limit(train_rows)
        .collect()
    )
    rows.sort(key=lambda r: r[0])
    X = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    cents = kmeans_spherical(X, nlist, seed)
    return [[float(x) for x in c] for c in cents]


def attribute_filtered_topk(
    corpus: DataFrame,
    queries: DataFrame,
    match_cols: list[str],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Filtered vector search — each query's candidates must EQUAL its
    attribute columns (the vector-DB "metadata filter + top-k": search
    only among lang='en' docs, only this tenant's vectors, ...). Exact
    cosine within the matching group.

    Shape: the crossJoin of :func:`brute_force_topk` becomes a
    broadcast EQUI-join on ``match_cols`` — the candidate set shrinks
    from the corpus to the query's attribute group before any scoring,
    and the WindowGroupLimit prune keeps the shuffle at <= k rows per
    (partition, query) as usual. PRE-filtering, so recall within the
    group is exact by construction (post-filtering an unfiltered ANN
    top-k under-fills selective filters — the classic failure this
    operator exists to avoid). At table scale, keying/partitioning the
    corpus on the attribute columns lets the scan prune to matching
    files before the join. NULL attributes never match (SQL equality),
    matching WHERE semantics."""
    if not match_cols:
        raise ValueError("match_cols must name at least one attribute "
                         "column (use brute_force_topk for unfiltered "
                         "search)")
    for frame, side in ((corpus, "corpus"), (queries, "queries")):
        missing = sorted(set(match_cols) - set(frame.columns))
        if missing:
            raise ValueError(f"{side} frame lacks match column(s) "
                             f"{missing}")
    q = _with_norm(queries.select(
        F.col(query_id_col), *match_cols,
        F.col(vec_col).cast("array<double>").alias("__qvec"),
    ), "__qvec", "__qnorm")
    c = _with_norm(corpus.select(
        F.col(id_col), *match_cols,
        F.col(vec_col).cast("array<double>").alias("__cvec"),
    ), "__cvec", "__cnorm")
    scored = (
        c.join(F.broadcast(q), on=match_cols)
        .withColumn("cosine", _paired_cosine())
    )
    scored = _exclude_self(scored, id_col, query_id_col)
    return _pruned_topk(scored, k, id_col, query_id_col)


def table_filtered_topk(
    table,
    queries: DataFrame,
    match_cols: list[str],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_cap: int = 10_000,
) -> DataFrame:
    """:func:`attribute_filtered_topk` THROUGH a SleeperTable whose
    row keys LEAD with the attribute columns — the scan prunes to the
    files that can hold matching attribute groups before any vector is
    read (r10 VERDICT Next #5: "keying the corpus on the attribute
    columns lets the scan prune to matching files", now wired).

    Plan: (1) the queries' DISTINCT attribute tuples are collected
    (bounded by ``query_cap`` — queries are the small side by this
    operator's contract, like a lookup_join probe; past the cap it
    raises loudly rather than building an unbounded region list);
    (2) one exact Region per tuple routes through the table's normal
    query path — partition pruning on the leading row keys plus
    point-lookup Bloom skipping, the same tiers ``explain_query``
    audits — so the corpus frame below reads ONLY matching files, not
    the table; (3) the pre-filter equi-join + WindowGroupLimit prune
    of :func:`attribute_filtered_topk` scores within groups exactly.

    ``match_cols`` must be a PREFIX of the table's row keys — that is
    what makes the pruning file-level (a suffix or value column would
    filter rows, not files). Exact recall within each group, same
    output shape as every top-k tier."""
    from sleeper_spark.query import Query
    from sleeper_spark.ranges import Region

    row_keys = [f.name for f in table.schema.row_key_fields]
    if list(match_cols) != row_keys[:len(match_cols)] or not match_cols:
        raise ValueError(
            f"match_cols {list(match_cols)} must be a non-empty prefix "
            f"of the table's row keys {row_keys} — that prefix is what "
            "lets the scan prune to matching files")
    tuples = (queries.select(*match_cols).na.drop().distinct()
              .limit(query_cap + 1).collect())
    if len(tuples) > query_cap:
        raise ValueError(
            f"queries carry more than {query_cap} distinct attribute "
            "tuples — not a filtered search; scan the table and use "
            "attribute_filtered_topk directly")
    if not tuples:
        empty = local_frame(table.spark, table.schema.to_struct_type())
        return attribute_filtered_topk(
            empty, queries.limit(0), list(match_cols), k=k,
            id_col=id_col, vec_col=vec_col, query_id_col=query_id_col)
    regions = [Region.exact(table.schema,
                            **{c: r[c] for c in match_cols})
               for r in tuples]
    corpus = table.query(Query(regions))
    return attribute_filtered_topk(
        corpus, queries, list(match_cols), k=k, id_col=id_col,
        vec_col=vec_col, query_id_col=query_id_col)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    train_rows: int | None = None,
    centroids: list[list[float]] | None = None,
    indexed: DataFrame | None = None,
    query_rows: list | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the second classic ANN
    scale path next to hyperplane LSH.

    ``indexed`` injects a prebuilt :func:`ivf_index_corpus` frame
    (build the cell assignment once per sweep, not once per config);
    ``query_rows`` injects already-collected ``(query_id, vec)`` rows
    so a config sweep collects the query set once instead of once per
    config.

    Train: k-means over a BOUNDED sample (``train_rows`` rows, never the
    full corpus — see :func:`train_ivf_centroids`) gives ``nlist``
    centroids — the coarse quantizer. Pre-trained ``centroids`` can be
    passed instead. Index: every corpus vector is assigned to its
    nearest centroid's cell (one vectorized matmul per Arrow batch).
    Search: each query probes its ``nprobe`` nearest cells and scores
    only those cells' vectors — an equi-join on cell id, cutting
    candidates ~nlist/nprobe-fold. Same join/prune shape as
    :func:`lsh_topk`: queries broadcast, scoring map-side, Partial
    WindowGroupLimit top-k before the exchange.

    At 100 TB the cell assignment is a pure map over the corpus (train on
    a driver-sized sample), the index is just an int column co-written
    with the data, and recall/candidate-count trades via nlist/nprobe
    exactly as in FAISS-style IVF-Flat.
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, nlist, id_col=id_col, vec_col=vec_col, seed=seed,
            train_rows=train_rows)
    cents = np.asarray(centroids, dtype=np.float64)

    c = indexed if indexed is not None else ivf_index_corpus(
        corpus, centroids, id_col, vec_col)

    # queries probe their nprobe nearest cells (driver-side: queries are
    # small by contract, same as the broadcast in brute_force_topk)
    qrows = (query_rows if query_rows is not None
             else queries.select(query_id_col, vec_col).collect())
    probe_rows = [
        (r[0], cell, [float(x) for x in r[1]])
        for r in qrows
        for cell in _probe_cells(np.asarray(r[1], dtype=np.float64),
                                 cents, nprobe)
    ]
    qid_t = queries.schema[query_id_col].dataType
    # a local frame: the probe rows are bounded by contract
    q = _with_norm(local_rows_df(
        corpus.sparkSession, probe_rows, T.StructType([
            T.StructField(query_id_col, qid_t),
            T.StructField("__cell", T.IntegerType()),
            T.StructField("__qvec", T.ArrayType(T.DoubleType())),
        ])), "__qvec", "__qnorm")

    scored = (
        c.join(F.broadcast(q), "__cell")
        .withColumn("cosine", _paired_cosine())
    )
    scored = _exclude_self(scored, id_col, query_id_col)
    return _pruned_topk(scored, k, id_col, query_id_col)


def embedding_near_duplicates(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.95,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    target_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS: (id_a, id_b, cosine) for
    every pair with cosine >= threshold that shares an LSH bucket.

    The scale shape mirrors the MinHash/SimHash band joins: bucket
    assignment is a pure map (sign bits over seeded hyperplanes), the
    self-join is co-partitioned on the bucket via one repartition so both
    sides reuse a single exchange, and the pair space is bucket-local —
    never O(n²). High-cosine pairs land in the same bucket with
    probability (1 - theta/pi)^bits; raise recall with fewer bits or
    multi-probe, precision is exact (cosine recomputed on candidates).

    The per-bucket pair count is quadratic in bucket OCCUPANCY (n/2^bits)
    — the one knob that must move with corpus size. Pass
    ``target_bucket_size`` to derive ``bits`` from the corpus count
    (``bits = clamp(ceil(log2(n / target)), bits, 24)``): a 10× corpus
    then gets ~3 more bits and per-bucket work stays flat instead of
    growing 100×. Costs one count() job; deterministic given the data,
    so an oracle recomputes the same bits from the same count.
    """
    if target_bucket_size is not None:
        bits = auto_bits(corpus.count(), target_bucket_size,
                         floor_bits=bits)
    planes = _hyperplanes(dim, bits, seed)
    c = (
        corpus.select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("__vec"),
        )
        .withColumn("__bucket", lsh_bucket(F.col("__vec"), planes))
        # norm computed ONCE per vector, not once per candidate pair —
        # inside the bucket self-join each vector meets O(bucket) others,
        # so per-pair norm folds dominated the scoring cost (measured 86s
        # -> ~30s at 20k vectors). sqrt(sum(x^2)) here is the exact same
        # float expression the per-pair form evaluated, so rounded
        # cosines are bit-identical.
        .withColumn("__norm", l2_norm(F.col("__vec")))
    )
    c = c.repartition("__bucket")
    l, r = c.alias("l"), c.alias("r")
    denom = F.col("l.__norm") * F.col("r.__norm")
    cos = F.when(denom > 0, dot(F.col("l.__vec"), F.col("r.__vec")) / denom) \
        .otherwise(F.lit(0.0))
    return (
        l.join(r, "__bucket")
        .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .withColumn("cosine", F.round(cos, 6))
        .where(F.col("cosine") >= threshold)
        .select(F.col(f"l.{id_col}").alias("id_a"),
                F.col(f"r.{id_col}").alias("id_b"), "cosine")
        .distinct()
    )


def semantic_dedup(
    corpus: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster
    the embedding space, then within each cluster drop every item whose
    cosine to a LOWER-id cluster member clears ``threshold``. Returns
    the KEPT rows as ``(id_col, cell_col)`` — the deduplicated corpus
    manifest plus its cluster id (useful for stratified downstream
    sampling).

    Deterministic keep rule: an item is dropped iff it near-duplicates
    ANY lower-id member of its own cluster, so the minimum id of every
    duplicate neighborhood always survives — no dependence on join or
    partition order.

    Scale shape: identical to the LSH band joins — cluster assignment
    is one vectorized matmul per Arrow batch against bounded-sample
    k-means centroids (train_ivf_centroids), the self-join is
    cell-co-partitioned via ONE repartition reused by both sides, and
    the pair space is cell-local, never O(n²). The knob that must move
    with corpus size is the cluster COUNT: keep n/nlist (mean occupancy)
    flat — SemDeDup itself runs 50k clusters at LAION-440M scale — and
    per-cell work stays constant as the corpus grows. Norms are computed
    once per vector, not per pair; cosine is rounded to 6 digits before
    the threshold compare (same parity recipe as
    embedding_near_duplicates)."""
    assigned = assign_cells(
        corpus.select(id_col, vec_col), centroids, vec_col, cell_col)
    base = (
        assigned.select(
            F.col(id_col), F.col(cell_col),
            F.col(vec_col).cast("array<double>").alias("__vec"))
        .withColumn("__norm", l2_norm(F.col("__vec")))
        .repartition(cell_col)
    )
    l, r = base.alias("l"), base.alias("r")
    denom = F.col("l.__norm") * F.col("r.__norm")
    cos = F.when(denom > 0, dot(F.col("l.__vec"), F.col("r.__vec")) / denom) \
        .otherwise(F.lit(0.0))
    dropped = (
        l.join(r, cell_col)
        .where(F.col(f"l.{id_col}") > F.col(f"r.{id_col}"))
        .where(F.round(cos, 6) >= threshold)
        .select(F.col(f"l.{id_col}").alias(id_col))
        .distinct()
    )
    # kept manifest derives from the IDENTICAL repartitioned subtree as
    # both self-join sides (project only AFTER the join — an earlier
    # projection would canonicalise differently and defeat exchange
    # reuse): one scan + one assignment-UDF pass, reused three times
    return (base.join(dropped, id_col, "left_anti")
            .select(id_col, cell_col))


def query_probe_buckets(vec: Column, planes: list[list[float]],
                        nprobe: int = 1) -> Column:
    """Multi-probe bucket list for a query vector: its signature bucket
    plus the ``nprobe - 1`` single-bit flips with the smallest
    ``|dot(vec, plane)|`` margin — a near-zero margin means the vector
    sits almost ON that hyperplane, so the neighbouring bucket is the
    likeliest home of missed neighbours (the classic multi-probe LSH
    refinement: recall rises without lowering ``bits``, i.e. without
    growing every bucket). Pure expressions; ties in margin break
    toward the lower plane index so probe sets are deterministic and
    oracle-reproducible."""
    if nprobe <= 1:
        return F.array(lsh_bucket(vec, planes))
    # ONE per-plane dot array feeds both the signature bucket and the
    # flip margins (the unrolled form built 2·bits separate dot trees;
    # values, margin ties and probe order are identical — guide §7.3).
    # Both the dot array and the base bucket are lambda-bound
    # (bind_once): captured inside the flip lambda, the base bucket —
    # and through it the whole bits×dim dot fold — would re-evaluate
    # once per probe.
    weights = F.array(*[F.lit(1 << i).cast("long")
                        for i in range(len(planes))])

    def _probes(ds: Column) -> Column:
        flips = F.slice(
            F.array_sort(F.transform(ds, lambda d, i: F.struct(
                F.abs(d).alias("m"), i.alias("i")))),
            1, nprobe - 1)
        return bind_once(
            _bucket_from_dots(ds, len(planes)),
            lambda base: F.concat(
                F.array(base),
                F.transform(flips, lambda s: base.bitwiseXOR(
                    F.element_at(weights, s["i"] + 1)))))

    return bind_once(_plane_dots(vec, planes), _probes)


def lsh_index_corpus(
    corpus: DataFrame,
    dim: int,
    bits: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The LSH tier's corpus-side index table: ``(id_col, __cvec,
    __cnorm, __bucket)`` — exactly what :func:`lsh_topk` derives
    internally. Build (and optionally materialize) it ONCE, then pass
    it to ``lsh_topk(..., indexed=...)`` for every probe configuration:
    the bucket assignment is the corpus-scan-sized cost and is
    independent of ``nprobe``, so a config sweep that rebuilds it per
    config pays N corpus passes for one index. ``groupBy("__bucket")
    .count()`` on this frame IS :func:`lsh_bucket_histogram`."""
    planes = _hyperplanes(dim, bits, seed)
    return _with_norm(corpus.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__cvec"),
    ), "__cvec", "__cnorm").withColumn(
        "__bucket", lsh_bucket(F.col("__cvec"), planes))


def ivf_index_corpus(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The IVF tier's corpus-side index table: ``(id_col, __cvec,
    __cnorm, __cell)`` — the cell assignment :func:`ivf_topk` derives
    internally; same build-once contract as :func:`lsh_index_corpus`
    (the assignment depends only on the centroids, never ``nprobe``)."""
    assign_udf = _assign_cells_udf(centroids)
    return _with_norm(corpus.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__cvec"),
    ), "__cvec", "__cnorm").withColumn(
        "__cell", assign_udf(F.col("__cvec")))


def ann_index_corpus(
    corpus: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]] | None = None,
    dim: int = 64,
    bits: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EVERY ANN tier's corpus-side index in ONE projection over one
    scan: ``(id_col, __cvec, __cnorm, __bucket, __cell[, codes])`` —
    the union of :func:`lsh_index_corpus`, :func:`ivf_index_corpus`
    and (with ``codebooks``) :func:`pq_index_corpus`, column for
    column. A recall sweep that materializes per-family index tables
    pays one corpus scan per family for assignments that all key off
    the same vector; here the bucket, cell and code expressions ride
    one scan and one checkpoint. Each column's expression tree is the
    per-family builder's, so every assignment is bit-identical."""
    planes = _hyperplanes(dim, bits, seed)
    assign_udf = _assign_cells_udf(centroids)
    out = _with_norm(corpus.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__cvec"),
    ), "__cvec", "__cnorm").withColumn(
        "__bucket", lsh_bucket(F.col("__cvec"), planes)).withColumn(
        "__cell", assign_udf(F.col("__cvec")))
    if codebooks is not None:
        # __cvec is the same cast-to-double array _pq_codes_expr builds
        # internally from the raw vector; casting a double is identity,
        # so codes match pq_index_corpus bit for bit
        out = out.withColumn("codes", _pq_codes_expr(codebooks, "__cvec"))
    return out


def _explode_family_keys(c_indexed: DataFrame, id_col: str,
                         payload: list, fams: list) -> DataFrame:
    """Corpus index rows exploded over their (family, join-key) pairs:
    ``fams`` maps family label -> key Column (``__bucket``, ``__cell``,
    or a constant for scan-everything tiers). One map-side explode of
    the checkpointed index replaces one scan of it PER FAMILY — bytes
    read drop |fams|-fold while the join membership per family is
    untouched (each corpus row appears exactly once under each family
    key, null keys drop in the equi-join exactly as they did in the
    per-family joins)."""
    pairs = F.array(*[
        F.struct(F.lit(fam).alias("f"), key.cast("long").alias("j"))
        for fam, key in fams])
    return (c_indexed.select(F.col(id_col), *payload,
                             F.explode(pairs).alias("__jk"))
            .select(F.col(id_col), *payload,
                    F.col("__jk.f").alias("__fam"),
                    F.col("__jk.j").alias("__jkey")))


def multi_family_topk(
    c_indexed: DataFrame,
    probe_df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine top-k for EVERY config of EVERY exact-scoring family in
    one probe join. ``probe_df`` carries ``(__cfg, query_id, __fam,
    __jkey, embedding)`` rows — configs AND families are data, so a
    sweep over LSH probes, IVF probes and brute-force ground truth
    plans ONE join + ONE window instead of a plan branch per family
    (the branch count was the dominant Catalyst-analysis cost of the
    recall-sweep entries). Join families: ``lsh`` = the corpus row's
    LSH bucket, ``ivf`` = its IVF cell, ``all`` = a constant (every
    corpus row — brute force as an equi-join). Scoring, self-exclusion
    and the per-(cfg, query) rank rule are the exact expressions of
    the per-family plans, so each config's slice of the output is
    bit-identical to its standalone tier."""
    c = _explode_family_keys(
        c_indexed, id_col, [F.col("__cvec"), F.col("__cnorm")],
        [("lsh", F.col("__bucket")), ("ivf", F.col("__cell")),
         ("all", F.lit(0))])
    q = _with_norm(
        probe_df.select("__cfg", query_id_col, "__fam", "__jkey",
                        F.col(vec_col).cast("array<double>")
                        .alias("__qvec")),
        "__qvec", "__qnorm")
    scored = (c.join(F.broadcast(q), ["__fam", "__jkey"])
              .withColumn("cosine", _paired_cosine()))
    scored = _exclude_self(scored, id_col, query_id_col)
    w = Window.partitionBy("__cfg", query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("__cfg", query_id_col, id_col, "rank"))


def multi_family_adc_topk(
    c_indexed: DataFrame,
    probe_df: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k for the PQ families in the same configs-as-data shape
    as :func:`multi_family_topk`: ``ivfpq`` probe rows join the probed
    cells' codes, ``all`` probe rows join every code row (PQ-ADC full
    scan as an equi-join on a constant). One LUT expression serves
    every probe row; the fold and the ascending-distance rank rule are
    :func:`_adc_rank_topk`'s expressions per (cfg, query)."""
    c = _explode_family_keys(
        c_indexed, id_col, [F.col("codes")],
        [("ivfpq", F.col("__cell")), ("all", F.lit(0))])
    q = probe_df.select("__cfg", query_id_col, "__fam", "__jkey",
                        _query_lut_expr(codebooks, vec_col).alias("__lut"))
    scored = c.join(F.broadcast(q), ["__fam", "__jkey"])
    scored = _exclude_self(scored, id_col, query_id_col)
    scored = scored.withColumn("adc", _adc_score())
    w = Window.partitionBy("__cfg", query_id_col).orderBy(
        F.col("adc").asc(), F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("__cfg", query_id_col, id_col, "rank"))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    nprobe: int = 1,
    indexed: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: score only candidates sharing the query's LSH
    bucket. ~2^bits-fold candidate reduction at the cost of recall.

    ``nprobe > 1`` probes that many buckets per query (the signature
    bucket plus the smallest-margin single-bit flips, see
    :func:`query_probe_buckets`) — the query side explodes to nprobe
    rows, the corpus side and the bucket equi-join shape are unchanged,
    and a corpus vector still lives in exactly one bucket so candidates
    never duplicate."""
    planes = _hyperplanes(dim, bits, seed)
    c = indexed if indexed is not None else lsh_index_corpus(
        corpus, dim, bits, seed, id_col, vec_col)
    q = _with_norm(queries.select(
        F.col(query_id_col),
        F.col(vec_col).cast("array<double>").alias("__qvec"),
    ), "__qvec", "__qnorm").withColumn(
        "__bucket", F.explode(
            query_probe_buckets(F.col("__qvec"), planes, nprobe)))
    scored = (
        c.join(F.broadcast(q), "__bucket")
        .withColumn("cosine", _paired_cosine())
    )
    scored = _exclude_self(scored, id_col, query_id_col)
    return _pruned_topk(scored, k, id_col, query_id_col)


def recall_at_k(
    exact: DataFrame,
    approx: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    tier_col: str | None = None,
) -> DataFrame:
    """Recall@k of an approximate ANN tier against exact ground truth —
    the metric a real embedding pipeline gates index deploys on.

    Both inputs are (query_id, vec_id, ..., rank) top-k tables (the
    output shape of every tier here). Recall is computed only for
    queries PRESENT in ``approx`` (tiers may serve different query
    sets), as hits@k / exact@k. Both sides are Q×k-row tables, so every
    join is broadcast-sized regardless of corpus scale.

    With ``tier_col``, ``approx`` holds MULTIPLE tiers' top-k tables
    stacked under a tier label, and recall comes back per (tier, query)
    from ONE join+aggregate pass — evaluating T tiers separately would
    cost T× the stage-scheduling overhead for identical results (the
    exact table is replicated per tier by the inner join on the tier's
    own distinct query set, preserving the per-tier query-set
    semantics).

    Output: ``[tier,] query_id, n_exact, n_hits, recall``.
    """
    keys = ([tier_col] if tier_col else []) + [query_id_col]
    e = exact.where(F.col("rank") <= k).select(query_id_col, id_col)
    a = approx.where(F.col("rank") <= k).select(*keys, id_col)
    # each tier's exact set = ground truth for the queries IT served
    e = a.select(*keys).distinct().join(e, query_id_col)
    per = (
        e.join(a.withColumn("__hit", F.lit(1)), [*keys, id_col], "left")
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_exact"),
             F.count("__hit").alias("n_hits"))
    )
    return per.select(
        *keys,
        F.col("n_exact").cast("int").alias("n_exact"),
        F.col("n_hits").cast("int").alias("n_hits"),
        F.round(F.col("n_hits") / F.col("n_exact"), 4).alias("recall"))


def lsh_bucket_histogram(
    corpus: DataFrame,
    dim: int,
    bits: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """(__bucket, count) occupancy histogram of the LSH tier — at most
    2^bits rows however large the corpus. The histogram depends only on
    (corpus, dim, bits, seed), NOT on nprobe, so one histogram prices
    every probe configuration of the tier — compute it once per sweep,
    not once per config."""
    planes = _hyperplanes(dim, bits, seed)
    return (corpus
            .select(lsh_bucket(F.col(vec_col).cast("array<double>"),
                               planes).alias("__bucket"))
            .groupBy("__bucket").count())


def ivf_cell_histogram(
    corpus: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """(__cell, count) occupancy histogram of the IVF tier — nlist rows.
    Like :func:`lsh_bucket_histogram`, independent of nprobe: the cell
    assignment (the corpus-scan-sized cost) is shared by every probe
    configuration."""
    assign_udf = _assign_cells_udf(centroids)
    return (corpus
            .select(assign_udf(F.col(vec_col).cast("array<double>"))
                    .alias("__cell"))
            .groupBy("__cell").count())


def lsh_candidate_count(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    bits: int = 8,
    nprobe: int = 1,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    histogram: DataFrame | None = None,
) -> DataFrame:
    """Per-query candidate count of the LSH tier (the rows its bucket
    join would score, self excluded) WITHOUT running the join: corpus
    bucket histogram ⨝ query probe set — the aggregate is
    2^bits-rows-small however large the corpus, so costing a config is
    one scan + a broadcast join of a histogram. Pass ``histogram``
    (:func:`lsh_bucket_histogram`, possibly materialized) to price many
    nprobe configs off one corpus scan. Output: (query_id,
    n_candidates)."""
    planes = _hyperplanes(dim, bits, seed)
    counts = histogram if histogram is not None else \
        lsh_bucket_histogram(corpus, dim, bits, seed, vec_col)
    probes = queries.select(
        F.col(query_id_col),
        F.explode(query_probe_buckets(
            F.col(vec_col).cast("array<double>"), planes,
            nprobe)).alias("__bucket"))
    return (probes.join(F.broadcast(counts), "__bucket", "left")
            .groupBy(query_id_col)
            # -1: the query vector itself sits in its base bucket (the
            # tier's join excludes self); flipped buckets never hold it
            .agg((F.coalesce(F.sum("count"), F.lit(0)) - 1)
                 .cast("long").alias("n_candidates")))


def ivf_candidate_count(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    histogram: DataFrame | None = None,
    query_rows: list | None = None,
) -> DataFrame:
    """Per-query candidate count of the IVF tier (probed cells' sizes,
    self excluded) from the nlist-row cell histogram — same shape and
    scale contract as :func:`lsh_candidate_count`. Pass ``histogram``
    (:func:`ivf_cell_histogram`) to price many nprobe configs off one
    corpus scan, and ``query_rows`` (already-collected ``(query_id,
    vec)`` rows) to price many configs off one query collect."""
    cents = np.asarray(centroids, dtype=np.float64)
    counts = histogram if histogram is not None else \
        ivf_cell_histogram(corpus, centroids, vec_col)
    qrows = (query_rows if query_rows is not None
             else queries.select(query_id_col, vec_col).collect())
    probe_rows = [
        (r[0], cell)
        for r in qrows
        for cell in _probe_cells(np.asarray(r[1], dtype=np.float64),
                                 cents, nprobe)]
    qid_t = queries.schema[query_id_col].dataType
    probes = local_rows_df(
        corpus.sparkSession, probe_rows, T.StructType([
            T.StructField(query_id_col, qid_t),
            T.StructField("__cell", T.IntegerType())]))
    return (probes.join(F.broadcast(counts), "__cell", "left")
            .groupBy(query_id_col)
            # -1: the query's own cell is always its top probe
            .agg((F.coalesce(F.sum("count"), F.lit(0)) - 1)
                 .cast("long").alias("n_candidates")))


def select_ann_tier(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    recall_target: float = 0.7,
    lsh_bits: int = 8,
    lsh_probes: tuple = (1, 3),
    ivf_nlist: int = 16,
    ivf_probes: tuple = (1, 2, 4),
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    train_rows: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    topk_provider=None,
    exact: DataFrame | None = None,
    candidate_totals: dict | None = None,
    n_corpus: int | None = None,
    n_queries: int | None = None,
) -> DataFrame:
    """Recall-gated index selection — the decision a real embedding
    pipeline automates before deploying an ANN index: evaluate each
    candidate (tier, nprobe) config's recall@k against brute-force
    ground truth AND its candidate fraction (share of the corpus each
    query must score), then choose the CHEAPEST config meeting the
    recall target (ties break toward lower fraction, then tier name,
    then nprobe; if none meets it, the highest-recall config wins so
    the pipeline still deploys the best available).

    Scale contract: ground truth and per-config top-k tables are
    Q×k-row bounded; candidate fractions come from 2^bits-/nlist-row
    histograms (:func:`lsh_candidate_count` / :func:`ivf_candidate_count`)
    — nothing here grows with the corpus beyond the scans the tiers
    themselves need. ``topk_provider(tier, nprobe)`` lets a caller
    inject already-materialized tier outputs (e.g. a bench's memo)
    instead of recomputing them; ``candidate_totals[(tier, nprobe)]``
    and ``n_corpus`` likewise inject already-computed histogram totals
    and corpus size (both deterministic per corpus+params).

    Output: one row per config —
    ``(tier, nprobe, recall, candidate_fraction, chosen)``.
    """
    spark = corpus.sparkSession
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, ivf_nlist, id_col=id_col, vec_col=vec_col, seed=seed,
            train_rows=train_rows)

    def live_topk(tier: str, nprobe: int) -> DataFrame:
        if tier == "lsh":
            return lsh_topk(corpus, queries, dim=dim, k=k, bits=lsh_bits,
                            seed=seed, nprobe=nprobe, id_col=id_col,
                            vec_col=vec_col, query_id_col=query_id_col)
        return ivf_topk(corpus, queries, dim=dim, k=k, nlist=ivf_nlist,
                        nprobe=nprobe, seed=seed, centroids=centroids,
                        id_col=id_col, vec_col=vec_col,
                        query_id_col=query_id_col)

    provider = topk_provider or live_topk
    configs = ([("lsh", p) for p in lsh_probes]
               + [("ivf", p) for p in ivf_probes])

    if exact is None:
        exact = brute_force_topk(corpus, queries, k=k, id_col=id_col,
                                 vec_col=vec_col, query_id_col=query_id_col)
    # ONE recall pass over all configs (tier_col), same as the recall
    # gate; labels carry (tier, nprobe) through the stacked table
    stacked = None
    for tier, p in configs:
        t = provider(tier, p).select(
            F.lit(f"{tier}@{p}").alias("__cfg"), query_id_col, id_col,
            "rank")
        stacked = t if stacked is None else stacked.unionByName(t)
    per_q = recall_at_k(exact, stacked, k=k, query_id_col=query_id_col,
                        id_col=id_col, tier_col="__cfg")
    mean_recall = {
        r["__cfg"]: r["r"] for r in
        per_q.groupBy("__cfg")
        .agg(F.round(F.avg("recall"), 4).alias("r")).collect()}

    if n_corpus is None:
        n_corpus = corpus.count()
    if n_queries is None:
        n_queries = queries.count()
    rows = []
    for tier, p in configs:
        total = (candidate_totals or {}).get((tier, p))
        if total is None:
            if tier == "lsh":
                cand = lsh_candidate_count(
                    corpus, queries, dim=dim, bits=lsh_bits, nprobe=p,
                    seed=seed, id_col=id_col, vec_col=vec_col,
                    query_id_col=query_id_col)
            else:
                cand = ivf_candidate_count(
                    corpus, queries, centroids, nprobe=p, id_col=id_col,
                    vec_col=vec_col, query_id_col=query_id_col)
            total = cand.agg(F.sum("n_candidates")).collect()[0][0] or 0
        frac = round(total / (n_queries * (n_corpus - 1)), 6)
        rows.append((tier, p, mean_recall[f"{tier}@{p}"], frac))

    meeting = [r for r in rows if r[2] >= recall_target]
    if meeting:
        chosen = min(meeting, key=lambda r: (r[3], r[0], r[1]))
    else:
        chosen = min(rows, key=lambda r: (-r[2], r[3], r[0], r[1]))
    out = [(t, p, rec, frac, (t, p) == (chosen[0], chosen[1]))
           for t, p, rec, frac in rows]
    # a |configs|-row decision table
    return local_rows_df(spark, out, T.StructType([
        T.StructField("tier", T.StringType()),
        T.StructField("nprobe", T.IntegerType()),
        T.StructField("recall", T.DoubleType()),
        T.StructField("candidate_fraction", T.DoubleType()),
        T.StructField("chosen", T.BooleanType())]))


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits_range: int = 254,
) -> DataFrame:
    """Per-vector int8 scalar quantization — the embedding-compression
    step before an ANN index ships (4x smaller than float32; the
    row-wise-scaled flavor used by vector stores, where each vector
    carries its own (offset, scale) pair for asymmetric decoding).

    ``code = round((x - min(v)) / (max(v) - min(v)) * bits_range) - 127``
    per element, with a constant vector mapping to all-zero codes. Pure
    higher-order Column expressions over doubles (exact given identical
    float inputs, so an ANSI-SQL oracle reproduces codes bit-for-bit) —
    no shuffle, no corpus statistics pass: the 100 TB shape is the scan.

    Output: ``id_col, offset, scale, codes (array<int>)``.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    mn = F.array_min(v)
    mx = F.array_max(v)
    scale = (mx - mn) / bits_range
    codes = F.when(
        mx > mn,
        F.transform(v, lambda x: (
            F.round((x - mn) / (mx - mn) * bits_range)
            .cast("int") - 127)),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.select(
        F.col(id_col),
        F.round(mn, 6).alias("offset"),
        F.round(scale, 6).alias("scale"),
        codes.alias("codes"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-bound ANN tier
# ---------------------------------------------------------------------------
#
# IVF prunes WHICH vectors a query scores; PQ shrinks WHAT is scored —
# each vector compresses to m sub-codes (here m x 1 byte vs dim x 4-byte
# floats), and a query scores a vector with m table lookups instead of
# dim multiplies (ADC, asymmetric distance computation). At 100 TB of
# embeddings the codes fit in a fraction of the footprint, so the scan
# side of ANN becomes IO-cheap; compose with IVF for the full
# FAISS-style IVF-PQ layout.

def kmeans_l2(X: np.ndarray, k: int, seed: int = 42,
              iters: int = 10) -> np.ndarray:
    """Deterministic plain-L2 Lloyd on a driver-sized sample — pure
    numpy so an oracle recomputes identical codebooks from the identical
    sample (same contract as kmeans_spherical)."""
    rng = np.random.RandomState(seed)
    cents = X[rng.choice(len(X), size=min(k, len(X)), replace=False)].copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(len(cents)):
            members = X[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def train_pq_codebooks(
    corpus: DataFrame,
    dim: int,
    m: int = 4,
    ksub: int = 8,
    seed: int = 42,
    train_rows: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Train per-subspace PQ codebooks on a BOUNDED deterministic sample
    (the train_rows lowest-id vectors via TakeOrderedAndProject — never
    a full-corpus collect). Returns m x ksub x (dim//m) plain floats,
    broadcastable as literals into the encode/score expressions."""
    assert dim % m == 0, (dim, m)
    dsub = dim // m
    rows = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.col(id_col)).limit(train_rows).collect()
    )
    rows.sort(key=lambda r: r[0])
    X = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    return [
        [[float(x) for x in c]
         for c in kmeans_l2(X[:, s * dsub:(s + 1) * dsub], ksub, seed + s)]
        for s in range(m)
    ]


def _pq_codes_expr(codebooks: list[list[list[float]]],
                   vec_col: str) -> Column:
    """The m sub-codes of one vector (nearest centroid per subspace,
    ties to the lowest code) as ONE nested transform over the
    m×ksub×dsub codebook literal instead of m·ksub separate
    slice/zip_with/aggregate trees (guide §7.3: the m=4, ksub=8
    entries spent seconds of driver-side analysis per call on the
    unrolled form; same fix as _kmeans_micro / minhash_signature).

    Every intermediate the fold consumes more than once is
    lambda-bound (bind_once): the cast vector, each subspace slice,
    and each per-subspace distance array. A tree captured inside the
    inner lambdas would re-evaluate per element — the O(dim) cast
    alone ~2·m·ksub times per row. Values and fold order are
    identical to the unrolled form.

    array_position is 1-based and returns the FIRST occurrence of the
    min -> lowest code wins ties, same as the oracle's row_number()
    ORDER BY d2, code.

    Rendered as ONE SQL text parse (the `_array_lit` idiom applied to
    the whole expression): the Column-DSL build of this tree cost
    ~90ms of py4j round trips per plan, paid on every (re)build of
    every PQ consumer; the text parses JVM-side in one call. The
    lambda structure — including every bind_once let-binding — is
    written out verbatim, so values and fold order are unchanged."""
    dsub = len(codebooks[0][0])
    m = len(codebooks)
    books = _array_lit_sql([[list(c) for c in book] for book in codebooks],
                           "array<array<array<double>>>")
    d2s = (f"element_at(transform(array("
           f"slice(v, (s * {dsub}) + 1, {dsub})), sub -> "
           f"transform(element_at({books}, CAST(s + 1 AS INT)), c -> "
           f"aggregate(zip_with(sub, c, (a, b) -> (a - b) * (a - b)), "
           f"0.0D, (acc, x) -> acc + x))), 1)")
    return F.expr(
        f"element_at(transform(array("
        f"transform(`{vec_col.replace('`', '``')}`, "
        f"x -> CAST(x AS DOUBLE))), v -> "
        f"transform(sequence(0, {m - 1}), s -> "
        f"CAST(element_at(transform(array({d2s}), ds -> "
        f"array_position(ds, array_min(ds))), 1) - 1 AS INT))), 1)")


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign each vector its m sub-codes (nearest centroid per
    subspace, ties to the lowest code). Pure codegen'd expressions —
    no shuffle, no UDF: encoding 100 TB is one scan that writes the
    4x-to-32x-smaller code table."""
    return df.select(F.col(id_col),
                     _pq_codes_expr(codebooks, vec_col).alias("codes"))


def pq_index_corpus(
    corpus: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The PQ/IVF-PQ serving index in ONE corpus projection:
    ``(id_col, codes, __cell)``. :func:`ivf_pq_topk` previously built
    this by JOINING the code table against a separate cell-assignment
    projection on ``id_col`` — at corpus scale that join is a full
    double-shuffle of two corpus-sized sides for rows that came from
    the SAME scan. Here cell and codes are two expressions over one
    scan: no join, no shuffle, identical values. Also feeds
    :func:`pq_topk` via ``indexed=`` (the extra ``__cell`` column is
    dropped by the top-k select) so a recall sweep encodes the corpus
    once for both PQ tiers."""
    assign_udf = _assign_cells_udf(centroids)
    # pq_encode's codes expression plus the cell column, one select
    # over the same scan
    v_cell = assign_udf(F.col(vec_col).cast("array<double>"))
    return corpus.select(F.col(id_col),
                         _pq_codes_expr(codebooks, vec_col).alias("codes"),
                         v_cell.alias("__cell"))


def _query_lut_expr(codebooks, vec_col: str) -> Column:
    """Per-query (m x ksub) squared-distance lookup table as one nested
    array expression; entries round to 6 decimals on BOTH engines so the
    m-term ADC sum is order-insensitive at the emitted 4 decimals."""
    # same nested-literal collapse as pq_encode: identical doubles,
    # identical left-fold order, O(1) lambda nodes instead of m·ksub;
    # the cast vector and each subspace slice are lambda-bound
    # (bind_once) so neither re-evaluates per codebook entry. Rendered
    # as one SQL text parse for the same reason as _pq_codes_expr.
    dsub = len(codebooks[0][0])
    m = len(codebooks)
    books = _array_lit_sql([[list(c) for c in book] for book in codebooks],
                           "array<array<array<double>>>")
    return F.expr(
        f"element_at(transform(array("
        f"transform(`{vec_col.replace('`', '``')}`, "
        f"x -> CAST(x AS DOUBLE))), qv -> "
        f"transform(sequence(0, {m - 1}), s -> "
        f"element_at(transform(array("
        f"slice(qv, (s * {dsub}) + 1, {dsub})), sub -> "
        f"transform(element_at({books}, CAST(s + 1 AS INT)), c -> "
        f"round(aggregate(zip_with(sub, c, (a, b) -> (a - b) * (a - b)), "
        f"0.0D, (acc, x) -> acc + x), 6))), 1))), 1)")


def _adc_score() -> Column:
    """The ADC distance fold over (codes, __lut) — ONE expression
    shared by every ADC consumer (pq_topk, ivf_pq_topk,
    multi_family_adc_topk) so the scoring contract cannot drift."""
    return F.round(F.aggregate(
        F.zip_with(F.col("codes"), F.col("__lut"),
                   lambda c, l: F.element_at(l, c + 1)),
        F.lit(0.0), lambda acc, x: acc + x), 4)


def _adc_rank_topk(scored: DataFrame, k: int, id_col: str,
                   query_id_col: str) -> DataFrame:
    """ADC fold over (codes, __lut) + per-query ascending-distance
    top-k (Partial WindowGroupLimit shape; ties to the lower id) —
    shared by pq_topk and ivf_pq_topk so the scoring contract cannot
    drift between tiers."""
    scored = scored.withColumn("adc", _adc_score())
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("adc").asc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "adc",
                F.col("rank").cast("int").alias("rank"))
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    indexed: DataFrame | None = None,
) -> DataFrame:
    """ADC top-k: encode the corpus once, build each query's
    (m x ksub) distance lookup table map-side, then score a vector with
    m element_at lookups + a short fold — no per-pair vector math. The
    broadcast carries only queries' LUTs; the per-query top-k is the
    same Partial-WindowGroupLimit pre-pruned shape as brute_force_topk.

    LUT entries are rounded to 6 decimals on BOTH engines so the final
    m-term sum is order-insensitive at the emitted 4-decimal precision.
    """
    enc = indexed if indexed is not None \
        else pq_encode(corpus, codebooks, vec_col, id_col)
    q = queries.select(F.col(query_id_col),
                       _query_lut_expr(codebooks, vec_col).alias("__lut"))
    scored = _exclude_self(enc.crossJoin(F.broadcast(q)),
                           id_col, query_id_col)
    return _adc_rank_topk(scored, k, id_col, query_id_col)


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 2,
    m: int = 4,
    ksub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    train_rows: int = 2048,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    indexed: DataFrame | None = None,
    query_rows: list | None = None,
) -> DataFrame:
    """IVF-PQ: the FAISS-style at-scale serving composition — IVF prunes
    WHICH vectors a query touches (~nlist/nprobe-fold), PQ shrinks WHAT
    each touch costs (m table lookups on the code column instead of dim
    float multiplies on the raw vector).

    Index side is two pure maps over the corpus (cell id + m sub-codes,
    both broadcastable-literal driven, no shuffle); search side joins
    the probed (query, cell) pairs against the cell-partitioned code
    table and folds the per-query LUT. Candidates never materialise raw
    vectors — at 100 TB the search reads only the code table. Same
    Partial-WindowGroupLimit top-k shape as every other ANN tier.

    Ranks by ADC distance over RAW-vector codebooks (not residuals —
    one code table serves both PQ-only and IVF-PQ search; residual
    encoding would couple codes to cells).
    """
    if centroids is None and codebooks is None:
        # ONE bounded sample collect trains BOTH layers (the separate
        # trainers would each run their own TakeOrderedAndProject over
        # the corpus for the identical lowest-id sample)
        rows = (
            corpus.select(F.col(id_col), F.col(vec_col))
            .orderBy(F.col(id_col)).limit(train_rows).collect()
        )
        rows.sort(key=lambda r: r[0])
        X = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
        centroids = [[float(x) for x in c]
                     for c in kmeans_spherical(X, nlist, seed)]
        dsub = dim // m
        codebooks = [
            [[float(x) for x in c] for c in kmeans_l2(
                X[:, sub * dsub:(sub + 1) * dsub], ksub, seed + sub)]
            for sub in range(m)
        ]
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, nlist, id_col=id_col, vec_col=vec_col, seed=seed,
            train_rows=train_rows)
    if codebooks is None:
        codebooks = train_pq_codebooks(
            corpus, dim, m=m, ksub=ksub, seed=seed, train_rows=train_rows,
            id_col=id_col, vec_col=vec_col)
    cents = np.asarray(centroids, dtype=np.float64)

    # codes + cell as ONE projection over one scan (pq_index_corpus):
    # the previous code-table x cell-assignment join on id_col was a
    # full double shuffle of two corpus-sized sides at scale, for rows
    # that come from the same scan
    enc = indexed if indexed is not None else pq_index_corpus(
        corpus, centroids, codebooks, id_col, vec_col)

    # probes driver-side (queries are small by contract), LUT via the
    # same expression tree as pq_topk so the oracle reproduces it
    qrows = (query_rows if query_rows is not None
             else queries.select(query_id_col, vec_col).collect())
    probe_rows = [
        (r[0], cell)
        for r in qrows
        for cell in _probe_cells(np.asarray(r[1], dtype=np.float64),
                                 cents, nprobe)
    ]
    probes = local_rows_df(
        corpus.sparkSession, probe_rows, T.StructType([
            T.StructField(query_id_col, queries.schema[query_id_col].dataType),
            T.StructField("__cell", T.IntegerType()),
        ]))

    qlut = queries.select(F.col(query_id_col),
                          _query_lut_expr(codebooks, vec_col).alias("__lut"))

    scored = (
        # two broadcast HASH joins (probed cells, then the query's LUT)
        # — no nested-loop membership test over the code table
        enc.join(F.broadcast(probes), "__cell")
        .join(F.broadcast(qlut), query_id_col)
    )
    scored = _exclude_self(scored, id_col, query_id_col)
    return _adc_rank_topk(scored, k, id_col, query_id_col)


# ---------------------------------------------------------------------------
# Distributed k-means (Lloyd's) — whole-corpus training, integer-exact
# ---------------------------------------------------------------------------

def quantize_micro(vec_col: Column | str) -> Column:
    """Vector quantized to micro-unit longs: ``round(x * 1e6)`` per
    dimension. Integer sums are exact in ANY aggregation order, which is
    what makes whole-corpus distributed k-means deterministic and
    oracle-checkable (float partial sums would drift with partitioning)."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(c, lambda x: F.round(x.cast("double") * 1e6)
                       .cast("long"))


def kmeans_distributed(df: DataFrame, vec_col: str = "embedding",
                       id_col: str = "vec_id", k: int = 8,
                       iterations: int = 2,
                       cache_quantized: bool = False) -> DataFrame:
    """Lloyd's k-means over the WHOLE corpus as Spark aggregates —
    the scale path when a bounded-sample fit (train_ivf_centroids)
    isn't representative enough. Per iteration: one codegen'd
    assignment pass (k literal-centroid distances, argmin with
    lowest-cluster tiebreak) and one posexplode → (cluster, dim) SUM —
    integer-exact over micro-quantized vectors, so the result is a
    deterministic function of the data regardless of partitioning, and
    a SQL oracle reproduces it bit-for-bit. Driver state per round is
    k×dim longs (the centroids) — broadcast-sized at any corpus scale.

    Init = the k lowest-id vectors (deterministic, the same convention
    as the bounded-sample trainers). New centroid coordinate =
    ``trunc(sum / count)`` of one shared IEEE double — engine-agreed.
    Empty clusters keep their previous centroid. Returns
    ``(id_col, cluster)`` assignments after ``iterations`` rounds.

    ``cache_quantized=True`` localCheckpoints the quantized projection
    so Lloyd's ``iterations + 1`` passes scan the source ONCE instead
    of once per pass (guide §5) — centroids and assignments are
    identical (the quantized longs are a deterministic projection);
    caller-controlled because it pins the k-dim long vectors in
    executor storage for the training's duration, a memory-for-IO
    trade the caller must size at corpus scale."""
    q = df.select(F.col(id_col), quantize_micro(vec_col).alias("__v"))
    if cache_quantized:
        # lazy: the first assignment pass materialises it, every later
        # pass (and the final assignment) reads the checkpoint
        q = q.localCheckpoint(eager=False)
    cents, assign = _kmeans_micro(q, id_col, k, iterations)
    return assign(q).select(id_col, "cluster")


def _kmeans_micro(q: DataFrame, id_col: str, k: int, iterations: int):
    """The Lloyd's loop shared by :func:`kmeans_distributed` (returns
    assignments) and :func:`train_ivf_centroids` method='distributed'
    (returns the centroids themselves). ``q`` is ``(id_col, __v)`` with
    ``__v`` micro-quantized longs. Returns ``(cents, assign)`` where
    ``cents`` is the final k×dim micro-long centroid list and
    ``assign`` maps a frame with ``__v`` to one with ``cluster``."""
    cents = [list(r["__v"]) for r in
             q.orderBy(id_col).limit(k).collect()]  # k×dim driver longs

    def assign(frame: DataFrame) -> DataFrame:
        # ONE transform over a k×dim 2-D centroid literal instead of k
        # separate zip_with/aggregate expressions: the distance values
        # (and their order in __ds) are identical, but the plan carries
        # 2 lambda functions instead of 2k — measured 1.34s -> 0.20s of
        # driver-side analysis per assignment pass at k=8, dim=64
        # (guide §7.3: very large expression trees spend their time in
        # the Analyzer, and this plan is rebuilt every Lloyd iteration).
        lit2 = _array_lit([list(c) for c in cents], "array<array<long>>")
        dists = F.transform(lit2, lambda c: F.aggregate(
            F.zip_with(F.col("__v"), c, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"), lambda acc, d: acc + d))
        withd = frame.select(id_col, "__v", dists.alias("__ds"))
        # argmin with ties to the LOWEST cluster id: array_position
        # returns the FIRST index holding the min (1-based). O(k) plan
        # nodes — the pairwise when-chain this replaces was O(k²),
        # which capped usable k at ~dozens before plan size blew up.
        cluster = (F.array_position(F.col("__ds"), F.array_min("__ds"))
                   - 1).cast("int")
        return withd.withColumn("cluster", cluster)

    import math
    dim = len(cents[0])
    for _ in range(iterations):
        sums = (assign(q).select("cluster", F.posexplode("__v")
                                 .alias("dim", "x"))
                .groupBy("cluster", "dim")
                .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
                .collect())
        acc = {r.cluster: [0] * dim for r in sums}
        for r in sums:
            # the int64 SUM is exact in any order; long→double is
            # IEEE-defined on the same value in every engine, so
            # trunc(sum/n) is deterministic at any corpus scale
            acc[r.cluster][r.dim] = int(math.trunc(float(r.s) / r.n))
        for c, vec in acc.items():
            cents[c] = vec  # absent (empty) clusters keep their centroid

    return cents, assign


# ---------------------------------------------------------------------------
# contrastive-training negative sampling
# ---------------------------------------------------------------------------

def negative_sampling(
    corpus: DataFrame,
    per_bucket: int = 16,
    k: int = 3,
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Deterministic cross-label negative sampling for EVERY row of the
    corpus — the "in-batch negatives" a contrastive training pipeline
    draws, reproduced as a bounded bucket join instead of an N² pair
    enumeration.

    Each row is assigned a pseudo-random bucket via Knuth multiplicative
    hashing on its id (``(((id % 1000003) * 2654435761) >> 16) % B`` —
    pure integer arithmetic, so any SQL engine reproduces it
    bit-for-bit; the bounded product never overflows int64, and the
    16-bit right shift discards the product's low bits, which are NOT
    mixed: the multiplier is odd, so ``(id * C) % 2^k`` is a bijection
    of ``id % 2^k`` and a low-bits bucket would just re-derive the id's
    own residue — the classic multiplicative-hash trap; Knuth's scheme
    takes HIGH bits). Negatives for an anchor are
    the rows of the SAME bucket with a DIFFERENT label, and the k
    surviving negatives per anchor are chosen by partner-id order —
    fully deterministic, re-runnable, and auditable, which random
    sampling is not.

    Scale: the bucket count grows with the corpus (``B = max(16,
    n // per_bucket)``) so expected bucket occupancy stays ~per_bucket at
    ANY corpus size — candidate pairs are Θ(n · per_bucket), never
    Θ(n²), and the bucket equi-join shuffles on a key whose cardinality
    grows with n (no hot reducer). NULL labels never pair (SQL ``<>``),
    and rows in singleton buckets simply yield no negatives — the same
    contract a batch sampler has for a batch with one class.
    """
    n = corpus.count()
    n_buckets = max(16, n // per_bucket)
    bucket = F.shiftright(
        (F.col(id_col) % F.lit(1_000_003)) * F.lit(2654435761),
        16) % F.lit(n_buckets)
    d = corpus.select(F.col(id_col), F.col(label_col)) \
              .withColumn("__b", bucket)
    a = d.select(F.col(id_col).alias("anchor_id"),
                 F.col(label_col).alias("__albl"),
                 F.col("__b").alias("__ab"))
    neg = d.select(F.col(id_col).alias("negative_id"),
                   F.col(label_col).alias("__nlbl"),
                   F.col("__b").alias("__nb"))
    pairs = a.join(neg, (F.col("__ab") == F.col("__nb"))
                   & (F.col("__albl") != F.col("__nlbl")))
    w = Window.partitionBy("anchor_id").orderBy("negative_id")
    return (pairs.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("anchor_id", "negative_id",
                    F.col("rank").cast("int").alias("rank")))


def hard_negative_mining(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    anchor_id_col: str = "query_id",
    anchor_cap: int = 1024,
) -> DataFrame:
    """Hardest cross-label negatives per anchor: candidates whose label
    DIFFERS from the anchor's, ranked by exact cosine descending — the
    negatives most similar to the anchor yet of a different class, the
    set contrastive losses learn the most from.

    Shape: the anchor frame is small and broadcast (bounded loudly at
    ``anchor_cap``, the same contract every broadcast operator in this
    package enforces); the corpus is scored map-side against every
    anchor under the label-inequality theta join, and the
    WindowGroupLimit prune keeps the shuffle at <= k rows per
    (partition, anchor) — candidates ∝ corpus × |anchors|, never
    corpus². Ranks are computed on cosines rounded to 6 decimals with
    id tiebreak (cross-engine stable, like every ANN operator here).
    NULL labels never pair (SQL ``!=``)."""
    n_anchor = anchors.limit(anchor_cap + 1).count()
    if n_anchor > anchor_cap:
        raise ValueError(
            f"hard_negative_mining anchor set exceeds anchor_cap="
            f"{anchor_cap}; mine in anchor batches or raise the cap "
            f"knowingly — an unbounded anchor broadcast is an OOM, "
            f"not a plan")
    q = _with_norm(anchors.select(
        F.col(anchor_id_col),
        F.col(label_col).alias("__albl"),
        F.col(vec_col).cast("array<double>").alias("__qvec"),
    ), "__qvec", "__qnorm")
    c = _with_norm(corpus.select(
        F.col(id_col),
        F.col(label_col).alias("__clbl"),
        F.col(vec_col).cast("array<double>").alias("__cvec"),
    ), "__cvec", "__cnorm")
    scored = (
        c.join(F.broadcast(q), F.col("__clbl") != F.col("__albl"))
        .withColumn("cosine", _paired_cosine())
    )
    return _pruned_topk(scored, k, id_col, anchor_id_col)
