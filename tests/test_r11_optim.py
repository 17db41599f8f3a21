"""Focused pins for round-11 optimization internals: each test proves an
optimized shape produces the exact rows of the shape it replaced (the
bench-visible contract is oracle hash-match; these pin the library-level
equivalences directly so a refactor cannot silently drift them)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from sleeper_spark.functions import dedup, similarity


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def test_array_lit_bit_exact(spark):
    """_array_lit parses to the identical IEEE bits F.lit builds —
    including negative zero, denormal-adjacent, huge and long-edge
    values (xxhash64 equality = bit equality)."""
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


def test_banded_buckets_match_column_banding(spark, docs):
    """The array-slice banding fold produces the identical (id, band,
    bucket) rows as hashing the r extracted mh columns (the shape it
    replaced)."""
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


def test_connected_components_union_find(spark):
    """Min-label propagation over the partitioned-edge union-aggregate
    rounds equals a driver union-find transitive closure."""
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


def test_lsh_topk_indexed_equivalence(spark, emb):
    """lsh_topk(indexed=lsh_index_corpus(...)) returns the exact rows of
    the self-derived corpus side."""
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    base = similarity.lsh_topk(emb, q, dim=64, k=5, bits=8, nprobe=3)
    idx = similarity.lsh_index_corpus(emb, dim=64, bits=8)
    via = similarity.lsh_topk(emb, q, dim=64, k=5, bits=8, nprobe=3,
                              indexed=idx)
    assert sorted(map(tuple, base.collect())) == \
        sorted(map(tuple, via.collect()))


def test_probe_prefix_property(spark, emb):
    """query_probe_buckets at nprobe=1 is the 1-prefix of nprobe=3 —
    the contract the ANN sweep entries rely on to evaluate probes once."""
    planes = similarity._hyperplanes(64, 8, 42)
    rows = (emb.limit(8).select(
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


def test_pq_index_corpus_matches_join_shape(spark, emb):
    """pq_index_corpus's single projection equals the code-table x
    cell-assignment join it replaced, and both PQ tiers return the
    exact rows of their self-derived paths when fed the shared index."""
    cents = similarity.train_ivf_centroids(emb, 8, seed=42,
                                           train_rows=256)
    books = similarity.train_pq_codebooks(emb, dim=64, m=4, ksub=8,
                                          seed=42, train_rows=256)
    idx = similarity.pq_index_corpus(emb, cents, books)
    assign = similarity._assign_cells_udf(cents)
    joined = similarity.pq_encode(emb, books).join(
        emb.select(F.col("vec_id"),
                   assign(F.col("embedding").cast("array<double>"))
                   .alias("__cell")), "vec_id")
    assert sorted((r["vec_id"], tuple(r["codes"]), r["__cell"])
                  for r in idx.collect()) == \
        sorted((r["vec_id"], tuple(r["codes"]), r["__cell"])
               for r in joined.collect())

    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    base_pq = similarity.pq_topk(emb, q, books, k=5)
    via_pq = similarity.pq_topk(emb, q, books, k=5, indexed=idx)
    assert sorted(map(tuple, base_pq.collect())) == \
        sorted(map(tuple, via_pq.collect()))
    base_ivfpq = similarity.ivf_pq_topk(
        emb, q, dim=64, k=5, nlist=8, nprobe=2, m=4, ksub=8,
        centroids=cents, codebooks=books)
    via_ivfpq = similarity.ivf_pq_topk(
        emb, q, dim=64, k=5, nlist=8, nprobe=2, m=4, ksub=8,
        centroids=cents, codebooks=books, indexed=idx)
    assert sorted(map(tuple, base_ivfpq.collect())) == \
        sorted(map(tuple, via_ivfpq.collect()))


def test_multi_family_topk_matches_standalone_tiers(spark, emb):
    """Every config slice of the fused multi-family cosine join equals
    the standalone tier it replaced (brute force / lsh_topk at each
    nprobe / ivf_topk), row for row — the ann_recall /
    ann_index_selection restructure's bit-identity contract."""
    from pyspark.sql import types as T
    cents = similarity.train_ivf_centroids(emb, 8, seed=42,
                                           train_rows=256)
    c_all = similarity.ann_index_corpus(emb, cents, None, dim=64, bits=8)
    q = emb.where(F.col("vec_id") < 4).select(
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
        similarity.brute_force_topk(emb, q, k=5))
    for p in (1, 3):
        assert sorted(by_cfg[f"lsh@{p}"]) == rows_of(
            similarity.lsh_topk(emb, q, dim=64, k=5, bits=8, nprobe=p))
    for p in (1, 2):
        assert sorted(by_cfg[f"ivf@{p}"]) == rows_of(
            similarity.ivf_topk(emb, q, dim=64, k=5, nlist=8, nprobe=p,
                                centroids=cents))


def test_multi_family_adc_topk_matches_pq_tiers(spark, emb):
    """The fused ADC join's config slices equal pq_topk (the 'all'
    family) and ivf_pq_topk (the probed-cell family) row for row."""
    from pyspark.sql import types as T
    cents = similarity.train_ivf_centroids(emb, 8, seed=42,
                                           train_rows=256)
    books = similarity.train_pq_codebooks(emb, dim=64, m=4, ksub=8,
                                          seed=42, train_rows=256)
    c_all = similarity.ann_index_corpus(emb, cents, books, dim=64,
                                        bits=8)
    q = emb.where(F.col("vec_id") < 3).select(
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
        similarity.pq_topk(emb, q, books, k=5))
    assert sorted(by_cfg["ivf_pq"]) == rows_of(
        similarity.ivf_pq_topk(emb, q, dim=64, k=5, nlist=8, nprobe=2,
                               m=4, ksub=8, centroids=cents,
                               codebooks=books))


def test_ann_index_corpus_matches_family_indexes(spark, emb):
    """The combined index's bucket/cell/codes columns equal the
    per-family index builders' column for column."""
    cents = similarity.train_ivf_centroids(emb, 8, seed=42,
                                           train_rows=256)
    books = similarity.train_pq_codebooks(emb, dim=64, m=4, ksub=8,
                                          seed=42, train_rows=256)
    combined = {r["vec_id"]: (r["__bucket"], r["__cell"],
                              tuple(r["codes"]))
                for r in similarity.ann_index_corpus(
                    emb, cents, books, dim=64, bits=8).collect()}
    lsh = {r["vec_id"]: r["__bucket"]
           for r in similarity.lsh_index_corpus(emb, dim=64,
                                                bits=8).collect()}
    ivf = {r["vec_id"]: r["__cell"]
           for r in similarity.ivf_index_corpus(emb, cents).collect()}
    pq = {r["vec_id"]: tuple(r["codes"])
          for r in similarity.pq_index_corpus(emb, cents,
                                              books).collect()}
    assert set(combined) == set(lsh) == set(ivf) == set(pq)
    for vid, (b, c, codes) in combined.items():
        assert b == lsh[vid] and c == ivf[vid] and codes == pq[vid]
