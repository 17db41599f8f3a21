"""Per-file Bloom filters: unit behaviour of the filter itself, and the
plan-time exact-key file skipping it powers (bloom.py, query.py).

Reference analog: the per-partition file list means point lookups open
every file of a leaf (QueryPlanner.java:160-237); the LSM-standard fix
is per-file blooms (RocksDB/Cassandra). Safety invariant under test: NO
false negatives — skipping never loses a row."""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sleeper_spark import bloom as bl
from sleeper_spark import sketches
from sleeper_spark.query import Query, bloom_points, file_may_contain_keys
from sleeper_spark.ranges import Range, Region
from sleeper_spark.schema import Field, Schema
from sleeper_spark.table import SleeperTable


def _build(values, n_rows=None):
    """One file's Bloom: one accumulator sized on the file's rows, fed
    every value at once."""
    acc = bl.BloomAccumulator("k", len(values) if n_rows is None else n_rows)
    acc.update(values)
    return acc.to_dict()


class TestBloomUnit:
    def test_no_false_negatives_strings(self):
        vals = [f"doc-{i:06d}" for i in range(5000)]
        d = _build(vals)
        bits = bl.decode_bits(d)
        assert all(bl.may_contain(bits, d, v) for v in vals)

    def test_no_false_negatives_ints_arrow(self):
        arr = pa.array(list(range(-2500, 2500)), type=pa.int64())
        d = _build(arr, len(arr))
        bits = bl.decode_bits(d)
        assert all(bl.may_contain(bits, d, v)
                   for v in range(-2500, 2500, 37))

    def test_false_positive_rate_sane(self):
        d = _build([f"in-{i}" for i in range(10000)])
        bits = bl.decode_bits(d)
        fp = sum(bl.may_contain(bits, d, f"out-{i}") for i in range(2000))
        # ~0.9% design point; 3% leaves generous slack without letting a
        # broken hash (all-ones bitmap) pass
        assert fp / 2000 < 0.03

    def test_scalar_hash_matches_vector_paths(self):
        # the build side hashes via numpy/arrow batches, the probe side
        # one scalar at a time — they must agree bit-for-bit
        ints = np.array([-5, 0, 7, 2**40], dtype=np.int64)
        from sleeper_spark.bloom import _hash_array
        assert list(_hash_array(ints)) == [bl.hash64_scalar(int(v))
                                           for v in ints]
        arrow = pa.array(["a", "bb", ""], type=pa.string())
        assert list(_hash_array(arrow)) == [bl.hash64_scalar(v)
                                            for v in ["a", "bb", ""]]

    def test_accumulator_chunks_equal_oneshot(self):
        vals = [f"v{i}" for i in range(1000)]
        acc = bl.BloomAccumulator("k", 1000)
        acc.update(vals[:400])
        acc.update(vals[400:])
        assert acc.to_dict() == _build(vals)

    def test_bitmap_cap_degrades_not_grows(self):
        m = bl._size_bits(10**12)
        assert m == bl.MAX_BITS

    def test_oversize_file_builds_no_bloom(self):
        # beyond MAX_USEFUL_ROWS the capped bitmap can't prune anything
        # (sub-6-bits/key FPR) — the build is skipped entirely and the
        # plan falls back to absence semantics (keep the file)
        acc = bl.BloomAccumulator("k", bl.MAX_USEFUL_ROWS + 1)
        assert acc.disabled
        acc.update([1, 2, 3])
        assert acc.to_dict() is None
        assert _build([1], bl.MAX_USEFUL_ROWS + 1) is None

    def test_unhashable_probe_keeps_file(self):
        d = _build([1, 2, 3])
        bits = bl.decode_bits(d)
        assert bl.may_contain(bits, d, None)  # unknown -> keep


def _schema():
    return Schema(
        row_key_fields=(Field("key", T.StringType()),),
        sort_key_fields=(),
        value_fields=(Field("value", T.LongType()),),
    )


def _rows(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.format_string("k-%06d", F.col("id")).alias("key"),
        F.col("id").alias("value"))


class TestBloomFileSkipping:
    def test_point_query_prunes_to_owning_file(self, spark, tmp_path):
        t = SleeperTable.create(spark, str(tmp_path / "t"), _schema())
        # three ingests -> three files in the same (root) partition,
        # disjoint key ranges: the LSM worst case for point lookups
        t.ingest(_rows(spark, 0, 1000))
        t.ingest(_rows(spark, 1000, 2000))
        t.ingest(_rows(spark, 2000, 3000))
        assert len(t.store.all_references()) == 3

        q = Query([Region.exact(t.schema, key="k-001500")])
        planned = t.executor().plan_files(q)
        assert len(planned) == 1  # bloom pruned the other two runs
        rows = t.query(q).collect()
        assert len(rows) == 1 and rows[0].value == 1500

    def test_absent_key_prunes_everything(self, spark, tmp_path):
        t = SleeperTable.create(spark, str(tmp_path / "t"), _schema())
        t.ingest(_rows(spark, 0, 1000))
        q = Query([Region.exact(t.schema, key="nope")])
        assert t.executor().plan_files(q) == []
        assert t.query(q).count() == 0

    def test_missing_sidecar_is_kept(self, spark, tmp_path):
        import os
        t = SleeperTable.create(spark, str(tmp_path / "t"), _schema())
        t.ingest(_rows(spark, 0, 1000))
        t.ingest(_rows(spark, 1000, 2000))
        victim = t.store.all_references()[0].filename
        os.remove(sketches.sidecar_path(victim))
        q = Query([Region.exact(t.schema, key="k-001500")])
        planned = t.executor().plan_files(q)
        # sidecar-less file survives (unknown), the other is judged
        assert victim in planned
        assert t.query(q).count() == 1

    def test_range_query_never_bloom_pruned(self, spark, tmp_path):
        t = SleeperTable.create(spark, str(tmp_path / "t"), _schema())
        t.ingest(_rows(spark, 0, 1000))
        t.ingest(_rows(spark, 1000, 2000))
        q = Query([Region.of(Range("key", "k-000500", "k-001500"))])
        assert bloom_points(q, "key") is None
        assert len(t.executor().plan_files(q)) == 2
        assert t.query(q).count() == 1000

    def test_multi_region_points_prune_or_union(self, spark, tmp_path):
        t = SleeperTable.create(spark, str(tmp_path / "t"), _schema())
        t.ingest(_rows(spark, 0, 1000))
        t.ingest(_rows(spark, 1000, 2000))
        t.ingest(_rows(spark, 2000, 3000))
        q = Query([Region.exact(t.schema, key="k-000010"),
                   Region.exact(t.schema, key="k-002010")])
        planned = t.executor().plan_files(q)
        assert len(planned) == 2  # middle file provably misses BOTH points
        assert sorted(r.key for r in t.query(q).collect()) == [
            "k-000010", "k-002010"]

    def test_batch_exact_key_query_uses_bloom(self, spark, tmp_path):
        t = SleeperTable.create(spark, str(tmp_path / "t"), _schema())
        t.ingest(_rows(spark, 0, 1000))
        t.ingest(_rows(spark, 1000, 2000))
        out = t.batch_exact_key_query(
            [{"key": "k-000001"}, {"key": "k-000999"}])
        assert sorted(r.value for r in out.collect()) == [1, 999]

    def test_sorted_rows_point_query_bloom_path(self, spark, tmp_path, monkeypatch):
        from sleeper_spark import query as query_mod
        t = SleeperTable.create(spark, str(tmp_path / "t"), _schema())
        t.ingest(_rows(spark, 0, 1000))
        t.ingest(_rows(spark, 1000, 2000))
        opened = []
        real_pf = __import__("pyarrow.parquet", fromlist=["ParquetFile"]).ParquetFile

        import pyarrow.parquet as pqm
        monkeypatch.setattr(pqm, "ParquetFile",
                            lambda fn, *a, **k: opened.append(fn) or real_pf(fn, *a, **k))
        q = Query([Region.exact(t.schema, key="k-001500")])
        rows = list(t.sorted_rows(query=q))
        assert len(rows) == 1 and rows[0]["value"] == 1500
        assert len(opened) == 1  # bloom pruned the other run's file
        opened.clear()
        assert list(t.sorted_rows(
            Query([Region.exact(t.schema, key="nope")]))) == []
        assert opened == []  # provably-absent key opens nothing

    def test_compacted_file_gets_bloom_and_prunes(self, spark, tmp_path):
        t = SleeperTable.create(spark, str(tmp_path / "t"), _schema())
        t.ingest(_rows(spark, 0, 500))
        t.ingest(_rows(spark, 500, 1000))
        t.compact(now_millis=0)
        live = [r.filename for r in t.store.all_references()]
        assert len(live) == 1
        side = sketches.load_sidecar(live[0])
        assert side and "bloom" in side and side["bloom"]["field"] == "key"
        # present key found, absent key pruned to an empty plan
        assert t.query(
            Query([Region.exact(t.schema, key="k-000750")])).count() == 1
        assert t.executor().plan_files(
            Query([Region.exact(t.schema, key="zz")])) == []
