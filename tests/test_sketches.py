"""O2: per-file mergeable quantile sketch sidecars.

Reference parity: Sketches.java:45-62 (sketch per row-key field per data
file) + FindPartitionSplitPoint.java:45-94 (split median from a UNION of
sidecars, no data read)."""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sleeper_spark import Field, Schema, SleeperTable
from sleeper_spark.properties import TableProperties
from sleeper_spark.ranges import Range, Region
from sleeper_spark.sketches import (
    all_sidecars_present,
    compute_file_sketch,
    find_split_point_from_sketches,
    load_sidecar,
    sidecar_path,
)


def long_schema():
    return Schema((Field("key", T.LongType()),), (),
                  (Field("value", T.LongType()),))


@pytest.fixture
def table(spark, tmp_path):
    t = SleeperTable.create(spark, str(tmp_path / "t"), long_schema())
    df = spark.range(10_000).select(
        F.col("id").alias("key"), (F.col("id") * 3).alias("value"))
    t.ingest(df)
    return t


class TestSidecarWriting:
    def test_ingest_writes_sidecars(self, table):
        refs = table.store.all_references()
        assert refs
        for r in refs:
            sk = load_sidecar(r.filename)
            assert sk is not None
            assert sk["rows"] == r.number_of_rows
            assert "key" in sk["fields"]
            vals = sk["fields"]["key"]["values"]
            assert vals == sorted(vals)

    def test_spark_compaction_writes_sidecars(self, spark, table):
        """The iterator tail (``compaction.run_jobs``) builds sidecars
        after its Spark write."""
        df = spark.range(10_000).select(
            F.col("id").alias("key"), (F.col("id") * 3).alias("value"))
        table.ingest(df)
        table.props.iterators = "addition(value, value, key)"
        out = table.compact()
        assert out
        for r in out:
            sk = load_sidecar(r.filename)
            assert sk is not None and sk["rows"] == r.number_of_rows

    def test_arrow_compaction_writes_sidecars(self, spark, table):
        df = spark.range(10_000).select(
            F.col("id").alias("key"), (F.col("id") * 3).alias("value"))
        table.ingest(df)
        out = table.compact()
        assert out
        for r in out:
            sk = load_sidecar(r.filename)
            assert sk is not None and sk["rows"] == r.number_of_rows
            # exact endpoints: rank-0 and rank-(n-1) samples are min/max
            ks = sk["fields"]["key"]
            assert ks["ranks"][0] == 0
            assert ks["ranks"][-1] == sk["rows"] - 1

    def test_sidecars_built_on_executors(self, spark, tmp_path,
                                         monkeypatch):
        """Above ``tasks.DRIVER_SIDE_BYTES`` of new files, sidecars are
        built by one executor task per file slice instead of driver threads:
        the rows equal the driver-side build's, every sidecar is the one
        compute_file_sketch builds, and verify_integrity is clean."""
        from sleeper_spark import tasks

        sc = spark.sparkContext
        rows, jobs = {}, {}
        df = spark.range(10_000).select(
            F.col("id").alias("key"), (F.col("id") * 3).alias("value"))
        for side, limit in (("driver", tasks.DRIVER_SIDE_BYTES),
                            ("executor", 0)):
            monkeypatch.setattr(tasks, "DRIVER_SIDE_BYTES", limit)
            t = SleeperTable.create(spark, str(tmp_path / side),
                                    long_schema(), split_points=[5_000])
            group = f"test-sketches-{side}"
            sc.setJobGroup(group, "job count")
            try:
                t.ingest(df)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs[side] = len(sc.statusTracker().getJobIdsForGroup(group))
            rows[side] = sorted(tuple(r) for r in t.full_scan().collect())
            for r in t.store.all_references():
                side_car = load_sidecar(r.filename)
                assert side_car.pop("minmax")
                assert side_car == compute_file_sketch(
                    r.filename, t.schema.key_names, t.props.sketch_size)
            assert t.verify_integrity()["ok"]
        assert jobs["executor"] == jobs["driver"] + 1  # the sidecar job
        assert rows["executor"] == rows["driver"]

    def test_sidecar_is_small(self, table):
        r = table.store.all_references()[0]
        assert os.path.getsize(sidecar_path(r.filename)) < 64 * 1024


class TestSplitFromSketches:
    def test_split_without_reading_data(self, spark, table):
        """The zero-data-read proof: spark=None would crash any scan."""
        table.props.partition_split_threshold = 100
        assert all_sidecars_present(
            [r.filename for r in table.store.all_references()])
        split = table.store  # keep ref
        out = __import__("sleeper_spark.maintenance", fromlist=["m"]) \
            .split_partitions_if_needed(None, table.store, table.props)
        assert out == ["root"]
        left, right = [p for p in table.store.tree.leaves()]
        # median of 0..9999 ~ 5000; equi-depth sketch is exact at k>=n/1024
        boundary = left.region.ranges[0].max or right.region.ranges[0].max
        assert abs(boundary - 5000) <= 10
        # queries still exact after metadata-only split
        assert table.full_scan().count() == 10_000

    def test_sketch_median_matches_exact_median_strings(self, spark, tmp_path):
        schema = Schema((Field("key", T.StringType()),), (),
                        (Field("v", T.LongType()),))
        t = SleeperTable.create(spark, str(tmp_path / "s"), schema)
        df = spark.range(5000).select(
            F.format_string("k-%05d", F.col("id")).alias("key"),
            F.col("id").alias("v"))
        t.ingest(df)
        files = [r.filename for r in t.store.all_references()]
        region = Region((Range("key", None, None),))
        found = find_split_point_from_sketches(schema, files, region)
        assert found is not None
        dim, point = found
        assert dim == 0
        assert point == "k-02500" or abs(int(point[2:]) - 2500) <= 5

    def test_degenerate_first_dim_rotates_to_second(self, spark, tmp_path):
        """Dimension rotation (FindPartitionSplitPoint.java:45-94): a
        constant FIRST row key has no usable median (min == max), so
        the splitter must fall through to the second dimension instead
        of giving up — and the resulting tree must be balanced."""
        from sleeper_spark import maintenance

        schema = Schema(
            (Field("a", T.StringType()), Field("b", T.LongType())), (),
            (Field("v", T.LongType()),))
        t = SleeperTable.create(spark, str(tmp_path / "rot"), schema)
        t.ingest(spark.range(4000).select(
            F.lit("const").alias("a"), F.col("id").alias("b"),
            F.col("id").alias("v")))
        t.props.partition_split_threshold = 1000

        # sketch path first (spark=None proves it stays metadata-only)
        out = maintenance.split_partitions_if_needed(
            None, t.store, t.props)
        assert out == ["root"]
        root = t.store.tree["root"]
        assert root.dimension == 1  # rotated past the degenerate dim 0
        left, right = t.store.tree.leaves()
        boundary = (left.region.range_for("b").max
                    or right.region.range_for("b").max)
        assert abs(boundary - 2000) <= 10  # balanced: median of 0..3999
        assert t.full_scan().count() == 4000  # queries exact post-split

        # bounded-scan fallback path must rotate identically
        files = [r.filename for r in t.store.all_references()]
        from sleeper_spark.sketches import find_split_point
        full = Region((Range("a", None, None), Range("b", None, None)))
        found = find_split_point(spark, schema, files, full)
        assert found is not None and found[0] == 1
        assert abs(found[1] - 2000) <= 10

    def test_union_across_files_weights_by_rows(self, spark, tmp_path):
        """A big and a small file: the merged median must reflect row
        counts, not file counts — the whole point of a mergeable sketch."""
        t = SleeperTable.create(spark, str(tmp_path / "u"), long_schema())
        t.ingest(spark.range(9000).select(
            F.col("id").alias("key"), F.col("id").alias("value")))
        t.ingest(spark.range(9000, 10000).select(
            F.col("id").alias("key"), F.col("id").alias("value")))
        files = [r.filename for r in t.store.all_references()]
        region = Region((Range("key", None, None),))
        found = find_split_point_from_sketches(t.schema, files, region)
        dim, point = found
        assert abs(point - 5000) <= 20  # NOT (9000+9500)/2

    def test_region_clipping_for_split_file_references(self, spark, tmp_path):
        """A file overlapping [0,10000) queried for region [0,2000) must
        split near 1000, not 5000 — rank clipping on the split dim."""
        t = SleeperTable.create(spark, str(tmp_path / "c"), long_schema())
        t.ingest(spark.range(10_000).select(
            F.col("id").alias("key"), F.col("id").alias("value")))
        files = [r.filename for r in t.store.all_references()]
        region = Region((Range("key", 0, 2000),))
        dim, point = find_split_point_from_sketches(t.schema, files, region)
        assert abs(point - 1000) <= 20

    def test_missing_sidecar_raises(self, table):
        files = [r.filename for r in table.store.all_references()]
        os.remove(sidecar_path(files[0]))
        assert not all_sidecars_present(files)
        with pytest.raises(FileNotFoundError):
            find_split_point_from_sketches(
                table.schema, files, Region((Range("key", None, None),)))

    def test_small_file_no_split(self, spark, tmp_path):
        t = SleeperTable.create(spark, str(tmp_path / "tiny"), long_schema())
        t.ingest(spark.range(1).select(
            F.col("id").alias("key"), F.col("id").alias("value")))
        files = [r.filename for r in t.store.all_references()]
        assert find_split_point_from_sketches(
            t.schema, files, Region((Range("key", None, None),))) is None


class TestSidecarLifecycle:
    def test_gc_removes_sidecars(self, spark, table):
        import time
        df = spark.range(100).select(
            F.col("id").alias("key"), F.col("id").alias("value"))
        table.ingest(df)
        old = [r.filename for r in table.store.all_references()]
        table.compact()
        deleted = table.collect_garbage(now=time.time() + 10_000)
        assert set(deleted) == set(old)
        for fn in deleted:
            assert not os.path.exists(fn)
            assert not os.path.exists(sidecar_path(fn))

    def test_sketch_accuracy_bound(self, tmp_path):
        """<= rows/k rank error per file: construct a skewed file and
        check the estimated rank error bound directly."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        vals = sorted([i * i % 7919 for i in range(20_000)])
        path = str(tmp_path / "f.parquet")
        pq.write_table(pa.table({"key": vals}), path)
        sk = compute_file_sketch(path, ["key"], 1024)
        from sleeper_spark.sketches import _FieldSketch
        fs = _FieldSketch(sk["fields"]["key"], sk["rows"])
        import bisect
        for probe in [0, 100, 1234, 4000, 7918]:
            true_rank = bisect.bisect_left(vals, probe)
            assert abs(fs.rank(probe) - true_rank) <= 20_000 / 1024 + 1


class TestLargeTreePartitionAssignment:
    """VERDICT r1 #5: partition tagging must survive 10^4-leaf trees —
    vectorized search above CASE_CHAIN_MAX_LEAVES, CASE chain below."""

    def test_1000_leaf_ingest_lifecycle(self, spark, tmp_path):
        splits = list(range(10, 10_000, 10))  # 1000 leaves
        t = SleeperTable.create(spark, str(tmp_path / "big"), long_schema(),
                                split_points=splits)
        assert len(t.store.tree.leaves()) == 1000
        df = spark.range(10_000).select(
            F.col("id").alias("key"), (F.col("id") * 3).alias("value"))
        refs = t.ingest(df)
        assert len(refs) == 1000
        # every file landed in the right leaf: its key range within bounds
        for r in refs[::97]:
            sk = load_sidecar(r.filename)
            leaf = t.store.tree[r.partition_id]
            rng = leaf.region.ranges[0]
            vals = sk["fields"]["key"]["values"]
            assert rng.min is None or vals[0] >= rng.min
            assert rng.max is None or vals[-1] < rng.max
        assert t.full_scan().count() == 10_000
        assert t.exact_key_query(key=7777).collect()[0].value == 23331

    def test_search_matches_case_chain(self, spark, tmp_path):
        """Both strategies assign identical leaves on the same tree."""
        from sleeper_spark.partitions import PartitionTree
        splits = list(range(50, 10_000, 50))  # 200 leaves -> search path
        tree = PartitionTree.initial(long_schema(), splits)
        df = spark.range(0, 10_000, 7).select(F.col("id").alias("key"),
                                              F.lit(0).alias("value"))
        via_search = {r.key: r.pid for r in
                      df.withColumn("pid", tree.leaf_id_column()).collect()}
        saved = PartitionTree.CASE_CHAIN_MAX_LEAVES
        try:
            PartitionTree.CASE_CHAIN_MAX_LEAVES = 10_000
            via_case = {r.key: r.pid for r in
                        df.withColumn("pid", tree.leaf_id_column()).collect()}
        finally:
            PartitionTree.CASE_CHAIN_MAX_LEAVES = saved
        assert via_search == via_case
        # and both agree with the driver-side descent
        for k in range(0, 10_000, 7 * 101):
            assert via_search[k] == tree.leaf_for_row({"key": k}).id

    def test_multidim_tree_descent(self, spark, tmp_path):
        from pyspark.sql import types as T2
        from sleeper_spark.partitions import PartitionTree
        schema = Schema(
            (Field("a", T2.LongType()), Field("b", T2.LongType())), (),
            (Field("v", T2.LongType()),))
        tree = PartitionTree.initial(schema, list(range(10, 2000, 10)))
        # split some leaves on dimension 1 -> mixed-dimension tree
        for leaf in list(tree.leaves())[:5]:
            tree.split(leaf.id, 1, 500)
        assert len(tree.leaves()) > PartitionTree.CASE_CHAIN_MAX_LEAVES
        df = spark.range(4000).select(
            (F.col("id") % 2000).alias("a"), (F.col("id") % 1000).alias("b"))
        got = {(r.a, r.b): r.pid for r in
               df.withColumn("pid", tree.leaf_id_column()).collect()}
        for (a, b), pid in list(got.items())[::131]:
            assert pid == tree.leaf_for_row({"a": a, "b": b}).id

    def test_string_key_search(self, spark, tmp_path):
        schema = Schema((Field("key", T.StringType()),), (),
                        (Field("v", T.LongType()),))
        from sleeper_spark.partitions import PartitionTree
        splits = ["k-%05d" % i for i in range(10, 3000, 10)]  # 300 leaves
        tree = PartitionTree.initial(schema, splits)
        df = spark.range(3000).select(
            F.format_string("k-%05d", F.col("id")).alias("key"))
        got = {r.key: r.pid for r in
               df.withColumn("pid", tree.leaf_id_column()).collect()}
        for i in range(0, 3000, 271):
            k = "k-%05d" % i
            assert got[k] == tree.leaf_for_row({"key": k}).id


class TestMultiDimSplit:
    def test_second_dimension_chosen_when_first_constant(self, tmp_path):
        """FindPartitionSplitPoint.java:45-94 tries dimensions in order
        and skips any whose values can't satisfy min < median <= max —
        a constant dim 0 must fall through to dim 1."""
        import pyarrow as pa

        from sleeper_spark import sketches as sk

        schema = Schema(
            (Field("a", T.LongType()), Field("b", T.LongType())), (),
            (Field("v", T.LongType()),))
        paths = []
        for i in range(2):
            n = 500
            cols = {
                "a": pa.array([7] * n, type=pa.int64()),       # constant
                "b": pa.array(range(i, 2 * n, 2), type=pa.int64()),
            }
            p = str(tmp_path / f"f{i}.parquet")
            import pyarrow.parquet as pq
            pq.write_table(pa.table({**cols, "v": cols["b"]}), p)
            sk.write_sidecar(p, sk.sketch_from_arrow_columns(
                cols, n, 128))
            paths.append(p)
        region = Region.of(Range("a", None, None), Range("b", None, None))
        got = find_split_point_from_sketches(schema, paths, region)
        assert got is not None
        dim, point = got
        assert dim == 1            # dim 0 constant -> split on dim 1
        assert 300 < point <= 700  # near the median of 0..999


class TestManyLeafScale:
    @pytest.mark.slow
    def test_10k_leaf_assignment_vectorized(self, spark, tmp_path):
        """10^4-leaf tree: partition assignment must use the O(log n)
        vectorized search (not a 10^4-branch CASE chain), and ingest into
        it must assign every row to the right leaf."""
        n_leaves = 10_000
        splits = [i * 10 for i in range(1, n_leaves)]
        schema = long_schema()
        t = SleeperTable.create(spark, str(tmp_path / "t"), schema,
                                TableProperties(), split_points=splits)
        tree = t.store.tree
        assert len(tree.leaves()) == n_leaves
        col = tree.leaf_id_column()
        # vectorized plan: a pandas UDF (ArrowEvalPython), not a CASE
        probe = spark.range(5).select(F.col("id").alias("key"))
        plan = probe.select(col.alias("p"))._jdf.queryExecution() \
            .executedPlan().toString()
        assert "ArrowEvalPython" in plan, plan
        assert "CASE WHEN" not in plan
        # correctness on a sample covering first/middle/last leaves
        df = spark.createDataFrame(
            [(0,), (5,), (49_995,), (99_999_0,), (55_555,)], "key long")
        got = {r.key: r.p for r in df.select(
            "key", col.alias("p")).collect()}
        for key, pid in got.items():
            region = tree[pid].region
            assert region.contains_point({"key": key}), (key, pid)
        # end-to-end: a real ingest lands rows in per-leaf sorted files
        data = spark.range(0, 100_000, 1, 8).select(
            F.col("id").alias("key"), (F.col("id") * 2).alias("value"))
        refs = t.ingest(data)
        assert sum(r.number_of_rows for r in refs) == 100_000
        # split planning stays metadata-only: every new file has a sidecar
        assert all_sidecars_present([r.filename for r in refs])


class TestRowGroupRankBaseline:
    def test_bounded_region_ranks_baselined_at_lo(self, tmp_path):
        """Candidate ranks from row-group stats must be relative to the
        region's lo bound, not the file start — otherwise equal-depth
        cut targets for a bounded (pull-down) job skew low."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from sleeper_spark.sketches import _ranked_candidates_from_row_groups

        p = str(tmp_path / "f.parquet")
        t = pa.table({"k": pa.array(range(400), type=pa.int64())})
        pq.write_table(t, p, row_group_size=100)
        # unbounded: cumulative ranks over the whole file
        assert _ranked_candidates_from_row_groups([p], "k", None, None) == \
            [(99, 100), (199, 200), (299, 300), (399, 400)]
        # bounded at lo=199: ranks relative to the region
        assert _ranked_candidates_from_row_groups([p], "k", 199, None) == \
            [(299, 100), (399, 200)]
        # bounded both sides
        assert _ranked_candidates_from_row_groups([p], "k", 99, 399) == \
            [(199, 100), (299, 200)]


class TestSortedColumnSketch:
    def test_exact_match_at_small_scale(self):
        """Stride 1 at small chunks -> identical to the buffered path."""
        import pyarrow as pa
        from sleeper_spark import sketches as sk

        vals = sorted(f"{v:05d}" for v in range(3000))
        s = sk.SortedColumnSketch(64, "f.parquet", "k")
        for i in range(0, 3000, 200):  # chunk < 4k -> stride 1, exact
            s.update(pa.array(vals[i:i + 200]))
        exact = sk.sketch_from_arrow_columns(
            {"k": pa.array(vals)}, 3000, 64)["fields"]["k"]
        got = s.field_dict()
        assert got == exact

    def test_rank_error_within_budget_at_large_stride(self):
        """Big chunks sample at stride chunk/(4k); every stored value
        must sit within that stride of its claimed rank."""
        import pyarrow as pa
        from sleeper_spark import sketches as sk

        n, k, chunk = 200_000, 32, 50_000
        s = sk.SortedColumnSketch(k, "f.parquet", "k")
        for i in range(0, n, chunk):
            s.update(pa.array(range(i, min(n, i + chunk)), type=pa.int64()))
        fd = s.field_dict()
        assert s.n == n
        stride = chunk // (4 * k)
        for rank, val in zip(fd["ranks"], fd["values"]):
            # identity data: value == its true rank
            assert 0 <= rank - val < stride + 1, (rank, val)
        # endpoints exact
        assert fd["values"][0] == 0
        assert fd["values"][-1] == n - 1

    def test_empty(self):
        from sleeper_spark import sketches as sk

        s = sk.SortedColumnSketch(64, "f.parquet", "k")
        assert s.field_dict() == {"ranks": [], "values": []}


class TestPinnedSidecars:
    """Every sidecar equals an exact reference computed here: per key
    field, the file's values at ``_spaced_ranks(rows, k)`` of that
    field's sorted column, plus ``rows`` and ``k``; every written first
    key probes present in the Bloom, and ``minmax`` is the footer's."""

    K = 1024
    SPLIT = {"long": 10**6, "string": "b", "row_sort": 10**6}

    @staticmethod
    def _schema(kind):
        if kind == "string":
            return Schema((Field("k", T.StringType()),), (),
                          (Field("v", T.LongType()),))
        sort = (Field("s", T.LongType()),) if kind == "row_sort" else ()
        return Schema((Field("k", T.LongType()),), sort,
                      (Field("v", T.LongType()),))

    @staticmethod
    def _frame(spark, kind, n):
        """The left leaf gets ``n`` rows and the right leaf ``n`` rows
        plus three extras at odd keys between them (the rows a
        ``delete_where`` removes): keys come permuted, so the ingest
        sort is real."""
        perm = (F.col("id") * 7919) % F.lit(n)
        if kind == "row_sort":  # repeated row keys
            perm = F.floor(perm / 3)
        left = spark.range(n).select(perm.alias("p"), F.col("id"))
        right = spark.range(n).select((perm * 2).alias("p"), F.col("id"))
        extras = spark.createDataFrame(
            [(2 * j + 1, n + i) for i, j in enumerate((0, n // 2, n - 1))],
            "p long, id long")

        def key(prefix):
            if kind == "string":
                return F.format_string(prefix + "-%08d", F.col("p"))
            return F.col("p") + (10**6 if prefix == "b" else 0)

        frames = [left.select(key("a").alias("k"), "id"),
                  right.unionByName(extras).select(key("b").alias("k"),
                                                   "id")]
        df = frames[0].unionByName(frames[1])
        cols = [F.col("k")]
        if kind == "row_sort":
            cols.append(((F.col("id") * 31) % 97).alias("s"))
        return df.select(*cols, F.col("id").alias("v"))

    def _assert_pinned(self, path, key_names, rows):
        import pyarrow.parquet as pq

        from sleeper_spark import bloom as bl
        from sleeper_spark.sketches import _spaced_ranks, footer_minmax

        t = pq.read_table(path, columns=list(key_names))
        assert t.num_rows == rows
        ranks = _spaced_ranks(rows, self.K)
        fields = {}
        for name in key_names:
            values = sorted(t.column(name).to_pylist())
            fields[name] = {"ranks": ranks,
                            "values": [values[r] for r in ranks]}
        want = {"rows": rows, "k": self.K, "fields": fields}
        side = load_sidecar(path)
        assert {f: side[f] for f in ("rows", "k", "fields")} == want, path
        b = side["bloom"]
        bits = bl.decode_bits(b)
        h = bl._hash_array(t.column(key_names[0]))
        assert bits[bl._positions(h, b["k"], b["m"])].all(), path
        assert side["minmax"] == footer_minmax(path)

    @pytest.mark.parametrize("n", [1, 8191, 8192, 40_000])
    @pytest.mark.parametrize("kind", ["long", "string", "row_sort"])
    def test_ingest_and_delete_kept_outputs(self, spark, tmp_path, kind, n):
        schema = self._schema(kind)
        keys = list(schema.key_names)
        t = SleeperTable.create(spark, str(tmp_path / "t"), schema,
                                split_points=[self.SPLIT[kind]])
        t.ingest(self._frame(spark, kind, n))
        refs = sorted(t.store.all_references(),
                      key=lambda r: r.number_of_rows)
        assert [r.number_of_rows for r in refs] == [n, n + 3]
        for r in refs:  # the sidecars ingest wrote
            self._assert_pinned(r.filename, keys, r.number_of_rows)
        extras = sorted({2 * j + 1 for j in (0, n // 2, n - 1)})
        if kind == "string":
            points = [f"b-{j:08d}" for j in extras]
        else:
            points = [10**6 + j for j in extras]
        out = t.delete_where(regions=[
            Region.of(Range("k", p, p, max_inclusive=True)) for p in points])
        assert out["rows_deleted"] == 3 and out["files_rewritten"] == 1
        kept = [r for r in t.store.all_references()
                if r.filename != refs[0].filename]
        assert [r.number_of_rows for r in kept] == [n]
        self._assert_pinned(kept[0].filename, keys, n)

    def _assert_all_pinned(self, refs, key_names, rows):
        assert sorted(r.number_of_rows for r in refs) == rows
        for r in refs:
            self._assert_pinned(r.filename, key_names, r.number_of_rows)

    @pytest.mark.parametrize("n", [1, 8191, 8192, 40_000])
    @pytest.mark.parametrize("kind", ["long", "string", "row_sort"])
    def test_spark_ingest_outputs(self, spark, tmp_path, monkeypatch, kind,
                                  n):
        """Ingest's Spark branch: each leaf's run streamed from the
        sorted frame (``sketches.write_sorted_runs``)."""
        from sleeper_spark import ingest

        monkeypatch.setattr(ingest, "DRIVER_INGEST_ROWS", 0)
        schema = self._schema(kind)
        t = SleeperTable.create(spark, str(tmp_path / "t"), schema,
                                split_points=[self.SPLIT[kind]])
        t.ingest(self._frame(spark, kind, n))
        self._assert_all_pinned(t.store.all_references(),
                                list(schema.key_names), [n, n + 3])

    @pytest.mark.parametrize("kind", ["long", "string", "row_sort"])
    def test_iterator_compaction_outputs(self, spark, tmp_path, kind):
        """The iterator compaction tail: one file per part."""
        from sleeper_spark.iterators import register_iterator

        register_iterator("keepAll", lambda args, schema: lambda df: df)
        schema = self._schema(kind)
        t = SleeperTable.create(spark, str(tmp_path / "t"), schema,
                                TableProperties(iterators="keepAll()"),
                                split_points=[self.SPLIT[kind]])
        df = self._frame(spark, kind, 8192)
        for odd in (0, 1):
            t.ingest(df.where(F.col("v") % 2 == odd))
        self._assert_all_pinned(t.compact(), list(schema.key_names),
                                [8192, 8195])

    @pytest.mark.parametrize("kind", ["long", "string", "row_sort"])
    def test_zorder_rewrite_outputs(self, spark, tmp_path, kind):
        """OPTIMIZE ZORDER: several files per leaf."""
        schema = self._schema(kind)
        t = SleeperTable.create(spark, str(tmp_path / "t"), schema,
                                split_points=[self.SPLIT[kind]])
        t.ingest(self._frame(spark, kind, 8192))
        refs = t.optimize_zorder(["v"], files_per_leaf=3, bits=8)
        assert len(refs) > 2
        for r in refs:
            self._assert_pinned(r.filename, list(schema.key_names),
                                r.number_of_rows)
        assert sum(r.number_of_rows for r in refs) == 2 * 8192 + 3

    @pytest.mark.parametrize("kind", ["long", "string", "row_sort"])
    def test_empty_file_read_back(self, spark, tmp_path, kind):
        """The read-back sidecar of a zero-row declared-schema file (the
        empty output of a compaction or z-order leaf)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from sleeper_spark.sketches import write_sidecars_distributed
        from sleeper_spark.sorted_scan import _declared_arrow_schema

        schema = self._schema(kind)
        path = str(tmp_path / "empty.parquet")
        pq.write_table(pa.Table.from_pylist(
            [], schema=pa.schema(_declared_arrow_schema(schema))), path)
        write_sidecars_distributed(spark, [path], list(schema.key_names),
                                   self.K)
        self._assert_pinned(path, list(schema.key_names), 0)

    def test_single_chunk_compaction_part_is_exact(self, spark, tmp_path):
        """A compaction part whose merged rows arrive as one chunk of at
        least 8,192 rows gets exact ranks: its sidecar is the one
        compute_file_sketch builds from the written file."""
        t = SleeperTable.create(spark, str(tmp_path / "t"), long_schema())
        # even and odd keys, both files ending at 9998: the merge cuts
        # one chunk at the smaller last key, which is every row
        for odd in (0, 1):
            t.ingest(spark.range(5000).select(
                F.least(F.col("id") * 2 + odd, F.lit(9998)).alias("key"),
                F.col("id").alias("value")))
        (out,) = t.compact()
        assert out.number_of_rows == 10_000
        side = load_sidecar(out.filename)
        assert side.pop("minmax")
        assert side == compute_file_sketch(
            out.filename, t.schema.key_names, t.props.sketch_size)


    @pytest.mark.parametrize("chunks", [[[3, 1]], [[1, 2, 5], [4, 6]]],
                             ids=["within_chunk", "across_chunks"])
    def test_decreasing_first_key_raises_and_leaves_nothing(self, tmp_path,
                                                            chunks):
        import pyarrow as pa

        from sleeper_spark.sketches import write_sorted_file

        path = str(tmp_path / "unsorted.parquet")
        declared = pa.schema([("key", pa.int64()), ("value", pa.int64())])
        tables = [pa.table({"key": c, "value": c}, schema=declared)
                  for c in chunks]
        with pytest.raises(ValueError, match="unsorted.parquet"):
            write_sorted_file(path, tables, key_names=["key"], sketch_k=self.K,
                              compression="zstd", page_bytes=131072,
                              declared_schema=declared)
        assert not os.path.exists(sidecar_path(path))
        assert not os.path.exists(path)

class TestSplitPointAdvisor:
    def test_exact_points_balance_a_table(self, spark, tmp_path):
        """Advisor quantiles pre-balance the very first ingest: 8-way
        points over a uniform long key give leaves within 2x of each
        other; string keys work through the same order statistics."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from sleeper_spark.maintenance import suggest_split_points
        from sleeper_spark.schema import Field, Schema
        from sleeper_spark.table import SleeperTable

        df = spark.range(0, 8000).select(
            (F.col("id") * 7919 % 8000).alias("k"),
            F.col("id").alias("v"))
        pts = suggest_split_points(df, "k", 8)
        assert len(pts) == 7 and pts == sorted(pts)
        schema = Schema((Field("k", T.LongType()),), (),
                        (Field("v", T.LongType()),))
        t = SleeperTable.create(spark, str(tmp_path / "t"), schema,
                                split_points=pts)
        t.ingest(df)
        counts = sorted(r.number_of_rows
                        for r in t.store.all_references())
        assert len(counts) == 8
        assert counts[-1] <= 2 * counts[0]
        # string keys: same machinery
        sdf = df.select(F.format_string("s-%05d", F.col("k"))
                        .alias("k"))
        spts = suggest_split_points(sdf, "k", 4)
        assert len(spts) == 3
        assert all(isinstance(p, str) for p in spts)

    def test_skewed_keys_dedupe_and_guards(self, spark):
        from sleeper_spark.maintenance import suggest_split_points
        # 90% one hot key: duplicate quantiles collapse
        df = spark.createDataFrame(
            [(7,)] * 90 + [(i,) for i in range(10)], "k long")
        pts = suggest_split_points(df, "k", 8)
        assert len(pts) == len(set(pts)) <= 7
        assert 7 in pts
        import pytest as _pt
        with _pt.raises(ValueError, match=">= 2"):
            suggest_split_points(df, "k", 1)
        with _pt.raises(ValueError, match="method"):
            suggest_split_points(df, "k", 4, method="wat")
