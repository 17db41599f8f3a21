"""End-to-end table lifecycle: create -> ingest -> query -> compact -> GC.

Modeled on the reference's system tests (QueryST.java:58-84: ingest 100
numbered rows, range query [10,20) u [30,40), assert exact rows) and the
compaction-equivalence invariant query(t) == query(compact(t))."""

import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sleeper_spark.properties import TableProperties
from sleeper_spark.query import Query
from sleeper_spark.ranges import Range, Region
from sleeper_spark.schema import Field, Schema
from sleeper_spark.table import SleeperTable


def numbered_schema():
    # F1 kv_default (SystemTestSchema.java:37-43)
    return Schema(
        row_key_fields=(Field("key", T.StringType()),),
        sort_key_fields=(Field("timestamp", T.LongType()),),
        value_fields=(Field("value", T.StringType()),),
    )


def numbered_rows(spark, n=100):
    return spark.range(n).select(
        F.format_string("row-%019d", F.col("id")).alias("key"),
        F.col("id").alias("timestamp"),
        F.format_string("value-%d", F.col("id")).alias("value"),
    )


@pytest.fixture
def table(spark, tmp_path):
    t = SleeperTable.create(spark, str(tmp_path / "t"), numbered_schema(),
                            split_points=["row-%019d" % 50])
    t.ingest(numbered_rows(spark))
    return t


class TestQuery:
    def test_range_query_two_regions(self, table):
        # QueryST.java:58-74: [row-10,row-20) u [row-30,row-40)
        df = table.range_key_query([
            ("key", "row-%019d" % 10, "row-%019d" % 20),
            ("key", "row-%019d" % 30, "row-%019d" % 40),
        ])
        keys = sorted(r.key for r in df.collect())
        expect = sorted(["row-%019d" % i for i in list(range(10, 20)) + list(range(30, 40))])
        assert keys == expect

    def test_exact_key_query(self, table):
        rows = table.exact_key_query(key="row-%019d" % 17).collect()
        assert len(rows) == 1
        assert rows[0].value == "value-17"

    def test_exact_key_missing(self, table):
        assert table.exact_key_query(key="nope").count() == 0

    def test_projection(self, table):
        df = table.query(Query(
            [Region.of(Range("key", None, None))], requested_value_fields=[]))
        assert df.columns == ["key", "timestamp"]

    def test_full_scan(self, table):
        assert table.full_scan().count() == 100

    def test_query_straddles_split_point(self, table):
        df = table.range_key_query([("key", "row-%019d" % 45, "row-%019d" % 55)])
        assert df.count() == 10

    def test_sql_stage(self, table):
        out = table.sql(
            "SELECT count(*) AS n FROM query_results WHERE key >= 'row-0000000000000000050'")
        assert out.collect()[0].n == 50

    def test_sql_stage_rejects_dml(self, table):
        with pytest.raises(ValueError):
            table.sql("DROP TABLE query_results")

    def test_multiple_ingests_accumulate(self, spark, table):
        table.ingest(numbered_rows(spark))
        assert table.full_scan().count() == 200

    def test_empty_table_query(self, spark, tmp_path):
        t = SleeperTable.create(spark, str(tmp_path / "empty"), numbered_schema())
        assert t.full_scan().count() == 0


class TestCompaction:
    def test_compaction_preserves_query_results(self, spark, table):
        table.ingest(numbered_rows(spark))
        table.ingest(numbered_rows(spark))
        before = sorted((r.key, r.timestamp, r.value)
                        for r in table.full_scan().collect())
        out = table.compact()
        assert out  # jobs ran
        after = sorted((r.key, r.timestamp, r.value)
                       for r in table.full_scan().collect())
        assert before == after
        # each leaf now has exactly 1 unowned reference
        for leaf in table.store.tree.leaves():
            refs = table.store.references_for_partition(leaf.id)
            assert len(refs) == 1

    def test_compacted_files_are_sorted(self, spark, table):
        import pyarrow.parquet as pq
        table.ingest(numbered_rows(spark))
        refs = table.compact()
        for ref in refs:
            pdf = pq.read_table(ref.filename).to_pandas()
            keys = list(zip(pdf["key"], pdf["timestamp"]))
            assert keys == sorted(keys)

    def test_gc_after_compaction(self, spark, table):
        import os
        table.ingest(numbered_rows(spark))
        old_files = [r.filename for r in table.store.all_references()]
        table.compact()
        deleted = table.collect_garbage(now=time.time() + 10_000)
        assert set(deleted) == set(old_files)
        assert all(not os.path.exists(f) for f in deleted)

    def test_gc_respects_delay(self, spark, table):
        table.ingest(numbered_rows(spark))
        table.compact()
        assert table.collect_garbage() == []  # too recent


class TestAggregationTable:
    def agg_table(self, spark, tmp_path):
        # F3 agg_counts (docs/usage/data-processing.md:37-44)
        schema = Schema(
            row_key_fields=(Field("id", T.StringType()),),
            value_fields=(Field("count", T.LongType()),
                          Field("last_seen", T.LongType()),
                          Field("tags", T.MapType(T.StringType(), T.LongType()))),
        )
        props = TableProperties(
            aggregations="sum(count), max(last_seen), map_sum(tags)")
        t = SleeperTable.create(spark, str(tmp_path / "agg"), schema, props)
        rows = [
            ("a", 1, 100, {"x": 1}),
            ("a", 2, 200, {"x": 2, "y": 5}),
            ("b", 10, 50, {"z": 1}),
        ]
        df = spark.createDataFrame(rows, schema.to_struct_type())
        t.ingest(df)
        return t

    def test_query_collapses_duplicates(self, spark, tmp_path):
        t = self.agg_table(spark, tmp_path)
        got = {r.id: r for r in t.full_scan().collect()}
        assert got["a"]["count"] == 3
        assert got["a"]["last_seen"] == 200
        assert got["a"]["tags"] == {"x": 3, "y": 5}
        assert got["b"]["count"] == 10

    def test_sum_int_stays_int(self, spark, tmp_path):
        t = self.agg_table(spark, tmp_path)
        dtypes = dict(t.full_scan().dtypes)
        assert dtypes["count"] == "bigint"

    def test_query_equals_query_after_compaction(self, spark, tmp_path):
        t = self.agg_table(spark, tmp_path)
        df2 = spark.createDataFrame(
            [("a", 5, 500, {"y": 1}), ("c", 1, 1, {"w": 2})],
            t.schema.to_struct_type())
        t.ingest(df2)
        before = sorted((r.id, r["count"], r.last_seen, tuple(sorted(r.tags.items())))
                        for r in t.full_scan().collect())
        t.compact()
        after = sorted((r.id, r["count"], r.last_seen, tuple(sorted(r.tags.items())))
                       for r in t.full_scan().collect())
        assert before == after
        assert before[0] == ("a", 8, 500, (("x", 3), ("y", 6)))


class TestAgeOffTable:
    def test_age_off_at_query_and_compaction(self, spark, tmp_path):
        # F4 ageoff_events
        schema = Schema(
            row_key_fields=(Field("key", T.StringType()),),
            sort_key_fields=(Field("timestamp", T.LongType()),),
            value_fields=(Field("payload", T.StringType()),),
        )
        props = TableProperties(filters="ageOff(timestamp, 1000)")
        t = SleeperTable.create(spark, str(tmp_path / "age"), schema, props)
        now = 100_000
        df = spark.createDataFrame(
            [("k1", now - 2000, "old"), ("k2", now - 500, "fresh"),
             ("k3", now - 999, "fresh2"), ("k4", now - 1000, "boundary")],
            schema.to_struct_type())
        t.ingest(df)
        got = {r.key for r in t.full_scan(now_millis=now).collect()}
        assert got == {"k2", "k3"}  # drop when now - ts >= maxAge
        # compaction with the same pinned now also drops them physically
        t.ingest(df)  # second file so a job is created
        t.compact(now_millis=now)
        got2 = {r.key for r in t.full_scan(now_millis=now).collect()}
        assert got2 == {"k2", "k3"}
        total = sum(r.number_of_rows for r in t.store.all_references())
        assert total == 4  # 2 keys x 2 ingests, old rows physically gone


class TestPartitionSplitting:
    def test_split_and_requery(self, spark, tmp_path):
        schema = Schema(row_key_fields=(Field("key", T.LongType()),),
                        value_fields=(Field("value", T.LongType()),))
        props = TableProperties(partition_split_threshold=100)
        t = SleeperTable.create(spark, str(tmp_path / "sp"), schema, props)
        df = spark.range(1000).select(F.col("id").alias("key"),
                                      (F.col("id") * 2).alias("value"))
        t.ingest(df)
        split = t.split_partitions()
        assert split == ["root"]
        leaves = t.store.tree.leaves()
        assert len(leaves) == 2
        # data didn't move, queries still exact
        assert t.full_scan().count() == 1000
        assert t.exact_key_query(key=777).collect()[0].value == 1554
        # pre-split refs down + compact pulls data into leaves
        moved = t.split_file_references()
        assert moved == 1
        t.compact()
        assert t.full_scan().count() == 1000
        for leaf in t.store.tree.leaves():
            for r in t.store.references_for_partition(leaf.id):
                assert r.only_contains_data_for_this_partition


class TestByteArrayKeys:
    def test_unsigned_ordering_range_query(self, spark, tmp_path):
        # F5 bytes_kv: high-bit keys catch signed-comparison bugs
        schema = Schema(row_key_fields=(Field("key", T.BinaryType()),),
                        value_fields=(Field("value", T.BinaryType(), nullable=True),))
        t = SleeperTable.create(spark, str(tmp_path / "b"), schema)
        rows = [(bytes([b]), bytes([b, b])) for b in [0x00, 0x7F, 0x80, 0xFF]]
        t.ingest(spark.createDataFrame(rows, schema.to_struct_type()))
        got = [r.key for r in
               t.range_key_query([("key", b"\x7f", None)]).collect()]
        assert sorted(got) == [b"\x7f", b"\x80", b"\xff"]
        got2 = t.exact_key_query(key=b"\x80").collect()
        assert got2[0].value == b"\x80\x80"


class TestSqlGuard:
    """Q1 hardening (VERDICT r1 #1): parse-plan rejection, not string
    sniffing, plus sql_sort_fix-style order re-injection."""

    def test_with_cte_insert_bypass_rejected(self, table):
        with pytest.raises(ValueError, match="queries only"):
            table.sql("WITH t AS (SELECT 1 AS x) "
                      "INSERT INTO query_results SELECT 'k', 0, 'v' FROM t")

    def test_plain_dml_ddl_rejected(self, table):
        for stmt in [
            "INSERT INTO query_results VALUES ('k', 0, 'v')",
            "CREATE TABLE t2 AS SELECT * FROM query_results",
            "DROP TABLE query_results",
            "SET spark.sql.shuffle.partitions=1",
            "CACHE TABLE query_results",
        ]:
            with pytest.raises(ValueError):
                table.sql(stmt)

    def test_keyword_in_literal_not_false_positive(self, table):
        out = table.sql(
            "SELECT 'insert drop create' AS s, count(*) AS n FROM query_results")
        assert out.collect()[0].n == 100

    def test_cte_select_still_allowed(self, table):
        out = table.sql(
            "WITH t AS (SELECT key FROM query_results WHERE timestamp < 10) "
            "SELECT count(*) AS n FROM t")
        assert out.collect()[0].n == 10

    def test_sort_order_reinjected(self, table):
        """sql_sort_fix parity (rust/query_sql/src/sql_sort_fix.rs): when
        output keeps the table key columns, results come back in table
        key order despite user SQL that destroys ordering."""
        out = table.sql(
            "SELECT key, timestamp, value FROM query_results "
            "DISTRIBUTE BY crc32(value)")
        keys = [(r.key, r.timestamp) for r in out.collect()]
        assert keys == sorted(keys)


class TestOnlineOffline:
    """sleeper.table.online (docs/design.md:68-71): offline tables are
    skipped by splitting + compaction; ingest and queries still work."""

    def test_offline_skips_maintenance_but_serves_queries(self, spark, table):
        table.ingest(numbered_rows(spark))
        table.take_offline()
        assert table.compact() == []
        assert table.split_partitions() == []
        assert table.full_scan().count() == 200  # queries fine
        table.ingest(numbered_rows(spark))       # ingest fine
        assert table.full_scan().count() == 300
        table.put_online()
        assert table.compact()  # now jobs run

    def test_online_flag_persists(self, spark, table):
        table.take_offline()
        t2 = SleeperTable.load(spark, table.path)
        assert t2.props.online is False
        t2.put_online()
        t3 = SleeperTable.load(spark, table.path)
        assert t3.props.online is True


def test_rdd_ingest_multidim_tree(spark, tmp_path):
    """Ingest into a tree split on BOTH key dimensions: the leaf-id
    expression must descend the tree (no single dim-0 bound list
    exists), and every leaf gets exactly one file of its region's
    rows."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from sleeper_spark import Field, Schema, SleeperTable
    from sleeper_spark.properties import TableProperties

    schema = Schema((Field("a", T.LongType()), Field("b", T.LongType())),
                    (),
                    (Field("v", T.StringType(), nullable=True),))
    t = SleeperTable.create(spark, str(tmp_path / "t"), schema,
                            TableProperties())
    tree = t.store.tree
    root_id = tree.root_id
    left, right = tree.split(root_id, 0, 50)
    t.store.split_partition(tree[root_id], left, right)
    l2, r2 = tree.split(left.id, 1, 10)
    t.store.split_partition(tree[left.id], l2, r2)
    df = spark.range(100).select(
        F.col("id").alias("a"), (F.col("id") % 20).alias("b"),
        F.format_string("v-%d", F.col("id")).alias("v"))
    t.ingest(df)
    got = sorted(tuple(r) for r in t.full_scan().collect())
    assert got == sorted((i, i % 20, f"v-{i}") for i in range(100))
    for leaf in t.store.tree.leaves():
        refs = t.store.references_for_partition(leaf.id)
        assert len(refs) == 1
        rows = spark.read.parquet(refs[0].filename).collect()
        for r in rows:
            assert leaf.region.contains_point({"a": r.a, "b": r.b})


def test_compact_mixed_ingest_strategies(spark, tmp_path):
    """A frame with non-nullable fields makes Spark write REQUIRED
    parquet columns, while a frame read from parquet writes nullable
    ones; the Arrow merge must relax nullability instead of refusing to
    concat mixed batches."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from sleeper_spark import Field, Schema, SleeperTable
    from sleeper_spark.properties import TableProperties

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", F.col("l_quantity").alias("qty"))
    schema = Schema((Field("l_orderkey", T.LongType()),),
                    (Field("l_linenumber", T.IntegerType()),),
                    (Field("qty", T.DoubleType(), nullable=True),))
    t = SleeperTable.create(spark, str(tmp_path / "t"), schema,
                            TableProperties(), split_points=[750])
    required = spark.createDataFrame(li.rdd, schema.to_struct_type())
    t.ingest(required)
    t.ingest(li)
    nullable = {pq.read_schema(r.filename).field("l_orderkey").nullable
                for r in t.store.all_references()}
    assert nullable == {False, True}
    before = sorted(tuple(r) for r in t.full_scan().collect())
    t.compact()
    after = sorted(tuple(r) for r in t.full_scan().collect())
    assert before == after and len(after) == 2 * li.count()


def test_batch_exact_key_query(spark, tmp_path, spark_plan):
    """N point lookups read on the driver, or past its caps in ONE job:
    a broadcast key-set join over driver-pruned files; results equal N
    individual exact-key queries, including keys duplicated in the
    request and missing keys."""
    t = SleeperTable.create(spark, str(tmp_path / "t"), numbered_schema(),
                            split_points=["row-%019d" % 50])
    t.ingest(numbered_rows(spark))
    t.ingest(numbered_rows(spark))  # two files per leaf: dup rows returned
    keys = [{"key": "row-%019d" % i} for i in (3, 17, 17, 64, 99)]
    keys.append({"key": "missing"})
    got = sorted((r.key, r.timestamp, r.value)
                 for r in t.batch_exact_key_query(keys).collect())
    want = []
    for i in (3, 17, 64, 99):  # dup request keys collapse via distinct
        want += [("row-%019d" % i, i, f"value-{i}")] * 2
    assert got == sorted(want)
    # read on the driver: a local relation, no scan
    plan = t.batch_exact_key_query(keys) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "FileScan" not in plan
    # the Spark plan: ONE broadcast hash join, no N-branch OR chain
    with spark_plan():
        df = t.batch_exact_key_query(keys)
        assert sorted((r.key, r.timestamp, r.value)
                      for r in df.collect()) == sorted(want)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


class TestQueryPathReviewFixes:
    def test_empty_plan_respects_sql_and_projection(self, spark, tmp_path):
        """A query matching no files must flow through the same SQL
        stage / projection as the non-empty path — schema first."""
        t = SleeperTable.create(spark, str(tmp_path / "t"), numbered_schema(),
                                split_points=["row-%019d" % 50])
        t.ingest(numbered_rows(spark))
        empty_region = [Region.of(Range("key", "zzz", "zzzz"))]
        out = t.query(Query(empty_region,
                            sql="SELECT count(*) AS n FROM query_results"))
        assert out.columns == ["n"]
        assert out.collect()[0].n == 0
        proj = t.query(Query(empty_region, requested_value_fields=[]))
        assert proj.columns == ["key", "timestamp"]
        assert proj.count() == 0

    def test_sorted_rows_applies_query_time_processing(self, spark, tmp_path):
        """sorted_rows must honor query_time_filters and
        requested_value_fields like every other read path."""
        t = SleeperTable.create(spark, str(tmp_path / "t"), numbered_schema())
        t.ingest(numbered_rows(spark))
        q = Query([Region.of(Range("key", None, None))],
                  query_time_filters="ageOff(timestamp, 50)",
                  requested_value_fields=[])
        rows = list(t.sorted_rows(q, now_millis=100))
        # ageOff keeps timestamp in (now-50, now] -> ids 51..99
        assert len(rows) == 49
        assert all(set(r) == {"key", "timestamp"} for r in rows)
        assert [r["timestamp"] for r in rows] == list(range(51, 100))

    def test_sorted_rows_total_order_on_multidim_tree(self, spark, tmp_path):
        """A tree split on dimension 1 has leaves with overlapping dim-0
        ranges: their streams must merge, not concatenate, in both the
        driver stream and the distributed sorted scan."""
        schema = Schema((Field("a", T.LongType()), Field("b", T.LongType())),
                        (),
                        (Field("v", T.LongType(), nullable=True),))
        t = SleeperTable.create(spark, str(tmp_path / "t"), schema)
        tree = t.store.tree
        root = tree.root_id
        l0, r0 = tree.split(root, 0, 50)
        t.store.split_partition(tree[root], l0, r0)
        l1, r1 = tree.split(l0.id, 1, 10)
        t.store.split_partition(tree[l0.id], l1, r1)
        df = spark.range(100).selectExpr(
            "id AS a", "id % 20 AS b", "id * 2 AS v")
        t.ingest(df)
        for rows in (list(t.sorted_rows()), t.sorted_scan().collect()):
            rows = [(r["a"], r["b"]) for r in rows]
            assert rows == sorted(rows)
            assert len(rows) == 100

    def test_bulk_export_zero_shuffle_with_iterators_and_aggs(self, spark, tmp_path):
        """Custom iterators + Arrow-algebra aggregations must take the
        zero-shuffle export path (iterators apply as DataFrame
        transforms after the scan)."""
        from sleeper_spark.sorted_scan import distributed_sorted_scan

        schema = Schema((Field("id", T.StringType()),), (),
                        (Field("count", T.LongType()),
                         Field("a", T.LongType()),
                         Field("b", T.LongType()),
                         Field("total", T.LongType())))
        props = TableProperties(
            aggregations="sum(count), max(a), max(b), max(total)",
            iterators="addition(total,a,b)")
        t = SleeperTable.create(spark, str(tmp_path / "t"), schema, props)
        df = spark.createDataFrame(
            [("x", 1, 2, 3, 0), ("x", 2, 2, 3, 0), ("y", 5, 1, 1, 0)],
            schema.to_struct_type())
        t.ingest(df)
        out = distributed_sorted_scan(t)  # must NOT raise
        got = {r["id"]: (r["count"], r["total"]) for r in out.collect()}
        assert got == {"x": (3, 5), "y": (5, 2)}

    def test_ingest_replay_race_cleans_orphans(self, spark, tmp_path):
        """A replayed ingest job id detected only inside the commit's
        retry re-validation (stale second writer) must delete the data
        files + sketch sidecars it wrote — they are referenced by
        nothing and GC would never see them."""
        import os
        from sleeper_spark.statestore import StateStore

        schema = Schema((Field("k", T.LongType()),), (),
                        (Field("v", T.LongType(), nullable=True),))
        t = SleeperTable.create(spark, str(tmp_path / "t"), schema)
        # second writer handle loaded BEFORE the first commit -> its
        # in-memory job-id set is stale
        stale = SleeperTable.load(spark, str(tmp_path / "t"))
        df = spark.range(50).selectExpr("id AS k", "id * 2 AS v")
        refs = t.ingest(df, job_id="job-x")
        assert refs
        data_dirs_before = set(os.listdir(t.data_dir))
        replay = stale.ingest(df, job_id="job-x")
        assert replay == []
        # the replay's freshly-written out_dir is gone again
        assert set(os.listdir(t.data_dir)) == data_dirs_before
        stale.store._load()
        assert {r.filename for r in stale.store.all_references()} == \
            {r.filename for r in t.store.all_references()}

    def test_time_travel_reads(self, spark, tmp_path):
        """as_of(seq) reads the table exactly as it was: before/after a
        second ingest and across a compaction rewrite; GC'd history
        raises a named error instead of a scan failure."""
        import pytest as _pytest
        from sleeper_spark.statestore import StateStoreException

        schema = Schema((Field("k", T.LongType()),), (),
                        (Field("v", T.LongType(), nullable=True),))
        t = SleeperTable.create(spark, str(tmp_path / "t"), schema)
        t.ingest(spark.range(50).selectExpr("id AS k", "id AS v"))
        seq_first = t.store.current_seq
        t.ingest(spark.range(50, 80).selectExpr("id AS k", "id AS v"))
        seq_second = t.store.current_seq

        assert t.as_of(seq=seq_first).full_scan().count() == 50
        assert t.as_of(seq=seq_second).full_scan().count() == 80
        assert t.full_scan().count() == 80

        t.compact()
        seq_compacted = t.store.current_seq
        # pre-compaction views still read the ORIGINAL files
        assert t.as_of(seq=seq_second).full_scan().count() == 80
        assert t.as_of(seq=seq_compacted).full_scan().count() == 80
        # a view cannot write
        with _pytest.raises(StateStoreException):
            t.as_of(seq=seq_first).ingest(
                spark.range(5).selectExpr("id AS k", "id AS v"))
        # GC deletes the pre-compaction files -> old views raise clearly
        import time as _time
        t.collect_garbage(now=_time.time() + 10_000)
        with _pytest.raises(StateStoreException, match="garbage-collected"):
            t.as_of(seq=seq_second)
        # the current view still works
        assert t.as_of(seq=seq_compacted).full_scan().count() == 80

    def test_vacuum_sweeps_all_three(self, spark, tmp_path):
        """vacuum = GC + transaction archive + snapshot sweep in safe
        order; the surviving state still loads and time-travels within
        the retained window."""
        import time as _time
        import sleeper_spark.statestore as sm
        schema = Schema((Field("k", T.LongType()),), (),
                        (Field("v", T.LongType(), nullable=True),))
        t = SleeperTable.create(spark, str(tmp_path / "t"), schema)
        t.ingest(spark.range(40).selectExpr("id AS k", "id AS v"))
        t.ingest(spark.range(40, 60).selectExpr("id AS k", "id AS v"))
        t.compact()
        # force a snapshot so the archive stage has a horizon
        t.store._write_snapshot()
        out = t.vacuum(keep_history_seqs=0, now=_time.time() + 100_000)
        assert out["data_files_deleted"] >= 2      # pre-compaction files
        assert out["transactions_archived"] >= 3   # init + 2 ingests + ...
        assert t.full_scan().count() == 60
        # a fresh open loads from the snapshot and reads everything
        t2 = SleeperTable.load(spark, str(tmp_path / "t"))
        assert t2.full_scan().count() == 60
        assert t2.as_of(seq=t2.store.current_seq).full_scan().count() == 60

    def test_change_data_feed(self, spark, tmp_path):
        """added_rows_between returns exactly the appended rows per seq
        window; compaction rewrites emit nothing; GC'd history raises."""
        import time as _time
        import pytest as _pytest
        from sleeper_spark.statestore import StateStoreException

        schema = Schema((Field("k", T.LongType()),), (),
                        (Field("v", T.LongType(), nullable=True),))
        t = SleeperTable.create(spark, str(tmp_path / "t"), schema)
        seq0 = t.store.current_seq
        t.ingest(spark.range(30).selectExpr("id AS k", "id AS v"))
        seq1 = t.store.current_seq
        t.ingest(spark.range(30, 50).selectExpr("id AS k", "id AS v"))
        seq2 = t.store.current_seq

        assert t.added_rows_between(seq0, seq1).count() == 30
        batch2 = t.added_rows_between(seq1, seq2)
        assert sorted(r.k for r in batch2.collect()) == list(range(30, 50))
        assert t.added_rows_between(seq0).count() == 50

        t.compact()
        seq3 = t.store.current_seq
        # the rewrite added no rows to the feed
        assert t.added_rows_between(seq2, seq3).count() == 0
        # full-history feed still reads the (still-present) old files
        assert t.added_rows_between(seq0).count() == 50
        # after GC removes the rewritten originals, the old window raises
        t.collect_garbage(now=_time.time() + 100_000)
        with _pytest.raises(StateStoreException, match="garbage-collected"):
            t.added_rows_between(seq0, seq2).count()
        # an empty window on the current head is an empty frame
        assert t.added_rows_between(seq3).count() == 0

    def test_value_range_file_skipping(self, spark, tmp_path):
        """Iceberg-style file skipping: a value-range query must (a)
        return exactly the filtered rows, (b) plan FEWER files when the
        sidecar stats prove non-overlap, and (c) keep files with no
        stats (conservative)."""
        import os as _os
        from sleeper_spark.query import Query, QueryExecutor
        from sleeper_spark.ranges import Range, Region
        from sleeper_spark import sketches as sk

        schema = Schema((Field("k", T.LongType()),), (),
                        (Field("v", T.LongType(), nullable=True),
                         Field("s", T.StringType(), nullable=True)))
        t = SleeperTable.create(spark, str(tmp_path / "t"), schema)
        # three ingests with DISJOINT value bands -> three files with
        # disjoint footer min/max for v
        for lo in (0, 1000, 2000):
            t.ingest(spark.range(lo, lo + 100).selectExpr(
                "id AS k", "id AS v", "concat('x', id) AS s"))
        ex = QueryExecutor(spark, t.store, schema)
        full = Region(tuple([Range("k", None, None)]))
        q = Query([full], value_ranges=[Range("v", 1000, 1100)])
        files = ex.plan_files(q)
        all_files = ex.plan_files(Query([full]))
        assert len(all_files) == 3
        assert len(files) == 1          # two files provably out of band
        got = t.full_scan(value_ranges=[Range("v", 1000, 1100)])
        assert sorted(r.k for r in got.collect()) == list(range(1000, 1100))
        # inclusive upper bound + string column stats: k<=5 rows have
        # s in {x0..x5}; lexicographically only x0,x1,x2 < "x3"
        got2 = t.full_scan(value_ranges=[
            Range("v", 0, 5, True, True), Range("s", "x0", "x3")])
        assert sorted(r.k for r in got2.collect()) == [0, 1, 2]
        # a file whose sidecar lacks stats is conservatively KEPT, and
        # the planner notices the REWRITTEN sidecar without any manual
        # cache flush (the memo keys on the sidecar's mtime/size)
        import time as _time
        victim = files[0]
        side = sk.load_sidecar(victim)
        side.pop("minmax", None)
        _time.sleep(0.01)  # ensure a distinct mtime for the rewrite
        sk.write_sidecar(victim, {**side, "minmax": {}})
        assert len(ex.plan_files(q)) == 1  # {} minmax -> unknown -> kept
        # remove the sidecar entirely -> also kept
        _os.remove(sk.sidecar_path(victim))
        assert victim in ex.plan_files(q)
        # round-trips through the query JSON SerDe
        q2 = Query.from_json(q.to_json(), schema)
        assert [r.field for r in q2.value_ranges] == ["v"]
        assert ex.plan_files(q2) == ex.plan_files(q)

    def test_value_ranges_rejected_on_aggregation_table(self, spark, tmp_path):
        import pytest as _pytest
        from sleeper_spark.ranges import Range
        schema = Schema((Field("k", T.LongType()),), (),
                        (Field("n", T.LongType()),))
        t = SleeperTable.create(spark, str(tmp_path / "t"), schema,
                                TableProperties(aggregations="sum(n)"))
        t.ingest(spark.range(10).selectExpr("id AS k", "id AS n"))
        with _pytest.raises(ValueError, match="aggregation"):
            t.full_scan(value_ranges=[Range("n", 0, 5)]).collect()

    def test_value_ranges_uniform_across_read_paths(self, spark, tmp_path):
        """All three read paths (query, sorted_rows, sorted_scan) apply
        value_ranges with identical STORED-value semantics."""
        from sleeper_spark.query import Query
        from sleeper_spark.ranges import Range, Region

        schema = Schema((Field("k", T.LongType()),), (),
                        (Field("v", T.LongType(), nullable=True),))
        t = SleeperTable.create(spark, str(tmp_path / "t"), schema)
        for lo in (0, 100, 200):
            t.ingest(spark.range(lo, lo + 50).selectExpr("id AS k", "id AS v"))
        full = Region(tuple([Range("k", None, None)]))
        q = Query([full], value_ranges=[Range("v", 100, 130)])
        want = list(range(100, 130))
        assert sorted(r.k for r in t.query(q).collect()) == want
        assert [r["k"] for r in t.sorted_rows(q)] == want
        assert sorted(r.k for r in t.sorted_scan(q).collect()) == want

    def test_value_ranges_rejected_on_agg_table_all_paths(self, spark,
                                                          tmp_path):
        import pytest as _pytest
        from sleeper_spark.query import Query
        from sleeper_spark.ranges import Range, Region
        schema = Schema((Field("k", T.LongType()),), (),
                        (Field("n", T.LongType()),))
        t = SleeperTable.create(spark, str(tmp_path / "t"), schema,
                                TableProperties(aggregations="sum(n)"))
        t.ingest(spark.range(10).selectExpr("id AS k", "id AS n"))
        full = Region(tuple([Range("k", None, None)]))
        q = Query([full], value_ranges=[Range("n", 0, 5)])
        with _pytest.raises(ValueError, match="aggregation"):
            t.query(q)
        with _pytest.raises(ValueError, match="aggregation"):
            list(t.sorted_rows(q))
        with _pytest.raises(ValueError, match="aggregation"):
            t.sorted_scan(q)

    def test_change_feed_poller_sees_other_writers(self, spark, tmp_path):
        """A second table handle polling the feed must see commits made
        through the first handle (store refresh, not a pinned head);
        poll_changes returns the EFFECTIVE bound to checkpoint, and a
        raw to_seq past the head raises (silent clamping would let a
        consumer checkpoint unconsumed seqs)."""
        import pytest as _pytest
        schema = Schema((Field("k", T.LongType()),), (),
                        (Field("v", T.LongType(), nullable=True),))
        t = SleeperTable.create(spark, str(tmp_path / "t"), schema)
        poller = SleeperTable.load(spark, str(tmp_path / "t"))
        poller.props.query_cache_timeout_seconds = 0.0
        ckpt = poller.store.current_seq
        t.ingest(spark.range(25).selectExpr("id AS k", "id AS v"))
        import time as _time
        _time.sleep(0.01)
        batch, new_ckpt = poller.poll_changes(ckpt, max_seqs=100)
        assert batch.count() == 25
        assert new_ckpt == t.store.current_seq  # effective, not requested
        # an idle poll advances nothing and returns an empty frame
        batch2, ckpt2 = poller.poll_changes(new_ckpt, max_seqs=100)
        assert batch2.count() == 0 and ckpt2 == new_ckpt
        # raw API: to_seq beyond the head is an error, never a clamp
        with _pytest.raises(ValueError, match="beyond the committed"):
            poller.added_rows_between(ckpt, ckpt + 100)
        # max_seqs=0 is "no capacity", NOT "unbounded" — reject loudly
        # instead of silently polling to head
        with _pytest.raises(ValueError, match="max_seqs"):
            poller.poll_changes(new_ckpt, max_seqs=0)

    def test_value_range_unbounded_keeps_nulls_all_paths(self, spark,
                                                         tmp_path):
        """Range(v, None, None) adds NO predicate: NULL-valued rows
        survive on every read path (a real bound still drops them)."""
        from sleeper_spark.query import Query
        from sleeper_spark.ranges import Range, Region
        schema = Schema((Field("k", T.LongType()),), (),
                        (Field("v", T.LongType(), nullable=True),))
        t = SleeperTable.create(spark, str(tmp_path / "t"), schema)
        t.ingest(spark.range(10).selectExpr(
            "id AS k", "CASE WHEN id % 2 = 0 THEN id END AS v"))
        full = Region(tuple([Range("k", None, None)]))
        q = Query([full], value_ranges=[Range("v", None, None)])
        assert t.query(q).count() == 10
        assert len(list(t.sorted_rows(q))) == 10
        assert t.sorted_scan(q).count() == 10
        qb = Query([full], value_ranges=[Range("v", 0, None)])
        assert t.query(qb).count() == 5           # NULLs fail a real bound
        assert len(list(t.sorted_rows(qb))) == 5
        assert t.sorted_scan(qb).count() == 5


class TestZOrderLayout:
    """Z-order clustered table layout (ingest layout + OPTIMIZE rewrite):
    multi-dim value_ranges queries must skip strictly more files on a
    Z-ordered table than on a key-sorted one, with identical results."""

    def _schema(self):
        return Schema((Field("k", T.LongType()),), (),
                      (Field("a", T.LongType(), nullable=True),
                       Field("b", T.LongType(), nullable=True)))

    def _rows(self, spark):
        # a and b decorrelate from k, so key-sorted files straddle the
        # full (a, b) space while Z-clustered files get tight boxes
        return spark.range(4096).selectExpr(
            "id AS k", "(id * 37) % 64 AS a", "(id * 91) % 64 AS b")

    def _box_query(self):
        full = Region(tuple([Range("k", None, None)]))
        return Query([full], value_ranges=[
            Range("a", 0, 16, True, False), Range("b", 0, 16, True, False)])

    def test_zorder_ingest_skips_more_files(self, spark, tmp_path):
        from sleeper_spark.query import QueryExecutor

        # baseline: 8 key-range ingests -> 8 key-sorted files
        t_sorted = SleeperTable.create(spark, str(tmp_path / "s"),
                                       self._schema())
        for lo in range(0, 4096, 512):
            t_sorted.ingest(self._rows(spark)
                            .where(f"k >= {lo} AND k < {lo + 512}"))
        # zorder: ONE ingest, 8 Z-clustered files in the same leaf
        t_z = SleeperTable.create(spark, str(tmp_path / "z"), self._schema())
        t_z.ingest(self._rows(spark), layout="zorder",
                   layout_cols=["a", "b"], layout_files_per_leaf=8,
                   layout_bits=6)

        q = self._box_query()
        ex_s = QueryExecutor(spark, t_sorted.store, self._schema())
        ex_z = QueryExecutor(spark, t_z.store, self._schema())
        full_q = Query([Region(tuple([Range("k", None, None)]))])
        assert len(ex_s.plan_files(full_q)) == 8
        n_z = len(ex_z.plan_files(full_q))   # range sampling: ~8 files
        assert 2 <= n_z <= 8
        kept_s, kept_z = len(ex_s.plan_files(q)), len(ex_z.plan_files(q))
        # key-sorted files all straddle the full (a,b) space -> none skip;
        # Z-ordered files have tight boxes -> most skip
        assert kept_s == 8
        assert kept_z < n_z          # genuine skipping within the layout
        assert kept_z < kept_s       # and strictly fewer than key-sorted
        # identical results on both layouts, equal to a direct filter
        want = sorted(r.k for r in self._rows(spark)
                      .where("a >= 0 AND a < 16 AND b >= 0 AND b < 16")
                      .collect())
        assert sorted(r.k for r in t_sorted.query(q).collect()) == want
        assert sorted(r.k for r in t_z.query(q).collect()) == want
        # the merge scan still sees each file as a key-sorted run
        assert [r["k"] for r in t_z.sorted_rows()] == list(range(4096))

    def test_optimize_zorder_rewrite(self, spark, tmp_path):
        from sleeper_spark.query import QueryExecutor

        t = SleeperTable.create(spark, str(tmp_path / "t"), self._schema())
        for lo in range(0, 4096, 1024):
            t.ingest(self._rows(spark)
                     .where(f"k >= {lo} AND k < {lo + 1024}"))
        ex = QueryExecutor(spark, t.store, self._schema())
        q = self._box_query()
        before = len(ex.plan_files(q))
        assert before == 4                      # key-sorted: nothing skips
        old_files = {r.filename for r in t.store.all_references()}

        new_refs = t.optimize_zorder(["a", "b"], files_per_leaf=8, bits=6)
        assert 2 <= len(new_refs) <= 8     # range sampling: ~8 files
        assert sum(r.number_of_rows for r in new_refs) == 4096
        after_all = len(ex.plan_files(
            Query([Region(tuple([Range("k", None, None)]))])))
        assert after_all == len(new_refs)
        assert len(ex.plan_files(q)) < after_all  # boxes now skip
        # pure layout rewrite: results identical, total key order intact
        want = sorted(r.k for r in self._rows(spark)
                      .where("a >= 0 AND a < 16 AND b >= 0 AND b < 16")
                      .collect())
        assert sorted(r.k for r in t.query(q).collect()) == want
        assert [r["k"] for r in t.sorted_rows()] == list(range(4096))
        # old files dereferenced -> GC collects them
        live = {r.filename for r in t.store.all_references()}
        assert not (old_files & live)
        t.collect_garbage(now=time.time() + 100_000)
        import os as _os
        assert not any(_os.path.exists(f) for f in old_files)

    def test_optimize_zorder_skips_ineligible_leaves(self, spark, tmp_path):
        """Files assigned to a pending compaction job must not be
        rewritten out from under it; a second optimize on an
        already-optimized table is a clean no-op ... of new work."""
        from sleeper_spark.compaction import create_jobs

        t = SleeperTable.create(spark, str(tmp_path / "t"), self._schema())
        t.ingest(self._rows(spark).where("k < 100"))
        t.ingest(self._rows(spark).where("k >= 100 AND k < 200"))
        jobs = create_jobs(t.store, t.props)   # assigns nothing yet
        t.store.assign_job_ids_batch([
            (j.job_id,
             [t.store.files[fn][j.partition_id] for fn in j.input_files])
            for j in jobs])
        assert t.optimize_zorder(["a", "b"]) == []  # locked -> skipped

    def test_zorder_ingest_validation(self, spark, tmp_path):
        t = SleeperTable.create(spark, str(tmp_path / "t"), self._schema())
        with pytest.raises(ValueError, match="layout_cols"):
            t.ingest(self._rows(spark), layout="zorder")
        with pytest.raises(ValueError, match="unknown layout"):
            t.ingest(self._rows(spark), layout="hilbert",
                     layout_cols=["a"])


class TestNullKeyRejection:
    """Row/sort keys are non-nullable (reference Schema contract): a
    null key MUST fail the ingest loudly. Before the guard it fell
    into the CASE chain's `otherwise` leaf, violated that leaf's
    region invariant, and every read's leaf-region filter silently
    dropped the row — permanent data loss with a green ingest."""

    def _table(self, spark, tmp_path, **kw):
        from pyspark.sql import types as T
        sch = Schema(row_key_fields=(Field("k", T.LongType()),),
                     sort_key_fields=(Field("s", T.LongType()),),
                     value_fields=(Field("v", T.LongType()),))
        return SleeperTable.create(spark, str(tmp_path / "nk"), sch,
                                   split_points=[50], **kw)

    def test_null_row_key_fails_ingest(self, spark, tmp_path):
        import pytest as _pytest
        t = self._table(spark, tmp_path)
        bad = spark.createDataFrame([(1, 1, 10), (None, 2, 20)],
                                    "k long, s long, v long")
        with _pytest.raises(Exception, match="null key"):
            t.ingest(bad)
        # nothing committed, nothing half-written in the manifest
        assert t.store.all_references() == []

    def test_null_sort_key_fails_ingest(self, spark, tmp_path):
        import pytest as _pytest
        t = self._table(spark, tmp_path)
        bad = spark.createDataFrame([(1, None, 10)],
                                    "k long, s long, v long")
        with _pytest.raises(Exception, match="null key"):
            t.ingest(bad)

    def test_null_value_field_is_fine(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        ok = spark.createDataFrame([(1, 1, None), (99, 2, 30)],
                                   "k long, s long, v long")
        t.ingest(ok)
        got = sorted((r.k, r.s, r.v) for r in t.full_scan().collect())
        assert got == [(1, 1, None), (99, 2, 30)]


class TestCheckConstraints:
    def _mk(self, spark, tmp_path, constraint):
        from pyspark.sql import types as T

        from sleeper_spark.properties import TableProperties
        from sleeper_spark.schema import Field, Schema
        from sleeper_spark.table import SleeperTable

        schema = Schema(
            (Field("k", T.LongType()),), (),
            (Field("v", T.LongType(), True),
             Field("s", T.StringType(), True)))
        return SleeperTable.create(
            spark, str(tmp_path / "ct"), schema,
            TableProperties(constraints=constraint))

    def test_violation_fails_loudly_and_commits_nothing(self, spark,
                                                        tmp_path):
        import pytest as _pytest

        t = self._mk(spark, tmp_path, "v >= 0 AND s IN ('a', 'b')")
        ok = spark.createDataFrame([(1, 5, "a"), (2, 0, "b")],
                                   "k long, v long, s string")
        t.ingest(ok)
        assert t.full_scan().count() == 2
        bad = spark.createDataFrame([(3, -1, "a")],
                                    "k long, v long, s string")
        with _pytest.raises(Exception, match="CHECK constraint"):
            t.ingest(bad)
        # nothing committed, no orphan state
        assert t.full_scan().count() == 2
        bad2 = spark.createDataFrame([(4, 1, "zz")],
                                     "k long, v long, s string")
        with _pytest.raises(Exception, match="CHECK constraint"):
            t.ingest(bad2)

    def test_null_passes_like_sql_check(self, spark, tmp_path):
        t = self._mk(spark, tmp_path, "v >= 0")
        df = spark.createDataFrame([(1, None, "x")],
                                   "k long, v long, s string")
        t.ingest(df)  # NULL v: unknown -> pass (SQL CHECK semantics)
        assert t.full_scan().count() == 1

    def test_merge_inserts_and_stream_go_through_the_gate(
            self, spark, tmp_path):
        import pytest as _pytest
        from pyspark.sql import functions as F

        t = self._mk(spark, tmp_path, "v >= 0")
        t.ingest(spark.createDataFrame([(1, 5, "a")],
                                       "k long, v long, s string"))
        bad_src = spark.createDataFrame([(9, -3, "a")],
                                        "k long, v long, s string")
        with _pytest.raises(Exception, match="CHECK constraint"):
            t.merge_upsert(bad_src)
        assert t.full_scan().count() == 1
        # a valid merge still lands
        t.merge_upsert(spark.createDataFrame(
            [(1, 7, "b"), (2, 8, "c")], "k long, v long, s string"))
        assert t.full_scan().count() == 2
        assert t.exact_key_query(k=1).first().v == 7


def test_vacuum_sweep_includes_orphan_stage(spark, tmp_path):
    """The one-call vacuum reports the orphan stage: a planted old
    crashed-writer file is reclaimed, live files untouched — and a
    file younger than the 24 h retention floor survives even though
    it is far older than the GC delay (the GC clock bounds consumer
    lag, not write-job duration; the r10 ADVICE finding)."""
    import os
    import shutil
    import time as _time

    schema = Schema((Field("k", T.LongType()),), (),
                    (Field("v", T.LongType(), nullable=True),))
    t = SleeperTable.create(spark, str(tmp_path / "t"), schema)
    t.ingest(spark.range(20).selectExpr("id AS k", "id AS v"))
    src = next(iter(t.store.all_references())).filename
    orphan = os.path.join(t.data_dir, "dead-job", "part-0.parquet")
    os.makedirs(os.path.dirname(orphan))
    shutil.copy(src, orphan)
    # older than the GC delay (600s) but inside the 24 h floor: an
    # in-flight slow writer's staging file — must NOT be reclaimed
    os.utime(orphan, (_time.time() - 10_000, _time.time() - 10_000))
    out = t.vacuum()
    assert out["orphan_files_deleted"] == 0
    assert os.path.exists(orphan)
    # now age it past the floor: a genuine crash leak — reclaimed
    os.utime(orphan, (_time.time() - 200_000, _time.time() - 200_000))
    out = t.vacuum()
    assert out["orphan_files_deleted"] == 1
    assert not os.path.exists(orphan)
    assert t.full_scan().count() == 20


def test_vacuum_orphans_skips_live_claimed_job_dirs(spark, tmp_path):
    """A file staged under a directory named by a CURRENTLY-CLAIMED
    job id is skipped regardless of age: the claim proves the job is
    in flight, and reclaiming its staging parquet would corrupt the
    later commit (the r10 ADVICE rail)."""
    import os
    import shutil
    import time as _time

    schema = Schema((Field("k", T.LongType()),), (),
                    (Field("v", T.LongType(), nullable=True),))
    t = SleeperTable.create(spark, str(tmp_path / "t"), schema)
    t.ingest(spark.range(20).selectExpr("id AS k", "id AS v"))
    refs = list(t.store.all_references())
    t.store.assign_job_ids("compaction-live-1", refs)
    src = refs[0].filename
    staged = os.path.join(t.data_dir, "compaction-live-1",
                          "part-0.parquet")
    os.makedirs(os.path.dirname(staged))
    shutil.copy(src, staged)
    os.utime(staged, (_time.time() - 500_000, _time.time() - 500_000))
    res = t.vacuum_orphans()
    assert res["deleted"] == []
    assert os.path.exists(staged)
    # claim released -> the same aged file becomes reclaimable
    t.store.unassign_job_ids("compaction-live-1")
    res = t.vacuum_orphans()
    assert res["deleted"] == [staged]
    assert not os.path.exists(staged)
