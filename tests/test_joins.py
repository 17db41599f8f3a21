"""cokeyed_join: zero-shuffle leaf-aligned merge join between
co-partitioned SleeperTables."""
import os

import pytest
from pyspark.sql import functions as F, types as T

from sleeper_spark import Field, Schema, SleeperTable
from sleeper_spark.joins import cokeyed_join
from sleeper_spark.properties import TableProperties

SPLITS = [2000, 4000]


@pytest.fixture()
def pair(spark, tmp_path):
    sf = "/root/testdata/sf0.001"
    orders = spark.read.parquet(f"{sf}/orders.parquet") \
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    li = spark.read.parquet(f"{sf}/lineitem.parquet") \
        .select("l_orderkey", "l_quantity", "l_extendedprice")
    sa = Schema((Field("o_orderkey", T.LongType()),), (),
                (Field("o_totalprice", T.DoubleType(), True),
                 Field("o_orderstatus", T.StringType(), True)))
    sb = Schema((Field("o_orderkey", T.LongType()),), (),
                (Field("l_quantity", T.DoubleType(), True),
                 Field("l_extendedprice", T.DoubleType(), True)))
    ta = SleeperTable.create(spark, str(tmp_path / "a"), sa,
                             split_points=SPLITS)
    tb = SleeperTable.create(spark, str(tmp_path / "b"), sb,
                             split_points=SPLITS)
    ta.ingest(orders)
    # two ingests: the b side merges multiple sorted runs per leaf
    bsrc = li.withColumnRenamed("l_orderkey", "o_orderkey")
    tb.ingest(bsrc.where("o_orderkey % 2 = 0"))
    tb.ingest(bsrc.where("o_orderkey % 2 = 1"))
    return ta, tb, orders, li


class TestCokeyedJoin:
    def test_inner_matches_spark_join_tiny_windows(self, pair):
        """batch_rows=256 forces many window cuts; duplicate l_orderkey
        groups must never split across windows."""
        ta, tb, orders, li = pair
        got = sorted(tuple(r) for r in
                     cokeyed_join(ta, tb, batch_rows=256).collect())
        want = sorted(tuple(r) for r in
                      orders.join(li, orders.o_orderkey == li.l_orderkey)
                      .select("o_orderkey", "o_totalprice",
                              "o_orderstatus", "l_quantity",
                              "l_extendedprice").collect())
        assert got == want and want

    def test_left_join_pads_unmatched(self, pair):
        ta, tb, orders, li = pair
        got = sorted((r.o_orderkey, r.l_quantity) for r in
                     cokeyed_join(ta, tb, how="left",
                                  batch_rows=256).collect())
        want = sorted((r.o_orderkey, r.l_quantity) for r in
                      orders.join(li,
                                  orders.o_orderkey == li.l_orderkey,
                                  "left")
                      .select("o_orderkey", "l_quantity").collect())
        assert got == want
        assert any(q is None for _, q in got)  # some orders unmatched

    def test_plan_has_no_exchange(self, pair):
        ta, tb, *_ = pair
        plan = cokeyed_join(ta, tb)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan

    def test_aggregated_side_joins_collapsed_rows(self, spark, tmp_path):
        """A sum-aggregation b-side must join its COLLAPSED totals even
        before any compaction ran."""
        sa = Schema((Field("k", T.LongType()),), (),
                    (Field("name", T.StringType(), True),))
        sb = Schema((Field("k", T.LongType()),), (),
                    (Field("n", T.LongType()),))
        ta = SleeperTable.create(spark, str(tmp_path / "ja"), sa,
                                 split_points=[10])
        tb = SleeperTable.create(
            spark, str(tmp_path / "jb"), sb,
            TableProperties(aggregations="sum(n)"), split_points=[10])
        ta.ingest(spark.createDataFrame(
            [(1, "a"), (5, "b"), (15, "c")], ["k", "name"]))
        tb.ingest(spark.createDataFrame([(1, 10), (15, 1)], ["k", "n"]))
        tb.ingest(spark.createDataFrame([(1, 7), (5, 2)], ["k", "n"]))
        got = {(r.k, r.name, r.n) for r in cokeyed_join(ta, tb).collect()}
        assert got == {(1, "a", 17), (5, "b", 2), (15, "c", 1)}

    def test_left_join_keeps_nan_and_wide_longs(self, spark, tmp_path):
        """Joined values reach Spark exactly: a NaN stays NaN (not NULL)
        and a long above 2**53 next to a left join's NULL padding keeps
        its last digit."""
        import math

        sa = Schema((Field("k", T.LongType()),), (),
                    (Field("x", T.DoubleType()),))
        sb = Schema((Field("k", T.LongType()),), (),
                    (Field("big", T.LongType()),))
        ta = SleeperTable.create(spark, str(tmp_path / "na"), sa)
        tb = SleeperTable.create(spark, str(tmp_path / "nb"), sb)
        ta.ingest(spark.createDataFrame([(1, math.nan), (2, 0.5)],
                                        sa.to_struct_type()))
        tb.ingest(spark.createDataFrame([(1, 2**53 + 1)],
                                        sb.to_struct_type()))
        got = sorted(tuple(r) for r in
                     cokeyed_join(ta, tb, how="left").collect())
        assert math.isnan(got[0][1])
        assert (got[0][0], got[0][2]) == (1, 2**53 + 1)
        assert got[1] == (2, 0.5, None)

    def test_colliding_value_column_gets_suffix(self, spark, tmp_path):
        sa = Schema((Field("k", T.LongType()),), (),
                    (Field("v", T.LongType(), True),))
        sb = Schema((Field("k", T.LongType()),), (),
                    (Field("v", T.LongType(), True),))
        ta = SleeperTable.create(spark, str(tmp_path / "ca"), sa)
        tb = SleeperTable.create(spark, str(tmp_path / "cb"), sb)
        ta.ingest(spark.createDataFrame([(1, 10)], ["k", "v"]))
        tb.ingest(spark.createDataFrame([(1, 20)], ["k", "v"]))
        out = cokeyed_join(ta, tb)
        assert out.columns == ["k", "v", "v_b"]
        r = out.collect()[0]
        assert (r.k, r.v, r.v_b) == (1, 10, 20)

    def test_guards(self, spark, tmp_path, pair):
        ta, tb, *_ = pair
        with pytest.raises(ValueError, match="how"):
            cokeyed_join(ta, tb, how="full")
        # different split points -> not co-partitioned
        sb2 = Schema((Field("o_orderkey", T.LongType()),), (),
                     (Field("x", T.LongType(), True),))
        tb2 = SleeperTable.create(spark, str(tmp_path / "g1"), sb2,
                                  split_points=[999])
        tb2.ingest(spark.createDataFrame([(1, 1)], ["o_orderkey", "x"]))
        with pytest.raises(ValueError, match="leaf key ranges"):
            cokeyed_join(ta, tb2)
        # different row keys
        sc = Schema((Field("other", T.LongType()),), (),
                    (Field("x", T.LongType(), True),))
        tc = SleeperTable.create(spark, str(tmp_path / "g2"), sc,
                                 split_points=SPLITS)
        with pytest.raises(ValueError, match="row-key"):
            cokeyed_join(ta, tc)

    def test_empty_b_side(self, spark, tmp_path, pair):
        ta, _, orders, _ = pair
        sb = Schema((Field("o_orderkey", T.LongType()),), (),
                    (Field("x", T.LongType(), True),))
        tb = SleeperTable.create(spark, str(tmp_path / "e"), sb,
                                 split_points=SPLITS)
        assert cokeyed_join(ta, tb).count() == 0
        assert cokeyed_join(ta, tb, how="left").count() == orders.count()
