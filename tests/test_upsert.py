"""max_by/min_by aggregation — last/first-writer-wins upsert semantics
(iterators.py grammar, processing.py Spark engine, sorted_scan.py Arrow
kernels). Beyond-reference: the reference's algebra (aggregate.rs)
has no versioned-row op."""

import pytest
from pyspark.sql import types as T

from sleeper_spark.iterators import (
    Aggregation,
    parse_aggregations,
    validate_aggregations,
)
from sleeper_spark.properties import TableProperties
from sleeper_spark.schema import Field, Schema
from sleeper_spark.table import SleeperTable

AGGS = "max(version), max_by(value, version)"


def _schema():
    return Schema(
        row_key_fields=(Field("key", T.StringType()),),
        sort_key_fields=(),
        value_fields=(Field("version", T.LongType()),
                      Field("value", T.StringType())),
    )


class TestGrammar:
    def test_parse_two_arg(self):
        aggs = parse_aggregations(AGGS)
        assert aggs[1] == Aggregation("value", "max_by", "version")

    def test_parse_arity_errors(self):
        with pytest.raises(ValueError, match="order_column"):
            parse_aggregations("max_by(value)")
        with pytest.raises(ValueError, match="takes \\(column\\)"):
            parse_aggregations("max(value, version)")

    def test_validate_order_col_rules(self):
        s = _schema()
        validate_aggregations(s, parse_aggregations(AGGS))
        with pytest.raises(ValueError, match="key column"):
            validate_aggregations(s, [
                Aggregation("version", "max"),
                Aggregation("value", "max_by", "key")])
        with pytest.raises(KeyError):
            validate_aggregations(s, [
                Aggregation("version", "max"),
                Aggregation("value", "max_by", "nope")])
        nullable = Schema(
            row_key_fields=(Field("key", T.StringType()),),
            sort_key_fields=(),
            value_fields=(Field("version", T.LongType(), True),
                          Field("value", T.StringType())),
        )
        with pytest.raises(ValueError, match="non-nullable"):
            validate_aggregations(nullable, [
                Aggregation("value", "max_by", "version")])


@pytest.fixture
def table(spark, tmp_path):
    t = SleeperTable.create(
        spark, str(tmp_path / "t"), _schema(),
        props=TableProperties(aggregations=AGGS))
    v1 = spark.createDataFrame(
        [("a", 1, "a-v1"), ("b", 1, "b-v1"), ("c", 1, "c-v1")],
        ["key", "version", "value"])
    v2 = spark.createDataFrame(
        [("a", 2, "a-v2"), ("b", 2, "b-v2")],
        ["key", "version", "value"])
    t.ingest(v1)
    t.ingest(v2)
    return t


class TestUpsertLifecycle:
    def test_query_returns_latest(self, table):
        got = {r.key: (r.version, r.value)
               for r in table.full_scan().collect()}
        assert got == {"a": (2, "a-v2"), "b": (2, "b-v2"),
                       "c": (1, "c-v1")}

    def test_compact_applies_upsert_physically(self, table):
        table.compact(now_millis=0)
        assert len(table.store.all_references()) == 1
        got = {r.key: r.value for r in table.full_scan().collect()}
        assert got == {"a": "a-v2", "b": "b-v2", "c": "c-v1"}

    def test_sorted_rows_iterator_matches(self, table):
        rows = {r["key"]: (r["version"], r["value"])
                for r in table.sorted_rows()}
        assert rows == {"a": (2, "a-v2"), "b": (2, "b-v2"),
                        "c": (1, "c-v1")}

    def test_tie_breaks_on_value_deterministically(self, spark, tmp_path):
        t = SleeperTable.create(
            spark, str(tmp_path / "tie"), _schema(),
            props=TableProperties(aggregations=AGGS))
        t.ingest(spark.createDataFrame(
            [("k", 5, "zeta"), ("k", 5, "alpha")],
            ["key", "version", "value"]))
        # equal versions: lexicographic (order, value) max keeps 'zeta'
        # on BOTH engines (query and row iterator)
        assert t.full_scan().collect()[0].value == "zeta"
        assert next(iter(t.sorted_rows()))["value"] == "zeta"

    def test_min_by_keeps_first_writer(self, spark, tmp_path):
        t = SleeperTable.create(
            spark, str(tmp_path / "first"), _schema(),
            props=TableProperties(
                aggregations="min(version), min_by(value, version)"))
        t.ingest(spark.createDataFrame(
            [("k", 2, "late"), ("k", 1, "early")],
            ["key", "version", "value"]))
        r = t.full_scan().collect()[0]
        assert (r.version, r.value) == (1, "early")
