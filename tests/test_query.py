"""Point queries read on the driver (query.QueryExecutor): an exact-key
query whose matched row groups and key rows are under the caps is
answered by the sorted-rows reader and handed back as a local DataFrame — no Spark job — while the
Spark plan stays the answer for every other query. The two readers must
agree row for row, and both must agree with a pure-Python model."""

from __future__ import annotations

import contextlib
import itertools
from unittest import mock

import pytest
from hypothesis import HealthCheck, Phase, given, settings, strategies as st
from pyspark.sql import types as T

from sleeper_spark import query as query_mod
from sleeper_spark.iterators import register_iterator
from sleeper_spark.properties import TableProperties
from sleeper_spark.query import POINT_KEY_ROWS, Query
from sleeper_spark.ranges import Region
from sleeper_spark.schema import Field, Schema
from sleeper_spark.table import SleeperTable

NOW = 10_000

#: job group names are never reused: an ``id()`` can be, and the status
#: tracker would then report an earlier call's jobs as this call's
_GROUP_SEQ = itertools.count()


def _jobs_of(spark, fn):
    """(result of ``fn()``, Spark job ids it ran) via a job group."""
    sc = spark.sparkContext
    group = f"test-query-{next(_GROUP_SEQ)}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _norm(rows, cols):
    """Rows as a sorted list of tuples; maps as sorted item tuples."""
    def cell(v):
        return tuple(sorted(v.items())) if isinstance(v, dict) else v
    return sorted((tuple(cell(r[c]) for c in cols) for r in rows),
                  key=repr)


# ---------------------------------------------------------------------------
# parity: driver read == Spark plan == model, on tiny random tables
# ---------------------------------------------------------------------------

def _agg_model(rows):
    out = {}
    for r in rows:
        k = r["key"]
        if k not in out:
            out[k] = dict(r, tags=dict(r["tags"]))
            continue
        acc = out[k]
        acc["cnt"] += r["cnt"]
        if (r["ts"], r["last"]) > (acc["ts"], acc["last"]):
            acc["last"] = r["last"]
        acc["ts"] = max(acc["ts"], r["ts"])
        for mk, mv in r["tags"].items():
            acc["tags"][mk] = acc["tags"].get(mk, 0) + mv
    return list(out.values())


def _long(name, nullable=False):
    return Field(name, T.LongType(), nullable)


#: per table kind: (schema, props, row strategy, model of the rows the
#: table holds after processing, successor of a key, key strategy)
_KEYS = st.integers(0, 7)
KINDS = {
    "aggregating": dict(
        schema=Schema((_long("key"),), (), (
            _long("cnt"), _long("ts"), Field("last", T.StringType()),
            Field("tags", T.MapType(T.StringType(), T.LongType(), False)))),
        props=dict(aggregations="sum(cnt), max(ts), max_by(last, ts), "
                                "map_sum(tags)"),
        row=st.fixed_dictionaries({
            "key": _KEYS, "cnt": st.integers(-5, 5),
            "ts": st.integers(0, 3), "last": st.sampled_from("xyz"),
            "tags": st.dictionaries(st.sampled_from("ab"),
                                    st.integers(0, 9), max_size=2)}),
        model=_agg_model),
    "age_off": dict(
        schema=Schema((_long("key"),), (), (_long("ts", True),)),
        props=dict(filters="ageOff(ts, 1000)"),
        row=st.fixed_dictionaries({
            "key": _KEYS,
            "ts": st.one_of(st.none(), st.integers(NOW - 2000, NOW))}),
        model=lambda rows: [r for r in rows if r["ts"] is not None
                            and NOW - r["ts"] < 1000]),
    "row_iterator": dict(
        schema=Schema((_long("key"),), (), (
            Field("label", T.StringType(), True), _long("v", True))),
        props=dict(iterators="securityFilter(label, public)"),
        row=st.fixed_dictionaries({
            "key": _KEYS,
            "label": st.sampled_from([None, "", "public", "secret"]),
            "v": st.integers(0, 9)}),
        model=lambda rows: [r for r in rows
                            if r["label"] in (None, "", "public")]),
    "binary_key": dict(
        schema=Schema((Field("key", T.BinaryType()),), (),
                      (_long("v", True),)),
        props={},
        row=st.fixed_dictionaries({
            "key": st.binary(min_size=1, max_size=2).map(
                lambda b: bytes(x % 4 for x in b)),
            "v": st.integers(0, 9)}),
        model=list, succ=lambda k: k + b"\x00",
        key=st.binary(min_size=1, max_size=2).map(
            lambda b: bytes(x % 5 for x in b))),
    "two_dim_key": dict(
        schema=Schema((_long("key"), Field("k2", T.StringType())), (),
                      (_long("v", True),)),
        props={},
        row=st.fixed_dictionaries({
            "key": _KEYS, "k2": st.sampled_from("pq"),
            "v": st.integers(0, 9)}),
        model=list),
}


def _build(spark, tmp_path, kind, batches, evolve=False, split=False):
    spec = KINDS[kind]
    schema = spec["schema"]
    props = TableProperties(**spec["props"])
    if split:
        props.partition_split_threshold = 4
    t = SleeperTable.create(spark, str(tmp_path), schema, props,
                            split_points=[4] if kind == "two_dim_key"
                            else None)
    for i, rows in enumerate(batches):
        if evolve and i == len(batches) - 1:
            t.add_value_column(Field("extra", T.StringType(), True))
            rows = [dict(r, extra=f"e{r['v']}") for r in rows]
        if split and i == len(batches) - 1:
            t.split_partitions()
        if rows:
            cols = [f.name for f in t.schema.all_fields()]
            t.ingest(spark.createDataFrame(
                [tuple(r.get(c) for c in cols) for r in rows],
                t.schema.to_struct_type()))
    return t


def _check_parity(t, kind, rows, probe_keys, bloom_fp):
    spec = KINDS[kind]
    succ = spec.get("succ", lambda k: k + 1)
    cols = [f.name for f in t.schema.all_fields()]
    held = spec["model"]([dict({c: None for c in cols}, **r) for r in rows])
    ctx = (mock.patch.object(query_mod, "file_may_contain_keys",
                             lambda f, pts: True)
           if bloom_fp else contextlib.nullcontext())
    with ctx:  # a Bloom false positive keeps every file
        for k in probe_keys:
            q = Query([Region.exact(t.schema, key=k)])
            assert t.explain_query(q)["read_path"] == "driver"
            got = _norm(t.exact_key_query(NOW, key=k).collect(), cols)
            spark_plan = _norm(t.range_key_query(
                [("key", k, succ(k))], NOW).collect(), cols)
            model = _norm([r for r in held if r["key"] == k], cols)
            assert got == spark_plan == model, (kind, k)
        # one region per key: the regions may hit several leaves that
        # share an ancestor file, which each leaf must read only for
        # its own keys
        q = Query([Region.exact(t.schema, key=k) for k in probe_keys])
        assert t.explain_query(q)["read_path"] == "driver"
        got = _norm(t.query(q, NOW).collect(), cols)
        spark_plan = _norm(t.range_key_query(
            [("key", k, succ(k)) for k in probe_keys], NOW).collect(), cols)
        model = _norm([r for r in held if r["key"] in probe_keys], cols)
        assert got == spark_plan == model, (kind, probe_keys)


# no shrinking: every example builds a table through Spark, so a
# shrink pass would run for many minutes; the drawn inputs are tiny
_SETTINGS = settings(
    max_examples=5, deadline=None, derandomize=True, database=None,
    phases=[Phase.explicit, Phase.generate],
    suppress_health_check=[HealthCheck.function_scoped_fixture,
                           HealthCheck.too_slow])


def _parity_test(kind, evolve=False, split=False):
    spec = KINDS[kind]

    @_SETTINGS
    @given(batches=st.lists(st.lists(spec["row"], max_size=8),
                            min_size=2, max_size=3),
           probe_keys=st.lists(spec.get("key", st.integers(0, 9)),
                               min_size=1, max_size=3, unique=True),
           bloom_fp=st.booleans())
    def run(spark, tmp_path_factory, batches, probe_keys, bloom_fp):
        if split:  # enough distinct keys in the root file to split it
            batches = [[{"key": k, "label": "public", "v": k}
                        for k in range(8)]] + batches
        t = _build(spark, tmp_path_factory.mktemp(kind), kind, batches,
                   evolve=evolve, split=split)
        if split:
            assert len(list(t.store.tree.leaves())) > 1
        rows = [r for b in batches for r in b]
        if evolve:
            rows = ([dict(r, extra=None) for b in batches[:-1] for r in b]
                    + [dict(r, extra=f"e{r['v']}") for r in batches[-1]])
        _check_parity(t, kind, rows, probe_keys, bloom_fp)
    return run


test_parity_aggregating = _parity_test("aggregating")
test_parity_age_off = _parity_test("age_off")
test_parity_row_wise_iterator = _parity_test("row_iterator")
test_parity_file_before_add_value_column = _parity_test(
    "row_iterator", evolve=True)
test_parity_ancestor_file_after_split = _parity_test("row_iterator",
                                                     split=True)
test_parity_binary_key = _parity_test("binary_key")
test_parity_two_dim_key_first_pinned = _parity_test("two_dim_key")


# ---------------------------------------------------------------------------
# job counts: eligible point gets run no Spark job; the rest fall back
# ---------------------------------------------------------------------------

def _plain(spark, path, rows, **props):
    schema = Schema((_long("key"),), (), (_long("v"),))
    t = SleeperTable.create(spark, path, schema, TableProperties(**props))
    t.ingest(spark.createDataFrame(rows, schema.to_struct_type()))
    return t


def test_point_get_runs_no_spark_job(spark, tmp_path):
    t = _plain(spark, str(tmp_path / "t"), [(k, k * 10) for k in range(50)])
    rows, jobs = _jobs_of(spark, lambda: t.exact_key_query(key=7).collect())
    assert [tuple(r) for r in rows] == [(7, 70)]
    assert jobs == []
    audit = t.explain_query(Query([Region.exact(t.schema, key=7)]))
    assert audit["read_path"] == "driver"
    assert 1 <= audit["point_rows_matched"] <= 50
    # an absent key reads nothing at all
    rows, jobs = _jobs_of(spark, lambda: t.exact_key_query(key=99).collect())
    assert rows == [] and jobs == []


def test_aggregating_point_get_runs_no_spark_job(spark, tmp_path):
    schema = Schema((_long("key"),), (), (_long("cnt"), _long("mx")))
    t = SleeperTable.create(spark, str(tmp_path / "t"), schema,
                            TableProperties(aggregations="sum(cnt), max(mx)"))
    for batch in ([(1, 2, 5), (2, 1, 1)], [(1, 3, 4), (3, 1, 1)]):
        t.ingest(spark.createDataFrame(batch, schema.to_struct_type()))
    rows, jobs = _jobs_of(spark, lambda: t.exact_key_query(key=1).collect())
    assert [tuple(r) for r in rows] == [(1, 5, 5)]
    assert jobs == []


def test_projection_and_sql_stage_on_the_driver_frame(spark, tmp_path):
    schema = Schema((_long("key"),), (), (_long("a"), _long("b")))
    t = SleeperTable.create(spark, str(tmp_path / "t"), schema)
    t.ingest(spark.createDataFrame([(1, 2, 3), (2, 4, 5)],
                                   schema.to_struct_type()))
    q = Query([Region.exact(schema, key=2)], requested_value_fields=["b"])
    df = t.query(q)
    assert df.columns == ["key", "b"]
    assert [tuple(r) for r in df.collect()] == [(2, 5)]
    q = Query([Region.exact(schema, key=2)],
              sql="SELECT key, a + b AS s FROM query_results")
    assert [tuple(r) for r in t.query(q).collect()] == [(2, 9)]


def test_dataframe_only_iterator_falls_back_to_spark(spark, tmp_path):
    def double_v(args, schema):
        return lambda df: df.withColumn("v", df["v"] * 2)
    register_iterator("doubleV", double_v)
    t = _plain(spark, str(tmp_path / "t"), [(k, k) for k in range(20)],
               iterators="doubleV()")
    q = Query([Region.exact(t.schema, key=5)])
    assert t.explain_query(q)["read_path"] == "spark"
    rows, jobs = _jobs_of(spark, lambda: t.exact_key_query(key=5).collect())
    assert [tuple(r) for r in rows] == [(5, 10)]
    assert len(jobs) >= 1
    assert rows == t.range_key_query([("key", 5, 6)]).collect()


def test_cold_key_in_a_large_row_group_reads_on_the_driver(spark, tmp_path):
    n = 4 * POINT_KEY_ROWS  # one row group, one row per key
    t = _plain(spark, str(tmp_path / "t"), [(k, k) for k in range(n)])
    audit = t.explain_query(Query([Region.exact(t.schema, key=n // 2)]))
    assert audit["read_path"] == "driver"
    assert audit["point_rows_matched"] == n
    assert audit["point_key_rows"] == 1
    rows, jobs = _jobs_of(
        spark, lambda: t.exact_key_query(key=n // 2).collect())
    assert [tuple(r) for r in rows] == [(n // 2, n // 2)]
    assert jobs == []


def test_row_groups_past_the_scan_cap_fall_back_to_spark(spark, tmp_path):
    t = _plain(spark, str(tmp_path / "t"), [(k, k) for k in range(100)])
    with mock.patch.object(query_mod, "POINT_SCAN_ROWS", 99):
        audit = t.explain_query(Query([Region.exact(t.schema, key=5)]))
        assert audit["read_path"] == "spark"
        assert audit["point_rows_matched"] == 100
        assert "point_key_rows" not in audit
        rows, jobs = _jobs_of(spark,
                              lambda: t.exact_key_query(key=5).collect())
    assert [tuple(r) for r in rows] == [(5, 5)]
    assert len(jobs) >= 1


def test_hot_key_past_the_cap_falls_back_to_spark(spark, tmp_path):
    n = POINT_KEY_ROWS + 1
    t = _plain(spark, str(tmp_path / "t"),
               [(1, i) for i in range(n)] + [(2, 0)])
    audit = t.explain_query(Query([Region.exact(t.schema, key=1)]))
    assert audit["read_path"] == "spark"
    assert audit["point_key_rows"] == n
    assert t.explain_query(Query([Region.exact(t.schema, key=2)]))[
        "read_path"] == "driver"
    rows, jobs = _jobs_of(spark, lambda: t.exact_key_query(key=1).collect())
    assert len(jobs) >= 1
    assert sorted(r.v for r in rows) == list(range(n))
    assert sorted(rows) == sorted(
        t.range_key_query([("key", 1, 2)]).collect())


def test_point_get_frame_outlives_compaction_and_gc(spark, tmp_path):
    t = _plain(spark, str(tmp_path / "t"), [(k, k) for k in range(10)],
               gc_delay_seconds=0.0)
    t.ingest(spark.createDataFrame([(3, 33)], t.schema.to_struct_type()))
    before = t.exact_key_query(key=3)
    old_files = {r.filename for r in t.store.all_references()}
    t.compact()
    assert t.collect_garbage()
    assert not old_files & {r.filename for r in t.store.all_references()}
    assert sorted(tuple(r) for r in before.collect()) == [(3, 3), (3, 33)]


def test_mismatched_key_type_runs_the_spark_plan(spark, tmp_path):
    t = _plain(spark, str(tmp_path / "t"), [(k, k) for k in range(5)])
    q = Query([Region.exact(t.schema, key="3")])
    assert t.explain_query(q)["read_path"] == "spark"


# ---------------------------------------------------------------------------
# driver readers refresh a stale handle like query() does
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("read", [
    lambda t: list(t.sorted_rows()),
    lambda t: t.sorted_scan().collect(),
], ids=["sorted_rows", "sorted_scan"])
def test_driver_readers_see_another_handles_ingest(spark, tmp_path, read):
    schema = Schema((_long("key"),), (), (_long("v"),))
    path = str(tmp_path / "t")
    writer = SleeperTable.create(
        spark, path, schema,
        TableProperties(query_cache_timeout_seconds=0.0))
    reader = SleeperTable.load(spark, path)  # opened before the ingest
    writer.ingest(spark.createDataFrame([(1, 10), (2, 20)],
                                        schema.to_struct_type()))
    assert len(read(reader)) == 2
    assert len(reader.full_scan().collect()) == 2
