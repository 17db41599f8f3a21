"""Key-bounded queries read on the driver (query.QueryExecutor): a point
get, a range scan or a batch get whose matched row groups and in-bounds
key rows are under the caps is merged and processed by the Arrow kernels
of sorted_scan and handed back as a local DataFrame — no Spark job —
while the Spark plan stays the answer for every other query. The two
readers must agree row for row, both must agree with a pure-Python
model, and the sorted_rows stream must give the same rows in key
order."""

from __future__ import annotations

import contextlib
import itertools
from collections import Counter
from unittest import mock

import pytest
from hypothesis import HealthCheck, Phase, given, settings, strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sleeper_spark import query as query_mod
from sleeper_spark import sketches
from sleeper_spark.iterators import register_iterator
from sleeper_spark.properties import TableProperties
from sleeper_spark.query import DRIVER_KEY_ROWS, Query
from sleeper_spark.ranges import Range, Region
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
        model=list,
        key=st.binary(min_size=1, max_size=2).map(
            lambda b: bytes(x % 5 for x in b))),
    "two_dim_key": dict(
        schema=Schema((_long("key"), Field("k2", T.StringType())), (),
                      (_long("v", True),)),
        props={},
        row=st.fixed_dictionaries({
            "key": _KEYS, "k2": st.sampled_from("pq"),
            "v": st.integers(0, 9)}),
        model=list, batch=[{"k2": "p"}, {"k2": "q"}, {"k2": "r"}],
        k2=st.sampled_from(["", "p", "q", "r"])),
    "double_value": dict(
        schema=Schema((_long("key"),), (), (
            Field("d", T.DoubleType(), True), _long("v", True))),
        props={},
        row=st.fixed_dictionaries({
            "key": _KEYS,
            "d": st.one_of(st.none(), st.sampled_from([-1.5, 0.0, 2.5])),
            "v": st.integers(0, 9)}),
        model=list,
        value=st.one_of(st.none(), st.sampled_from([-1.5, 0.0, 1.0, 2.5]))),
}


def _bounds(values):
    """(min, max, min_inclusive, max_inclusive) drawn from ``values``."""
    return st.tuples(values, values, st.booleans(), st.booleans())


def _region(spec):
    """A region bounding the first row key on both sides, inclusive or
    exclusive at either end (possibly empty), plus a range on ``k2``
    when the kind has one."""
    dims = [_bounds(spec.get("key", st.integers(0, 9))).map(
        lambda b: Range("key", *b))]
    if "k2" in spec:
        dims.append(st.one_of(st.none(), _bounds(spec["k2"]).map(
            lambda b: Range("k2", *b))))
    return st.tuples(*dims).map(
        lambda rs: Region(tuple(r for r in rs if r is not None)))


def _inside(v, r: Range) -> bool:
    """``v`` within ``r``, from its inclusive flags (not canonicalised);
    a NULL fails any real bound, an unbounded range keeps it (the SQL
    semantics of value_ranges)."""
    if r.min is None and r.max is None:
        return True
    if v is None:
        return False
    return ((r.min is None or r.min < v or (r.min_inclusive and v == r.min))
            and (r.max is None or v < r.max
                 or (r.max_inclusive and v == r.max)))


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


def _check_parity(t, kind, rows, probe_keys, bloom_fp, regions,
                  value_range, spark_plan):
    spec = KINDS[kind]
    cols = [f.name for f in t.schema.all_fields()]
    held = spec["model"]([dict({c: None for c in cols}, **r) for r in rows])

    def agree(read, want, query=None):
        """The driver read runs no Spark job and equals the Spark plan
        and the model; ``explain_query`` names the driver for it, and
        the ``sorted_rows`` stream of it is the Spark plan's rows in key
        order."""
        if query is not None:
            assert t.explain_query(query)["read_path"] == "driver"
        got, jobs = _jobs_of(t.spark, lambda: read().collect())
        with spark_plan():
            oracle = _norm(read().collect(), cols)
        assert jobs == [], (kind, query)
        assert _norm(got, cols) == oracle == _norm(want, cols), (kind, query)
        if query is not None:
            streamed = list(t.sorted_rows(query, now_millis=NOW))
            order = [tuple(r[k] for k in t.schema.key_names)
                     for r in streamed]
            assert order == sorted(order), (kind, query)
            assert _norm(streamed, cols) == oracle, (kind, query)

    ctx = (mock.patch.object(query_mod, "file_may_contain_keys",
                             lambda f, pts: True)
           if bloom_fp else contextlib.nullcontext())
    with ctx:  # a Bloom false positive keeps every file
        for k in probe_keys:
            agree(lambda: t.exact_key_query(NOW, key=k),
                  [r for r in held if r["key"] == k],
                  Query([Region.exact(t.schema, key=k)]))
        # one region per key: the regions may hit several leaves that
        # share an ancestor file, which each leaf must read only for
        # its own keys
        q = Query([Region.exact(t.schema, key=k) for k in probe_keys])
        agree(lambda: t.query(q, NOW),
              [r for r in held if r["key"] in probe_keys], q)
        # a batch get of the probe keys, the first one twice: its rows
        # come back once
        batch = [dict(extra, key=k) for k in probe_keys + probe_keys[:1]
                 for extra in spec.get("batch", [{}])]
        agree(lambda: t.batch_exact_key_query(batch, NOW),
              [r for r in held if any(all(r[f] == v for f, v in b.items())
                                      for b in batch)])
    # a range scan: the OR of one to three regions
    vrs = [] if value_range is None else [Range("d", *value_range)]
    q = Query(regions, value_ranges=vrs)
    agree(lambda: t.query(q, NOW),
          [r for r in held
           if any(all(_inside(r[rr.field], rr) for rr in reg.ranges)
                  for reg in regions)
           and all(_inside(r[vr.field], vr) for vr in vrs)], q)


# no shrinking: every example builds a table through Spark, so a
# shrink pass would run for many minutes; the drawn inputs are tiny
_SETTINGS = settings(
    max_examples=5, deadline=None, derandomize=True, database=None,
    phases=[Phase.explicit, Phase.generate],
    suppress_health_check=[HealthCheck.function_scoped_fixture,
                           HealthCheck.too_slow])


def _parity_test(kind, evolve=False, split=False):
    spec = KINDS[kind]
    draws = dict(
        batches=st.lists(st.lists(spec["row"], max_size=8),
                         min_size=2, max_size=3),
        probe_keys=st.lists(spec.get("key", st.integers(0, 9)),
                            min_size=1, max_size=3, unique=True),
        bloom_fp=st.booleans(),
        regions=st.lists(_region(spec), min_size=1, max_size=3),
        value_range=(_bounds(spec["value"]) if "value" in spec
                     else st.none()))

    @_SETTINGS
    @given(**draws)
    def run(spark, tmp_path_factory, spark_plan, batches, probe_keys,
            bloom_fp, regions, value_range):
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
        _check_parity(t, kind, rows, probe_keys, bloom_fp, regions,
                      value_range, spark_plan)
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
test_parity_value_ranges_on_a_nullable_double = _parity_test("double_value")


# ---------------------------------------------------------------------------
# job counts: eligible key-bounded reads run no Spark job; the rest fall
# back
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
    assert 1 <= audit["rows_matched"] <= 50
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
    n = 4 * DRIVER_KEY_ROWS  # one row group, one row per key
    t = _plain(spark, str(tmp_path / "t"), [(k, k) for k in range(n)])
    audit = t.explain_query(Query([Region.exact(t.schema, key=n // 2)]))
    assert audit["read_path"] == "driver"
    assert audit["rows_matched"] == n
    assert audit["key_rows"] == 1
    rows, jobs = _jobs_of(
        spark, lambda: t.exact_key_query(key=n // 2).collect())
    assert [tuple(r) for r in rows] == [(n // 2, n // 2)]
    assert jobs == []


def test_row_groups_past_the_scan_cap_fall_back_to_spark(spark, tmp_path):
    t = _plain(spark, str(tmp_path / "t"), [(k, k) for k in range(100)])
    with mock.patch.object(query_mod, "DRIVER_SCAN_ROWS", 99):
        audit = t.explain_query(Query([Region.exact(t.schema, key=5)]))
        assert audit["read_path"] == "spark"
        assert audit["rows_matched"] == 100
        assert "key_rows" not in audit
        rows, jobs = _jobs_of(spark,
                              lambda: t.exact_key_query(key=5).collect())
    assert [tuple(r) for r in rows] == [(5, 5)]
    assert len(jobs) >= 1


def test_hot_key_past_the_cap_falls_back_to_spark(spark, tmp_path):
    n = DRIVER_KEY_ROWS + 1
    t = _plain(spark, str(tmp_path / "t"),
               [(1, i) for i in range(n)] + [(2, 0)])
    audit = t.explain_query(Query([Region.exact(t.schema, key=1)]))
    assert audit["read_path"] == "spark"
    assert audit["key_rows"] == n
    assert t.explain_query(Query([Region.exact(t.schema, key=2)]))[
        "read_path"] == "driver"
    rows, jobs = _jobs_of(spark, lambda: t.exact_key_query(key=1).collect())
    assert len(jobs) >= 1
    assert sorted(r.v for r in rows) == list(range(n))
    assert sorted(rows) == sorted(
        t.range_key_query([("key", 1, 2)]).collect())


def _leaved(spark, path, n, leaves=4, files=2):
    """A plain table of keys 0..n-1 (v = 10 * key) over ``leaves``
    leaves, each key ingested into one of ``files`` files per leaf."""
    schema = Schema((_long("key"),), (), (_long("v"),))
    t = SleeperTable.create(spark, path, schema, TableProperties(),
                            split_points=[n * i // leaves
                                          for i in range(1, leaves)])
    for f in range(files):
        t.ingest(spark.createDataFrame(
            [(k, 10 * k) for k in range(f, n, files)],
            schema.to_struct_type()))
    return t


def test_small_range_scan_runs_no_spark_job(spark, tmp_path):
    t = _leaved(spark, str(tmp_path / "t"), 10_000)
    lo, hi = 2_450, 2_550  # 1 % of the keys, across a leaf boundary
    q = Query([Region.of(Range("key", lo, hi))])
    audit = t.explain_query(q)
    assert audit["read_path"] == "driver"
    assert audit["key_rows"] == hi - lo
    assert hi - lo <= audit["rows_matched"] <= 10_000
    rows, jobs = _jobs_of(
        spark, lambda: t.range_key_query([("key", lo, hi)]).collect())
    assert jobs == []
    assert sorted(tuple(r) for r in rows) == [
        (k, 10 * k) for k in range(lo, hi)]


def test_batch_get_runs_no_spark_job(spark, tmp_path):
    t = _leaved(spark, str(tmp_path / "t"), 10_000)
    keys = [{"key": k} for k in range(0, 20_000, 500)]  # 40, half absent
    rows, jobs = _jobs_of(
        spark, lambda: t.batch_exact_key_query(keys).collect())
    assert jobs == []
    assert sorted(tuple(r) for r in rows) == [
        (k, 10 * k) for k in range(0, 10_000, 500)]


def test_range_past_the_key_cap_falls_back_to_spark(spark, tmp_path):
    n = DRIVER_KEY_ROWS + 100
    t = _leaved(spark, str(tmp_path / "t"), n, leaves=1, files=1)
    q = Query([Region.of(Range("key", 0, DRIVER_KEY_ROWS + 1))])
    audit = t.explain_query(q)
    assert audit["read_path"] == "spark"
    assert audit["key_rows"] == DRIVER_KEY_ROWS + 1
    rows, jobs = _jobs_of(spark, lambda: t.query(q).collect())
    assert len(jobs) >= 1
    assert sorted(tuple(r) for r in rows) == [
        (k, 10 * k) for k in range(DRIVER_KEY_ROWS + 1)]
    # a range just under the cap in the same file reads on the driver
    assert t.explain_query(Query([Region.of(Range(
        "key", 0, DRIVER_KEY_ROWS))]))["read_path"] == "driver"


def test_range_past_the_scan_cap_falls_back_to_spark(spark, tmp_path):
    t = _plain(spark, str(tmp_path / "t"), [(k, k) for k in range(100)])
    q = Query([Region.of(Range("key", 10, 20))])
    with mock.patch.object(query_mod, "DRIVER_SCAN_ROWS", 99):
        audit = t.explain_query(q)
        assert audit["read_path"] == "spark"
        assert audit["rows_matched"] == 100
        assert "key_rows" not in audit
        rows, jobs = _jobs_of(spark, lambda: t.query(q).collect())
        batch, batch_jobs = _jobs_of(spark, lambda: t.batch_exact_key_query(
            [{"key": 3}, {"key": 3}, {"key": 200}]).collect())
    assert len(jobs) >= 1 and len(batch_jobs) >= 1
    assert sorted(tuple(r) for r in rows) == [(k, k) for k in range(10, 20)]
    assert [tuple(r) for r in batch] == [(3, 3)]


def test_full_scan_keeps_the_spark_plan(spark, tmp_path):
    t = _plain(spark, str(tmp_path / "t"), [(k, k) for k in range(10)])
    audit = t.explain_query(Query([Region.of(Range("key", None, None))]))
    assert audit["read_path"] == "spark"
    assert "rows_matched" not in audit
    # one side unbounded is not key-bounded either
    audit = t.explain_query(Query([Region.of(Range("key", 3, None))]))
    assert audit["read_path"] == "spark"


def test_many_key_batch_reads_each_footer_once(spark, tmp_path):
    t = _leaved(spark, str(tmp_path / "t"), 6_000)
    files = {r.filename for r in t.store.all_references()}
    keys = [{"key": k} for k in range(0, 10_000, 2)]  # 5,000 keys
    stats = sketches.row_group_key_stats
    calls = []

    def counted(pf, key_name):
        calls.append(key_name)
        return stats(pf, key_name)
    with mock.patch.object(sketches, "row_group_key_stats", counted):
        rows, jobs = _jobs_of(
            spark, lambda: t.batch_exact_key_query(keys).collect())
    assert jobs == []
    assert sorted(tuple(r) for r in rows) == [
        (k, 10 * k) for k in range(0, 6_000, 2)]
    assert 0 < len(calls) <= len(files) == 8


def test_exact_and_canonicalised_string_bounds(spark, tmp_path,
                                               spark_plan):
    schema = Schema((Field("key", T.StringType()),), (), (_long("v"),))
    t = SleeperTable.create(spark, str(tmp_path / "t"), schema)
    words = ["a", "a\x00", "ab", "b", "b\x00", "ba", "c"]
    t.ingest(spark.createDataFrame([(w, i) for i, w in enumerate(words)],
                                   schema.to_struct_type()))
    cases = [
        Range("key", "a", "b", False, True),   # (a, b]
        Range("key", "a", "a", True, True),    # [a, a]
        Range("key", "b", "b", False, True),   # (b, b]: empty
        Range("key", "b", "a"),                # [b, a): empty
        Range("key", "ab", "b\x00", True, False),
    ]
    for r in cases:
        q = Query([Region.of(r)])
        assert t.explain_query(q)["read_path"] == "driver"
        got = sorted(x.key for x in t.query(q).collect())
        with spark_plan():
            oracle = sorted(x.key for x in t.query(q).collect())
        # the sorted_rows stream reads without the key pre-filter
        streamed = [x["key"] for x in t.sorted_rows(q)]
        assert got == oracle == streamed == [
            w for w in sorted(words) if _inside(w, r)], r


def test_empty_results_run_no_spark_job(spark, tmp_path):
    schema = Schema((_long("key"),), (), (_long("v"),))
    t = SleeperTable.create(spark, str(tmp_path / "t"), schema)
    for read in (lambda: t.batch_exact_key_query([]),
                 t.full_scan, t.sorted_scan,
                 lambda: t.added_rows_between(0),
                 lambda: t.deleted_rows_between(0),
                 lambda: t.updated_rows_between(0)):
        rows, jobs = _jobs_of(spark, lambda: read().collect())
        assert rows == [] and jobs == []


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


# ---------------------------------------------------------------------------
# local_rows_df: driver-held rows as a local frame
# ---------------------------------------------------------------------------

def test_local_rows_df_values_and_schema(spark):
    """local_rows_df returns the exact rows and column types
    createDataFrame would, including None/bool/float/str scalars and
    the empty-row-set case, keeps the declared names and nullability —
    and plans zero RDD stages."""
    scalars = (T.StructType([
        T.StructField("s", T.StringType()),
        T.StructField("i", T.LongType()),
        T.StructField("r", T.IntegerType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("b", T.BooleanType())]),
        [("a'b\\c", 1 << 40, 3, 0.1, True),
         ("lsh@3", -7, None, -2.5e-300, False),
         (None, 0, 0, -0.0, None)])
    not_null = (T.StructType([
        T.StructField("k", T.LongType(), False),
        T.StructField("s", T.StringType(), True)]),
        [(1, "x"), (2, None)])
    quoted_names = (T.StructType([
        T.StructField("a`b", T.LongType()),
        T.StructField("c.d", T.StringType())]),
        [(1, "x"), (2, None)])
    for schema, rows in (scalars, not_null, quoted_names):
        got = query_mod.local_rows_df(spark, rows, schema)
        ref = spark.createDataFrame(rows, schema)
        assert got.schema == schema
        assert [f.dataType for f in got.schema.fields] == \
            [f.dataType for f in ref.schema.fields]
        assert sorted(map(tuple, got.collect()), key=str) == \
            sorted(map(tuple, ref.collect()), key=str)
        empty = query_mod.local_rows_df(spark, [], schema)
        assert empty.count() == 0
        assert [f.dataType for f in empty.schema.fields] == \
            [f.dataType for f in ref.schema.fields]
        # LocalRelation end to end: no scan, no exchange, no python worker
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "Exchange" not in plan


def test_local_rows_df_nonfinite_doubles(spark):
    """NaN/Infinity floats were accepted by createDataFrame and must
    stay accepted (ivf/multi-family probe frames at the public API
    boundary)."""
    schema = T.StructType([T.StructField("i", T.LongType()),
                           T.StructField("d", T.DoubleType())])
    rows = [(1, float("nan")), (2, float("inf")),
            (3, float("-inf")), (4, 1.5)]
    got = {r.i: r.d for r in
           query_mod.local_rows_df(spark, rows, schema).collect()}
    assert got[1] != got[1]  # NaN
    assert got[2] == float("inf")
    assert got[3] == float("-inf")
    assert got[4] == 1.5
    # inside arrays too
    schema2 = T.StructType([
        T.StructField("v", T.ArrayType(T.DoubleType()))])
    arr = query_mod.local_rows_df(
        spark, [([float("nan"), 2.0],)], schema2).collect()[0].v
    assert arr[0] != arr[0] and arr[1] == 2.0


def test_local_rows_df_escaped_string_literals_mode(spark):
    """Strings round-trip unchanged whatever the SQL parser's
    spark.sql.parser.escapedStringLiterals mode (Hive compat): the
    rows never pass through SQL text."""
    schema = T.StructType([T.StructField("s", T.StringType()),
                           T.StructField("i", T.LongType())])
    rows = [("a'b\\c", 1), ("plain", 2), (None, 3)]
    key = "spark.sql.parser.escapedStringLiterals"
    old = spark.conf.get(key, "false")
    try:
        spark.conf.set(key, "true")
        got = sorted(map(tuple, query_mod.local_rows_df(
            spark, rows, schema).collect()), key=str)
        assert got == sorted(rows, key=str)
    finally:
        spark.conf.set(key, old)
    # and in the default mode
    got = sorted(map(tuple, query_mod.local_rows_df(
        spark, rows, schema).collect()), key=str)
    assert got == sorted(rows, key=str)


def test_local_rows_df_large_set(spark):
    """Delete and batch-lookup callers legally pass up to their 1M-row
    caps: a 10,001-row set is still one local frame whose collect runs
    no Spark job, with identical rows."""
    n = 10_001
    schema = T.StructType([T.StructField("k", T.LongType())])
    df = query_mod.local_rows_df(spark, [(i,) for i in range(n)], schema)
    rows, jobs = _jobs_of(spark, df.collect)
    assert len(rows) == n and jobs == []
    assert df.count() == n
    assert df.agg(F.sum("k")).collect()[0][0] == n * (n - 1) // 2


def test_local_rows_df_generator_input(spark):
    """Callers pass generators (ann sweep probe frames)."""
    schema = T.StructType([T.StructField("k", T.LongType())])
    df = query_mod.local_rows_df(spark, ((i,) for i in range(3)), schema)
    assert df.count() == 3
    empty = query_mod.local_rows_df(spark, iter(()), schema)
    assert empty.count() == 0


def test_local_rows_df_rejects_bad_input(spark):
    """A None in a non-nullable field, a value of the wrong type or a
    float that is not integral in an integer field fails at the Arrow
    conversion instead of building a frame."""
    schema = T.StructType([T.StructField("k", T.LongType(), False)])
    with pytest.raises(ValueError, match="non-nullable"):
        query_mod.local_rows_df(spark, [(1,), (None,)], schema)
    with pytest.raises(ValueError, match="convert"):
        query_mod.local_rows_df(spark, [("x",)], schema)
    with pytest.raises(ValueError, match="truncated"):
        query_mod.local_rows_df(spark, [(1,), (1.5,)], schema)
