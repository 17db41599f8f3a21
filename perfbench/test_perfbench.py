"""Tests of the benchmark's own machinery (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.model import AggModel, Inputs, PlainModel  # noqa: E402
from perfbench.stats import percentile, summarize, tail_percentile  # noqa: E402
from perfbench.trace import Span, Tracer, self_times, union_length  # noqa: E402


# -- percentiles -------------------------------------------------------------

@pytest.mark.parametrize("n, want", [
    (5, None), (19, None), (39, None), (40, 75.0), (99, 75.0),
    (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want
    if want is not None:
        xs = list(range(n))
        beyond = sum(1 for x in xs if x > percentile(xs, want))
        assert beyond >= 10


def test_summary_names_median_tail_and_count():
    s = summarize("get_ms", [float(x) for x in range(1, 101)])
    assert s["get_ms.p50"] == pytest.approx(50.5)
    assert s["get_ms.n"] == 100
    assert "get_ms.p90" in s and "get_ms.p95" not in s
    assert set(summarize("x", [1.0, 2.0])) == {"x.p50", "x.n"}


# -- spans -------------------------------------------------------------------

def test_self_time_is_duration_minus_children_cover():
    spans = [Span("op.get", 0.0, 10.0, None, "op-1"),
             Span("query.plan", 1.0, 4.0, 0, "op-1"),
             Span("bloom.probe", 2.0, 3.0, 1, "op-1"),
             # overlaps its sibling: the union counts once
             Span("query.plan", 3.0, 5.0, 0, "op-1"),
             Span("ingest.write", 8.0, 12.0, 0, "op-1")]  # clipped at 10
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (5.0 - 1.0) - (10.0 - 8.0))
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(1.0)
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)


def test_tracer_nests_spans_and_sums_layer_self_time():
    tr = Tracer()
    tr.op = "op-7"
    with tr.span("op.get"):
        with tr.span("query.plan"):
            pass
    assert tr.spans[1].parent == 0 and tr.spans[0].parent is None
    by_layer = tr.layer_self_s({"op-7"})
    total = tr.spans[0].end - tr.spans[0].start
    assert by_layer["op"] + by_layer["query"] == pytest.approx(total)


def test_wrapper_records_only_while_enabled():
    tr = Tracer()
    f = tr.wrap("ingest.write", lambda x: x + 1,
                after=lambda out, a, k: tr.add("calls"))
    tr.enabled = False
    assert f(1) == 2 and not tr.spans and not tr.counters
    tr.enabled = True
    assert f(2) == 3 and len(tr.spans) == 1 and tr.counters["calls"] == 1


# -- seeded inputs -----------------------------------------------------------

def _draw(seed):
    ins = Inputs(seed, 10_000)
    base = [int(k) for k in ins.base_keys(500)]
    return (base, ins.rows(ins.sample(base, 50)), ins.agg_rows(base[:5]),
            ins.zipf_pick(base, 20), ins.absent_keys(5), ins.key_range(0.01))


def test_seeded_inputs_are_deterministic():
    assert _draw(3) == _draw(3)
    assert _draw(3) != _draw(4)


def test_generated_keys_are_even_and_absent_keys_odd():
    base, rows, _agg, picks, absent, (lo, hi) = _draw(5)
    assert all(r[0] % 2 == 0 for r in rows)
    assert all(k % 2 == 1 for k in absent)
    assert set(picks) <= set(base)
    assert 0 <= lo < hi <= 20_000


# -- the models catch wrong answers ---------------------------------------------

def _plain():
    m = PlainModel()
    m.ingest([(2, 10, "a"), (4, 20, "b"), (4, 21, "c"), (8, 30, "d")])
    return m


def test_plain_model_write_semantics():
    m = _plain()
    assert m.update_range(3, 9, 7) == 3
    assert m.get(4) == [(4, 7, "b"), (4, 7, "c")]
    assert m.merge([(4, 1, "z"), (6, 2, "y")]) == (2, 2)
    assert m.get(4) == [(4, 1, "z")]
    assert m.delete_range(0, 5) == 2
    assert m.all_rows() == [(6, 2, "y"), (8, 7, "d")]
    assert m.live_keys() == [6, 8]


def test_agg_model_collapses_per_key():
    m = AggModel()
    m.ingest([(2, 1, 5), (2, 3, 9), (4, 1, 1)])
    assert m.get(2) == [(2, 4, 9)]
    assert m.totals(4) == (2, 5, 9, 1)
    assert m.range_rows(0, 3) == [(2, 4, 9)]


class _Frame:
    def __init__(self, rows):
        self.rows = rows

    def collect(self):
        return self.rows


class _Table:
    """Answers every point get with the rows it was given."""
    schema = None

    def __init__(self, rows):
        self.rows = rows

    def exact_key_query(self, key):
        return _Frame([r for r in self.rows if r["key"] == key])


@pytest.mark.parametrize("served, failed", [
    ([(4, 20, "b"), (4, 21, "c")], 0),   # right
    ([(4, 20, "b")], 1),                  # a row dropped
    ([(4, 20, "b"), (4, 22, "c")], 1),    # a value changed
])
def test_runner_counts_a_wrong_answer_as_failed(served, failed):
    from perfbench.run import Runner
    from perfbench.workloads import PLAIN_SCHEMA, LookupL0

    w = LookupL0()
    w.model = _plain()
    table = _Table([dict(zip(("key", "v", "s"), r)) for r in served])
    table.schema = PLAIN_SCHEMA
    w.tables["table"] = table
    runner = Runner(None, w, None)
    runner.run_op(w.point_get(4), record=True, traced=False)
    assert (runner.attempted, runner.failed) == (1, failed)


# -- BENCHMARK.json names what the run prints ----------------------------------

def test_benchmark_json_matches_the_metrics_the_run_prints():
    import json

    from perfbench.layers import PER_LAYER, metrics
    from perfbench.run import END_TO_END

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"])
            for m in spec["per_layer"]} == PER_LAYER
    empty = {"log_bytes": 0, "bytes_written": 0, "user_bytes": 0}
    assert set(metrics(Tracer(), [], {}, (0, 0, 0), empty, 0.0)) == set(
        PER_LAYER)


def test_ratios_divide_by_the_reference_read_and_leave_it_out_of_the_mix():
    from perfbench.run import end_to_end

    def rec(kind, ms):
        return {"kind": kind, "metric": f"{kind}_ms", "s": ms / 1000,
                "units": 1.0}
    records = ([rec("point_get", ms) for ms in (30, 40, 50)]
               + [rec("spark_read", ms) for ms in (10, 20, 90)]
               + [rec("compact", 110)])
    space = {"dir_bytes": 3, "referenced_bytes": 2}
    # the first set-up ingest is left out: it pays the JVM's warm-up
    ingests = [(1.0, 100), (2.0, 400)]
    m, _detail = end_to_end(records, 1.0, ingests, 0.0, space)
    assert m["point_get_per_read"] == pytest.approx(40 / 20)
    # (3 gets at their median 40 ms + one 110-ms compaction) / 4 ops
    assert m["op_time_per_read"] == pytest.approx((3 * 40 + 110) / 4 / 20)
    assert m["ops_per_s"] == pytest.approx(4 / 0.23)
    assert m["space_amp"] == pytest.approx(1.5)
    assert m["ingest_rows_per_s"] == pytest.approx(200)
