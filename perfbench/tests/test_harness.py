"""The closed loop and its metrics, driven by a fake workload (no Spark).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import pytest

from perfbench import harness
from perfbench.tracing import Tracer


class _Tracker:
    def getJobIdsForGroup(self, group):
        return []


class _Context:
    def setJobGroup(self, group, description):
        pass

    def setLocalProperty(self, key, value):
        pass

    def statusTracker(self):
        return _Tracker()


class _Spark:
    sparkContext = _Context()


class _Fake(harness.Workload):
    """Cycles of [a, a, b]; op ``b`` of cycle 1 raises, op 4 is wrong."""

    def __init__(self):
        super().__init__(_Spark(), Tracer(False), "", 0)
        self.recovered = []

    def cycle(self, n):
        return [(n, i, kind) for i, kind in enumerate("aab")]

    def shape(self, spec):
        return spec[2]

    def run(self, spec, prepared):
        with self.tracer.span("layer"):
            if spec[:2] == (1, 2):
                raise RuntimeError("boom")
        return 10, spec

    def check(self, spec, prepared, out):
        if spec[:2] == (1, 1):
            raise AssertionError("bad rows")

    def recover(self, spec):
        self.recovered.append(spec)

    def probe(self, spec, prepared, out):
        return {"recall": 1.0}


class _Clock:
    """Every op takes exactly one second."""

    def __init__(self):
        self.now = 0.0

    def perf_counter(self):
        self.now += 1.0
        return self.now


@pytest.fixture(autouse=True)
def _clock(monkeypatch):
    monkeypatch.setattr(harness, "time", _Clock())


@pytest.mark.parametrize("seconds, cycles", [(0.5, 1), (3, 1), (3.5, 2), (6, 2)])
def test_loop_runs_whole_cycles_until_the_time_is_spent(seconds, cycles):
    wl = _Fake()
    ops = harness.run_loop(wl, wl.spark, wl.tracer, seconds=seconds, trace=False)
    assert [o.shape for o in ops] == list("aab" * cycles)
    assert all(o.latency == 1.0 for o in ops)


def test_loop_counts_errors_and_wrong_outputs_as_failures():
    wl = _Fake()
    ops = harness.run_loop(wl, wl.spark, wl.tracer, seconds=4, trace=False)
    assert [o.shape for o in ops] == list("aabaab")
    assert [o.error is not None for o in ops] == [False] * 4 + [True] * 2
    assert "wrong output" in ops[4].error and "boom" in ops[5].error
    assert wl.recovered == [(1, 1, "a"), (1, 2, "b")]
    assert [o.rows for o in ops] == [10] * 4 + [0, 0]
    m = harness.end_to_end(ops, setup_s=1.0)
    assert m["success_ratio"] == pytest.approx(4 / 6)
    assert set(m) == set(harness.END_TO_END)


def test_traced_ops_follow_abba_order_within_each_shape():
    wl = _Fake()
    ops = harness.run_loop(wl, wl.spark, wl.tracer, seconds=0.5, trace=True)
    assert len(ops) == 6
    # per shape: traced, untraced, untraced, traced, traced, ...
    assert [o.traced for o in ops if o.shape == "a"] == [True, False, False, True]
    assert [o.traced for o in ops if o.shape == "b"] == [True, False]
    # spans come from traced ops only
    assert {s.op for s in wl.tracer.spans if s.name == "layer"} == {o.id for o in ops if o.traced}
    layer = harness.per_layer(ops, wl.tracer, peak_rss=2**20)
    assert set(layer) == set(harness.PER_LAYER)
    assert layer["operators.simsearch.recall_at_k"] == 1.0
    assert layer["sql.analyze_s"] == 0.0
    assert layer["memory.peak_rss_mb"] == 1.0


def test_every_span_metric_is_a_declared_per_layer_metric():
    assert set(harness.SPAN_METRICS.values()) <= set(harness.PER_LAYER)
    assert {"setup_s", "rows_per_s", "latency_p50_s", "latency_p90_s"} <= set(harness.END_TO_END)
    assert "memory.peak_rss_mb" in harness.PER_LAYER


def test_overhead_compares_medians_per_shape():
    ops = [
        harness.OpRecord(0, "a", 1.1, 0, True),
        harness.OpRecord(1, "a", 1.0, 0, False),
        harness.OpRecord(2, "b", 2.2, 0, True),
        harness.OpRecord(3, "b", 2.0, 0, False),
        harness.OpRecord(4, "c", 9.0, 0, True),  # never untraced: left out
    ]
    assert harness.overhead_pct(ops) == pytest.approx(10.0)
