"""Unit tests for the benchmark's own metric code (no Spark).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import types

import pandas as pd
import pytest

from perfbench import metrics, run
from perfbench.harness import Harness
from perfbench.pipeline import value_hash
from perfbench.trace import (
    Tracer,
    is_running,
    job_counts,
    process_tree,
    tree_cpu_seconds,
    tree_rss_bytes,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------------------------------------------------------- percentiles
@pytest.mark.parametrize("n, tail_p", [
    (1, None), (39, None),     # p75 at n=39 leaves 9 beyond
    (40, 75.0),                # p75 rank 30, 10 beyond
    (99, 75.0),                # p90 rank 90 leaves 9 beyond
    (100, 90.0),               # p90 rank 90, 10 beyond
    (199, 90.0),               # p95 rank 190 leaves 9 beyond
    (200, 95.0),
    (1000, 99.0),
])
def test_tail_needs_ten_samples_beyond(n, tail_p):
    s = metrics.timing_summary([float(i) for i in range(n)])
    assert s["n"] == n
    if tail_p is None:
        assert s["tail"] is None
    else:
        assert s["tail"]["p"] == tail_p
        rank = int(s["tail"]["value"]) + 1   # samples are 0..n-1
        assert n - rank >= metrics.MIN_BEYOND


def test_timing_summary_median_and_value():
    s = metrics.timing_summary([5.0, 1.0, 3.0, 2.0, 4.0] * 20)  # n=100
    assert s["p50"] == 3.0
    assert s["tail"] == {"p": 90.0, "value": 5.0}


def test_timing_summary_rejects_empty():
    with pytest.raises(ValueError):
        metrics.timing_summary([])


# ------------------------------------------------------------ self time
def _span(start, end, parent=None):
    return {"name": "s", "start": start, "end": end, "parent": parent,
            "call": 0}


def test_self_time_with_overlapping_children():
    spans = [
        _span(0.0, 10.0),
        _span(1.0, 4.0, parent=0),
        _span(3.0, 6.0, parent=0),    # overlaps the first child
        _span(8.0, 12.0, parent=0),   # runs past the parent's end
        _span(1.5, 2.0, parent=1),    # grandchild: not the root's child
    ]
    st = metrics.self_times(spans)
    # children cover [1, 6] and [8, 10] of the root: 7 of 10
    assert st[0] == pytest.approx(3.0)
    assert st[1] == pytest.approx(2.5)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)


def test_covered_length_nested_and_disjoint():
    assert metrics.covered_length([(2, 3), (1, 5), (7, 8)], 0, 10) == 5
    assert metrics.covered_length([], 0, 10) == 0
    assert metrics.covered_length([(11, 12)], 0, 10) == 0


def test_tracer_records_parents_and_unpatches():
    class Engine:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 1

        @classmethod
        def make(cls):
            return cls()

    tr = Tracer(True)
    tr.patch(Engine, "outer", "outer")
    tr.patch(Engine, "inner", "inner")
    tr.patch(Engine, "make", "make")
    tr.call = 7
    assert Engine.make().outer() == 2
    names = [s["name"] for s in tr.spans]
    assert names == ["make", "outer", "inner"]
    assert tr.spans[2]["parent"] == 1 and tr.spans[1]["parent"] is None
    assert all(s["call"] == 7 for s in tr.spans)
    tr.unpatch()
    Engine.make().outer()
    assert len(tr.spans) == 3
    assert isinstance(Engine.__dict__["make"], classmethod)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x"):
        pass
    assert tr.spans == []


# ----------------------------------------------------------- error rate
def test_error_rate():
    assert metrics.error_rate(10, 0) == 0.0
    assert metrics.error_rate(8, 2) == 0.25
    with pytest.raises(ValueError):
        metrics.error_rate(0, 0)
    with pytest.raises(ValueError):
        metrics.error_rate(3, 4)


# ------------------------------------------------ storage amplification
def test_storage_amplification_counts_hardlinks_once(tmp_path):
    v1, v2 = tmp_path / "v0001", tmp_path / "v0002"
    v1.mkdir()
    v2.mkdir()
    (v1 / "a.parquet").write_bytes(b"x" * 1000)
    os.link(v1 / "a.parquet", v2 / "a.parquet")   # linked into v2
    (v2 / "b.parquet").write_bytes(b"y" * 280)    # rewritten in v2
    disk = metrics.tree_bytes(str(tmp_path))
    assert disk == 1280
    assert metrics.storage_amplification(disk, live_vectors=10,
                                         dim=4) == 1280 / 160
    with pytest.raises(ValueError):
        metrics.storage_amplification(disk, live_vectors=0, dim=4)


# --------------------------------------------------------------- spread
def test_spread_matches_statistics_quantiles():
    s = metrics.spread([1.0, 2.0, 3.0, 4.0, 5.0])
    assert (s["q1"], s["median"], s["q3"]) == (1.5, 3.0, 4.5)
    assert s["spread"] == 1.0


# ------------------------------------------------------- oracle hashing
def test_value_hash_ignores_row_and_column_order():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, -0.0], "s": ["x", None]})
    b = pd.DataFrame({"s": [None, "x"], "v": [0.0, 0.5], "k": [2, 1]})
    assert value_hash(a) == value_hash(b)
    c = b.assign(v=[0.0, 0.500001])
    assert value_hash(a) != value_hash(c)


# ------------------------------------------------------ benchmark spec
def test_spec_matches_the_metrics_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} \
        == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} \
        == run.LAYER_UNITS


# ------------------------------------------------------- job accounting
class _FakeSparkContext:
    """Status tracker whose records only appear once the listener bus
    has been drained, as Spark's asynchronous status store behaves."""

    def __init__(self):
        self.drained = False
        self.groups = {"pb-1": [5, 6]}
        self.jobs = {5: [10], 6: [11, 12]}
        self.stages = {10: (4, 0), 11: (3, 1), 12: (2, 0)}
        self._jsc = self

    # sc._jsc.sc().listenerBus().waitUntilEmpty(ms)
    def sc(self):
        return self

    def listenerBus(self):
        return self

    def waitUntilEmpty(self, timeout_ms):
        self.drained = True

    def setJobGroup(self, group, desc):
        pass

    def statusTracker(self):
        ns = types.SimpleNamespace
        fake = self

        class Tracker:
            def getJobIdsForGroup(self, group):
                return fake.groups.get(group, []) if fake.drained else []

            def getJobInfo(self, jid):
                return ns(stageIds=fake.jobs[jid]) if jid in fake.jobs \
                    else None

            def getStageInfo(self, sid):
                done, failed = fake.stages[sid]
                return ns(numCompletedTasks=done, numFailedTasks=failed)
        return Tracker()


def test_job_counts_are_read_after_the_window():
    sc = _FakeSparkContext()
    h = Harness(True, 0.0, "", {})
    h.spark = types.SimpleNamespace(sparkContext=sc)
    h.phase = "warmup"
    h.call("op", lambda: None)
    h.phase = "window"
    h.call("op", lambda: None)
    assert "jobs" not in h.calls[1]      # nothing read per call
    h.count_jobs()
    assert sc.drained
    assert h.calls[1]["jobs"] == 2
    assert h.calls[1]["tasks"] == 4 + 3 + 1 + 2
    assert h.calls[1]["failed_tasks"] == 1
    assert "jobs" not in h.calls[0]      # only window calls are counted


def test_job_counts_refuse_an_evicted_job():
    sc = _FakeSparkContext()
    sc.drained = True
    sc.groups["pb-2"] = [7]              # job 7 is gone from the store
    with pytest.raises(RuntimeError):
        job_counts(sc, "pb-2")


# ---------------------------------------------------------- /proc probes
def test_process_probes_see_this_process_and_reaped_children():
    child = subprocess.Popen(["sleep", "30"])
    try:
        assert child.pid in process_tree()
        assert is_running(child.pid)
    finally:
        child.kill()
        child.wait()
    assert not is_running(child.pid)
    assert is_running(os.getpid())
    assert tree_cpu_seconds() > 0
    assert tree_rss_bytes() > 0
