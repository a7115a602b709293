"""Self-tests of the benchmark's measurement code.

Run from the checkout root: ``python3 -m pytest perfbench -q``. The last
two tests start Spark; the very last runs the benchmark itself four times
(about four minutes on 4 cores).
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import threading
import time
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from ledger import Span, Tracer, innermost_span, layer_totals, tail_percentile, tail_rank, union_length  # noqa: E402


# -- interval union -------------------------------------------------------------


def test_union_counts_overlapping_jobs_once():
    jobs = [(0.0, 2.0), (1.0, 3.0), (2.5, 2.7), (5.0, 6.0)]
    assert union_length(jobs) == pytest.approx(4.0)
    assert sum(e - s for s, e in jobs) == pytest.approx(5.2)


def test_union_clips_to_window_and_ignores_empty():
    assert union_length([(-1.0, 1.0), (3.0, 3.0), (4.0, 9.0)], 0.0, 5.0) == pytest.approx(2.0)
    assert union_length([]) == 0.0


def test_union_of_touching_intervals_is_their_sum():
    assert union_length([(0.0, 1.0), (1.0, 2.0)]) == pytest.approx(2.0)


# -- self time ------------------------------------------------------------------------


def _span(i, parent, start, end, layer="l"):
    return Span(i, parent, layer, f"s{i}", start, end)


def test_self_time_subtracts_union_of_children():
    root = _span(0, None, 0.0, 10.0)
    kids = [_span(1, 0, 1.0, 4.0), _span(2, 0, 3.0, 5.0), _span(3, 0, 9.0, 12.0)]
    root.children = kids
    # children cover [1, 5] and [9, 10] inside the parent: 5 s of 10
    assert root.self_time() == pytest.approx(5.0)
    assert kids[0].self_time() == pytest.approx(3.0)


def test_layer_totals_count_nested_same_layer_once():
    outer = _span(0, None, 0.0, 4.0, "a")
    inner = _span(1, 0, 1.0, 2.0, "a")
    other = _span(2, 1, 1.5, 1.8, "b")
    outer.children = [inner]
    inner.children = [other]
    tot = layer_totals([outer, inner, other])
    assert tot["a"]["calls"] == 2
    assert tot["a"]["s"] == pytest.approx(4.0)
    assert tot["a"]["self_s"] == pytest.approx(3.0 + 0.7)
    assert tot["b"]["s"] == pytest.approx(0.3)


def test_innermost_span_is_latest_started_open_span():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 2.0, 5.0), _span(2, 1, 3.0, 4.0)]
    assert innermost_span(spans, 3.5).id == 2
    assert innermost_span(spans, 4.5).id == 1
    assert innermost_span(spans, 7.0).id == 0
    assert innermost_span(spans, 11.0) is None


# -- the >= 10 beyond percentile rule ------------------------------------------------------


def test_tail_is_p90_when_samples_allow():
    samples = list(range(1, 101))
    value, pct, n = tail_percentile(samples)
    assert (value, pct, n) == (90, 0.9, 100)
    assert sum(1 for s in samples if s > value) == 10


def test_tail_is_lowered_until_ten_lie_beyond():
    samples = list(range(1, 31))
    value, pct, n = tail_percentile(samples)
    assert value == 20 and n == 30
    assert sum(1 for s in samples if s > value) == 10


def test_tail_needs_eleven_samples():
    assert tail_rank(11) == 1
    with pytest.raises(ValueError):
        tail_rank(10)


# -- tracer ---------------------------------------------------------------------------------


def _fake_package():
    core = types.ModuleType("fakepkg.core")
    user = types.ModuleType("fakepkg.user")

    def work(x):
        time.sleep(0.01)
        return x + 1

    core.work = work
    user.work = work  # a ``from fakepkg.core import work`` binding

    class Engine:
        def run(self, xs):
            return [core.work(x) for x in xs]

    core.Engine = Engine
    return core, user


def test_tracer_wraps_rebinds_and_restores():
    core, user = _fake_package()
    sys.modules["fakepkg.core"], sys.modules["fakepkg.user"] = core, user
    original = core.work
    try:
        tr = Tracer()
        tr.install([("core", core, "work"), ("engine", core.Engine, "run")], "fakepkg")
        assert user.work is core.work and core.work is not original
        core.Engine().run([1, 2])
        user.work(3)
        tr.uninstall()
        assert core.work is original and user.work is original
        assert [s.layer for s in tr.spans] == ["engine", "core", "core", "core"]
        run_span = tr.spans[0]
        assert [c.parent for c in run_span.children] == [0, 0]
        assert run_span.self_time() < run_span.duration
        tot = layer_totals(tr.spans)
        assert tot["core"]["calls"] == 3 and tot["engine"]["calls"] == 1
    finally:
        del sys.modules["fakepkg.core"], sys.modules["fakepkg.user"]


def test_tracer_parents_pool_thread_spans_under_open_span():
    tr = Tracer()
    inner = tr.wrap("inner", lambda: time.sleep(0.01))

    def fan_out():
        ts = [threading.Thread(target=inner) for _ in range(3)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=10)
            assert not t.is_alive()

    tr.wrap("outer", fan_out)()
    outer = [s for s in tr.spans if s.layer == "outer"][0]
    kids = [s for s in tr.spans if s.layer == "inner"]
    assert len(kids) == 3 and all(k.parent == outer.id for k in kids)


def test_tracer_records_errors_and_none_results():
    tr = Tracer()

    def boom():
        raise FileExistsError("taken")

    with pytest.raises(FileExistsError):
        tr.wrap("io", boom)()
    tr.wrap("io", lambda: None)()
    tot = layer_totals(tr.spans)["io"]
    assert tot["errors"] == {"FileExistsError": 1} and tot["none"] == 1


# -- Spark: job attribution by id range ------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    sys.path.insert(0, ROOT)
    from etl_hiscox_spark.session import get_spark

    s = get_spark("perfbench-selftest", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()


def test_id_range_sees_pool_thread_jobs_that_job_group_misses(spark):
    from etl_hiscox_spark.concurrency import run_overlapped

    from ledger import JobLedger

    sc = spark.sparkContext
    led = JobLedger(spark)
    lo = led.next_job_id()
    sc.setJobGroup("perfbench-selftest", "pool threads")
    try:
        spark.range(10).count()
        run_overlapped([lambda i=i: spark.range(100 + i).count() for i in range(3)])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = led.jobs(lo, led.next_job_id())
    ids = {j.id for j in jobs}
    grouped = set(sc.statusTracker().getJobIdsForGroup("perfbench-selftest"))
    assert all(j.end >= j.start for j in jobs)
    # the main thread's count is in the group; the three pool-thread
    # counts (at least one job each) are not, but the id range holds them
    assert grouped and grouped < ids
    assert len(ids - grouped) >= 3


# -- determinism of the traced counts ----------------------------------------------------


@pytest.mark.parametrize("workload", ["olap_sql", "index_maintenance"])
def test_two_traced_runs_give_identical_counts(workload, tmp_path):
    counts = []
    for _ in range(2):
        before = set(glob.glob(os.path.join(ROOT, ".bench_runs", f"{workload}-*.json")))
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", "1"],
            cwd=ROOT,
            capture_output=True,
            text=True,
            timeout=300,
        )
        assert out.returncode == 0, out.stderr[-3000:]
        assert json.loads(out.stdout.splitlines()[-1])["correct"]
        (path,) = set(glob.glob(os.path.join(ROOT, ".bench_runs", f"{workload}-*.json"))) - before
        with open(path) as f:
            doc = json.load(f)
        counts.append(
            {
                k: v
                for k, v in doc["per_layer"].items()
                if k in ("spark.jobs", "spark.tasks") or k.endswith(".calls")
            }
        )
    assert counts[0] == counts[1]
