"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke tests run every workload end to end at sf0.001 (about half a
minute each) and require its output checks to pass.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time
import uuid

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import oracle  # noqa: E402
import summary  # noqa: E402
from tracer import HOOK, Tracer, covered  # noqa: E402


@pytest.mark.parametrize("n", [22, 23, 24, 30, 57, 100, 101, 999, 1000])
def test_tail_is_highest_percentile_with_ten_beyond(n):
    xs = list(range(1, n + 1))
    pct, value, count = summary.tail(xs)
    assert count == n
    assert pct > 50 and value > summary.median(xs)
    assert sum(1 for x in xs if x > value) >= 10
    # one percentile higher leaves fewer than ten samples beyond it
    rank_next = -(-(pct + 1) * n // 100)
    assert n - rank_next < 10


def test_tail_examples():
    assert summary.tail(range(1, 101)) == (90.0, 90.0, 100)
    assert summary.tail(range(1, 31)) == (66.0, 20.0, 30)
    assert summary.tail(range(1, 23)) == (54.0, 12.0, 22)
    # too few samples for a percentile above the median with ten beyond it:
    # the interpolated p90
    assert summary.tail([5.0, 1.0, 3.0]) == (90.0, pytest.approx(4.6), 3)
    assert summary.tail(range(1, 22)) == (90.0, pytest.approx(19.0), 21)
    assert summary.tail(range(6, 0, -1)) == (90.0, pytest.approx(5.5), 6)
    assert summary.tail([7.0]) == (90.0, 7.0, 1)
    assert summary.median([3.0, 1.0, 2.0, 10.0]) == 2.5


def test_covered_merges_overlaps():
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered([]) == 0


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


def test_self_time_subtracts_children():
    clock = FakeClock()
    t = Tracer(clock=clock)
    root = t.begin("parent")
    clock.now = 1.0
    a = t.begin("child")
    clock.now = 3.0
    t.end(a)
    clock.now = 5.0
    b = t.begin("child")
    clock.now = 6.0
    grand = t.begin("grandchild")
    clock.now = 6.5
    t.end(grand)
    clock.now = 7.0
    t.end(b)
    clock.now = 10.0
    t.end(root)
    assert t.self_time(root) == 6.0  # 10 s minus children 1-3 and 5-7
    assert t.self_time(b) == 1.5
    assert t.totals() == {"parent": 10.0, "child": 4.0, "grandchild": 0.5}
    assert t.totals(self_time=True) == {"parent": 6.0, "child": 3.5, "grandchild": 0.5}


def test_wrap_records_nested_spans_and_restores():
    clock = FakeClock()
    t = Tracer(clock=clock)

    class Layer:
        def outer(self):
            clock.now += 1.0
            self.inner()
            clock.now += 1.0
            return "done"

        def inner(self):
            clock.now += 2.0

    t.wrap(Layer, "outer", "layer.outer")
    t.wrap(Layer, "inner", "layer.inner")
    assert Layer().outer() == "done"
    assert t.totals() == {"layer.outer": 4.0, "layer.inner": 2.0}
    assert t.totals(self_time=True)["layer.outer"] == 2.0
    assert t.calls() == {"layer.outer": 1, "layer.inner": 1}
    t.unwrap_all()
    Layer().outer()
    assert len(t.spans) == 2


def test_hook_time_is_charged_to_no_layer():
    clock = FakeClock()
    t = Tracer(clock=clock)

    def work():
        clock.now += 2.0

    def after(_r, _a, _k):
        clock.now += 5.0  # the instrumentation's own work

    hooked = t.traced(work, "layer.child", after=after)
    t.traced(hooked, "layer.parent")()
    # the 5 s hook runs inside both spans but is charged to neither
    assert t.totals() == {"layer.parent": 2.0, "layer.child": 2.0, HOOK: 5.0}
    own = t.totals(self_time=True)
    assert own["layer.child"] == 2.0 and own["layer.parent"] == 0.0


def test_comparer_ignores_row_and_column_order():
    import duckdb

    con = duckdb.connect()
    want = oracle.expect(con, "SELECT * FROM (VALUES (1, 'x'), (2, NULL)) t(a, b)")
    spark_dtypes = [("b", "string"), ("a", "int")]
    assert oracle.matches(spark_dtypes, [(None, 2), ("x", 1)], want)
    assert not oracle.matches(spark_dtypes, [(None, 2), ("y", 1)], want)
    assert not oracle.matches(spark_dtypes, [(None, 2)], want)
    # the value's type family is kept: 1.0 is not 1
    assert not oracle.matches(spark_dtypes, [(None, 2), ("x", 1.0)], want)


def test_comparer_rejects_dtype_drift():
    import duckdb

    con = duckdb.connect()
    want = oracle.expect(con, "SELECT 1.5::DOUBLE AS v")
    assert oracle.matches([("v", "double")], [(1.5,)], want)
    with pytest.raises(AssertionError, match="dtype drift"):
        oracle.matches([("v", "decimal(10,1)")], [(1.5,)], want)


def test_freshness_guard_sees_a_reused_shuffle():
    """Re-collecting an executed DataFrame in a new job group reuses its
    shuffle files; ``group_stages`` must report those stages as skipped."""
    from ducklakexl_spark.session import get_spark
    from sparkstats import group_stages, stop_spark

    spark = get_spark(app_name="perfbench-test", master="local[2]",
                      extra_conf={"spark.driver.memory": "1g"})
    try:
        sc = spark.sparkContext
        df = spark.range(0, 10_000, numPartitions=4).selectExpr("id % 7 AS k")
        df = df.groupBy("k").count()  # one shuffle
        sc.setJobGroup("perfbench-test-a", "first collect")
        first = sorted(df.collect())
        sc.setJobGroup("perfbench-test-b", "re-collect")
        again = sorted(df.collect())
        jobs_a, run_a, skipped_a = group_stages(spark, "perfbench-test-a")
        jobs_b, run_b, skipped_b = group_stages(spark, "perfbench-test-b")
    finally:
        stop_spark(spark)
    assert first == again and len(first) == 7
    assert jobs_a >= 1 and run_a >= 2 and skipped_a == 0
    assert jobs_b >= 1 and skipped_b > 0


def _tagged(tag: str) -> set[int]:
    """Live processes whose environment carries ``tag`` (a run and every
    process it starts inherit it)."""
    found = set()
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/environ", "rb") as f:
                if tag.encode() in f.read():
                    found.add(int(entry))
        except OSError:
            continue
    return found


def _run(args, out_dir, terminate_when_jvm_up=False):
    """Run the benchmark, noting every process it starts.  Returns the exit
    code, standard output, standard error and the pids of the processes
    seen that still exist, in any state, once the run has exited."""
    tag = uuid.uuid4().hex
    env = dict(os.environ, PERFBENCH_TEST_TAG=tag)
    out, err = os.path.join(out_dir, "out"), os.path.join(out_dir, "err")
    with open(out, "w") as fo, open(err, "w") as fe:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "run.py"), *args],
            cwd=os.path.dirname(HERE), env=env, stdout=fo, stderr=fe,
        )
    seen = set()
    try:
        deadline = time.monotonic() + 600
        while proc.poll() is None and time.monotonic() < deadline:
            seen |= _tagged(tag)
            if terminate_when_jvm_up and len(seen) >= 2:
                proc.send_signal(signal.SIGTERM)
                terminate_when_jvm_up = False
            time.sleep(0.2)
    finally:
        proc.kill()
        proc.wait()
    assert len(seen) >= 2, "the run started no JVM"
    left = {p for p in seen if p != proc.pid and os.path.exists(f"/proc/{p}")}
    with open(out) as fo, open(err) as fe:
        return proc.returncode, fo.read(), fe.read(), left


def test_terminated_run_stops_its_processes(tmp_path):
    """A run sent SIGTERM while Spark is up ends its JVM before it exits."""
    code, out, _err, left = _run(
        ["--workload", "catalog_oltp", "--seed", "3", "--seconds", "1",
         "--trace", "0", "--sf", "0.001"], tmp_path, terminate_when_jvm_up=True)
    assert code != 0
    assert out.strip() == ""
    assert left == set()


def _benchmark_spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


# the end-to-end metrics of a workload that stores nothing and only reads
READ_ONLY = {"setup_s", "ops_per_s", "peak_rss_mb", "read_p50_ms", "read_tail_ms"}


@pytest.mark.parametrize("workload", ["catalog_oltp", "lake_analytics", "pipeline_operators"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_sf0001(workload, trace, tmp_path):
    spec = _benchmark_spec()
    code, out, err, left = _run(
        ["--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--sf", "0.001"], tmp_path)
    assert code == 0, err[-3000:]
    # every process the run started had ended, and was reaped, before it exited
    assert left == set()
    result = json.loads(out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, err[-3000:]
    assert result["failed"] == 0 and result["attempted"] >= 1
    want = spec["per_layer" if trace else "end_to_end"]
    if workload == "pipeline_operators" and not trace:
        want = [m for m in want if m["name"] in READ_ONLY]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if trace:
        assert result["metrics"]["spark.stages_skipped"]["value"] == 0
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    import shutil

    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "catalog_oltp",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
    assert sorted(os.listdir(tmp_path)) == ["BENCHMARK.json", "perfbench"]
