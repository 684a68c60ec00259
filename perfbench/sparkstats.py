"""Spark-side counters read through the driver's py4j gateway.

* ``group_stages`` tells, for every job of one job group, which stages ran
  tasks and which were skipped.  Under adaptive execution a fresh query
  runs each shuffle map stage as its own job, and the next job of the same
  query lists that stage again as skipped; such a stage is matched to the
  completed one by its RDD ids.  A skipped stage with no completed twin in
  the group reused shuffle output from an earlier call: the call was not
  fresh.
* ``plan_metrics`` walks the executed (post-AQE) physical plan and sums
  its SQL metrics.
* ``phase_ms`` reads the query's planning-phase durations.
* ``stop_spark`` stops Spark and ends its JVM.
"""

from __future__ import annotations

import subprocess
from collections import defaultdict


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, then close the JVM's standard input, on which the JVM
    exits, and wait up to ``timeout_s`` seconds for it to end.

    Otherwise the input closes only as this process exits, and the JVM
    outlives it for as long as its own shutdown takes."""
    from pyspark import SparkContext

    spark.stop()
    gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            pass


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def group_stages(spark, group: str) -> tuple[int, int, int]:
    """``(jobs, stages_run, stages_skipped)`` for one job group."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    seen: dict[int, tuple[str, frozenset]] = {}
    for jid in jobs:
        for sid in _seq(store.job(jid).stageIds()):
            if sid not in seen:
                sd = store.lastStageAttempt(sid)
                rdds = frozenset(int(r) for r in _seq(sd.rddIds()))
                seen[sid] = (sd.status().toString(), rdds)
    run = {rdds for status, rdds in seen.values() if status == "COMPLETE"}
    n_run = sum(1 for status, _ in seen.values() if status == "COMPLETE")
    skipped = sum(
        1 for status, rdds in seen.values()
        if status == "SKIPPED" and rdds not in run
    )
    return len(jobs), n_run, skipped


# SQL metric name -> benchmark counter; values are summed over the plan
_METRICS = {
    ("FileSourceScanExec", "numFiles"): "scan.files_read",
    ("FileSourceScanExec", "filesSize"): "scan.bytes_read",
    ("FileSourceScanExec", "scanTime"): "scan.time_ms",
    ("ShuffleExchangeExec", "shuffleBytesWritten"): "exchange.shuffle_write_bytes",
    ("ShuffleExchangeExec", "remoteBytesRead"): "exchange.shuffle_read_bytes",
    ("ShuffleExchangeExec", "localBytesRead"): "exchange.shuffle_read_bytes",
    ("ShuffledHashJoinExec", "spillSize"): "spill_bytes",
    ("SortExec", "spillSize"): "spill_bytes",
    ("HashAggregateExec", "spillSize"): "spill_bytes",
    ("ObjectHashAggregateExec", "spillSize"): "spill_bytes",
    ("SortAggregateExec", "spillSize"): "spill_bytes",
    ("WindowExec", "spillSize"): "spill_bytes",
}


def _children(node) -> list:
    kind = node.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if kind.endswith("QueryStageExec"):
        return [node.plan()]
    if kind == "ReusedExchangeExec":
        return []  # ran once, where the exchange it reuses is counted
    kids = _seq(node.children())
    for sub in _seq(node.subqueries()):
        kids.append(sub)
    return kids


def plan_metrics(df) -> dict[str, float]:
    """Summed executed-plan SQL metrics of a DataFrame that has run."""
    out: dict[str, float] = defaultdict(float)
    root = df._jdf.queryExecution().executedPlan()
    rows_out = None
    stack, seen = [root], set()
    while stack:
        node = stack.pop()
        if node.id() in seen:
            continue
        seen.add(node.id())
        kind = node.getClass().getSimpleName()
        metrics = node.metrics()
        for (k, name), counter in _METRICS.items():
            if k == kind and metrics.contains(name):
                out[counter] += float(metrics.apply(name).value())
        if rows_out is None and metrics.contains("numOutputRows"):
            rows_out = float(metrics.apply("numOutputRows").value())
        stack.extend(_children(node))
    out["rows_out"] = rows_out or 0.0
    return dict(out)


def phase_ms(df) -> dict[str, float]:
    """Analysis / optimization / planning wall time of the final query."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        if phases.contains(name):
            out[name] = float(phases.apply(name).durationMs())
    return out
