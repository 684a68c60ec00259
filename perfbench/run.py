#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog_oltp --seed 1 --seconds 12 --trace 0

Run from the repository root.  It generates the inputs from ``--seed``,
starts Spark on ``local[<cores>]``, builds and warms the workload's state
(``setup_s``), runs a fixed number of timed operations sized by
``--seconds``, checks every result, and prints one JSON object as the last
line of standard output.  With ``--trace 0`` it reports the end-to-end
metrics; with ``--trace 1`` it instruments the program's layers from
outside (see ``instrument``) and reports the per-layer metrics instead.
Everything it writes goes under ``.perfbench_work/`` and is removed when
the run ends.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# a run that is still issuing operations after this long stops early, so
# a pathologically slow program still ends within three minutes
TIMED_DEADLINE_S = 100.0
# driver heap, pinned so that both sides of a comparison run alike
DRIVER_MEMORY = "2g"
# The serial collector sizes the heap from what the program allocates, not
# from measured pause times, so peak RSS does not follow the host's speed:
# under the default G1 it spread 0.12-0.24 between runs of one workload,
# under the serial collector 0.02.
GC_OPTION = "-XX:+UseSerialGC"


def _parse(argv):
    import workloads

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None,
                   help="scale factor override (the tests use 0.001)")
    return p.parse_args(argv)


def _start_spark(cpus: int):
    from ducklakexl_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    # SPARK_LOCAL_DIRS overrides spark.local.dir: keep shuffle files in WORK
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData {GC_OPTION} -Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={os.path.join(WORK, 'derby')}"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run(args) -> dict:
    import duckdb

    import instrument
    import procstat
    import summary
    import workloads
    from sparkstats import group_stages, stop_spark

    cpus = len(os.sched_getaffinity(0))
    spark = _start_spark(cpus)
    duck = duckdb.connect()
    duck.execute(f"SET temp_directory = '{os.path.join(WORK, 'duck')}'")
    ctx = workloads.Context(spark=spark, seed=args.seed, work=WORK, duck=duck)
    wl = workloads.WORKLOADS[args.workload]()
    if args.sf is not None:
        wl.sf = args.sf
    try:
        t_spark = time.perf_counter()
        wl.setup(ctx)
        t_built = time.perf_counter()
        errors = []

        def execute(i: int, timed: bool, tracer=None):
            op = wl.op(i)
            group = f"perfbench-{'t' if timed else 'w'}{i}"
            spark.sparkContext.setJobGroup(group, op.label)
            root = None
            if tracer is not None:
                tracer.op = i  # every span of this op carries its number
                root = tracer.begin("op")
            t0 = time.perf_counter()
            try:
                result = op.run()
                ok = True
            except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
                ok, result = False, None
                errors.append(traceback.format_exc(limit=4))
            latency = time.perf_counter() - t0
            if root is not None:
                tracer.end(root)
            stale = False
            if ok:
                try:
                    ok = bool(op.check(result))
                except Exception:  # noqa: BLE001
                    ok = False
                    errors.append(traceback.format_exc(limit=4))
                if not ok:
                    errors.append(f"output mismatch: op {i} {op.label}")
            jobs, run_stages, skipped = group_stages(spark, group)
            if op.fresh_guard and skipped:
                stale = True
                errors.append(f"op {i} {op.label}: {skipped} stage(s) skipped")
            return op, ok and not stale, latency, stale, (jobs, run_stages, skipped)

        for i in range(wl.warm_ops):
            execute(i, timed=False)
        warm_ok = not errors
        setup_s = time.perf_counter() - T_START
        print(
            f"perfbench setup: spark {t_spark - T_START:.1f} s, inputs and "
            f"state {t_built - t_spark:.1f} s, warm-up {T_START + setup_s - t_built:.1f} s",
            file=sys.stderr,
        )

        tracer = None
        if args.trace:
            tracer = instrument.install(spark)
        n_ops = wl.n_ops(args.seconds)
        pids = procstat.children(os.getpid())  # the JVM and its children
        py_w0 = procstat.write_bytes(os.getpid())
        jvm_w0 = sum(procstat.write_bytes(p) for p in pids)
        samples = {"read": [], "write": []}
        attempted = failed = stale_calls = user_bytes = 0
        stages = [0, 0, 0]
        t_phase = time.perf_counter()
        for i in range(wl.warm_ops, wl.warm_ops + n_ops):
            if time.perf_counter() - t_phase > TIMED_DEADLINE_S:
                break
            op, ok, latency, stale, st = execute(i, timed=True, tracer=tracer)
            print(f"perfbench op {i} {op.label} {latency * 1000:.1f} ms", file=sys.stderr)
            attempted += 1
            stale_calls += stale
            stages = [a + b for a, b in zip(stages, st)]
            if ok:
                samples[op.kind].append(latency)
                user_bytes += op.user_bytes
            else:
                failed += 1
        py_w = procstat.write_bytes(os.getpid()) - py_w0
        jvm_w = sum(procstat.write_bytes(p) for p in pids) - jvm_w0
        if tracer is not None:
            tracer.unwrap_all()
        t_end = time.perf_counter()
        final_ok = wl.final_check()
        print(
            f"perfbench timed phase {t_end - t_phase:.1f} s, "
            f"final check {time.perf_counter() - t_end:.1f} s",
            file=sys.stderr,
        )
        peak_rss = procstat.peak_rss_mb([os.getpid()] + procstat.children(os.getpid()))
        busy = sum(samples["read"]) + sum(samples["write"])
        done = len(samples["read"]) + len(samples["write"])
        ops_per_s = done / busy if busy else 0.0
        correct = final_ok and failed == 0 and warm_ok
        for e in errors:
            print(e, file=sys.stderr)

        info = {}
        if args.trace:
            metrics = instrument.per_layer(
                tracer, n_ops=max(1, attempted), stages=stages,
                end_state=wl.end_state(),
            )
            metrics["proc.py_write_bytes"] = (py_w / max(1, attempted), "B/op")
            metrics["proc.jvm_write_bytes"] = (jvm_w / max(1, attempted), "B/op")
            # a workload that writes no user data has no amplification: 0
            amp = (py_w + jvm_w) / user_bytes if user_bytes else 0.0
            metrics["write_amp"] = (amp, "ratio")
            metrics["ops_per_s_traced"] = (ops_per_s, "1/s")
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "ops_per_s": (ops_per_s, "1/s"),
                "peak_rss_mb": (peak_rss, "MiB"),
            }
            stored = wl.stored_bytes_per_live_row()
            if stored is not None:
                metrics["stored_bytes_per_live_row"] = (stored, "B")
            # a workload reports the latencies of the op kinds it has
            for kind in ("read", "write"):
                xs = [x * 1000.0 for x in samples[kind]]
                if not xs:
                    continue
                pct, tail, n = summary.tail(xs)
                metrics[f"{kind}_p50_ms"] = (summary.median(xs), "ms")
                metrics[f"{kind}_tail_ms"] = (tail, "ms")
                info[f"{kind}_tail"] = f"p{pct:g} of {n} samples"
        info["stale_calls"] = stale_calls
        print("perfbench " + args.workload + ": " + json.dumps(info))
        return {
            "correct": bool(correct),
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
            },
        }
    finally:
        duck.close()
        stop_spark(spark)


def main(argv=None) -> int:
    sys.path[:0] = [HERE, ROOT]
    try:
        # the program, and the comparer of its parity tests (oracle.py)
        import ducklakexl_spark  # noqa: F401
        import tests.compare  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    import procstat

    args = _parse(argv)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    tempfile.tempdir = None
    os.environ["TZ"] = "UTC"
    time.tzset()
    # a terminated run still stops the processes it started (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    procstat.become_subreaper()
    try:
        result = run(args)
    finally:
        # whatever run() left, a JVM that outlasted stop_spark included
        procstat.stop_descendants()
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
