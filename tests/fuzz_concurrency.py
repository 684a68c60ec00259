"""Randomized multi-writer concurrency fuzz (VERDICT r5 task 7).

Two writer engines over ONE catalog store run randomized DML scripts
from real THREADS.  Expected behavior of optimistic concurrency:

- a writer whose base snapshot is stale gets ConcurrentWriteError,
  refresh()es, and retries — never a silent lost update;
- every interleaving is equivalent to SOME serial order of the
  successfully-committed statements.

The achieved serial order is recovered exactly from snapshot ids (the
commit chain is total: a commit only succeeds at base == disk, so each
statement's last snapshot id orders it).  Each interleaving then
replays that order on a FRESH single-writer lake; the two final table
states must match row-for-row.  Statements are deterministic state
functions (INSERT VALUES / UPDATE / DELETE with value predicates), so
replay equality is exact.

Run directly for an exploratory sweep:
    python tests/fuzz_concurrency.py [n_rounds] [seed]
The suite runs a pinned smaller sweep (tests/test_concurrency.py).
"""

from __future__ import annotations

import os
import random
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _make_script(rng: random.Random, writer: int, n: int) -> list[str]:
    stmts = []
    for i in range(n):
        roll = rng.random()
        if roll < 0.55:
            vals = ", ".join(
                f"({writer}, {i}, {rng.randint(0, 99)})"
                for _ in range(rng.randint(1, 3))
            )
            stmts.append(f"INSERT INTO t VALUES {vals}")
        elif roll < 0.8:
            stmts.append(
                f"UPDATE t SET val = val + 100 WHERE val % 7 = "
                f"{rng.randint(0, 6)}"
            )
        else:
            stmts.append(
                f"DELETE FROM t WHERE val % 11 = {rng.randint(0, 10)}"
            )
    return stmts


def run_interleaving(spark, tmp_root: str, seed: int, n_stmts: int = 6):
    """One randomized two-writer interleaving.  Returns (n_conflicts,
    divergence_message_or_None)."""
    from ducklakexl_spark.catalog.catalog import ConcurrentWriteError
    from ducklakexl_spark.engine import DuckLakeSpark

    rng = random.Random(seed)
    root = os.path.join(tmp_root, f"fc_{seed}")
    kw = dict(
        spark=spark,
        data_path=os.path.join(root, "data"),
        local_catalog=os.path.join(root, "catalog"),
    )
    w0 = DuckLakeSpark(**kw)
    w0.sql("CREATE TABLE t(writer INTEGER, seq INTEGER, val INTEGER)")
    w1 = DuckLakeSpark(**kw)
    w1.refresh()
    writers = [w0, w1]
    scripts = [_make_script(rng, w, n_stmts) for w in range(2)]
    committed: list[tuple[int, int, str]] = []  # (snapshot, noop?, stmt)
    log_lock = threading.Lock()
    conflicts = [0]
    errors: list[str] = []

    def run_script(w: int) -> None:
        lake = writers[w]
        for stmt in scripts[w]:
            for attempt in range(60):
                prev = int(lake.catalog.current_snapshot)
                try:
                    lake.sql(stmt)
                    cur = int(lake.catalog.current_snapshot)
                    # a 0-row DELETE/UPDATE commits nothing (cur == prev):
                    # it serializes at its READ snapshot — after the
                    # commit that created `prev`, before prev+1 — and
                    # same-base no-ops commute (both effect-free), so
                    # (snap, noop-flag) is a total enough order
                    with log_lock:
                        committed.append((cur, int(cur == prev), stmt))
                    break
                except ConcurrentWriteError:
                    conflicts[0] += 1
                    lake.refresh()
            else:
                errors.append(f"writer {w} starved on: {stmt}")

    def run_writer(w: int) -> None:
        try:
            run_script(w)
        except Exception as exc:  # anything but a conflict fails the run
            errors.append(f"writer {w} failed: {exc!r}")

    threads = [
        threading.Thread(target=run_writer, args=(w,)) for w in range(2)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        return conflicts[0], "; ".join(errors)

    # exact serial order from the snapshot chain
    ordered = sorted(committed, key=lambda p: (p[0], p[1]))
    serial = [stmt for _snap, _noop, stmt in ordered]
    real_snaps = [s for s, noop, _ in committed if not noop]
    if len(set(real_snaps)) != len(real_snaps):
        # two distinct statements claiming the same COMMIT snapshot
        # would mean a genuinely lost update
        return conflicts[0], f"duplicate commit snapshots: {real_snaps}"

    w0.refresh()
    got = sorted(tuple(r) for r in w0.sql("SELECT * FROM t").collect())

    replay = DuckLakeSpark(
        spark=spark,
        data_path=os.path.join(root, "rdata"),
        local_catalog=os.path.join(root, "rcatalog"),
    )
    replay.sql("CREATE TABLE t(writer INTEGER, seq INTEGER, val INTEGER)")
    for stmt in serial:
        replay.sql(stmt)
    want = sorted(tuple(r) for r in replay.sql("SELECT * FROM t").collect())
    if got != want:
        return conflicts[0], (
            f"state diverged from serial replay (seed {seed}):\n"
            f"  interleaved: {got}\n  serial:      {want}\n"
            f"  order: {serial}"
        )
    return conflicts[0], None


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    seed0 = int(sys.argv[2]) if len(sys.argv) > 2 else 600
    import tempfile

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    tmp = tempfile.mkdtemp(prefix="fuzz_conc_")
    total_conflicts, failures = 0, 0
    for i in range(n):
        c, div = run_interleaving(spark, tmp, seed0 + i)
        total_conflicts += c
        if div:
            failures += 1
            print(f"DIVERGENCE seed={seed0 + i}:\n{div}")
        else:
            print(f"round {i}: ok ({c} conflicts retried)")
    print(
        f"done: {n} interleavings, {total_conflicts} conflicts retried, "
        f"{failures} divergences"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
