"""Streaming micro-bench (VERDICT r9 task 8): the stream_* family has
correctness coverage (each drive hash-matches its batch oracle) but never
had a perf artifact.  This drives every registered stream_* query at one
SF and reports, per query: wall seconds for the full bounded drive,
micro-batch count, input rows, rows/sec, and per-batch duration stats
from the StreamingQuery progress events — the number that backs the "no
row-at-a-time UDFs on the streaming path" claim.

Methodology: each stream_* query stages the events fixture as a
file-source stream (maxFilesPerTrigger=1) and drives it to completion
through a memory/foreachBatch sink (run_to_completion).  The memory-sink
runner is wrapped here to capture ``recentProgress`` before the query
stops; the engine code is unchanged.  Wall time includes stream setup +
all micro-batches + final result materialization — the end-to-end cost a
bounded replay pays.

Usage: python tests/stream_bench.py [sf_dir]  -> one JSON line
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from ducklakexl_spark import queries as qmod
    from ducklakexl_spark.session import get_spark
    from ducklakexl_spark.streaming import pipeline as P

    qmod.load_all()
    spark = get_spark(app_name="stream_bench")

    # wrap the three run-to-completion drivers to capture progress
    progress: list[dict] = []

    def _wrap(mode_of):
        # mode_of(stream_df) -> the output mode the wrapped runner uses
        def run(stream_df, query_name):
            q = None
            try:
                # re-implement the tiny driver inline so we can read
                # recentProgress before stop() discards the query handle
                q = (
                    stream_df.writeStream.outputMode(mode_of(stream_df))
                    .format("memory")
                    .queryName(query_name)
                    .start()
                )
                q.processAllAvailable()
                for p in q.recentProgress:
                    progress.append(p)
            finally:
                if q is not None:
                    q.stop()
            return stream_df.sparkSession.sql(f"SELECT * FROM {query_name}")

        return run

    P.run_to_completion = _wrap(
        lambda df: "complete" if df.isStreaming else "append"
    )
    P.run_append_to_completion = _wrap(lambda df: "append")
    P.run_update_to_completion = _wrap(lambda df: "update")

    n_events = qmod.load(spark, sf_dir, "events").count()
    names = sorted(n for n in qmod.QUERIES if n.startswith("stream_"))
    out: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for name in names:
        progress.clear()
        spark.sparkContext.setJobDescription(f"stream_bench {name}")
        t0 = time.perf_counter()
        try:
            rows = qmod.QUERIES[name](spark, sf_dir).collect()
        except Exception as exc:  # noqa: BLE001 — keep benching
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            continue
        wall = time.perf_counter() - t0
        durs = sorted(
            p["durationMs"].get("triggerExecution", 0) / 1000.0
            for p in progress
            if p.get("numInputRows", 0) > 0
        )
        n_in = sum(p.get("numInputRows", 0) for p in progress)
        out[name] = {
            "wall_sec": round(wall, 3),
            "out_rows": len(rows),
            "batches": len(durs),
            "input_rows": n_in,
            "rows_per_sec": round(n_in / wall) if wall > 0 else None,
            "batch_sec_median": round(durs[len(durs) // 2], 3) if durs else None,
            "batch_sec_max": round(max(durs), 3) if durs else None,
        }
    print(
        json.dumps(
            {
                "metric": "stream_bench",
                "sf_dir": sf_dir,
                "events_rows": n_events,
                "queries": out,
                **({"errors": errors} if errors else {}),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
