"""Round-9 registry-wide plan-shape audit (guide §1.1 first-principles +
§7.2): for every PURE registry query, build the plan (no execution) and
count, from the formatted explain:

- parquet Scan nodes per table (replayed-pipeline smell: the same fact
  table scanned k>1 times when one pass would do),
- Exchange nodes (shuffle count),
- BroadcastNestedLoopJoin / CartesianProduct (quadratic smells),
- BatchEvalPython (row-at-a-time Python boundary).

The theoretical floor for most queries is one scan per distinct input
table; rows are sorted by excess scans so the worst replay offenders
surface first.  Explain-only: cheap enough to run over all 256 queries.

Usage: python tests/opt_scan_audit.py [name ...]  (default: all pure)
"""

from __future__ import annotations

import json
import os
import re
import sys


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

    from ducklakexl_spark import queries as qmod
    from ducklakexl_spark.session import get_spark

    qmod.load_all()
    spark = get_spark(app_name="opt_scan_audit")

    names = sys.argv[1:] or sorted(qmod.QUERIES)
    skip_prefixes = ("lakehouse_", "stream_", "repr_")
    out = {}
    for name in names:
        if name.startswith(skip_prefixes):
            continue
        fn = qmod.QUERIES.get(name)
        if fn is None:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001 — audit keeps going
            out[name] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
            continue
        # formatted explain repeats each node once in the tree and once in
        # the detail section -> halve the grep counts.  Table names only
        # appear in the detail section's "Location:" lines (one per scan
        # node), so count those for the per-table breakdown.
        head = plan.split("\n\n", 1)[0]
        scans: dict[str, int] = {}
        for m in re.finditer(r"Location: \w+ \[[^\]]*?([\w.]+)\.parquet", plan):
            tbl = m.group(1)
            scans[tbl] = scans.get(tbl, 0) + 1
        if not scans:
            for m in re.finditer(r"Scan parquet\b[^\n]*", head):
                scans["?"] = scans.get("?", 0) + 1
        n_tables = len(scans)
        n_scans = sum(scans.values())
        out[name] = {
            "scans": scans,
            "excess_scans": n_scans - n_tables,
            "exchanges": len(re.findall(r"\bExchange\b", head)),
            "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", head)),
            "cartesian": len(re.findall(r"CartesianProduct", head)),
            "py": len(re.findall(r"BatchEvalPython", head)),
            "arrow_py": len(
                re.findall(r"ArrowEvalPython|MapInArrow|MapInPandas|FlatMapGroupsInPandas", head)
            ),
            "smj": len(re.findall(r"SortMergeJoin", head)),
        }
        qmod.clear_plan_caches()

    ranked = sorted(
        (n for n in out if "error" not in out[n]),
        key=lambda n: (-out[n]["excess_scans"], -out[n]["exchanges"]),
    )
    for n in ranked:
        r = out[n]
        print(
            f"{r['excess_scans']:3d} xs {r['exchanges']:3d} ex "
            f"{r['bnlj']}+{r['cartesian']} bnlj/cart {r['py']}+{r['arrow_py']} py "
            f"{r['smj']} smj  {n}  {r['scans']}"
        )
    for n in out:
        if "error" in out[n]:
            print(f"ERR {n}: {out[n]['error']}")
    with open("/tmp/opt_scan_audit.json", "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
