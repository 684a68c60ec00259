"""The benchmark's three workloads.

Each is a single client in a closed loop: the next operation starts when
the previous one has returned its result.  A run executes a fixed number
of whole op cycles from an identical initial state, so two runs of the
same seed measure the same lake, whatever the speed of the code.  A few
ops run untimed before the timed phase (JVM JIT, codegen and the OS page
cache warm up; that time counts in ``setup_s``).

* ``catalog_oltp``: point reads, one-row INSERTs and DELETEs of inserted
  rows through ``DuckLakeSpark.sql()`` with the workbook mirror on.  The
  catalog, catalog-store and workbook-sync layers do most of the work.
* ``lake_analytics``: the relational HEADLINE oracle texts verbatim
  through ``DuckLakeSpark.sql()`` over lake tables, with a bulk
  ``INSERT ... SELECT`` append at a fixed cadence.  Scan, exchange and
  operator compute dominate, over a growing file set.
* ``pipeline_operators``: registry queries through
  ``QUERIES[name](spark, sf_dir)`` at sf0.001, each call fresh.  No
  catalog, sync or dialect work: the control on which catalog and sync
  changes should show no effect.  It only reads, so it reports no write
  or storage metrics, and it is not listed in ``BENCHMARK.json``, whose
  workloads must each report every end-to-end metric.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

import datagen
import oracle
import procstat


@dataclass
class Op:
    """One operation: ``run()`` is timed, ``check(result)`` is not."""

    kind: str  # "read" or "write"
    label: str
    run: object
    check: object
    user_bytes: int = 0
    fresh_guard: bool = False


@dataclass
class Context:
    spark: object
    seed: int
    work: str
    duck: object = None


class Workload:
    name = ""
    cycle: tuple = ()
    cycle_seconds = 1.0  # nominal duration of one cycle on 4 cores
    # untimed ops before the timed phase, which starts where they end in
    # the op sequence; the timed phase is still whole cycles
    warm_ops = 10

    def n_ops(self, seconds: int) -> int:
        cycles = max(1, round(seconds / self.cycle_seconds))
        return cycles * len(self.cycle)

    def setup(self, ctx: Context) -> None:
        raise NotImplementedError

    def op(self, i: int) -> Op:
        """The ``i``-th operation; ``i`` counts from the first warm-up op."""
        raise NotImplementedError

    def final_check(self) -> bool:
        """End-of-run output check, outside the timed phase."""
        return True

    def stored_bytes_per_live_row(self) -> float | None:
        """Bytes the workload left in storage per live row; None if none."""
        raise NotImplementedError

    def end_state(self) -> dict[str, float]:
        return {}


def _lake(ctx: Context, name: str):
    from ducklakexl_spark.engine import DuckLakeSpark
    from ducklakexl_spark.sync.excel import CsvWorkbook

    root = os.path.join(ctx.work, name)
    os.makedirs(root, exist_ok=True)
    return root, DuckLakeSpark(
        spark=ctx.spark,
        data_path=os.path.join(root, "data"),
        local_catalog=os.path.join(root, "catalog"),
        workbook=CsvWorkbook(os.path.join(root, "workbook")),
    )


def _lake_end_state(lake) -> dict[str, float]:
    return {
        "catalog.data_file_rows": float(
            len(lake.catalog.tables["ducklake_data_file"])
        ),
        "catalog.snapshots": float(len(lake.catalog.tables["ducklake_snapshot"])),
    }


def _sql_literal(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if hasattr(v, "isoformat"):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    return repr(v)


class CatalogOltp(Workload):
    """Point reads, one-row INSERTs and DELETEs on sf0.1 lineitem."""

    name = "catalog_oltp"
    sf = 0.1
    # 12 point reads, 2 one-row INSERTs, 1 DELETE of an inserted row.  Two
    # cycles give 24 reads (tail p58, the 14th) and 6 writes (tail: their
    # interpolated p90); more ops would not fit a run in the benchmark's
    # time budget.
    # With twice as many inserts as deletes, the write median stays among
    # the inserts instead of falling between the two latency modes.
    cycle = tuple("RIRDR" "RRRRIRRRRR")
    cycle_seconds = 10.0
    # ten ops: with five, the first timed reads still ran up to three times
    # slower than the later ones while the JIT caught up
    warm_ops = 10

    def setup(self, ctx: Context) -> None:
        self.rng = np.random.default_rng(ctx.seed)
        n = datagen.sizes(self.sf)
        self.dims = (n["orders"], n["part"], n["supplier"])
        table = datagen.lineitem_rows(self.rng, n["lineitem"], *self.dims)
        path = os.path.join(ctx.work, "input", "lineitem.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path)
        # row model: the base table sorted by key, plus the rows inserted
        self.base = table.sort_by("l_orderkey")
        self.base_keys = self.base.column("l_orderkey").to_numpy()
        self.columns = table.column_names
        self.inserted: dict[int, tuple] = {}
        self.next_key = n["orders"]
        self.root, self.lake = _lake(ctx, "lake")
        self.lake.sql(
            f"CREATE TABLE li AS SELECT * FROM read_parquet('{path}')"
        )
        # clustered on the read key into ~1 MiB files, so point reads can
        # skip files on their min/max statistics
        self.lake.compact(
            "li", sort_by=["l_orderkey"], target_file_bytes=1024 * 1024
        )

    def _expected(self, key: int) -> list[tuple]:
        if key in self.inserted:
            rows = [self.inserted[key]]
        else:
            lo, hi = np.searchsorted(self.base_keys, [key, key + 1])
            rows = [tuple(r.values()) for r in self.base.slice(lo, hi - lo).to_pylist()]
        return oracle.canon_rows(self.columns, rows)

    def op(self, i: int) -> Op:
        kind = self.cycle[i % len(self.cycle)]
        if kind == "R":
            # the key of a row drawn uniformly from the live table
            n_base = len(self.base_keys)
            pick = int(self.rng.integers(0, n_base + len(self.inserted)))
            if pick < n_base:
                key = int(self.base_keys[pick])
            else:
                key = list(self.inserted)[pick - n_base]
            stmt = f"SELECT * FROM li WHERE l_orderkey = {key}"
            want = self._expected(key)
            return Op(
                "read", "point_read",
                lambda: self.lake.sql(stmt).collect(),
                lambda rows: oracle.canon_rows(self.columns, rows) == want,
            )
        if kind == "I":
            key = self.next_key
            self.next_key += 1
            row = datagen.lineitem_rows(self.rng, 1, *self.dims).to_pylist()[0]
            row["l_orderkey"] = key
            values = tuple(row[c] for c in self.columns)
            stmt = "INSERT INTO li VALUES (" + ", ".join(
                _sql_literal(v) for v in values
            ) + ")"
            self.inserted[key] = values
            return Op(
                "write", "insert_1row",
                lambda: self.lake.sql(stmt), lambda _r: True,
                user_bytes=len(stmt),
            )
        # DELETE the oldest row this workload inserted and has not deleted
        key = next(iter(self.inserted))
        del self.inserted[key]
        stmt = f"DELETE FROM li WHERE l_orderkey = {key}"
        return Op(
            "write", "delete_1row",
            lambda: self.lake.sql(stmt), lambda _r: True,
            user_bytes=len(stmt),
        )

    def final_check(self) -> bool:
        n = self.lake.sql("SELECT count(*) AS n FROM li").collect()[0]["n"]
        self.live_rows = int(n)
        return self.live_rows == len(self.base_keys) + len(self.inserted)

    def stored_bytes_per_live_row(self) -> float:
        return procstat.tree_bytes(self.root) / max(1, self.live_rows)

    def end_state(self) -> dict[str, float]:
        return _lake_end_state(self.lake)


# relational HEADLINE queries whose oracle text runs through sql(); all
# read lineitem, so every one scans the files the appends add
ANALYTICS_STATEMENTS = (
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_region_revenue",
    "q10_returned_items",
    "q06_forecast_revenue",
    "agg_count_distinct",
    "agg_rollup",
    "join_inner_agg",
)
ANALYTICS_TABLES = ("region", "nation", "supplier", "customer", "orders", "lineitem")


class LakeAnalytics(Workload):
    """HEADLINE oracle texts through sql() over a lake that grows by appends."""

    name = "lake_analytics"
    # sf0.01, not sf0.1: a run needs more than 20 reads for a read tail
    # above the median, and at sf0.1 one 10-op cycle takes ~13 s
    sf = 0.01
    slice_frac = 0.01
    # two statements, then a bulk append, four times over; three cycles
    # give 24 reads (tail p58) and 12 writes (tail: interpolated p90).  With
    # 6 appends a run, their p90 spread up to 0.30 between runs.
    cycle = (0, 1, "A", 2, 3, "A", 4, 5, "A", 6, 7, "A")
    cycle_seconds = 7.0
    # one whole cycle, so every statement and the append have run before
    # timing starts; with fewer warm-up ops the first timed append or
    # cycle was often the slowest of the run
    warm_ops = 12

    def setup(self, ctx: Context) -> None:
        from ducklakexl_spark import queries as qmod

        qmod.load_all()
        self.ctx = ctx
        self.texts = [qmod.ORACLES[n] for n in ANALYTICS_STATEMENTS]
        self.rng = np.random.default_rng(ctx.seed)
        tables = datagen.build_tables(ctx.seed, self.sf)
        n = datagen.sizes(self.sf)
        self.dims = (n["orders"], n["part"], n["supplier"])
        self.slice_rows = max(10, int(n["lineitem"] * self.slice_frac))
        self.input = os.path.join(ctx.work, "input")
        os.makedirs(self.input, exist_ok=True)
        self.root, self.lake = _lake(ctx, "lake")
        ctas = []
        for t in ANALYTICS_TABLES:
            path = os.path.join(self.input, f"{t}.parquet")
            pq.write_table(tables[t], path)
            ctas.append(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{path}')")
        self.lake.sql(";\n".join(ctas))
        self.slices: list[str] = []
        self.expected: dict[tuple[int, int], oracle.Expected] = {}
        self._duck_views()

    def _duck_views(self) -> None:
        con = self.ctx.duck
        for t in ANALYTICS_TABLES:
            files = [os.path.join(self.input, f"{t}.parquet")]
            if t == "lineitem":
                files += self.slices
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet({files!r})"
            )

    def _want(self, idx: int) -> oracle.Expected:
        key = (idx, len(self.slices))
        if key not in self.expected:
            self.expected[key] = oracle.expect(self.ctx.duck, self.texts[idx])
        return self.expected[key]

    def op(self, i: int) -> Op:
        step = self.cycle[i % len(self.cycle)]
        if step == "A":
            path = os.path.join(self.input, f"slice_{len(self.slices)}.parquet")
            pq.write_table(
                datagen.lineitem_rows(self.rng, self.slice_rows, *self.dims), path
            )
            self.slices.append(path)
            self._duck_views()
            stmt = f"INSERT INTO lineitem SELECT * FROM read_parquet('{path}')"
            return Op(
                "write", "bulk_append",
                lambda: self.lake.sql(stmt), lambda _r: True,
                user_bytes=os.path.getsize(path),
            )
        text = self.texts[step]
        want = self._want(step)

        def run():
            df = self.lake.sql(text)
            return df.dtypes, df.collect()

        return Op(
            "read", ANALYTICS_STATEMENTS[step], run,
            lambda res: oracle.matches(*res, want),
        )

    def final_check(self) -> bool:
        stmt = "SELECT " + ", ".join(
            f"(SELECT count(*) FROM {t}) AS {t}" for t in ANALYTICS_TABLES
        )
        got = tuple(int(n) for n in self.lake.sql(stmt).collect()[0])
        want = self.ctx.duck.sql(stmt).fetchone()
        self.live_rows = sum(got)
        return got == tuple(want)

    def stored_bytes_per_live_row(self) -> float:
        return procstat.tree_bytes(self.root) / max(1, self.live_rows)

    def end_state(self) -> dict[str, float]:
        return _lake_end_state(self.lake)


# one HEADLINE registry query per operator family
PIPELINE_QUERIES = (
    "q01_pricing_summary",
    "q05_region_revenue",
    "window_topk_per_group",
    "events_markov_transitions",
    "dedup_exact",
    "text_quality_score",
    "sim_bruteforce_topk",
    "sketch_hll_merge_daily",
)


class PipelineOperators(Workload):
    """Fresh registry query calls, collected; reads only."""

    name = "pipeline_operators"
    # sf0.001, not sf0.1: the compute-heavy sf0.1 calls (one cycle ~14 s)
    # varied 17-26 % between the quartiles of ten runs, sf0.01 up to 26 %;
    # at sf0.001 five cycles fit the same time and spread less
    sf = 0.001
    cycle = PIPELINE_QUERIES
    cycle_seconds = 4.0

    def setup(self, ctx: Context) -> None:
        from ducklakexl_spark import queries as qmod

        qmod.load_all()
        self.qmod = qmod
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.work, "input")
        datagen.write_tables(ctx.seed, self.sf, self.sf_dir)
        for t in datagen.TABLES:
            ctx.duck.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        self.expected: dict[str, oracle.Expected] = {}

    def _want(self, name: str) -> oracle.Expected:
        if name not in self.expected:
            self.expected[name] = oracle.expect(
                self.ctx.duck, self.qmod.ORACLES[name]
            )
        return self.expected[name]

    def op(self, i: int) -> Op:
        name = self.cycle[i % len(self.cycle)]
        want = self._want(name)
        fn = self.qmod.QUERIES[name]
        # release the plan memo outside the timer: the timed call builds
        # and executes a fresh plan
        self.qmod.clear_plan_caches()

        def run():
            df = fn(self.ctx.spark, self.sf_dir)
            return df.dtypes, df.collect()

        return Op(
            "read", name, run,
            lambda res: oracle.matches(*res, want),
            fresh_guard=True,
        )

    def stored_bytes_per_live_row(self) -> float | None:
        return None  # it stores nothing


WORKLOADS = {
    w.name: w for w in (CatalogOltp, LakeAnalytics, PipelineOperators)
}

