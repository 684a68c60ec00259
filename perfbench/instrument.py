"""Spans and counters at the program's layer boundaries, installed from
outside by wrapping public entry points:

========================  ==================================================
span                      wraps
========================  ==================================================
``engine.sql``            ``DuckLakeSpark.sql`` (one statement batch)
``engine.table_df``       ``DuckLakeSpark.table_df`` (catalog scan + prune)
``engine.translate``      ``split_statements`` and every ``rewrite_*``
``sync.pull/push``        ``WorkbookSync.pull`` / ``push``
``store.load/save``       ``CatalogStore.load`` / ``save``
``catalog.commit``        ``DuckLakeCatalog.commit_snapshot``
``queries.build``         every ``QUERIES[name]`` (DataFrame build)
``spark.collect``         pyspark ``DataFrame.collect``
========================  ==================================================

Per-layer metrics are reported per timed op, except the end-of-run catalog
sizes and ``write_amp``.
"""

from __future__ import annotations

import procstat
import sparkstats
from tracer import Tracer


def install(spark) -> Tracer:
    from pyspark.sql.classic.dataframe import DataFrame

    from ducklakexl_spark import engine, queries
    from ducklakexl_spark.catalog import catalog, store
    from ducklakexl_spark.sync import sync

    t = Tracer()

    def after_table_df(_df, args, kwargs):
        lake, name = args[0], kwargs.get("name", args[1] if len(args) > 1 else None)
        snap = kwargs.get("snapshot", args[2] if len(args) > 2 else None)
        scanned = lake._last_scan_file_count or 0
        considered = len(lake.catalog.data_files(lake.catalog.table_id(name, snap), snap))
        t.count("engine.files_scanned", scanned)
        t.count("engine.files_considered", considered)

    def after_save(_r, args, _kw):
        t.count("store.bytes_written", procstat.tree_bytes(args[0].path))

    def after_collect(_rows, args, _kw):
        df = args[0]
        phases = sparkstats.phase_ms(df)
        t.count("spark.analyze_ms", phases.get("analysis", 0.0))
        t.count("spark.plan_ms", phases.get("optimization", 0.0) + phases.get("planning", 0.0))
        for k, v in sparkstats.plan_metrics(df).items():
            t.count(k, v)

    def on_conflict(exc):
        if isinstance(exc, catalog.ConcurrentWriteError):
            t.count("catalog.conflict_retries")

    lake_cls = engine.DuckLakeSpark
    t.wrap(lake_cls, "sql", "engine.sql")
    t.wrap(lake_cls, "table_df", "engine.table_df", after=after_table_df)
    t.wrap(engine, "split_statements", "engine.translate")
    for attr in dir(engine):
        if attr.startswith("rewrite_") and callable(getattr(engine, attr)):
            t.wrap(engine, attr, "engine.translate")
    t.wrap(sync.WorkbookSync, "pull", "sync.pull")
    t.wrap(
        sync.WorkbookSync, "push", "sync.push",
        after=lambda n, _a, _k: t.count("sync.sheets_written", n or 0),
    )
    t.wrap(store.CatalogStore, "load", "store.load")
    t.wrap(store.CatalogStore, "save", "store.save", after=after_save)
    t.wrap(catalog.DuckLakeCatalog, "commit_snapshot", "catalog.commit")
    t.wrap(catalog.DuckLakeCatalog, "_checked_save", "catalog.save", on_error=on_conflict)
    for name in list(queries.QUERIES):
        t.wrap_item(queries.QUERIES, name, "queries.build")
    t.wrap(DataFrame, "collect", "spark.collect", after=after_collect)
    return t


def per_layer(t: Tracer, n_ops: int, stages, end_state: dict) -> dict:
    total = t.totals()
    own = t.totals(self_time=True)
    calls = t.calls()
    c = t.counters
    stmts = calls.get("engine.sql", 0)

    def ms(span):
        return 1000.0 * total.get(span, 0.0) / n_ops

    def per_op(counter):
        return c.get(counter, 0.0) / n_ops

    considered = c.get("engine.files_considered", 0.0)
    exec_ms = 1000.0 * own.get("spark.collect", 0.0) - c.get("spark.plan_ms", 0.0)
    jobs, run, skipped = stages
    return {
        "sync.pull_ms": (ms("sync.pull"), "ms"),
        "sync.push_ms": (ms("sync.push"), "ms"),
        "sync.sheets_written": (per_op("sync.sheets_written"), "count"),
        "store.load_ms": (ms("store.load"), "ms"),
        "store.save_ms": (ms("store.save"), "ms"),
        "store.saves_per_stmt": (calls.get("store.save", 0) / max(1, stmts), "count"),
        "store.bytes_written_per_stmt": (
            c.get("store.bytes_written", 0.0) / max(1, stmts), "B"),
        "catalog.commit_ms": (ms("catalog.commit"), "ms"),
        "catalog.conflict_retries": (per_op("catalog.conflict_retries"), "count"),
        "catalog.data_file_rows": (end_state.get("catalog.data_file_rows", 0.0), "count"),
        "catalog.snapshots": (end_state.get("catalog.snapshots", 0.0), "count"),
        "engine.table_df_ms": (ms("engine.table_df"), "ms"),
        "engine.files_scanned": (per_op("engine.files_scanned"), "count"),
        "engine.prune_frac": (
            1.0 - c.get("engine.files_scanned", 0.0) / considered if considered else 0.0,
            "ratio"),
        "engine.translate_ms": (1000.0 * own.get("engine.translate", 0.0) / n_ops, "ms"),
        "queries.build_ms": (ms("queries.build"), "ms"),
        "spark.analyze_ms": (per_op("spark.analyze_ms"), "ms"),
        "spark.plan_ms": (per_op("spark.plan_ms"), "ms"),
        "spark.exec_ms": (max(0.0, exec_ms) / n_ops, "ms"),
        "spark.jobs": (jobs / n_ops, "count"),
        "spark.stages_run": (run / n_ops, "count"),
        "spark.stages_skipped": (skipped / n_ops, "count"),
        "scan.files_read": (per_op("scan.files_read"), "count"),
        "scan.bytes_read": (per_op("scan.bytes_read"), "B"),
        "scan.time_ms": (per_op("scan.time_ms"), "ms"),
        "exchange.shuffle_write_bytes": (per_op("exchange.shuffle_write_bytes"), "B"),
        "exchange.shuffle_read_bytes": (per_op("exchange.shuffle_read_bytes"), "B"),
        "spill_bytes": (per_op("spill_bytes"), "B"),
        "rows_out": (per_op("rows_out"), "count"),
    }
