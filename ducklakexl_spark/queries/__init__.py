"""Query registry: every implemented operator from SURVEY.md §2 registers a
(PySpark callable, DuckDB oracle SQL) pair here.

``QUERIES[name](spark, sf_dir) -> DataFrame`` and ``ORACLES[name]`` is the
ANSI-SQL equivalent DuckDB runs on the same parquet tables.  The driver
compares row count + schema + order-insensitive value hash, so every
computed column is aliased identically on both sides, double-typed
aggregates are rounded identically on both sides, and timestamps are cast
to DATE or formatted strings where they appear in outputs.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)

# every @query(pure=True) plan-memo dict registers here so long-lived
# harness sessions can release them: an executed DataFrame held by the
# memo PINS its JVM Dataset, whose shuffle dependencies the
# ContextCleaner therefore never collects — a full-registry sweep at
# sf100 accumulated 30+ GB of blockmgr shuffle files per session and
# filled the disk (round-8 find).  Executing the registry in one
# session is exactly the 100 TB usage pattern, so the release hook is
# part of the operator surface, not test plumbing.
_PLAN_CACHES: list[dict] = []


def clear_plan_caches(spark: SparkSession | None = None) -> None:
    """Drop every memoized query plan (and table handle): python-side
    references die, the py4j proxies release the JVM Datasets, and the
    next JVM GC lets Spark's ContextCleaner delete their shuffle files.
    Call between queries in long-lived full-registry harnesses; pass
    ``spark`` to also nudge the JVM GC immediately."""
    import gc

    for cache in _PLAN_CACHES:
        cache.clear()
    _LOAD_CACHE.clear()
    gc.collect()
    if spark is not None:
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass


def query(name: str, oracle: str | None = None, pure: bool = True):
    """Decorator registering a query (and optionally its DuckDB oracle).

    ``pure`` queries (read-only over the immutable fixture tables) are
    plan-memoized: the DataFrame a query function returns is an immutable
    analyzed logical plan, and rebuilding it on every invocation re-pays
    Catalyst analysis + optimization + the py4j plan-construction chatter
    (~0.3-0.8 s for expression-heavy plans) for a bit-identical plan.
    Reusing the DataFrame across invocations is the Spark-idiomatic
    prepared-statement pattern; execution still runs fresh each time.
    Stateful queries (lakehouse DDL flows, streaming drives) pass
    ``pure=False`` and rebuild every call.
    """

    def deco(fn):
        if pure:
            cache: dict[tuple[int, str], DataFrame] = {}
            _PLAN_CACHES.append(cache)

            @functools.wraps(fn)
            def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
                key = (id(spark), sf_dir)
                df = cache.get(key)
                if df is None:
                    # load() pins the session object, so id() can't alias
                    df = fn(spark, sf_dir)
                    cache[key] = df
                return df

            QUERIES[name] = wrapper
        else:
            QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# DataFrame handles memoized per (live session, sf_dir, table): the logical
# plan and its FileIndex/schema are immutable, so re-listing + footer reads
# (~60-90 ms of driver work per spark.read.parquet call) are pure waste when
# a query touches the same table twice or the bench loops the suite.  Keyed
# on the session OBJECT so a stopped-and-recreated session never aliases.
_LOAD_CACHE: dict[tuple[int, str, str], DataFrame] = {}
_LOAD_CACHE_SESSIONS: list[SparkSession] = []  # pin keys against id() reuse


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    key = (id(spark), sf_dir, table)
    cached = _LOAD_CACHE.get(key)
    if cached is not None:
        return cached
    # the driver may hand us a vanilla session; some fixture generations
    # carry TIMESTAMP(NANOS) which Spark only reads with this legacy conf
    # on (runtime-settable, verified on Spark 4.1), and DuckDB-oracle
    # parity requires UTC wall-clock semantics either way.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # timestamp[us] isAdjustedToUTC=false parquet would infer as
    # TIMESTAMP_NTZ; reading it as TIMESTAMP directly (UTC session, so
    # same wall-clock) keeps min/max filter pushdown on ts columns — a
    # cast-in-a-Project over the scan defeats pushdown and forces a full
    # decode of the column at 100 TB.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for f in df.schema.fields:
        if f.name == "ts" and isinstance(f.dataType, T.LongType):
            # TIMESTAMP(NANOS) fixture: with nanosAsLong it arrives as a
            # long — integer-divide (no double round-trip: ns epochs
            # exceed 2^53) down to microseconds.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif isinstance(f.dataType, T.TimestampNTZType):
            # timestamp[us] with isAdjustedToUTC=false: Spark 4 infers
            # TIMESTAMP_NTZ, which rejects epoch casts (cast to BIGINT)
            # that the query plane relies on.  The fixtures' naive
            # wall-clocks are UTC (DuckDB reads them the same way), and
            # the session tz is pinned UTC above, so ntz -> ltz is a
            # wall-clock-preserving relabel, not a shift.
            df = df.withColumn(f.name, F.col(f.name).cast(T.TimestampType()))
    _LOAD_CACHE[key] = df
    if spark not in _LOAD_CACHE_SESSIONS:
        _LOAD_CACHE_SESSIONS.append(spark)
    return df


# Size gate for broadcast hints on dims that grow linearly with scale
# (VERDICT r6 watch item 1): an explicit F.broadcast() hint FORCES the
# broadcast at any SF — it overrides AQE demotion and
# autoBroadcastJoinThreshold — so customer/part/supplier hints that are
# correct at every tested SF would become multi-GB driver broadcasts at
# a true 100x.  ``broadcast_if_small`` applies the hint only while the
# dim's on-disk parquet stays under the cap (64 MiB compressed ≈ a few
# hundred MB in memory — safely broadcastable); past it the hint is
# dropped and AQE's runtime stats decide.  Genuinely bounded sides
# (nation, region, 1-row aggregates, centroid sets) keep unconditional
# hints.
BROADCAST_CAP_BYTES = 64 * 1024 * 1024
_SIZE_CACHE: dict[str, int] = {}


def _path_bytes(path: str) -> int:
    import os

    cached = _SIZE_CACHE.get(path)
    if cached is not None:
        return cached
    total = 0
    if os.path.isfile(path):
        total = os.path.getsize(path)
    else:
        for root, _dirs, files in os.walk(path):
            for fn in files:
                try:
                    total += os.path.getsize(os.path.join(root, fn))
                except OSError:
                    pass
    _SIZE_CACHE[path] = total
    return total


def broadcast_if_small(df: DataFrame, sf_dir: str, base_table: str) -> DataFrame:
    """Broadcast-hint ``df`` only while ``base_table``'s parquet under
    ``sf_dir`` is under BROADCAST_CAP_BYTES.  ``base_table`` is the
    table the frame derives from (a filter/projection/bounded-join of a
    base can only shrink it, so the base's size is a sound upper
    bound); when the base outgrows the cap the hint drops and AQE
    decides from runtime stats instead."""
    if _path_bytes(f"{sf_dir}/{base_table}.parquet") <= BROADCAST_CAP_BYTES:
        from pyspark.sql.functions import broadcast

        return broadcast(df)
    return df


# Upper safety gate for forced SHUFFLE_HASH (ADVICE r9): Spark's
# shuffled-hash BUILD side (HashedRelation) does NOT spill — an
# oversized build partition throws SparkOutOfMemoryError (hash-join
# build spilling is a long-open upstream issue; only SMJ degrades
# gracefully).  The hint is therefore withheld once the estimated
# filtered-build bytes PER SHUFFLE PARTITION could threaten task
# memory: 256 MiB of parquet-compressed build per partition ≈ ~1 GiB
# in-memory — past that, SMJ's always-completes behavior wins.
SHUFFLE_HASH_BUILD_PARTITION_CAP = 256 * 1024 * 1024


def shuffle_hash_if_large(
    df: DataFrame, sf_dir: str, base_table: str, build_frac: float = 1.0
) -> DataFrame:
    """SHUFFLE_HASH-hint ``df`` once its ESTIMATED size — ``base_table``'s
    parquet bytes × ``build_frac``, the caller's known selectivity of the
    filters applied to the base — outgrows the broadcast cap (guide §3.1:
    pick the join strategy deliberately).

    Under the cap the hint is withheld so AQE keeps its runtime
    broadcast decision — a broadcast build beats SHUFFLE_HASH outright
    because the probe side is then not shuffled at all (the r9 gate
    keyed on the UNFILTERED base and so forced a full probe shuffle at
    mid scales where AQE was broadcasting the filtered build — ADVICE
    r9).  Past the cap, both join sides are exchange-bound either way
    and the hint trades SortMergeJoin's per-pass O(n log n) sort of the
    corpus-sized probe side for a hash build of the (filtered, much
    smaller) build side — measured 1.8× on q03's 300M-row join at
    sf100, identical rows.  The build side must fit task memory per
    partition (it does not spill — see SHUFFLE_HASH_BUILD_PARTITION_CAP
    above); past that upper gate the hint is withheld too and SMJ's
    spill-safe path stands."""
    est = _path_bytes(f"{sf_dir}/{base_table}.parquet") * build_frac
    if est <= BROADCAST_CAP_BYTES:
        return df
    try:
        parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        parts = 200
    if est / max(parts, 1) > SHUFFLE_HASH_BUILD_PARTITION_CAP:
        return df
    return df.hint("shuffle_hash")


def load_dim(
    spark: SparkSession, sf_dir: str, table: str
) -> DataFrame:
    """load() with a size-gated broadcast hint — the default way to
    bring in a dimension table for a join."""
    return broadcast_if_small(load(spark, sf_dir, table), sf_dir, table)


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register the fixture tables as temp views for SQL-form queries."""
    for t in tables:
        load(spark, sf_dir, t).createOrReplaceTempView(t)


def load_all() -> None:
    """Import every query module so registration side-effects run."""
    from ducklakexl_spark.queries import (  # noqa: F401
        dedup,
        drift,
        entity,
        evalmetrics,
        funnel,
        graph,
        ml,
        joins,
        lakehouse,
        multimodal,
        nested,
        pipeline,
        relational,
        retrieval,
        scalars,
        similarity,
        sketch,
        skew,
        text,
        timeseries,
        tpch,
        windows,
    )
