"""SparkSession factory tuned for this engine.

Local-mode settings follow the public Spark tuning guidance: shuffle
partitions sized to cores (not the 200 default), AQE on for runtime
re-planning and skew-join handling, Arrow on for any pandas interchange,
session timezone pinned to UTC so timestamp semantics match the DuckDB
oracle (DuckDB timestamps are UTC-naive).

On a real cluster the same builder applies — only ``master`` and the
memory knobs change; shuffle partitions should scale to ~2-3x total
executor cores and AQE coalescing handles the rest.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


_MIB = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}


def max_result_size(driver_mem: str) -> str:
    """``spark.driver.maxResultSize`` for a driver heap of ``driver_mem``
    (a Spark memory string; a bare number is MiB): half the heap, capped
    at 8g.  A collect() too large for the driver then fails fast with
    the maxResultSize error instead of running the driver out of memory.
    """
    s = driver_mem.strip().lower().removesuffix("b")
    unit = s[-1] if s and s[-1] in _MIB else "m"
    mib = float(s.rstrip("kmgt")) * _MIB[unit]
    return f"{max(1, min(int(mib) // 2, 8 * 1024))}m"


def memory_limit(cgroup_max: str = "/sys/fs/cgroup/memory.max") -> int:
    """Bytes of memory this process may use: the cgroup v2 limit when one
    is set and below the host's physical memory, else that memory."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open(cgroup_max) as fh:
            return min(total, int(fh.read().strip()))
    except (OSError, ValueError):  # no cgroup v2 limit file, or "max"
        return total


def default_driver_mem(limit_bytes: int) -> str:
    """The driver heap for a process limited to ``limit_bytes``: half of
    it, at least 512m and at most 48g."""
    mib = limit_bytes // (2 * 1024 * 1024)
    return f"{max(512, min(mib, 48 * 1024))}m"


def driver_memory(extra_conf: dict[str, str] | None = None) -> str:
    """``spark.driver.memory`` from ``extra_conf``, else from
    ``SPARK_GRAFT_DRIVER_MEM``, else sized from this process's memory."""
    return (
        (extra_conf or {}).get("spark.driver.memory")
        or os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        or default_driver_mem(memory_limit())
    )


def get_spark(
    app_name: str = "ducklakexl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    driver_mem = driver_memory(extra_conf)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # write int64 micros, not the deprecated INT96: INT96 columns
        # carry no usable footer min/max, which silently disables both
        # parquet row-group pruning and catalog-level file skipping on
        # timestamp predicates
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # some fixtures carry TIMESTAMP(NANOS) parquet columns, which Spark
        # rejects natively; read them as long and convert at load time
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # no-tz timestamp[us] parquet reads as TIMESTAMP, not NTZ: the UTC
        # session tz makes it the same wall-clock, and scan-level min/max
        # pushdown on timestamp columns survives (NTZ + cast would not)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", driver_mem)
        # collect() of a large declared-query result (the bench/driver
        # contract materializes every query via collect) trips the 1 GiB
        # default at sf100 — dedup_minhash_lsh's 25M-pair result is
        # ~1.1 GiB serialized.  Half the driver heap, at most 8g: the
        # §5 "raise it only if the driver truly has the memory" case,
        # not a license to collect corpus-sized frames.
        .config("spark.driver.maxResultSize", max_result_size(driver_mem))
        .config("spark.ui.enabled", "false")
        # Tungsten pages of 1 MiB, not Spark's execution memory / cores / 16
        # rounded up (8 MiB at a 2g local[4] driver, 64 MiB at 48g).  A
        # page that is in use when a young collection runs is larger than
        # the survivor space and goes straight to the old generation.  Over
        # MB-sized lake tables that filled the old generation every few
        # statements, and each full collection (~270 ms) landed on
        # whichever statement was running.  A record larger than a page
        # still gets a page of its own size.
        .config("spark.buffer.pageSize", "1m")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
