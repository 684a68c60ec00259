"""Window-function coverage: ranking, analytic (lag/lead/first/last),
running and value-range frames, ntile, top-k per group (QUALIFY sugar),
sessionization, and time-bucketed rollups.

SURVEY.md §2.C row "window functions" — the reference delegates these to
DuckDB (ducklakexl.py:394); here they are Spark ``Window`` specs, which
Catalyst executes as a single sort-based window operator per partitioning.

Every ORDER BY inside a window is made total (ties broken by a unique key)
so Spark and the DuckDB oracle compute identical frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ducklakexl_spark.queries import load, query


@query(
    "window_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) t
    WHERE rn <= 3
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        load(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
            "rn",
        )
    )


@query(
    "window_rank_dense_ntile",
    oracle="""
    SELECT c_custkey, c_nationkey,
           rank()       OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4)     OVER w AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def window_rank_dense_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    return load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


@query(
    "window_lag_lead",
    oracle="""
    SELECT user_id, event_id,
           lag(event_type)  OVER w AS prev_type,
           lead(event_type) OVER w AS next_type,
           round(value - lag(value, 1, 0.0) OVER w, 4) AS delta_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        F.round(F.col("value") - F.lag("value", 1, 0.0).over(w), 4).alias(
            "delta_value"
        ),
    )


@query(
    "window_running_sum",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) OVER (
             PARTITION BY l_suppkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_rev,
           count(*) OVER (
             PARTITION BY l_suppkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS win3_n
    FROM lineitem
    WHERE l_suppkey <= 10
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue per supplier (exact-cents internal sum).

    The prefix sum is computed over DECIMAL(18,2) — NOT double — on
    both engines: a windowed double sum is reduce-order-dependent
    (DuckDB evaluates windowed aggregates with a segment tree, Spark
    folds cumulatively) and at sf100 the ~1e10 prefix magnitudes
    diverge past the cents digit, flipping a cent through round(...,2)
    (found by the r9 sf100 parquet-multiset sweep — same class as the
    q01/q17 large-group fixes).  The decimal sum is exact in any
    association; both sides cast the identical exact value to DOUBLE
    for the output contract (no decimal output columns — r8 policy)."""
    w = W.partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    return (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_suppkey") <= 10)
        .select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .over(w.rowsBetween(W.unboundedPreceding, 0))
            .cast("double")
            .alias("running_rev"),
            F.count(F.lit(1)).over(w.rowsBetween(-2, 0)).alias("win3_n"),
        )
    )


@query(
    "window_range_frame",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           count(*) OVER (
             PARTITION BY o_orderstatus ORDER BY o_totalprice
             RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS n_within_1000
    FROM orders
    WHERE o_custkey <= 100
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        W.partitionBy("o_orderstatus")
        .orderBy("o_totalprice")
        .rangeBetween(-1000, 0)
    )
    return (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") <= 100)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.count(F.lit(1)).over(w).alias("n_within_1000"),
        )
    )


@query(
    "window_first_last",
    oracle="""
    SELECT DISTINCT c_nationkey,
           first_value(c_name) OVER w AS richest,
           last_value(c_name)  OVER (PARTITION BY c_nationkey
                                     ORDER BY c_acctbal DESC, c_custkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND UNBOUNDED FOLLOWING) AS poorest
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        load(spark, sf_dir, "customer")
        .select(
            "c_nationkey",
            F.first("c_name").over(w).alias("richest"),
            F.last("c_name").over(w_full).alias("poorest"),
        )
        .distinct()
    )


@query(
    "sessionize_events",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, event_id,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM flagged
    )
    SELECT user_id,
           CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
           count(*)                                    AS n_events
    FROM sessions
    GROUP BY user_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Session ids are per-user running counts of boundary flags, so
    # count(DISTINCT session_id) == sum(new_session): the cumulative-sum
    # window and the distinct-count expand both drop out.
    #
    # SEGMENTED shape (VERDICT-r8 task 8, same discipline as
    # events_pattern_match): the r8 lag-window version sorted each
    # user's whole stream in one task — a hot-key straggler at sf100
    # (30M-row single-task sort) and an OOM class at 100×.  Because the
    # chunk span (600 s) is strictly below the session gap (1800 s), NO
    # in-chunk pair can ever be a boundary, so per (user, 10-min chunk)
    # a plain min/max/count aggregate — map-side partials, no ordered
    # collect of any kind — carries all the information, and the
    # per-user fold over ≤4.3k chunk summaries counts the cross-chunk
    # gaps.  Gaps compare in microseconds, as the oracle's interval
    # compare does: a gap of 1800.05 s is a boundary.
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    per_chunk = (
        ev.withColumn(
            "chunk_id", F.floor(F.unix_timestamp("ts") / F.lit(600))
        )
        .groupBy("user_id", "chunk_id")
        .agg(
            F.min("ts").alias("t0"),
            F.max("ts").alias("t1"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    fold = F.aggregate(
        F.array_sort(F.collect_list(F.struct("chunk_id", "t0", "t1"))),
        F.struct(
            F.lit(None).cast("timestamp").alias("prev"),
            F.lit(1).cast("long").alias("s"),
        ),
        lambda acc, c: F.struct(
            c.t1.alias("prev"),
            (
                acc.s
                + F.when(
                    acc.prev.isNotNull()
                    & (
                        F.unix_micros(c.t0) - F.unix_micros(acc.prev)
                        > 30 * 60 * 1_000_000
                    ),
                    1,
                ).otherwise(0)
            ).alias("s"),
        ),
    )
    return per_chunk.groupBy("user_id").agg(
        fold.getField("s").alias("n_sessions"),
        F.sum("n").alias("n_events"),
    )


@query(
    "events_tumbling_hour",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
           event_type,
           count(*)               AS n,
           round(sum(value), 2)   AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_tumbling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The batch twin of the streaming tumbling window: window(ts, '1 hour')
    # produces exactly date_trunc-hour buckets for hour-aligned windows.
    return (
        load(spark, sf_dir, "events")
        .groupBy(
            F.date_format(F.window("ts", "1 hour").start, "yyyy-MM-dd HH:mm:ss").alias(
                "bucket_start"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@query(
    "stream_tumbling_hour",
    pure=False,
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
           event_type,
           count(*)               AS n,
           round(sum(value), 2)   AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING path of events_tumbling_hour: a bounded file-source
    stream driven to completion through a watermarked tumbling-window
    aggregation (complete mode), hash-matching the same batch oracle —
    streaming/batch unification, verified.  In production only the reader
    changes (Kafka instead of files)."""
    import os
    import tempfile

    from ducklakexl_spark.streaming import pipeline as P

    # file-source streams need a directory; stage the fixture by symlink
    stage = tempfile.mkdtemp(prefix="events_stream_")
    os.symlink(
        os.path.abspath(f"{sf_dir}/events.parquet"), f"{stage}/events.parquet"
    )
    stream = P.read_event_stream(spark, stage)
    return P.run_to_completion(P.tumbling_counts(stream), "q_stream_tumbling")


@query(
    "events_sliding_rates",
    oracle="""
    SELECT strftime(to_timestamp(CAST(floor(epoch(ts) / 900) * 900 AS BIGINT))
                    - k * INTERVAL 15 MINUTE, '%Y-%m-%d %H:%M:%S') AS win_start,
           count(*)              AS n,
           round(sum(value), 2)  AS total_value
    FROM events, generate_series(0, 3) t(k)
    GROUP BY win_start
    """,
)
def events_sliding_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h window / 15 min slide): every event lands in
    exactly 4 windows.  Spark's window() assigns them natively; the
    oracle reproduces the assignment arithmetically (floor to the slide
    grid, back-shift k slides)."""
    return (
        load(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "n",
            "total_value",
        )
    )


@query(
    "stream_session_users",
    pure=False,
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def stream_session_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING native session windows (30-min gap) driven to
    completion, verified against the relational gaps-and-islands
    formulation in DuckDB: a session breaks only when the gap EXCEEDS
    30 min — an exactly-gap-apart pair still merges, in streaming and
    batch alike (verified empirically round 6; the previous ``>=``
    oracle was a latent boundary bug no fixture pair triggered).  The
    strongest cross-engine check a stateful streaming operator can get."""
    import os
    import tempfile

    from ducklakexl_spark.streaming import pipeline as P

    stage = tempfile.mkdtemp(prefix="events_sess_")
    os.symlink(
        os.path.abspath(f"{sf_dir}/events.parquet"), f"{stage}/events.parquet"
    )
    stream = P.read_event_stream(spark, stage)
    sess = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("sess"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("sess.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
        )
    )
    return P.run_to_completion(sess, "q_stream_sessions")


@query(
    "stream_stateful_user_totals",
    pure=False,
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT)  AS n_events,
           round(sum(value), 2)      AS total_value
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STATEFUL streaming operator (applyInPandasWithState) driven
    to completion: per-user running totals whose final state must equal
    the batch GROUP BY — cross-verified against DuckDB.  State is one
    (count, sum) pair per user: bounded, shuffle-partitioned by key."""
    import os
    import tempfile

    from ducklakexl_spark.streaming import pipeline as P

    stage = tempfile.mkdtemp(prefix="events_state_")
    os.symlink(
        os.path.abspath(f"{sf_dir}/events.parquet"), f"{stage}/events.parquet"
    )
    stream = P.read_event_stream(spark, stage)
    totals = P.stateful_user_totals(stream)
    out = P.run_update_to_completion(totals, "q_stream_state")
    # memory sink in update mode keeps every emitted row; the final state
    # per user is the row with the highest (monotone) event count
    return (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").cast("long").alias("n_events"),
            F.max_by("total_value", "n_events").alias("tv"),
        )
        .select("user_id", "n_events", F.round("tv", 2).alias("total_value"))
    )


@query(
    "window_cume_percent",
    oracle="""
    SELECT s_suppkey,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist()    OVER w, 6) AS cd
    FROM supplier
    WINDOW w AS (ORDER BY s_acctbal, s_suppkey)
    """,
)
def window_cume_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.orderBy("s_acctbal", "s_suppkey")
    return load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


@query(
    "stream_interval_join",
    pure=False,
    oracle="""
    SELECT a.event_id AS click_id,
           b.event_id AS purchase_id,
           a.user_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    """,
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM watermarked interval join driven to completion:
    purchases within 30 minutes of a click by the same user, two
    file-source streams joined with event-time bounds on both sides so
    join state expires (the unbounded-run requirement).  The emitted
    pairs hash-match the batch self-join oracle — streaming/batch
    unification for joins, same as the windowed-agg queries."""
    import os
    import tempfile

    from ducklakexl_spark.streaming import pipeline as P

    stage = tempfile.mkdtemp(prefix="events_join_")
    os.symlink(
        os.path.abspath(f"{sf_dir}/events.parquet"), f"{stage}/events.parquet"
    )
    clicks = P.read_event_stream(spark, stage).filter(
        F.col("event_type") == "click"
    )
    purchases = P.read_event_stream(spark, stage).filter(
        F.col("event_type") == "purchase"
    )
    pairs = P.interval_join(clicks, purchases)
    return P.run_append_to_completion(pairs, "q_stream_interval_join")


@query(
    "stream_static_enrich",
    pure=False,
    oracle="""
    SELECT c.c_mktsegment AS segment,
           count(*)             AS n_events,
           round(sum(e.value), 2) AS total_value,
           count(DISTINCT e.user_id) AS n_users
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC dimension join driven to completion: the canonical
    streaming-ETL enrichment — each micro-batch probes a broadcast
    customer dim (stateless, no join state), enriched rows land in the
    sink, and the rollup over the sink hash-matches the batch join
    oracle.  At scale the stream side never shuffles for the join."""
    import os
    import tempfile

    from ducklakexl_spark.streaming import pipeline as P

    stage = tempfile.mkdtemp(prefix="events_enrich_")
    os.symlink(
        os.path.abspath(f"{sf_dir}/events.parquet"), f"{stage}/events.parquet"
    )
    stream = P.read_event_stream(spark, stage)
    dim = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = P.enrich_with_dim(stream, dim).select(
        "user_id", "value", "c_mktsegment"
    )
    out = P.run_append_to_completion(enriched, "q_stream_enrich")
    return out.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "window_nth_ignore_nulls",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority,
           round(nth_value(o_totalprice, 3) OVER w, 2)  AS third_price,
           round(first_value(CASE WHEN o_orderstatus <> 'O'
                                  THEN o_totalprice END IGNORE NULLS)
                 OVER w, 2)                             AS first_closed_price,
           round(lead(o_totalprice, 2, -1.0) OVER w, 2) AS price_after_next
    FROM orders
    WHERE o_custkey <= 100
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey)
    """,
)
def window_nth_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The window-function corners the main suite doesn't touch:
    nth_value with the default running frame, first_value IGNORE NULLS
    over a sparse expression, and lead with an explicit default.  The
    o_orderkey ordering key is unique per partition, so every output is
    deterministic.  One hash partition shuffle on the window key."""
    w = (
        W.partitionBy("o_orderpriority")
        .orderBy("o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 100)
    closed = F.when(F.col("o_orderstatus") != "O", F.col("o_totalprice"))
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.nth_value("o_totalprice", 3).over(w), 2).alias("third_price"),
        F.round(F.first(closed, ignorenulls=True).over(w), 2).alias(
            "first_closed_price"
        ),
        F.round(
            F.lead("o_totalprice", 2, -1.0).over(
                W.partitionBy("o_orderpriority").orderBy("o_orderkey")
            ),
            2,
        ).alias("price_after_next"),
    )


@query(
    "stream_sink_to_lake",
    pure=False,
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2)     AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def stream_sink_to_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full streaming INGESTION path under the gate: a file-source
    stream sinks through foreachBatch into a catalog-snapshotted lake
    table (exactly-once epoch commits), and the LAKE TABLE's content is
    then aggregated and hash-matched against the batch oracle — the
    stream → lakehouse → query loop end to end."""
    import os
    import tempfile

    from ducklakexl_spark.queries.lakehouse import _fresh_lake
    from ducklakexl_spark.streaming import pipeline as P

    lake = _fresh_lake(spark)
    lake.sql(
        "CREATE TABLE event_sink(event_id BIGINT, ts TIMESTAMP, "
        "user_id BIGINT, event_type VARCHAR, value DOUBLE, props VARCHAR);"
    )
    stage = tempfile.mkdtemp(prefix="events_sink_")
    os.symlink(
        os.path.abspath(f"{sf_dir}/events.parquet"), f"{stage}/events.parquet"
    )
    q = P.sink_stream_to_lake(
        P.read_event_stream(spark, stage), lake, "event_sink"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return lake.sql(
        """
        SELECT event_type,
               count(*) AS n,
               round(sum(value), 2) AS total_value
        FROM event_sink GROUP BY event_type
        """
    )


@query(
    "stream_late_data_drop",
    pure=False,
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S')
             AS bucket_start,
           event_type, count(*) AS n, round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA semantics across real micro-batches: batch 1 =
    first half of the month, batch 2 = second half (on time), batch 3 =
    re-sent copies of EVERY day-1 event (late by four weeks), batch 4 = a
    single far-future sentinel.  Append-mode eviction lags one batch
    (state merges before end-of-batch eviction — verified empirically:
    late rows landing in the SAME batch that evicts their window still
    merge), so the late batch must follow an intervening on-time batch;
    by batch 3 the watermark sits at max(batch-2 ts)-1h ≈ Jan 30 and the
    day-1 window state is already evicted, so every re-sent copy is
    DROPPED (numRowsDroppedByWatermark in the progress metrics).  The
    sentinel then pushes the watermark past every real window so append
    emits the rest (its own window stays open and never emits).  The
    streamed per-day rollup therefore hash-matches the batch oracle over
    the ORIGINAL events — the late duplicates provably did not
    double-count and did not re-open state: the bounded-state guarantee a
    100 TB ingest relies on.

    File order (and so batch order) is pinned by explicit mtimes on the
    staged files — the file source processes them oldest-first with
    maxFilesPerTrigger=1.
    """
    import glob
    import os
    import shutil
    import tempfile

    from ducklakexl_spark.streaming import pipeline as P

    ev = load(spark, sf_dir, "events")
    stage = tempfile.mkdtemp(prefix="events_late_")

    def _write_single(df, name: str, mtime: int) -> None:
        tmp = tempfile.mkdtemp(prefix="late_part_")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        dst = f"{stage}/{name}"
        shutil.move(part, dst)
        os.utime(dst, (mtime, mtime))
        shutil.rmtree(tmp, ignore_errors=True)

    first_half = ev.filter(F.dayofmonth("ts") <= 15)
    second_half = ev.filter(F.dayofmonth("ts") > 15)
    late_copies = ev.filter(F.dayofmonth("ts") == 1)
    sentinel = spark.createDataFrame(
        [(999999999, None, 0, "sentinel", 0.0, "{}")], ev.schema
    ).withColumn("ts", F.lit("2024-03-01 00:00:00").cast("timestamp"))
    _write_single(first_half, "batch1.parquet", 1_000_000_000)
    _write_single(second_half, "batch2.parquet", 1_000_000_100)
    _write_single(late_copies, "batch3.parquet", 1_000_000_200)
    _write_single(sentinel, "batch4.parquet", 1_000_000_300)

    stream = P.read_event_stream(spark, stage)
    return P.run_append_to_completion(
        P.tumbling_counts(stream, window="1 day", watermark="1 hour"),
        "q_stream_late_drop",
    )


@query(
    "events_session_window_native",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      -- the cumsum MUST replay the same total order the brk pass used:
      -- with duplicate timestamps (sf1's replicated corpus) an
      -- ORDER BY ts-only ROWS frame permutes tied rows and assigns
      -- wrong session ids (round-6 sf1 sweep find)
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTE,
                    '%Y-%m-%d %H:%M:%S') AS session_end,
           count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's BUILT-IN ``session_window`` in batch
    mode (the same operator Structured Streaming uses for stateful
    session aggregation) — the native twin of the lag/cumsum
    ``sessionize_events`` formulation.

    ``session_window(ts, gap)`` merges rows whose gaps are <= 30 min and
    reports [start, last_event + gap) bounds; the oracle reconstructs the
    identical segmentation with the lag/cumsum idiom (strict > breaks the
    session, matching session_window's gap-inclusive merge).  One shuffle
    on user_id; the window-merge runs inside the aggregation operator —
    no self-join, no second exchange, and the SAME code path scales to
    the streaming ingest via applyInPandasWithState-free native state.
    """
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("win")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format("win.end", "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
        )
    )


@query(
    "stream_dedup_watermark",
    pure=False,
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
    FROM events GROUP BY event_type
    """,
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-scoped streaming dedup (dropDuplicatesWithinWatermark)
    driven across real micro-batches: batch 1 = every event PLUS
    same-batch duplicate copies of the first day, batch 2 = re-sent
    copies of the final three days (arriving one batch later, well
    inside the 7-day watermark horizon, so their dedup state is
    provably still alive).  Every duplicate is dropped and the streamed
    per-type rollup hash-matches the batch oracle over the ORIGINAL
    events — exactly-once ingest semantics with BOUNDED state: unlike a
    global dropDuplicates, state older than the watermark is evicted,
    which is what lets the same pipeline run forever at 100 TB (the
    eviction side is pinned by stream_late_data_drop).
    """
    import glob
    import os
    import shutil
    import tempfile

    from ducklakexl_spark.streaming import pipeline as P

    ev = load(spark, sf_dir, "events")
    stage = tempfile.mkdtemp(prefix="events_dedup_")

    def _write_single(df, name: str, mtime: int) -> None:
        tmp = tempfile.mkdtemp(prefix="dedup_part_")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        dst = f"{stage}/{name}"
        shutil.move(part, dst)
        os.utime(dst, (mtime, mtime))
        shutil.rmtree(tmp, ignore_errors=True)

    max_ts = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]
    dup_day1 = ev.filter(F.dayofmonth("ts") == 1)
    dup_tail = ev.filter(
        F.col("ts") >= F.lit(max_ts) - F.expr("INTERVAL 3 DAYS")
    )
    _write_single(ev.unionAll(dup_day1), "batch1.parquet", 1_000_000_000)
    _write_single(dup_tail, "batch2.parquet", 1_000_000_100)

    stream = P.read_event_stream(spark, stage)
    deduped = stream.withWatermark(
        "ts", "7 days"
    ).dropDuplicatesWithinWatermark(["event_id"])
    sunk = P.run_append_to_completion(deduped, "q_stream_dedup_wm")
    return sunk.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "stream_upsert_to_lake",
    pure=False,
    oracle="""
    SELECT * FROM (VALUES
      (CAST(1.0 AS DOUBLE), CAST(30 AS BIGINT), CAST(1035 AS BIGINT)),
      (CAST(2.0 AS DOUBLE), CAST(25 AS BIGINT), CAST(675 AS BIGINT)),
      (CAST(3.0 AS DOUBLE), CAST(5 AS BIGINT),  CAST(60 AS BIGINT))
    ) t(v, n, key_sum)
    """,
)
def stream_upsert_to_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC-apply under the gate: three micro-batches of keyed
    changes (initial load -> updates + inserts -> more updates) MERGE
    into a lake table via foreachBatch — matched keys update, new keys
    insert, each epoch one atomic delete-file + append snapshot.  Final
    table state proves last-writer-wins per key across batches: keys
    20-49 keep v=1, 0-9/15-19 and inserts 50-59 hold v=2, 10-14 end at
    v=3."""
    import glob
    import os
    import shutil
    import tempfile

    from ducklakexl_spark.queries.lakehouse import _fresh_lake
    from ducklakexl_spark.streaming import pipeline as P

    stage = tempfile.mkdtemp(prefix="cdc_upsert_")

    def _write_single(df, name: str, mtime: int) -> None:
        tmp = tempfile.mkdtemp(prefix="cdc_part_")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        dst = f"{stage}/{name}"
        shutil.move(part, dst)
        os.utime(dst, (mtime, mtime))
        shutil.rmtree(tmp, ignore_errors=True)

    b1 = spark.range(0, 50).selectExpr("id AS k", "CAST(1.0 AS DOUBLE) AS v")
    b2 = (
        spark.range(0, 20)
        .union(spark.range(50, 60))
        .selectExpr("id AS k", "CAST(2.0 AS DOUBLE) AS v")
    )
    b3 = spark.range(10, 15).selectExpr("id AS k", "CAST(3.0 AS DOUBLE) AS v")
    _write_single(b1, "batch1.parquet", 1_000_000_000)
    _write_single(b2, "batch2.parquet", 1_000_000_100)
    _write_single(b3, "batch3.parquet", 1_000_000_200)

    lake = _fresh_lake(spark)
    lake.sql("CREATE TABLE kv(k BIGINT, v DOUBLE)")
    stream = (
        spark.readStream.schema("k BIGINT, v DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = P.upsert_stream_to_lake(stream, lake, "kv", keys=["k"])
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return lake.sql(
        "SELECT v, count(*) AS n, CAST(sum(k) AS BIGINT) AS key_sum "
        "FROM kv GROUP BY v"
    )
