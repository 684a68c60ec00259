"""Structured Streaming plane (SURVEY §2.C row "streaming" — absent from
the reference, mandated by the north star).

The events fixture drives every pattern a streaming lakehouse ingest
needs: tumbling/sliding windows with watermarked late-data handling,
session windows, watermark-scoped stream dedup, stateful per-key
processing, and a foreachBatch sink that lands micro-batches as
registered DuckLake table files (exactly-once via the catalog's atomic
snapshot commit).

Batch/stream parity: every aggregation here has a batch twin in
queries/windows.py (events_tumbling_hour, sessionize_events), which is
how the tests verify results without a long-running source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over the events parquet (one file = one
    micro-batch in tests; a production deployment points the same code at
    a Kafka source — only this reader changes).

    The fixture's ``ts`` physical type has varied across generations
    (TIMESTAMP(NANOS) → long under nanosAsLong; timestamp[us] no-tz →
    TIMESTAMP_NTZ), so the stream schema is inferred from a batch read of
    the same files and ``ts`` is normalized to TIMESTAMP (UTC wall-clock,
    matching queries.load) whichever form it arrives in."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # no-tz timestamp[us] reads as TIMESTAMP directly (UTC session ⇒ same
    # wall-clock); avoids a cast Project that would break pushdown and
    # keeps watermark columns natively TIMESTAMP-typed
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # stateful streaming can't use AQE, so a vanilla session's 200
    # shuffle partitions all materialize as real state-store tasks per
    # micro-batch; size the state shuffle to the host instead
    if spark.conf.get("spark.sql.shuffle.partitions") == "200":
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(spark.sparkContext.defaultParallelism),
        )
    schema = spark.read.parquet(path).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    ts_type = schema["ts"].dataType if "ts" in schema.fieldNames() else None
    if isinstance(ts_type, T.LongType):
        # TIMESTAMP(NANOS) read as raw ns epoch under nanosAsLong
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        # naive wall-clock is UTC; session tz pinned UTC above makes this
        # a relabel, and downstream watermarks require TIMESTAMP
        raw = raw.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return raw


def tumbling_counts(events: DataFrame, window: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window aggregation (late rows beyond the
    watermark are dropped; state is bounded — the 100 TB requirement)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_rates(events: DataFrame) -> DataFrame:
    """Sliding window (1h window, 15m slide) event rates."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), "n")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session windows (the streaming twin of sessionize_events)."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("sess.start").alias("session_start"), "n_events")
    )


def deduped_stream(events: DataFrame) -> DataFrame:
    """Stream dedup with bounded state: duplicates of event_id arriving
    within the watermark horizon are dropped."""
    return events.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def interval_join(clicks: DataFrame, purchases: DataFrame,
                  horizon: str = "30 minutes") -> DataFrame:
    """Watermarked stream-stream inner join: purchases within ``horizon``
    after a click by the same user.  Both sides carry watermarks and the
    join condition bounds event time in both directions, so Spark can
    expire join state — the requirement for an unbounded run.  Append
    mode; each qualifying pair is emitted exactly once."""
    c = clicks.withWatermark("ts", "2 hours").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    p = purchases.withWatermark("ts", "2 hours").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    joined = c.join(
        p,
        F.expr(
            f"c_user = p_user AND p_ts >= c_ts "
            f"AND p_ts <= c_ts + INTERVAL {horizon}"
        ),
    )
    return joined.select(
        "click_id", "purchase_id", F.col("c_user").alias("user_id")
    )


def enrich_with_dim(events: DataFrame, dim: DataFrame,
                    on_stream: str = "user_id",
                    on_dim: str = "c_custkey") -> DataFrame:
    """Stream-static dimension enrichment: the canonical streaming-ETL
    join.  The static side is broadcast into every micro-batch — no
    join state accumulates (stream-static inner joins are stateless),
    and at 100 TB/day the stream side never shuffles: each task probes
    the broadcast dim locally."""
    return events.join(
        F.broadcast(dim), events[on_stream] == dim[on_dim], "inner"
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running
    per-user event counts and value totals that survive across
    micro-batches."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    out_schema = "user_id bigint, n_events bigint, total_value double"
    state_schema = "n bigint, total double"

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", "NoTimeout"
    )


def run_to_completion(stream_df: DataFrame, query_name: str) -> DataFrame:
    """Drive a bounded file-source stream to completion into a memory
    sink and return the materialized result (test/driver harness)."""
    q = (
        stream_df.writeStream.outputMode("complete" if stream_df.isStreaming else "append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {query_name}")


def run_append_to_completion(stream_df: DataFrame, query_name: str) -> DataFrame:
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {query_name}")


def run_update_to_completion(stream_df: DataFrame, query_name: str) -> DataFrame:
    """Update-mode memory sink (required by applyInPandasWithState in
    update mode); the memory table holds the latest row per key."""
    q = (
        stream_df.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {query_name}")


_EPOCH_TAG = "stream:last_epoch"


def sink_stream_to_lake(stream_df: DataFrame, lake, table: str):
    """foreachBatch sink into a DuckLake table: each micro-batch lands as
    parquet files registered in one catalog snapshot — atomic,
    time-travelable, and exactly-once under micro-batch replay: the
    highest committed ``epoch_id`` is a table tag set in the SAME catalog
    statement, hence the same snapshot, as the batch's data files, so a
    restarted stream that re-delivers an already-committed epoch is
    skipped, and a crash before the commit leaves neither files nor
    watermark — the replay then re-executes cleanly."""

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        tid = lake.catalog.table_id(table)
        last = lake.catalog.get_tag(tid, _EPOCH_TAG)
        if last is not None and int(last) >= epoch_id:
            return  # replayed micro-batch, already committed
        with lake.catalog.statement():
            lake.catalog.set_tag(tid, _EPOCH_TAG, str(epoch_id))
            lake._write_dataframe(table, batch_df)

    return (
        stream_df.writeStream.outputMode("append")
        .foreachBatch(_sink)
        .start()
    )


def upsert_stream_to_lake(stream_df: DataFrame, lake, table: str,
                          keys: list[str]):
    """foreachBatch CDC-apply: each micro-batch MERGEs into the lake
    table keyed on ``keys`` — matched rows update, new keys insert —
    with the delete-file + append commit shape (a 1-row change never
    rewrites the table) and the same epoch-tag exactly-once guard as the
    append sink: the tag and the MERGE run as one catalog statement, so
    they land in one snapshot, a replayed epoch is skipped and a crash
    before commit leaves no partial state.  This is the streaming ingest
    pattern for mutable sources (CDC feeds, upsert topics) at 100 TB."""

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        lake._pull()
        tid = lake.catalog.table_id(table)
        last = lake.catalog.get_tag(tid, _EPOCH_TAG)
        if last is not None and int(last) >= epoch_id:
            return  # replayed micro-batch, already committed
        # foreachBatch runs in an isolated micro-batch session clone; a
        # GLOBAL temp view crosses into the lake's parent session
        view = f"__cdc_batch_{table}"
        batch_df.createOrReplaceGlobalTempView(view)
        src = "__cdc_src"
        cond = " AND ".join(f"{table}.{k} = {src}.{k}" for k in keys)
        sets = ", ".join(
            f"{c} = {src}.{c}" for c in batch_df.columns if c not in keys
        )
        cols = ", ".join(batch_df.columns)
        vals = ", ".join(f"{src}.{c}" for c in batch_df.columns)
        with lake.catalog.statement():
            lake.catalog.set_tag(tid, _EPOCH_TAG, str(epoch_id))
            lake._execute(
                f"MERGE INTO {table} "
                f"USING (SELECT * FROM global_temp.{view}) AS {src} "
                f"ON {cond} WHEN MATCHED THEN UPDATE SET {sets} "
                f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
            )
        lake._push()

    return (
        stream_df.writeStream.outputMode("append")
        .foreachBatch(_sink)
        .start()
    )
