"""Structured Streaming operators over growing parquet directories
(SURVEY.md §2.10):

- `streaming_dedup_first_seen`: cross-micro-batch exact dedup held in the
  state store, drained with `Trigger.AvailableNow`;
- `click_purchase_join_stream`: watermarked stream-stream interval join,
  the streaming twin of plans/queries.click_purchase_attribution;
- `session_window_counts_stream`: per-user session windows, the streaming
  twin of a batch session_window rollup.

The last two return streaming DataFrames; the caller picks the sink and
trigger.

The crawl → KG refresh path is streaming/incremental.incremental_kg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def streaming_dedup_first_seen(
    spark: SparkSession,
    docs_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Cross-micro-batch exact dedup via applyInPandasWithState.

    Streaming counterpart of operators/dedup.exact_duplicates: the state
    store holds one entry per content hash (sharded by key across
    executors — the standard scale shape for streaming dedup over an
    unbounded crawl); the FIRST document with a given md5(text) is
    emitted, every later arrival — same batch or any later batch — is
    dropped. Restart-safe: state lives in the checkpoint. Unlike
    dropDuplicates-with-watermark this never expires state, which is the
    correct semantics for permanent crawl dedup (state size = number of
    distinct documents; at 10^12 docs shard the state store or swap the
    value for a Bloom page per key prefix).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    docs = (
        spark.readStream.schema(schema)
        .parquet(docs_dir)
        .withColumn("__h", F.md5(F.col(text_col)))
    )
    id_type = docs.schema[id_col].dataType.simpleString()
    out_type = f"__h string, {id_col} {id_type}"

    def first_seen(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            for _ in pdfs:  # drain; already emitted for this hash
                pass
            return
        # min across EVERY Arrow chunk — a >batch-size group arrives as
        # several pandas frames and the minimum may sit in a later one
        first_id = None
        for pdf in pdfs:
            if len(pdf):
                m = pdf[id_col].min()
                if first_id is None or m < first_id:
                    first_id = m
        if first_id is not None:
            state.update((1,))
            yield pd.DataFrame({"__h": [key[0]], id_col: [first_id]})

    deduped = docs.groupBy("__h").applyInPandasWithState(
        first_seen,
        outputStructType=out_type,
        stateStructType="seen int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def click_purchase_join_stream(
    spark: SparkSession,
    events_dir: str,
    schema,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream interval join: attribute each click to
    purchases by the same user within `horizon`.

    Both sides carry a watermark and the join condition bounds purchase
    time to [click_ts, click_ts + horizon], so Spark can evict click
    state once the purchase watermark passes click_ts + horizon and
    purchase state once the click watermark passes purchase_ts — bounded
    state on an unbounded crawl feed, the scale requirement for
    stream-stream joins. Inner join → append-only output; draining with
    Trigger.AvailableNow yields exactly the batch twin
    (plans/queries.click_purchase_attribution), which the tests assert.
    """
    def side(event_type: str, id_alias: str, ts_alias: str, user_alias: str):
        return (
            spark.readStream.schema(schema)
            .parquet(events_dir)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(user_alias),
                F.col("event_id").alias(id_alias),
                # parquet timestamps are NTZ; watermarks require TIMESTAMP.
                # The cast shifts both sides identically, so the interval
                # join and secs_to_purchase are unaffected.
                F.col("ts").cast("timestamp").alias(ts_alias),
            )
            .withWatermark(ts_alias, watermark)
        )

    clicks = side("click", "click_id", "c_ts", "user_id")
    purchases = side("purchase", "purchase_id", "p_ts", "p_user")
    return (
        clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {horizon}")),
        )
        .select(
            "user_id",
            "click_id",
            "purchase_id",
            (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts"))
            .cast("bigint")
            .alias("secs_to_purchase"),
        )
    )


def session_window_counts_stream(
    spark: SparkSession,
    events_dir: str,
    schema,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-user session windows (gap-merged) over the event stream —
    Spark's native session_window keeps one open window per (user,
    session) in the state store and closes it when the watermark passes
    last_event + gap; state is bounded by active sessions, not stream
    length. The pytest drains with AvailableNow in complete mode and
    asserts equality with the batch session_window twin (same function,
    same semantics, no reimplementation drift).
    """
    ev = spark.readStream.schema(schema).parquet(events_dir)
    return (
        ev.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss")
            .alias("session_start"),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss")
            .alias("session_end"),
            "n",
        )
    )
