"""Structured Streaming variant of the quality-filter pipeline.

The reference is batch-only (its mpsc walker channel is an
implementation detail, src/lib.rs:233-255 — SURVEY.md §2.8); this
module exists because a web-scale ingestion pipeline consumes WARC
drops as they land. Every pipeline stage is a stateless narrow
transform, so the exact batch plan replays on a stream unchanged:

    readStream(pages dir) -> extract -> cascade -> rules -> scrub

plus a watermarked tumbling-window metrics stream (docs/kept per
crawl-hour) demonstrating stateful late-data handling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datagen.pages import PAGES_SCHEMA
from ..plans.pipeline import run_pipeline


def read_pages_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )


def streaming_labels(spark: SparkSession, input_dir: str, model=None) -> DataFrame:
    """Streaming labels DataFrame — same transforms as the batch plan
    (run_pipeline is source-agnostic: all stages are narrow)."""
    return run_pipeline(spark, read_pages_stream(spark, input_dir), model=model)


def streaming_metrics(labels: DataFrame, window: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window metrics over crawl timestamps:
    docs seen / kept / scrub hits per window. Late rows beyond the
    watermark are dropped by the engine, not by us."""
    return (
        labels.withWatermark("warc_ts", "2 hours")
        .groupBy(F.window("warc_ts", window).alias("w"))
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.col("keep").cast("long")).alias("kept"),
            F.sum(F.coalesce("scrub_email", F.lit(0))).alias("scrub_email"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "docs",
            "kept",
            "scrub_email",
        )
    )


def host_quota_stream(labels: DataFrame, max_kept_per_host: int = 100) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): a
    per-host KEPT-document quota. State = docs kept so far per host;
    each micro-batch emits (host, kept_before, kept_now, quota_hit).
    This is the pattern a crawl-dedup/budget stage needs — semantics a
    windowed agg can't express because the quota decision depends on
    all history, not a window."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        host = key[0]
        kept_before = state.get[0] if state.exists else 0
        new_kept = 0
        for pdf in pdfs:
            new_kept += int(pdf["keep"].fillna(False).sum())
        admitted = max(0, min(new_kept, max_kept_per_host - kept_before))
        state.update((kept_before + new_kept,))
        yield pd.DataFrame(
            {
                "host": [host],
                "kept_before": [kept_before],
                "kept_now": [new_kept],
                "admitted": [admitted],
                "quota_hit": [kept_before + new_kept > max_kept_per_host],
            }
        )

    # host = first path segment after an optional scheme://
    rest = F.element_at(F.split(F.col("url"), "://", 2), -1)
    with_host = labels.withColumn(
        "host", F.lower(F.get(F.split(rest, "/"), 0))
    )
    return with_host.groupBy("host").applyInPandasWithState(
        update,
        outputStructType=(
            "host string, kept_before long, kept_now long, "
            "admitted long, quota_hit boolean"
        ),
        stateStructType="kept long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stream_once(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    model=None,
) -> None:
    """Drain everything currently in input_dir (availableNow) into a
    parquet labels sink, exactly-once via the checkpoint."""
    labels = streaming_labels(spark, input_dir, model=model)
    q = (
        labels.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
