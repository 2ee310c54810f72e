"""Structured-Streaming ingestion of page drops -> incremental KG.

The reference is batch-only (SURVEY §2.9); at web scale the crawl arrives
continuously, so the engine adds an incremental path: ``readStream`` over
a drop directory of parquet page files, the SAME construct_kg DAG applied
per micro-batch through ``foreachBatch``, materialized through the
GraphStore (idempotent keyed writes make reprocessing safe — exactly-once
effect on top of at-least-once delivery).

Windowed crawl statistics use event-time on ``warc_ts`` with a watermark
for late pages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tab2neo_spark.schema import PAGES_SCHEMA


def read_page_stream(
    spark: SparkSession, drop_dir: str, max_files_per_trigger: int = 8
) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(drop_dir)
    )


def stream_kg_to_store(
    spark: SparkSession,
    drop_dir: str,
    store,
    checkpoint_dir: str,
    metadata=None,
):
    """Incremental KG construction: one construct_kg + materialize per
    micro-batch. Batch id becomes the run_id -> per-batch lineage rows;
    replays (failure recovery) dedup on the deterministic keys."""
    from tab2neo_spark.kg.construct import construct_kg, default_metadata
    from tab2neo_spark.kg.materialize import materialize_kg

    meta = metadata or default_metadata()
    stream = read_page_stream(spark, drop_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        kg = construct_kg(spark, batch_df, unique_urls=False, metadata=meta)
        materialize_kg(store, kg, run_id=f"stream_batch_{batch_id}")
        kg.unpersist()

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_crawl_stats(
    pages_stream: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time windowed page counts per lang with late-data watermark."""
    w = F.window("warc_ts", window, slide) if slide else F.window("warc_ts", window)
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(w, "lang")
        .agg(
            F.count("*").alias("n_pages"),
            F.approx_count_distinct("url").alias("approx_urls"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "lang", "n_pages", "approx_urls",
        )
    )
