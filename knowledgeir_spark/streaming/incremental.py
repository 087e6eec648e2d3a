"""Incremental index maintenance + streaming analytics.

incremental_index: Structured Streaming over the input table directory with
Trigger.AvailableNow — each micro-batch of new docs becomes an index DELTA
(same posting-block layout as the full build) committed under
<index_root>/deltas/batch_<id>/ — its delta_stats.json, written last, marks
the delta as landed for compact() — with Spark's streaming checkpoint providing
exactly-once batch tracking (a re-run after a crash re-processes only
unseen files).  Because build salts are contiguous doc_id ranges, delta
blocks merge with base blocks by simple (term, first_doc_id) ordering at
query time — no re-encode.  This is the idiomatic "new crawl lands in the
table, index follows" path (Trigger.AvailableNow over parquet; Kafka would
plug in the same way).

windowed_event_counts: watermarked sliding-window aggregation (the engine's
streaming-agg surface), batch-testable via processAllAvailable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import doc_terms
from ..index.build import (
    IndexConfig, apply_block_encoder, block_term_stats, check_layout,
)
from ..index.compact import _atomic_write_json


def _delta_writer(index_root: str, config: IndexConfig):
    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = os.path.join(index_root, "deltas", f"batch_{batch_id}")
        dt = doc_terms(batch_df, simple=(config.tokenizer == "simple"))
        n_docs = batch_df.count()  # over the input: empty docs count too
        salted = dt.select(
            "doc_id", "term", "tf", "doc_len",
            (F.col("doc_id") / config.salt_range).cast("long").alias("salt"),
        )
        (
            salted.repartition(config.n_buckets, "term", "salt")
            .sortWithinPartitions("term", "salt", "doc_id")
            .transform(lambda df: apply_block_encoder(df, config))
            .write.mode("overwrite").partitionBy("bucket").parquet(out)
        )
        # total_len = sum of the delta's own block sum_tf (each posting
        # lands in exactly one block), read back with pyarrow: no Spark pass
        total_len = int(block_term_stats([out])["cf"].to_numpy().sum())
        # per-delta corpus scalars so compaction can update field_stats
        # exactly.  Written LAST and atomically: the file is the delta's
        # commit marker, and compact() skips a delta without it
        _atomic_write_json(
            os.path.join(out, "delta_stats.json"),
            {"n_docs": n_docs, "total_len": total_len},
        )

    return write_batch


def incremental_index(
    spark: SparkSession,
    input_path: str,
    index_root: str,
    schema,
    config: IndexConfig = IndexConfig(),
) -> None:
    """Process all currently-available new files into index deltas, then stop.
    Re-invocable: the checkpoint makes it resume from unseen files only.
    Raises ValueError when `config` disagrees with the base index's layout
    (check_layout)."""
    check_layout(index_root, config)
    stream = spark.readStream.schema(schema).parquet(input_path)
    q = (
        stream.writeStream.foreachBatch(_delta_writer(index_root, config))
        .option("checkpointLocation", os.path.join(index_root, "_stream_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked windowed counts per event_type over a streaming frame with
    (ts timestamp, event_type string, value double)."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(w.alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type", "n", "total_value",
        )
    )
