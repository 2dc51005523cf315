"""Structured Streaming wrapper for the DECODE job: blocks arrive as a
stream (e.g. a compaction or ingest job appends block files) and are
decoded back to a tokens table incrementally.

``decode_dataframe`` is a stateless Arrow-batched map, so it runs unchanged
inside the micro-batch plan — no ``foreachBatch`` needed for the transform
itself; the sink uses ``foreachBatch`` only to get idempotent
``batch_id=``-partitioned writes (a replayed micro-batch overwrites its own
partition)."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..engine.decode import decode_dataframe


def start_decode_stream(
    blocks_stream: DataFrame,
    out_dir: str,
    stream_checkpoint_dir: str,
    verify_checksum: bool = True,
    trigger_once: bool = True,
):
    """Start a streaming decode of a streaming blocks DataFrame.

    Returns the StreamingQuery. ``trigger_once`` processes all available
    input then stops (batch-parity mode). A replayed micro-batch overwrites
    its own ``batch_id=`` partition instead of appending duplicates."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        decoded = decode_dataframe(
            batch_df, verify_checksum=verify_checksum
        ).withColumn("batch_id", F.lit(batch_id).cast("long"))
        (
            decoded.write.partitionBy("batch_id")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(out_dir)
        )

    writer = (
        blocks_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", stream_checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
