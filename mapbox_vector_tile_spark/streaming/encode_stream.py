"""Structured Streaming wrapper for the encode job.

The reference is strictly batch (SURVEY §2.7: no streaming operators exist in
mapbox-vector-tile) — this wrapper exists because a training-data pipeline's
token tables typically *arrive* as a stream. Pattern: ``readStream`` on the
tokens source -> ``foreachBatch`` running the same Arrow-batched encode as
batch mode -> append blocks + checkpoint rows. ``foreachBatch`` (rather than
a stateful operator) because encoding is a stateless per-chunk map and reuses
the exact batch code path — one engine, two drivers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..engine.encode import EncodeOptions, encode_dataframe


def start_encode_stream(
    tokens_stream: DataFrame,
    out_dir: str,
    stream_checkpoint_dir: str,
    options: EncodeOptions | None = None,
    trigger_once: bool = True,
):
    """Start a streaming encode of a streaming tokens DataFrame.

    Returns the StreamingQuery. ``trigger_once`` processes all available
    input then stops (the batch-parity mode used in tests).

    ``foreachBatch`` is at-least-once: a batch whose write committed but
    whose stream-checkpoint record didn't is replayed on restart. Each
    micro-batch therefore writes to its own ``batch_id=`` partition with
    dynamic partition overwrite, so a replay overwrites its own output
    instead of appending duplicates.
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        blocks = encode_dataframe(batch_df, options).withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        )
        (
            blocks.write.partitionBy("batch_id")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(out_dir)
        )

    writer = (
        tokens_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", stream_checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
