"""Streaming encode sink that COMMITS: one snapshot per micro-batch.

This sink encodes each micro-batch INTO the snapshot table (:mod:`..engine.snapshots`), so a continuously ingesting
corpus gets the full metadata-layer contract per micro-batch — atomic
visibility (readers never see a half-written batch: files become visible
only via the manifest pointer swap), time travel across ingest history,
and merge-on-read deletes over streamed data. This is the Iceberg
streaming-commit shape (one table snapshot per epoch).

Exactly-once on top of foreachBatch's at-least-once replay:

- every attempt encodes into a FRESH uuid-suffixed data directory, so a
  crashed attempt leaves only unreferenced files (invisible to every
  reader) and can never collide with its retry;
- the snapshot manifest records the micro-batch's ``batch_id``; a replayed
  batch finds it in the log and commits nothing — the dedup ledger is the
  table history itself, no side state.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame

from ..engine.encode import EncodeOptions, encode_dataframe
from ..engine.snapshots import commit_append, snapshot_log


def committed_batch_ids(table_root: str) -> set[int]:
    """Batch ids already committed to the table (the replay-dedup ledger)."""
    return {
        s["batch_id"] for s in snapshot_log(table_root) if "batch_id" in s
    }


def commit_micro_batch(
    table_root: str,
    batch_df: DataFrame,
    batch_id: int,
    options: EncodeOptions | None = None,
) -> int | None:
    """Encode one micro-batch and commit it as a snapshot; ``None`` when the
    batch id is already in the table history (a foreachBatch replay)."""
    if int(batch_id) in committed_batch_ids(table_root):
        return None
    return commit_append(
        table_root,
        encode_dataframe(batch_df, options or EncodeOptions()),
        meta={
            "batch_id": int(batch_id),
            "_subdir": f"b{batch_id}-{uuid.uuid4().hex[:8]}",
        },
    )


def start_snapshot_commit_stream(
    tokens_stream: DataFrame,
    table_root: str,
    stream_checkpoint_dir: str,
    options: EncodeOptions | None = None,
    trigger_once: bool = True,
):
    """Encode a streaming tokens DataFrame, committing one snapshot per
    micro-batch. Returns the StreamingQuery."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        commit_micro_batch(table_root, batch_df, batch_id, options)

    writer = (
        tokens_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", stream_checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
