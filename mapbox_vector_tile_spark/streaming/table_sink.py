"""Structured Streaming ingest into the whole-table columnar store.

Rows of an arbitrary relational table arrive as a stream; each
micro-batch encodes EVERY column through its type's codec
(:mod:`..engine.table_encode`) and lands one idempotent
``batch_id=``-partitioned blocks write — the table-store twin of the
token snapshot sink (:mod:`.snapshot_sink`).

Chunk ids stay a pure function of the ORDER KEY (``chunk = key >>
log2(rows)``), so a chunk whose key range straddles a micro-batch
boundary appears as two partial block rows; decode reconstructs rows
(not chunk layout) bit-exactly regardless of how the stream was split —
the parity gate therefore compares CONTENT keyed by the order column,
the same contract Iceberg-style ingest gives compaction. At scale each
micro-batch is one bounded encode pass (worker memory O(chunk_rows *
columns)); no state is kept between batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..engine.table_encode import encode_table


def start_table_encode_stream(
    rows_stream: DataFrame,
    order_col: str,
    out_dir: str,
    stream_checkpoint_dir: str,
    chunk_rows: int = 4096,
    trigger_once: bool = True,
):
    """Start a streaming whole-table encode. Returns the StreamingQuery.
    A replayed micro-batch overwrites its own ``batch_id=`` partition
    (at-least-once upstream -> exactly-once blocks)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        blocks = encode_table(batch_df, order_col, chunk_rows).withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        )
        (
            blocks.write.partitionBy("batch_id")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(out_dir)
        )

    writer = (
        rows_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", stream_checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# Streaming MERGE (upsert) into a VERSIONED table store — copy-on-write.
#
# Each micro-batch is a wave of upsert rows (last writer wins per order
# key). A version directory holds ONLY the chunks that batch touched
# (``merge_table(..., touched_only=True)``) — per-commit write cost is
# O(touched chunks), never O(store), the Iceberg/Delta CoW MERGE bound.
# Readers resolve the latest version of each chunk (one manifest-sized
# window). Exactly-once mirrors the index/snapshot sinks: fresh
# uuid-suffixed version dirs (a crashed attempt is unreferenced), the
# ledger records batch_id, replays commit nothing, and the ledger append
# is the publish point.
# ---------------------------------------------------------------------------

import json
import os
import uuid

from pyspark.sql import SparkSession, Window

from ..engine.table_encode import merge_table


def _upsert_log_path(store_root: str) -> str:
    return os.path.join(store_root, "_versions.jsonl")


def upsert_version_log(store_root: str) -> list[dict]:
    path = _upsert_log_path(store_root)
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def upserted_batch_ids(store_root: str) -> set[int]:
    return {
        v["batch_id"]
        for v in upsert_version_log(store_root)
        if "batch_id" in v
    }


def read_current_table_blocks(
    spark: SparkSession, store_root: str
) -> DataFrame | None:
    """The live table: latest version of every chunk. The version rank
    runs over the MANIFEST rows only (one row per chunk per version that
    touched it) — payload bytes of superseded versions are never read
    past the scan."""
    log = upsert_version_log(store_root)
    skip = _shadowed_dirs(log)
    parts = []
    for i, v in enumerate(log):
        if v.get("vacuumed") or "dir" not in v or v["dir"] in skip:
            continue  # marker lines / fold-shadowed / reclaimed dirs
        parts.append(
            spark.read.parquet(os.path.join(store_root, v["dir"]))
            .withColumn("__v", F.lit(i))
        )
    if not parts:
        return None
    allb = parts[0]
    for p in parts[1:]:
        allb = allb.unionByName(p)
    w = Window.partitionBy("chunk").orderBy(F.desc("__v"))
    return (
        allb.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk", "__v")
    )


def upsert_micro_batch(
    spark: SparkSession,
    store_root: str,
    batch_df: DataFrame,
    batch_id: int,
    order_col: str,
    df_schema,
    chunk_rows: int = 4096,
) -> str | None:
    """Apply one micro-batch of upserts as a new CoW version; ``None``
    when the batch id is already in the ledger (a foreachBatch replay)."""
    from ..engine.table_encode import encode_table

    if int(batch_id) in upserted_batch_ids(store_root):
        return None
    os.makedirs(store_root, exist_ok=True)
    cur = read_current_table_blocks(spark, store_root)
    if cur is None:
        delta = encode_table(batch_df, order_col, chunk_rows)
    else:
        delta = merge_table(
            cur, batch_df, order_col, df_schema, chunk_rows, touched_only=True
        )
    vname = f"v{len(upsert_version_log(store_root)) + 1}-{uuid.uuid4().hex[:8]}"
    delta.write.parquet(os.path.join(store_root, vname))
    with open(_upsert_log_path(store_root), "a") as f:
        f.write(json.dumps({"batch_id": int(batch_id), "dir": vname}) + "\n")
    return vname


def start_table_upsert_stream(
    rows_stream: DataFrame,
    order_col: str,
    df_schema,
    store_root: str,
    stream_checkpoint_dir: str,
    chunk_rows: int = 4096,
    trigger_once: bool = True,
    compact_every: int | None = None,
):
    """Start a streaming MERGE into the versioned table store. Returns
    the StreamingQuery. Last writer wins per order key ACROSS batches
    (micro-batch order is the stream's arrival order); rows within one
    micro-batch should carry unique keys — upstream streaming dedup
    (``dedup_stream``) is the companion operator.

    ``compact_every=N`` folds the version TAIL
    (:func:`compact_upsert_tail`) once N versions accumulate since the
    last maintenance point — inline LSM-style maintenance keeping
    read-side version fan-in bounded without a separate scheduler; cost
    stays O(churn) per fold and the folded dirs become vacuum-able.
    Replayed batches never trigger a fold (the ledger dedup runs
    first)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        applied = upsert_micro_batch(
            batch_df.sparkSession, store_root, batch_df, batch_id,
            order_col, df_schema, chunk_rows,
        )
        if applied is not None and compact_every:
            compact_upsert_tail(
                batch_df.sparkSession, store_root,
                min_tail=compact_every,
            )

    writer = (
        rows_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", stream_checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _shadowed_dirs(log: list[dict]) -> set[str]:
    """Dirs unreachable by readers: vacuum markers + every dir a tail
    fold covers."""
    out = {v["dir"] for v in log if v.get("vacuumed")}
    for v in log:
        out.update(v.get("folds_dirs", []))
    return out


def compact_upsert_tail(
    spark: SparkSession, store_root: str, min_tail: int = 2
) -> dict:
    """INCREMENTAL (LSM-style) compaction: fold the contiguous TAIL of
    versions committed since the last maintenance point into one version,
    and mark those tail dirs fully shadowed. Cost is O(the tail's rows) —
    the recent CoW deltas, i.e. the store's churn — never O(table); the
    folded dirs become vacuum-able immediately, so read-side version
    fan-in AND disk reclaim stay proportional to churn.

    Correctness leans on the suffix property: the fold carries, per
    chunk, the highest-version row AMONG THE TAIL, and the fold's ledger
    index exceeds every unfolded version's — so global latest-per-chunk
    resolution is unchanged. (Folding a non-suffix subset would be
    unsound: a version between folded ones could be wrongly shadowed by
    an older row carried forward.)

    A new fold ABSORBS the immediately preceding fold dir (the prior
    fold is itself a contiguous-suffix version, so the combined set is
    still a suffix and the argument holds). This keeps reader fan-in
    bounded at one fold dir + the fresh tail between full compactions —
    without absorption it would grow by one dir per fold
    (n_batches/compact_every).

    No-op (returns ``dir=None``) when fewer than ``min_tail`` DATA
    versions landed since the last maintenance point (a carried-forward
    fold alone never re-folds)."""
    log = upsert_version_log(store_root)
    shadowed = _shadowed_dirs(log)
    # live data versions in ledger order; the tail starts after the last
    # full compaction, and carries the previous fold (if any) so folds
    # cascade instead of accumulating
    tail: list[tuple[int, dict]] = []
    fresh = 0  # non-maintenance versions since the last maintenance point
    for i, v in enumerate(log):
        if v.get("vacuumed") or "dir" not in v or v["dir"] in shadowed:
            continue
        if "compacted_through" in v:
            tail, fresh = [], 0  # full compaction: reset
            continue
        if "folds_dirs" in v:
            tail, fresh = [(i, v)], 0  # prior fold: absorb into the next
            continue
        tail.append((i, v))
        fresh += 1
    if fresh < min_tail:
        return {"dir": None, "folded_versions": 0}
    parts = [
        spark.read.parquet(os.path.join(store_root, v["dir"]))
        .withColumn("__v", F.lit(i))
        for i, v in tail
    ]
    allb = parts[0]
    for p in parts[1:]:
        allb = allb.unionByName(p)
    w = Window.partitionBy("chunk").orderBy(F.desc("__v"))
    folded = (
        allb.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk", "__v")
    )
    vname = f"v{len(log) + 1}-{uuid.uuid4().hex[:8]}"
    folded.write.parquet(os.path.join(store_root, vname))
    with open(_upsert_log_path(store_root), "a") as f:
        f.write(
            json.dumps(
                {
                    "batch_id": -1,
                    "dir": vname,
                    "folds_dirs": [v["dir"] for _, v in tail],
                }
            )
            + "\n"
        )
    return {"dir": vname, "folded_versions": fresh}
