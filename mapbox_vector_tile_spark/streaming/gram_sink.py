"""Streaming Gram-statistics maintenance — the 5th mergeable sink
family (after count-min, KMV, HLL, and the order-sample quantiles).

The fixed-point second-moment state of :func:`..functions.similarity
.embedding_gram` is EXACTLY mergeable: every measure (n, sum_i, sum_j,
sum_ij) is additive per (i, j) cell, so "fold this micro-batch of new
embeddings in" is a D^2-row integer addition — the published PCA /
covariance input stays current under ingest without ever re-reading the
corpus, and (unlike the sketches) with zero approximation.

Exactly-once on top of foreachBatch's at-least-once replay — the same
ledger discipline as :mod:`.index_sink`:
uuid-suffixed version directories, a ``_versions.jsonl`` batch-id ledger
(a replayed batch publishes nothing), and an ``os.replace``-swapped
``_current`` pointer.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.similarity import embedding_gram

_MEASURES = ["n", "sum_i", "sum_j", "sum_ij"]


def _log_path(root: str) -> str:
    return os.path.join(root, "_versions.jsonl")


def version_log(root: str) -> list[dict]:
    path = _log_path(root)
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def published_batch_ids(root: str) -> set[int]:
    return {v["batch_id"] for v in version_log(root)}


def current_gram_dir(root: str) -> str | None:
    """The LEDGER is the single source of truth: the published state is
    the ``dir`` of the last ``_versions.jsonl`` line, so the atomic
    ledger append in :func:`publish_gram_batch` IS the publish point. A
    crash on either side of it is clean: before the append the batch
    replays (id not in the ledger), after it the replay is a no-op and
    readers already see the new version — the ``_current`` pointer file
    is only a convenience cache and can lag without losing a batch."""
    log = version_log(root)
    if log:
        return os.path.join(root, log[-1]["dir"])
    cur = os.path.join(root, "_current")
    if not os.path.exists(cur):
        return None
    with open(cur) as f:
        return os.path.join(root, f.read().strip())


def read_current_gram(spark: SparkSession, root: str) -> DataFrame:
    cur = current_gram_dir(root)
    if cur is None:
        raise ValueError(f"no published gram version under {root}")
    return spark.read.parquet(cur)


def publish_gram_batch(
    spark: SparkSession, root: str, batch_df: DataFrame, batch_id: int
) -> str | None:
    """Fold one micro-batch of NEW embedding rows into the published
    statistics; ``None`` when the batch id was already published
    (replay no-op)."""
    if int(batch_id) in published_batch_ids(root):
        return None
    os.makedirs(root, exist_ok=True)
    new = embedding_gram(batch_df)
    cur = current_gram_dir(root)
    if cur is not None:
        # merge = per-(i, j) addition of all four measures
        new = (
            new.unionByName(spark.read.parquet(cur))
            .groupBy("i", "j")
            .agg(*[F.sum(m).alias(m) for m in _MEASURES])
        )
    vname = f"v{len(version_log(root)) + 1}-{uuid.uuid4().hex[:8]}"
    out = os.path.join(root, vname)
    new.coalesce(1).write.parquet(out)
    with open(_log_path(root), "a") as f:
        f.write(json.dumps({"batch_id": int(batch_id), "dir": vname}) + "\n")
    tmp = os.path.join(root, "_current.tmp")
    with open(tmp, "w") as f:
        f.write(vname)
    os.replace(tmp, os.path.join(root, "_current"))
    return vname


def start_gram_maintenance_stream(
    stream: DataFrame, root: str, checkpoint: str
):
    """availableNow foreachBatch stream folding embedding micro-batches
    into the published Gram state."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        publish_gram_batch(
            batch_df.sparkSession, root, batch_df, batch_id
        )

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
