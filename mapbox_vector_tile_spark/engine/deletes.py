"""Merge-on-read equality deletes over encoded blocks.

The Iceberg-v2 equality-delete analog for the blocks table: deletes are a
plain ``doc_id`` relation written as a parquet sidecar (`write_deletes`) and
applied at READ time (`decode_with_deletes`) without rewriting a single
encoded chunk — the moral equivalent of the reference dropping features by
predicate before (re)encoding a tile (filters F3/F4, /root/reference/
mapbox_vector_tile/encoder.py:120-141) except applied lazily on the decode
side, which is the only affordable direction once blocks are immutable
100 TB artifacts.

Scale shape (the same one Iceberg merge-on-read readers use):

- the delete set rides to every decode task as ONE broadcast row holding the
  sorted ``doc_id`` array (`collect_list` inside an aggregate — no driver
  ``collect``, no per-chunk shuffle, no join-back keyed on chunk ids);
- each chunk binary-searches its zone map (``min_doc_id``/``max_doc_id``)
  against that sorted array: chunks with no overlapping delete decode on the
  untouched fast path, so a clustered delete range touches one bucket's
  worth of chunks and the rest of the corpus pays two ``searchsorted`` calls;
- touched chunks decode normally and drop deleted docs with one Arrow
  ``filter`` before anything crosses back into the JVM.

Compaction (`engine/compact.py`) is the natural "apply deletes for real"
companion: decode_with_deletes -> re-encode rewrites the touched buckets and
retires the sidecar, exactly Iceberg's rewrite_data_files + delete cleanup.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from .decode import TOKENS_OUT_SPARK_SCHEMA, decode_block_row, tokens_batch


def write_deletes(deletes_df: DataFrame, path: str) -> None:
    """Persist an equality-delete sidecar (one ``doc_id`` column, parquet)."""
    deletes_df.select("doc_id").distinct().write.mode("overwrite").parquet(path)


def read_deletes(spark, path: str) -> DataFrame:
    """Read an equality-delete sidecar written by :func:`write_deletes`."""
    return spark.read.parquet(path)


def _with_delete_array(blocks_df: DataFrame, deletes_df: DataFrame) -> DataFrame:
    """Attach the full sorted delete array to every chunk row.

    One-row aggregate + broadcast cross join: the Catalyst form of shipping
    the delete file content to every reader task. Distinct first so the
    array size is bounded by the number of deleted docs, not delete events.
    """
    dels = (
        deletes_df.select("doc_id")
        .distinct()
        .agg(F.sort_array(F.collect_list("doc_id")).alias("_deleted"))
    )
    return blocks_df.crossJoin(F.broadcast(dels))


def decode_with_deletes(
    blocks_df: DataFrame,
    deletes_df: DataFrame,
    verify_checksum: bool = True,
) -> DataFrame:
    """blocks + equality deletes -> ``(doc_id, tokens, n_tok)`` minus deletes.

    Merge-on-read: encoded chunks are never rewritten. Chunks whose zone map
    does not intersect the delete set decode byte-identically to
    :func:`.decode.decode_dataframe`; intersecting chunks decode then drop
    the deleted docs with a single vectorized Arrow ``filter`` (tokens of
    kept docs are gathered child-side by Arrow, deleted docs' token lists
    are dropped wholesale).
    """

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        del_arr: np.ndarray | None = None
        for batch in batches:
            if del_arr is None and batch.num_rows:
                # identical single-row broadcast value on every row
                del_arr = np.asarray(
                    batch.column("_deleted")[0].as_py(), dtype=object
                )
            payloads = batch.column("payload")
            lengths_blobs = batch.column("lengths_blob")
            checksums = batch.column("checksum")
            doc_ids_col = batch.column("doc_ids")
            mins = batch.column("min_doc_id")
            maxs = batch.column("max_doc_id")
            for i in range(batch.num_rows):
                # zone-map gate: the chunk's [min,max] span vs the sorted
                # delete array — untouched chunks never inspect doc ids
                lo = int(np.searchsorted(del_arr, mins[i].as_py(), "left"))
                hi = int(np.searchsorted(del_arr, maxs[i].as_py(), "right"))
                rel = del_arr[lo:hi]
                lengths, values = decode_block_row(
                    memoryview(payloads[i].as_buffer()),
                    memoryview(lengths_blobs[i].as_buffer()),
                    checksums[i].as_py() if verify_checksum else None,
                )
                doc_ids = doc_ids_col[i].values
                out = tokens_batch(doc_ids, lengths, values)
                if rel.size:
                    docs_np = np.asarray(doc_ids.to_pylist(), dtype=object)
                    keep = ~np.isin(docs_np, rel)
                    if not keep.any():
                        continue
                    if not keep.all():
                        out = out.filter(pa.array(keep))
                yield out

    joined = _with_delete_array(blocks_df, deletes_df)
    cols = [
        "doc_ids", "lengths_blob", "payload", "checksum",
        "min_doc_id", "max_doc_id", "_deleted",
    ]
    return joined.select(*cols).mapInArrow(fn, TOKENS_OUT_SPARK_SCHEMA)


def delete_scan_stats(blocks_df: DataFrame, deletes_df: DataFrame) -> DataFrame:
    """Zone-map evidence: how many chunks the delete set actually touches.

    Pure Catalyst (broadcast range semi-join on the zone map) — the planner
    view of the same pruning :func:`decode_with_deletes` performs worker-side.
    Returns one row ``(chunks_total, chunks_touched, docs_deleted)``.
    """
    dels = F.broadcast(deletes_df.select("doc_id").distinct())
    zone = blocks_df.select("min_doc_id", "max_doc_id")
    touched = zone.join(
        dels,
        (F.col("doc_id") >= F.col("min_doc_id"))
        & (F.col("doc_id") <= F.col("max_doc_id")),
        "left_semi",
    )
    return (
        zone.agg(F.count("*").alias("chunks_total"))
        .crossJoin(touched.agg(F.count("*").alias("chunks_touched")))
        .crossJoin(dels.agg(F.count("*").alias("docs_deleted")))
    )
