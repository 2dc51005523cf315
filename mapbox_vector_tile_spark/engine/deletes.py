"""Merge-on-read equality deletes over encoded blocks.

The Iceberg-v2 equality-delete analog for the blocks table: deletes are a
plain ``doc_id`` relation (a snapshot's delete sidecar,
:func:`.snapshots.commit_deletes`) applied at READ time
(`decode_with_deletes`) without rewriting a single encoded chunk — the
moral equivalent of the reference dropping features by predicate before
(re)encoding a tile (filters F3/F4, ``mapbox_vector_tile/encoder.py``)
except applied lazily on the decode side, which is the only affordable
direction once blocks are immutable 100 TB artifacts.

Scale shape (the same one Iceberg merge-on-read readers use): the blocks
decode exactly as :func:`.decode.decode_dataframe` decodes them, with its
CRC and stored-count checks, and the distinct deleted ids ride to every
decode task as one broadcast relation of a ``left_anti`` join — no
shuffle of decoded tokens.

Compaction (`engine/compact.py`) is the natural "apply deletes for real"
companion: decode_with_deletes -> re-encode rewrites the touched buckets and
retires the sidecar, exactly Iceberg's rewrite_data_files + delete cleanup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .decode import decode_dataframe


def decode_with_deletes(
    blocks_df: DataFrame, deletes_df: DataFrame, **decode_kwargs
) -> DataFrame:
    """blocks + equality deletes -> ``(doc_id, tokens, n_tok)`` minus deletes.

    Merge-on-read: encoded chunks are never rewritten. The blocks decode
    through :func:`.decode.decode_dataframe` (``decode_kwargs`` pass on to
    it), and a broadcast ``left_anti`` join on the distinct deleted ids
    drops the deleted docs."""
    dels = deletes_df.select(F.col("doc_id").cast("string").alias("doc_id"))
    return decode_dataframe(blocks_df, **decode_kwargs).join(
        F.broadcast(dels.distinct()), "doc_id", "left_anti"
    )
