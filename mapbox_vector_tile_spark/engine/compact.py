"""Compact fragmented blocks: merge under-sized chunks to target size.

The maintenance operator a 100 TB blocks table needs between encodes —
the analog of Iceberg's ``rewrite_data_files`` (small-file compaction)
applied at CHUNK granularity: streaming encodes (micro-batches), resumed
jobs, and per-bucket tails all produce sub-``max_chunk_values`` chunks
metadata (manifest row, lengths blob, zone-map entries, scheduling unit)
is amortized over too few values. Compaction decodes each undersized
group once, re-encodes it as one full chunk through the chunker's parts
helper (``engine/encode._encode_parts``, so former chunk junctions
become PAGED segment bounds exactly as in the emitter's merged tails),
and passes already-compact chunks through byte-for-byte untouched.

What compaction buys — and what it doesn't: PAYLOAD bytes stay ~equal
(measured +0.2-0.3%: small frames fit local distributions better, and
the seg-aligned PAGED selector preserves per-segment choices inside the
merged chunk, paying only the page index), while CHUNK COUNT drops by
the fragmentation factor — fewer manifest rows to plan over, fewer
scheduling units, fewer per-row columns (doc lists, zone maps) to store
and scan. At 10^12 sequences the manifest itself is a table worth
maintaining; this is the operator that maintains it.

Reference parity note: the reference's ``optimise_tile``
(/root/reference/mapbox_vector_tile/optimise.py:205-226) rewrites the
encoded form of ONE tile; compaction is the across-tile counterpart this
engine adds for scale (the reference has no multi-tile maintenance pass).

Plan shape:
- one payload shuffle, partitioned by bucket and sorted within partitions
  in write order, so each bucket's chunks arrive contiguously. Group
  assignment needs no key: ``chunk_id`` is only unique within one encode
  run, and a snapshot table unions many runs, so a join on it would
  repeat chunks;
- a streaming mapInArrow assigns each chunk its group from the bucket's
  running value count and merges each contiguous group with bounded carry
  (one group's rows), so worker memory is O(target values), never
  O(partition).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from ..codec.strings import decode_string_chunk
from .decode import _read_rows
from .encode import (
    _BLOCKS_ARROW_SCHEMA,
    BLOCKS_SPARK_SCHEMA,
    EncodeOptions,
    _BucketAcc,
    _encode_parts,
    blocks_batch,
)

_META_FIELDS = [f.name for f in _BLOCKS_ARROW_SCHEMA if f.name != "doc_ids"]


def compact_blocks(
    blocks_df,
    opts: EncodeOptions | None = None,
    target_chunk_values: int | None = None,
    verify_checksum: bool = True,
):
    """blocks DataFrame -> compacted blocks DataFrame.

    Chunks are grouped per bucket in write order (``part_id, chunk_id``,
    ties broken by ``min_doc_id``) by a running value count: each group
    spans ~``target_chunk_values`` values (default
    ``opts.max_chunk_values``). Singleton groups — chunks
    already at or near target size — pass through UNCHANGED (no decode,
    no re-encode, byte-identical payload), so compaction is cheap and
    idempotent on already-compact tables. Multi-member groups are decoded,
    each member checked like every Catalyst decode (payload CRC when
    ``verify_checksum``, decoded lengths against its doc ids and stored
    ``n_rows``/``n_values``), concatenated (junctions recorded as PAGED
    segment bounds), and re-encoded with full codec auto-selection.

    Output ``chunk_id`` is ``(bucket << 40) | group`` and ``part_id`` is
    the bucket — unique per output row since every (bucket, group) emits
    exactly one chunk. ``bucket``/``bucket_max`` are the min/max over the
    members, preserving the zone-map contract for bucket- and
    doc-range-filtering readers (``min_doc_id``/``max_doc_id`` are
    recomputed by the re-encode; passthrough keeps the originals).
    """
    opts = opts or EncodeOptions()
    target = int(target_chunk_values or opts.max_chunk_values)
    if target <= 0:
        raise ValueError(f"target_chunk_values must be positive, got {target}")

    # min_doc_id breaks (part_id, chunk_id) ties between encode runs, so
    # the merged chunks' bytes do not depend on the shuffle's order
    df = blocks_df.repartition("bucket").sortWithinPartitions(
        "bucket", "part_id", "chunk_id", "min_doc_id"
    )

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        out_rows: list[dict] = []
        out_docs: list[pa.Array] = []
        members: list[dict] = []
        cur_key: tuple[int, int] | None = None

        def emit_group() -> None:
            if not members:
                return
            if len(members) == 1:
                m = members[0]
                row = {k: m[k] for k in _META_FIELDS}
                row["chunk_id"] = (int(m["bucket"]) << 40) | int(m["_group"])
                row["part_id"] = int(m["bucket"])
                out_rows.append(row)
                out_docs.append(m["doc_ids"])
                return
            blobs = [m["source_blob"] for m in members]
            if any(b is not None for b in blobs) and None in blobs:
                raise ValueError(
                    "cannot compact: some chunks in a group carry a "
                    "source_blob and others do not"
                )
            parts = _BucketAcc()
            rows = _read_rows(
                [m["_row"] for m in members], verify_checksum, flush=(0, 0)
            )
            for blob, (ids, lengths, values, _) in zip(blobs, rows):
                parts.add(
                    ids,
                    lengths,
                    values,
                    None if blob is None
                    else pa.array(decode_string_chunk(blob), pa.string()),
                )
            bucket = min(int(m["bucket"]) for m in members)
            row, docs = _encode_parts(
                parts,
                opts,
                bucket,
                int(members[0]["_group"]),
                bucket,
                max(int(m["bucket_max"]) for m in members),
            )
            out_rows.append(row)
            out_docs.append(docs)

        def flush() -> pa.RecordBatch | None:
            if not out_rows:
                return None
            batch = blocks_batch(out_rows, out_docs)
            out_rows.clear()
            out_docs.clear()
            return batch

        # a chunk's group is the bucket's value count before it over the
        # target. A group may span record batches: members carry across
        # batch boundaries and are emitted only on a key change (or at the
        # end), so every (bucket, group) yields exactly one output chunk
        cum_before = 0
        for batch in batches:
            names = batch.schema.names
            cols = {n: batch.column(n) for n in names}
            for i in range(batch.num_rows):
                bucket = int(cols["bucket"][i].as_py())
                if cur_key is None or bucket != cur_key[0]:
                    cum_before = 0
                key = (bucket, cum_before // target)
                cum_before += int(cols["n_values"][i].as_py())
                if key != cur_key:
                    emit_group()
                    members = []
                    cur_key = key
                m = {n: cols[n][i].as_py() for n in names if n != "doc_ids"}
                m["doc_ids"] = cols["doc_ids"][i].values
                m["_group"] = key[1]
                # the member's Arrow row, for the checked decode
                m["_row"] = batch.slice(i, 1)
                members.append(m)
            b = flush()
            if b is not None:
                yield b
        emit_group()
        members = []
        b = flush()
        if b is not None:
            yield b

    return df.mapInArrow(fn, BLOCKS_SPARK_SCHEMA)


def compact_table(
    spark,
    root: str,
    opts: EncodeOptions | None = None,
    target_chunk_values: int | None = None,
) -> int:
    """Snapshot-level compaction (Iceberg ``rewrite_data_files``): compact
    the current snapshot's chunks and commit the result as a rewrite —
    readers at older snapshots keep the pre-compaction layout, the new
    snapshot serves the merged chunks, content is bit-identical (the gate
    checks). Near-target chunks pass through byte-identical, so repeated
    maintenance runs converge to a no-op-sized rewrite.

    Returns the new snapshot id.
    """
    from .snapshots import commit_rewrite, read_blocks_at

    blocks = read_blocks_at(spark, root)
    return commit_rewrite(
        root, compact_blocks(blocks, opts, target_chunk_values)
    )
