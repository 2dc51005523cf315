"""Distributed encode job: tokens DataFrame -> encoded-blocks DataFrame.

The pipeline is the Spark-first re-expression of the reference's encode path
(/root/reference/mapbox_vector_tile/__init__.py:43-98 → encoder.py:43-80):
one *chunk* (Arrow RecordBatch) plays the role of a *tile layer* — it carries
its own codec choice, dictionary, and stats, and becomes one manifest row in
the blocks table. All work happens inside ``mapInArrow`` on numpy arrays;
Python↔JVM crossings only at Arrow batch granularity (never per row).

Blocks-table row = encoded payload + self-describing manifest columns
(codec, sizes, checksum, doc-id range) — the decoder is driven entirely by
these, mirroring how the reference decoder trusts only the wire format
(/root/reference/mapbox_vector_tile/decoder.py:68-80).
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark import TaskContext

from ..codec import blocks as B
from ..codec import select as S

BLOCKS_SPARK_SCHEMA = (
    "chunk_id long, part_id int, n_rows int, n_values long, "
    "doc_ids array<string>, lengths_blob binary, payload binary, "
    "codec_id int, codec string, lengths_codec string, "
    "bytes_raw long, bytes_enc long, bytes_ref long, checksum long, "
    "min_doc_id string, max_doc_id string, bucket int, bucket_max int, "
    "source_blob binary"
)

_BLOCKS_ARROW_SCHEMA = pa.schema(
    [
        ("chunk_id", pa.int64()),
        ("part_id", pa.int32()),
        ("n_rows", pa.int32()),
        ("n_values", pa.int64()),
        ("doc_ids", pa.list_(pa.string())),
        ("lengths_blob", pa.binary()),
        ("payload", pa.binary()),
        ("codec_id", pa.int32()),
        ("codec", pa.string()),
        ("lengths_codec", pa.string()),
        ("bytes_raw", pa.int64()),
        ("bytes_enc", pa.int64()),
        ("bytes_ref", pa.int64()),
        ("checksum", pa.int64()),
        ("min_doc_id", pa.string()),
        ("max_doc_id", pa.string()),
        ("bucket", pa.int32()),
        ("bucket_max", pa.int32()),
        ("source_blob", pa.binary()),
    ]
)


# Streams an encode produces; each can carry its own codec/validate override.
COLUMN_STREAMS = ("tokens", "lengths")
_PER_COLUMN_KEYS = ("codec", "validate")


@dataclass(frozen=True)
class EncodeOptions:
    """Engine config: global defaults + validated per-column overrides — the
    analog of the reference's per-layer option cascade
    (/root/reference/mapbox_vector_tile/utils.py:52-143, exercised by
    tests/test_encoder.py:1145-1157). ``per_column`` maps a stream name
    (``tokens`` — the value stream; ``lengths`` — the per-doc length stream)
    to ``{"codec": ..., "validate": ...}``; anything not overridden falls
    back to the global value. Unknown columns/keys/codecs fail fast with a
    deterministic message, mirroring the reference's cascade validation."""

    codec: str | None = None  # None = auto-select per chunk
    validate: bool = False  # decode-after-encode check inside the kernel
    compute_ref_size: bool = True  # also size the reference MVT scheme
    max_chunk_values: int = 1 << 22  # split jumbo batches (memory bound)
    per_column: dict | None = None  # {"lengths": {"codec": "rle"}, ...}

    def __post_init__(self):
        if self.codec is not None and self.codec not in B.CODEC_IDS:
            raise ValueError(
                f"unknown codec {self.codec!r}; valid: {sorted(B.CODEC_IDS)}"
            )
        for col, kv in (self.per_column or {}).items():
            if col not in COLUMN_STREAMS:
                raise ValueError(
                    f"per_column: unknown column {col!r}; "
                    f"valid: {sorted(COLUMN_STREAMS)}"
                )
            for k in kv:
                if k not in _PER_COLUMN_KEYS:
                    raise ValueError(
                        f"per_column[{col!r}]: unknown option {k!r}; "
                        f"valid: {sorted(_PER_COLUMN_KEYS)}"
                    )
            c = kv.get("codec")
            if c is not None and c not in B.CODEC_IDS:
                raise ValueError(
                    f"per_column[{col!r}]: unknown codec {c!r}; "
                    f"valid: {sorted(B.CODEC_IDS)}"
                )
            v = kv.get("validate")
            if v is not None and not isinstance(v, bool):
                raise ValueError(
                    f"per_column[{col!r}]: validate must be a bool, got {v!r}"
                )

    def column_codec(self, column: str) -> str | None:
        """Resolved codec for a stream (override > global-for-tokens > auto)."""
        ov = (self.per_column or {}).get(column, {})
        if "codec" in ov:
            return ov["codec"]
        return self.codec if column == "tokens" else None

    def column_validate(self, column: str) -> bool:
        ov = (self.per_column or {}).get(column, {})
        return ov.get("validate", self.validate)


def chunk_row_starts(
    lengths: np.ndarray,
    max_chunk_values: int,
    forced: np.ndarray | None = None,
) -> list[int]:
    """Chunk-cut row indices: ``forced`` boundaries (e.g. bucket changes)
    plus greedy value-budget cuts — vectorized with ``searchsorted`` on the
    cumulative token count, so the loop runs once per *cut*, not per row.

    Returns ``[0, ...cuts..., n]``; every forced boundary is a cut, and
    within each forced segment a cut is placed after the first row that
    brings the running value total to ``max_chunk_values`` (never after the
    final row of the table).
    """
    n = int(lengths.size)
    if n == 0:
        return [0, 0]
    cw = np.cumsum(lengths, dtype=np.int64)  # cw[i] = sum lengths[0..i]
    seg_bounds = [0]
    if forced is not None and len(forced):
        seg_bounds.extend(int(x) for x in forced if 0 < int(x) < n)
    seg_bounds.append(n)
    starts = [0]
    for s, e in zip(seg_bounds[:-1], seg_bounds[1:]):
        if s >= e:
            continue
        if s > 0 and s != starts[-1]:
            starts.append(s)
        base = int(cw[s - 1]) if s > 0 else 0
        while True:
            i = int(np.searchsorted(cw, base + max_chunk_values, side="left"))
            if i >= e - 1 or i + 1 >= n:
                break
            starts.append(i + 1)
            base = int(cw[i])
    starts.append(n)
    return starts


def _flatten_tokens(batch: pa.RecordBatch) -> tuple[np.ndarray, np.ndarray]:
    col = batch.column("tokens")
    if col.null_count:
        raise ValueError("tokens column must not contain null rows")
    lengths = col.value_lengths().to_numpy().astype(np.int64)
    values = col.flatten()
    if values.null_count:
        raise ValueError("tokens arrays must not contain null elements")
    return lengths, values.to_numpy(zero_copy_only=False).astype(np.int32, copy=False)


def _encode_chunk(
    doc_ids: pa.Array,
    lengths: np.ndarray,
    values: np.ndarray,
    opts: EncodeOptions,
    part_id: int,
    seq: int,
    bucket: int = 0,
    source_vals: list | None = None,
    seg_values: np.ndarray | None = None,
    bucket_max: int | None = None,
) -> dict:
    """``seg_values``: known distribution boundaries (value offsets within
    the chunk, e.g. bucket transitions a merged chunk absorbed) — PAGED
    aligns its sub-frames to them (codec/select.paged_plan).

    ``bucket_max``: highest bucket the chunk's rows span (defaults to
    ``bucket``). A merged chunk records its full ``[bucket, bucket_max]``
    range so bucket-filtering readers can detect non-homogeneous chunks
    instead of trusting the first-row bucket alone."""
    from ..codec.analysis import ChunkAnalysis
    from ..codec import kernels as K

    an = ChunkAnalysis(values, seg_bounds=seg_values)
    tok_codec = opts.column_codec("tokens")
    tok_validate = opts.column_validate("tokens")
    if tok_codec is None:
        cid = S.choose_codec(an.a, an)
    else:
        cid = B.CODEC_IDS[tok_codec]
    try:
        payload = B.encode_block(an.a, cid, an)
        if tok_validate and not np.array_equal(B.decode_block(payload), an.a):
            raise ValueError("round-trip mismatch")
    except Exception:
        if cid == B.RAW:
            raise
        payload, cid = B.encode_block(an.a, B.RAW, an), B.RAW
    lengths_blob, lcid = S.encode_auto(
        lengths.astype(np.int32),
        codec=opts.column_codec("lengths"),
        validate=opts.column_validate("lengths"),
    )
    if opts.compute_ref_size:
        # count-reduction form: same number as varint_size(mvt_zz) (kernel
        # test), but the full zigzag stream is never materialized — saves
        # ~8 bytes/token of memory traffic per chunk on the encode hot path
        bytes_ref = B.header_size() + (
            an.varint_size_mvt() if values.size else 0
        )
    else:
        bytes_ref = -1
    # true min/max (not first/last): chunks may be clustered by a
    # non-doc_id sort key, and zone-map pruning on these must stay correct
    if len(doc_ids):
        import pyarrow.compute as pc

        mm = pc.min_max(doc_ids).as_py()
        dmin, dmax = mm["min"], mm["max"]
    else:
        dmin = dmax = None
    if source_vals is not None:
        from ..codec.strings import encode_string_chunk

        source_blob = encode_string_chunk(source_vals)
    else:
        source_blob = None
    # doc_ids intentionally absent: the caller assembles the list column
    # zero-copy from the input batch (no Python-object round trip)
    return {
        "chunk_id": (part_id << 40) | seq,
        "part_id": part_id,
        "n_rows": len(doc_ids),
        "n_values": int(values.size),
        "lengths_blob": lengths_blob,
        "payload": payload,
        "codec_id": cid,
        "codec": B.CODEC_NAMES[cid],
        "lengths_codec": B.CODEC_NAMES[lcid],
        "bytes_raw": 4 * int(values.size),
        "bytes_enc": len(payload),
        "bytes_ref": bytes_ref,
        "checksum": zlib.crc32(payload),
        "min_doc_id": dmin,
        "max_doc_id": dmax,
        "bucket": bucket,
        "bucket_max": bucket if bucket_max is None else bucket_max,
        "source_blob": source_blob,
    }


def blocks_batch(rows: list[dict], chunk_docs: list[pa.Array]) -> pa.RecordBatch:
    """Blocks-table batch from :func:`_encode_chunk` rows and each row's
    doc ids (``chunk_docs[k]`` belongs to ``rows[k]``)."""
    offs = np.zeros(len(chunk_docs) + 1, dtype=np.int64)
    np.cumsum([len(d) for d in chunk_docs], out=offs[1:])
    doc_lists = pa.ListArray.from_arrays(
        pa.array(offs, pa.int32()),
        pa.concat_arrays([d.cast(pa.string()) for d in chunk_docs]),
    )
    cols = [
        doc_lists
        if f.name == "doc_ids"
        else pa.array([r[f.name] for r in rows], f.type)
        for f in _BLOCKS_ARROW_SCHEMA
    ]
    return pa.RecordBatch.from_arrays(cols, schema=_BLOCKS_ARROW_SCHEMA)


def encode_dataframe(
    df,
    options: EncodeOptions | None = None,
    bucket_col: str | None = None,
    string_col: str | None = None,
):
    """tokens DataFrame -> blocks DataFrame (one row per chunk).

    ``bucket_col``: optional integer bucket column carried into each
    chunk's ``bucket`` field; chunks are cut at bucket changes, so each
    stays bucket-pure.
    ``string_col``: optional string column (e.g. ``source``) stored per chunk
    as a DICT+FSST blob (``codec/strings.py``), so the full input_hint schema
    round-trips, not just the token arrays.
    """
    opts = options or EncodeOptions()

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx else 0
        seq = 0
        for batch in batches:
            if batch.num_rows == 0:
                continue
            lengths, values = _flatten_tokens(batch)
            doc_ids = batch.column("doc_id")
            if bucket_col is not None:
                buckets = batch.column(bucket_col).to_numpy().astype(np.int64)
            else:
                buckets = np.zeros(lengths.size, dtype=np.int64)
            source_all = (
                batch.column(string_col).to_pylist() if string_col else None
            )
            # chunk boundaries: (a) bucket changes — a scan task may pack
            # several bucket files, and chunks must stay bucket-homogeneous;
            # (b) jumbo splits so kernels stay O(max_chunk_values) memory
            forced = np.flatnonzero(np.diff(buckets) != 0) + 1
            row_starts = chunk_row_starts(lengths, opts.max_chunk_values, forced)
            val_offsets = np.concatenate(([0], np.cumsum(lengths)))
            rows = []
            chunk_docs = []
            for a, b in zip(row_starts[:-1], row_starts[1:]):
                if a == b:
                    continue
                chunk_docs.append(doc_ids.slice(a, b - a))
                rows.append(
                    _encode_chunk(
                        chunk_docs[-1],
                        lengths[a:b],
                        values[val_offsets[a] : val_offsets[b]],
                        opts,
                        part_id,
                        seq,
                        int(buckets[a]),
                        source_all[a:b] if source_all is not None else None,
                    )
                )
                seq += 1
            if rows:
                yield blocks_batch(rows, chunk_docs)

    cols = ["doc_id", "tokens"] + ([bucket_col] if bucket_col else []) + (
        [string_col] if string_col else []
    )
    return df.select(*cols).mapInArrow(fn, BLOCKS_SPARK_SCHEMA)
