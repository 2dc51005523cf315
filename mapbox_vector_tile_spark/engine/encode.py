"""Encode kernel: token runs -> encoded-blocks rows, through one chunker.

The pipeline is the Spark-first re-expression of the reference's encode path
(``mapbox_vector_tile/__init__.py:43-98`` → ``encoder.py:43-80``):
one *chunk* plays the role of a *tile layer* — it carries its own codec
choice, dictionary, and stats, and becomes one manifest row in the blocks
table. :class:`_FusedChunkEmitter` is the only code that decides chunk
composition (per-bucket runs up to ``max_chunk_values``, which may span
input files or Arrow batches), and :func:`_encode_parts` the only place a
chunk is assembled for :func:`_encode_chunk`. The emitter serves the bulk
sink and the resumable job (``engine/exchange.py``) and
:func:`encode_dataframe` (a ``mapInArrow`` that feeds it each Arrow
batch); compaction (``engine/compact.py``) re-encodes through
:func:`_encode_parts`. All work happens on numpy arrays; Python↔JVM
crossings only at Arrow batch granularity (never per row). Token input is
read through :func:`_flatten_tokens`, which rejects nulls and values
outside int32.

Blocks-table row = encoded payload + self-describing manifest columns
(codec, sizes, checksum, doc-id range) — the decoder is driven entirely by
these, mirroring how the reference decoder trusts only the wire format
(``mapbox_vector_tile/decoder.py:68-80``).
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
    max_chunk_values: int = 1 << 22  # chunk size cap (memory bound)
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


def chunk_row_starts(lengths: np.ndarray, max_chunk_values: int) -> list[int]:
    """Chunk-cut row indices by a greedy value budget — vectorized with
    ``searchsorted`` on the cumulative token count, so the loop runs once
    per *cut*, not per row.

    Returns ``[0, ...cuts..., n]``; a cut is placed after the first row
    that brings the running value total to ``max_chunk_values`` (never
    after the final row).
    """
    n = int(lengths.size)
    if n == 0:
        return [0, 0]
    cw = np.cumsum(lengths, dtype=np.int64)  # cw[i] = sum lengths[0..i]
    starts = [0]
    base = 0
    while True:
        i = int(np.searchsorted(cw, base + max_chunk_values, side="left"))
        if i >= n - 1:
            break
        starts.append(i + 1)
        base = int(cw[i])
    starts.append(n)
    return starts


def _flatten_tokens(tokens: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """``list<integer>`` tokens -> (int64 per-doc lengths, int32 values).
    Every encoder reads its input through here: null rows, null elements
    and values outside int32 raise instead of being stored as other
    numbers (the checked cast is zero-copy for int32 input)."""
    if tokens.null_count:
        raise ValueError("tokens column must not contain null rows")
    lengths = tokens.value_lengths().to_numpy().astype(np.int64)
    values = tokens.flatten()
    if values.null_count:
        raise ValueError("tokens arrays must not contain null elements")
    return lengths, values.cast(pa.int32()).to_numpy()


def _encode_chunk(
    doc_ids: pa.Array,
    lengths: np.ndarray,
    values: np.ndarray,
    opts: EncodeOptions,
    part_id: int,
    seq: int,
    bucket: int,
    bucket_max: int,
    source_vals: list | None,
    seg_values: np.ndarray | None,
) -> dict:
    """``seg_values``: known distribution boundaries (value offsets within
    the chunk, e.g. bucket transitions a merged chunk absorbed) — PAGED
    aligns its sub-frames to them (codec/select.paged_plan).

    ``bucket_max``: highest bucket the chunk's rows span. A merged chunk
    records its full ``[bucket, bucket_max]`` range so bucket-filtering
    readers can detect non-homogeneous chunks instead of trusting the
    first-row bucket alone."""
    from ..codec.analysis import ChunkAnalysis

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
        "bucket_max": bucket_max,
        "source_blob": source_blob,
    }


class _BucketAcc:
    """Consecutive row runs ("parts") bound for one chunk, kept as parallel
    per-part lists so every part junction is a known distribution boundary
    (a PAGED segment bound if the chunk ends up mixed). ``srcs`` holds each
    part's source strings when the encode carries a string column and
    stays empty otherwise."""

    __slots__ = ("docs", "lens", "vals", "srcs", "serials", "n_values")

    def __init__(self):
        self.docs: list[pa.Array] = []
        self.lens: list[np.ndarray] = []
        self.vals: list[np.ndarray] = []
        self.srcs: list[pa.Array] = []
        self.serials: list[int] = []  # add_file serial each part came from
        self.n_values = 0

    def add(self, docs, lens, vals, src=None, serial=0) -> None:
        self.docs.append(docs)
        self.lens.append(lens)
        self.vals.append(vals)
        if src is not None:
            self.srcs.append(src)
        self.serials.append(serial)
        self.n_values += int(vals.size)

    def rows(self, a: int, b: int, val_off: np.ndarray) -> _BucketAcc:
        """Rows ``[a, b)`` as a new accumulator of views that keeps the
        part splits (future segment bounds) and serials (the pin-window
        bound); ``val_off`` is the value offset of every row."""
        out = _BucketAcc()
        rs = 0
        for p, lens in enumerate(self.lens):
            re = rs + lens.size
            s, e = max(rs, a), min(re, b)
            if s < e:
                pv = int(val_off[rs])
                out.add(
                    self.docs[p].slice(s - rs, e - s),
                    lens[s - rs : e - rs],
                    self.vals[p][int(val_off[s]) - pv : int(val_off[e]) - pv],
                    self.srcs[p].slice(s - rs, e - s) if self.srcs else None,
                    self.serials[p],
                )
            rs = re
        return out


def _encode_parts(
    parts: _BucketAcc,
    opts: EncodeOptions,
    part_id: int,
    seq: int,
    bucket: int,
    bucket_max: int,
) -> tuple[dict, pa.Array]:
    """One chunk from consecutive parts — the one place a chunk is
    assembled for :func:`_encode_chunk`. The parts are concatenated and
    every junction inside the values becomes a PAGED segment bound, so the
    selector can keep per-part codec choices. Returns the manifest row and
    the chunk's doc ids."""
    def cat(xs, concat):
        return xs[0] if len(xs) == 1 else concat(xs)

    docs = cat(parts.docs, pa.concat_arrays)
    lengths = cat(parts.lens, np.concatenate)
    values = cat(parts.vals, np.concatenate)
    seg = np.cumsum([v.size for v in parts.vals], dtype=np.int64)[:-1]
    seg = seg[(seg > 0) & (seg < values.size)]
    src = pa.concat_arrays(parts.srcs).to_pylist() if parts.srcs else None
    row = _encode_chunk(
        docs, lengths, values, opts, part_id, seq, int(bucket),
        int(bucket_max), src, seg if seg.size else None,
    )
    return row, docs


class _FusedChunkEmitter:
    """The one chunker: streams row runs into encoded chunks through
    PER-BUCKET accumulators — the memory AND compression contract of every
    encode (the bulk sink, the resumable job and :func:`encode_dataframe`).

    Each :meth:`add_file` call hands over one input unit's rows (a file, or
    an Arrow batch), in cluster-key order, with their bucket assignments.
    Runs are split at bucket transitions and appended to that bucket's
    accumulator; a bucket emits a chunk only once it has accrued
    ``opts.max_chunk_values`` — so a bucket's runs from CONSECUTIVE inputs
    merge into one bucket-pure chunk, and whole-chunk codec state (one
    dictionary, one FOR frame) is amortized across the per-input segments
    instead of duplicated per segment. Cutting chunks inside each input
    instead regressed compressed size 0.6659 -> 0.6744 at sf0.1: every
    (file x bucket) crossing restarted codec state. Input junctions inside
    an emitted chunk are still recorded as PAGED segment bounds, so the
    selector keeps the exact choice between one shared whole-chunk codec
    and per-segment re-selection (codec/select.candidate_sizes evaluates
    both and takes the min).

    Memory contract — zero-copy with a pinned-input window: accumulator
    parts are VIEWS into the inputs' Arrow buffers (no copy on the encode
    hot path; the host-bandwidth ceiling is the encode-scaling wall, so
    every avoided byte of traffic counts). A view pins its whole input's
    token buffer, so pinning is bounded two ways: (a) ``pin_window`` —
    after each input, any accumulator still holding parts from more than
    ``pin_window`` inputs ago is drained in full (its views, and therefore
    those old buffers, are released); (b) ``buffer_budget_values`` — when
    total buffered values exceed the budget, the largest accumulators are
    drained early as sub-max chunks. High-water memory is therefore
    O(pin_window inputs + budget), never O(task). The only payload copy in
    the path is the per-chunk gather when an emitted chunk spans multiple
    parts (a contiguous buffer is what the codec kernels encode from).
    Callers take finished chunks with :meth:`batch` whenever they like.

    At :meth:`flush` (end of task) each bucket's sub-``min_chunk`` tail
    that cannot stand alone is merged with neighbouring buckets' tails
    into a mixed chunk carrying ``[bucket, bucket_max]`` and per-tail
    segment bounds — at most one mixed chunk per ~``min_chunk`` values,
    instead of one fragment per (file x bucket) crossing. ``flush`` raises
    unless the chunks hold exactly the docs that were added.
    """

    def __init__(
        self,
        opts: EncodeOptions,
        task_id: int,
        min_chunk_values: int,
        buffer_budget_values: int = 1 << 25,
        pin_window: int = 8,
    ):
        self.opts = opts
        self.task_id = task_id
        self.min_chunk = min_chunk_values
        self.budget = max(int(buffer_budget_values), opts.max_chunk_values)
        self.pin_window = max(1, int(pin_window))
        self.seq = 0
        self.rows: list[dict] = []
        self.chunk_docs: list[pa.Array] = []
        self._accs: dict[int, _BucketAcc] = {}
        self._buffered = 0
        self._serial = 0
        self._docs_in = 0
        self._docs_out = 0

    def add_file(self, doc_ids, lengths, values, buckets, sources=None) -> None:
        n = int(lengths.size)
        if n == 0:
            return
        self._docs_in += n
        val_off = np.concatenate(([0], np.cumsum(lengths)))
        trans = np.flatnonzero(np.diff(buckets) != 0) + 1
        bounds = [0, *(int(x) for x in trans), n]
        max_chunk = self.opts.max_chunk_values
        serial = self._serial
        self._serial += 1
        for s, e in zip(bounds[:-1], bounds[1:]):
            b = int(buckets[s])
            acc = self._accs.get(b)
            if acc is None:
                acc = self._accs[b] = _BucketAcc()
            acc.add(
                doc_ids.slice(s, e - s),
                lengths[s:e],
                values[val_off[s] : val_off[e]],
                None if sources is None else sources.slice(s, e - s),
                serial,
            )
            self._buffered += int(val_off[e] - val_off[s])
            if acc.n_values >= max_chunk:
                self._drain(b, hold_tail=True)
        # pinned-input window: release views into inputs older than the
        # window by draining the accumulators that still hold them
        horizon = self._serial - self.pin_window
        if horizon > 0:
            for b in list(self._accs):
                serials = self._accs[b].serials
                if serials and serials[0] < horizon:
                    self._drain(b, hold_tail=False)
        while self._buffered > self.budget:
            self._drain(
                max(self._accs, key=lambda k: self._accs[k].n_values),
                hold_tail=False,
            )

    def flush(self) -> None:
        """End of task: emit every bucket's tail. Tails of at least
        ``min_chunk`` values stand alone (bucket-pure); smaller tails are
        merged with neighbouring buckets into mixed chunks. A tail is
        emitted whenever it holds rows — a tail of zero-token docs holds
        no values but must still reach the output."""
        pending: list[tuple[int, _BucketAcc]] = []
        for b in sorted(self._accs):
            acc = self._accs[b]
            if not acc.lens:
                continue
            if acc.n_values >= self.min_chunk or self.min_chunk <= 0:
                self._drain(b, hold_tail=False)
            else:
                pending.append((b, acc))
        group: list[tuple[int, _BucketAcc]] = []
        gsize = 0
        for b, acc in pending:
            group.append((b, acc))
            gsize += acc.n_values
            if gsize >= self.min_chunk:
                self._emit_merged(group)
                group, gsize = [], 0
        if group:
            self._emit_merged(group)
        self._accs.clear()
        self._buffered = 0
        if self._docs_out != self._docs_in:
            raise RuntimeError(
                f"chunk emitter of task {self.task_id} was given "
                f"{self._docs_in} docs and emitted {self._docs_out}"
            )

    def _drain(self, bucket: int, hold_tail: bool) -> None:
        """Cut full chunks from one bucket's accumulated runs; when
        ``hold_tail`` keep the sub-max trailing rows buffered (as views,
        preserving junctions)."""
        acc = self._accs[bucket]
        lengths = (
            acc.lens[0] if len(acc.lens) == 1 else np.concatenate(acc.lens)
        )
        n = int(lengths.size)
        if n == 0:
            return
        val_off = np.concatenate(([0], np.cumsum(lengths)))
        starts = chunk_row_starts(lengths, self.opts.max_chunk_values)
        pairs = [(a, b) for a, b in zip(starts[:-1], starts[1:]) if a < b]
        tail_start = n
        if hold_tail and pairs:
            a, b = pairs[-1]
            if val_off[b] - val_off[a] < self.opts.max_chunk_values:
                pairs.pop()
                tail_start = a
        if not pairs:
            return
        for a, b in pairs:
            self._emit(acc.rows(a, b, val_off), bucket, bucket)
        tail = self._accs[bucket] = acc.rows(tail_start, n, val_off)
        self._buffered += tail.n_values - acc.n_values

    def _emit_merged(self, group: list[tuple[int, _BucketAcc]]) -> None:
        """One mixed chunk from several buckets' sub-min_chunk tails:
        every part junction (bucket or input) becomes a segment bound;
        ``bucket``/``bucket_max`` record the true range."""
        parts = _BucketAcc()
        for _, acc in group:
            parts.docs += acc.docs
            parts.lens += acc.lens
            parts.vals += acc.vals
            parts.srcs += acc.srcs
        self._emit(parts, group[0][0], group[-1][0])

    def _emit(self, parts: _BucketAcc, bucket: int, bucket_max: int) -> None:
        row, docs = _encode_parts(
            parts, self.opts, self.task_id, self.seq, bucket, bucket_max
        )
        self.rows.append(row)
        self.chunk_docs.append(docs)
        self.seq += 1
        self._docs_out += len(docs)

    def batch(self) -> pa.RecordBatch | None:
        """The chunks emitted since the last call, as one blocks batch."""
        if not self.rows:
            return None
        out = blocks_batch(self.rows, self.chunk_docs)
        self.rows, self.chunk_docs = [], []
        return out


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

    Each partition feeds its Arrow batches to one
    :class:`_FusedChunkEmitter` and yields the chunks it finishes after
    every batch, so a chunk may span batches (up to ``max_chunk_values``)
    while memory stays bounded by the emitter's pin window.
    ``bucket_col``: optional integer bucket column carried into each
    chunk's ``bucket`` field; chunks never mix buckets.
    ``string_col``: optional string column (e.g. ``source``) stored per chunk
    as a DICT+FSST blob (``codec/strings.py``), so the full input_hint schema
    round-trips, not just the token arrays.
    """
    opts = options or EncodeOptions()

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ctx = TaskContext.get()
        em = _FusedChunkEmitter(opts, ctx.partitionId() if ctx else 0, 0)
        for batch in batches:
            lengths, values = _flatten_tokens(batch.column("tokens"))
            if bucket_col is not None:
                buckets = batch.column(bucket_col).to_numpy().astype(np.int64)
            else:
                buckets = np.zeros(lengths.size, dtype=np.int64)
            em.add_file(
                batch.column("doc_id"), lengths, values, buckets,
                batch.column(string_col) if string_col else None,
            )
            out = em.batch()
            if out is not None:
                yield out
        em.flush()
        out = em.batch()
        if out is not None:
            yield out

    cols = ["doc_id", "tokens"] + ([bucket_col] if bucket_col else []) + (
        [string_col] if string_col else []
    )
    return df.select(*cols).mapInArrow(fn, BLOCKS_SPARK_SCHEMA)
