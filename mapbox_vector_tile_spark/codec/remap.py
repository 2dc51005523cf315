"""Codec-aware value remap INSIDE encoded blocks (vocabulary surgery).

Training pipelines periodically rewrite token ids in place — tokenizer
merges, vocab compaction, reserved-id moves. Re-encoding 100 TB of blocks
through a full decode→map→encode pass inflates every value stream just to
rewrite a per-chunk vocabulary that the codec metadata already names. This
module applies a vectorized mapping to the *value-carrying* sections of a
block and leaves the shape-carrying streams untouched:

- ``CONSTANT``     — remap one value; payload otherwise identical. O(1).
- ``RLE``          — remap the run-value stream; the run-length stream is
  copied byte-verbatim. O(runs).
- ``DICT_BITPACK`` — remap the value table; the bit-packed index stream is
  copied byte-verbatim (its width depends only on cardinality, which a
  remap never changes). O(table).
- ``DICT_ESCAPE``  — remap head table (O(table)) + escape values
  (O(escapes)); the code stream is copied byte-verbatim.
- ``PAGED``        — recurse per self-describing page.
- ``RAW`` / ``BITPACK_ZZ`` / ``FOR_BITPACK`` / ``DELTA_*`` — the params
  carry no enumerable value set: decode, remap, re-encode with fresh codec
  auto-selection (an arbitrary map need not preserve delta structure).

Mirrors the reference's in-place tile rewrite entry point
(`/root/reference/mapbox_vector_tile/optimise.py` rewrites encoded tiles
without re-running the encoder) — re-expressed for columnar token blocks.

``remap_block`` returns ``(new_block, values_decoded)`` where
``values_decoded`` counts O(n_values)-proportional materializations — the
number a 100 TB remap minimizes and the tests assert on.

The map must send int32 to int32; overflow fails fast (never wraps).
"""

from __future__ import annotations

from typing import Callable

import numpy as np

from . import blocks as B

MapFn = Callable[[np.ndarray], np.ndarray]

_I32_MIN, _I32_MAX = -(2**31), 2**31 - 1


def _apply(fn: MapFn, vals: np.ndarray) -> np.ndarray:
    """fn over int64 inputs; int32-validated int32 output."""
    out = np.asarray(fn(vals.astype(np.int64)), dtype=np.int64)
    if out.shape != vals.shape:
        raise ValueError(
            f"map changed shape {vals.shape} -> {out.shape}"
        )
    if out.size and (
        int(out.min()) < _I32_MIN or int(out.max()) > _I32_MAX
    ):
        raise ValueError("remapped values overflow int32")
    return out.astype(np.int32)


def make_range_shift_map(lo: int, hi: int, offset: int) -> MapFn:
    """``t -> t + offset`` for ``lo <= t <= hi``, identity elsewhere — the
    closed-form map the SQL oracle can express as a CASE."""

    def fn(a: np.ndarray) -> np.ndarray:
        return np.where((a >= lo) & (a <= hi), a + offset, a)

    return fn


def remap_block(buf: bytes | memoryview, fn: MapFn) -> tuple[bytes, int]:
    """Apply ``fn`` to every value of one framed block.

    Returns ``(new_block_bytes, values_decoded)``; the new block is a
    normal self-describing frame (any decoder reads it)."""
    codec_id, n, body = B.read_frame(buf)
    if n == 0:
        return bytes(buf), 0
    v = B.sections(codec_id, n, body)

    if codec_id == B.CONSTANT:
        (nv,) = _apply(fn, np.array([v.value], np.int32)).tolist()
        return B.pack_frame(B.CONSTANT, n, (nv,)), 0

    if codec_id == B.RLE:
        nmin, nw, packed = B.pack_offsets(_apply(fn, v.vals.values(v.vmin)))
        return B.pack_frame(
            B.RLE, n, (v.r, v.lw, nmin, nw),
            v.lens.buf,  # run lengths verbatim
            packed,
        ), 0

    if codec_id == B.DICT_BITPACK:
        nmin, nw, packed = B.pack_offsets(_apply(fn, v.table.values(v.tmin)))
        return B.pack_frame(
            B.DICT_BITPACK, n, (v.c, nmin, nw, v.iw),
            packed,
            v.idx.buf,  # index stream verbatim
        ), 0

    if codec_id == B.DICT_ESCAPE:
        hmin, hw, head = B.pack_offsets(_apply(fn, v.head.values(v.hmin)))
        esc = v.esc.values(v.emin)
        emin, ew, esc_packed = B.pack_offsets(_apply(fn, esc) if v.n_esc else esc)
        return B.pack_frame(
            B.DICT_ESCAPE, n, (v.k, v.c, v.n_esc, hmin, hw, emin, ew),
            head,
            v.codes.buf,  # code stream verbatim
            esc_packed,
        ), v.n_esc

    if codec_id == B.PAGED:
        subs, decoded = [], 0
        for _, page in B.iter_pages(v):
            sub, dec = remap_block(page, fn)
            subs.append(sub)
            decoded += dec
        return B.pack_paged(n, v.page_size, subs), decoded

    # param-free codecs: decode -> map -> re-encode with fresh selection
    # (a general map need not preserve the delta/width structure the
    # original codec was chosen for)
    from . import select as S

    new_blk, _cid = S.encode_auto(_apply(fn, B.decode_view(v)))
    return new_blk, n
