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

from . import kernels as K
from .blocks import (
    CONSTANT,
    DICT_BITPACK,
    DICT_ESCAPE,
    MAGIC,
    PAGED,
    RLE,
    VERSION,
    _CONST,
    _DESC,
    _DICT,
    _HDR,
    _PGD,
    _RLE,
    _DECODERS,
    _nbytes,
    _rel_u32,
)

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
    mv = memoryview(buf)
    magic, version, codec_id, n = _HDR.unpack_from(mv)
    if magic != MAGIC:
        raise ValueError(f"bad block magic {magic!r}")
    if version != VERSION:
        raise ValueError(f"unsupported block version {version}")
    if n == 0:
        return bytes(mv), 0
    body = mv[_HDR.size :]
    hdr = _HDR.pack(MAGIC, VERSION, codec_id, n)

    if codec_id == CONSTANT:
        (v,) = _CONST.unpack_from(body)
        nv = _apply(fn, np.array([v], np.int32))
        return hdr + _CONST.pack(int(nv[0])), 0

    if codec_id == RLE:
        r, lw, vmin, vw = _RLE.unpack_from(body)
        off = _RLE.size
        lens_end = off + _nbytes(r, lw)
        vals = (
            K.bitunpack(body[lens_end:], vw, r)
            + np.uint32(vmin & 0xFFFFFFFF)
        ).view(np.int32)
        nv = _apply(fn, vals)
        nmin = int(nv.min())
        nrel = _rel_u32(nv, nmin)
        nw = K.bit_width(nrel)
        return (
            hdr
            + _RLE.pack(r, lw, nmin, nw)
            + bytes(body[off:lens_end])  # run lengths verbatim
            + K.bitpack(nrel, nw)
        ), 0

    if codec_id == DICT_BITPACK:
        c, tmin, tw, iw = _DICT.unpack_from(body)
        off = _DICT.size
        table = (
            K.bitunpack(body[off : off + _nbytes(c, tw)], tw, c)
            + np.uint32(tmin & 0xFFFFFFFF)
        ).view(np.int32)
        nt = _apply(fn, table)
        nmin = int(nt.min())
        nrel = _rel_u32(nt, nmin)
        nw = K.bit_width(nrel)
        return (
            hdr
            + _DICT.pack(c, nmin, nw, iw)
            + K.bitpack(nrel, nw)
            + bytes(body[off + _nbytes(c, tw) :])  # index stream verbatim
        ), 0

    if codec_id == DICT_ESCAPE:
        k, c, n_esc, hmin, hw, emin, ew = _DESC.unpack_from(body)
        off = _DESC.size
        head = (
            K.bitunpack(body[off : off + _nbytes(c, hw)], hw, c)
            + np.uint32(hmin & 0xFFFFFFFF)
        ).view(np.int32)
        off += _nbytes(c, hw)
        codes_bytes = bytes(body[off : off + _nbytes(n, k)])
        off += _nbytes(n, k)
        esc = (
            K.bitunpack(body[off:], ew, n_esc)
            + np.uint32(emin & 0xFFFFFFFF)
        ).view(np.int32)
        nh = _apply(fn, head)
        nhmin = int(nh.min())
        nhrel = _rel_u32(nh, nhmin)
        nhw = K.bit_width(nhrel)
        if n_esc:
            ne = _apply(fn, esc)
            nemin = int(ne.min())
            nerel = _rel_u32(ne, nemin)
            new = K.bit_width(nerel)
        else:
            nemin, nerel, new = 0, np.zeros(0, np.uint32), 0
        return (
            hdr
            + _DESC.pack(k, c, n_esc, nhmin, nhw, nemin, new)
            + K.bitpack(nhrel, nhw)
            + codes_bytes  # code stream verbatim
            + K.bitpack(nerel, new)
        ), n_esc

    if codec_id == PAGED:
        ps, n_pages = _PGD.unpack_from(body)
        off = _PGD.size
        lens = np.frombuffer(body, dtype="<u4", count=n_pages, offset=off)
        off += 4 * n_pages
        subs, decoded = [], 0
        for ln in lens:
            sub, dec = remap_block(body[off : off + int(ln)], fn)
            subs.append(sub)
            decoded += dec
            off += int(ln)
        new_lens = np.array([len(b) for b in subs], dtype="<u4")
        return (
            hdr + _PGD.pack(ps, n_pages) + new_lens.tobytes() + b"".join(subs)
        ), decoded

    # param-free codecs: decode -> map -> re-encode with fresh selection
    # (a general map need not preserve the delta/width structure the
    # original codec was chosen for)
    from . import select as S

    a = _DECODERS[codec_id](body, n)
    new_blk, _cid = S.encode_auto(_apply(fn, a))
    return new_blk, n
