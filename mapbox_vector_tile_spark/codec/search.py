"""Codec-aware value search inside encoded blocks (predicate pushdown).

Find every position of a probe value ``x`` in a block WITHOUT full decode
whenever the codec's own parameters rule it out — the value-predicate
analog of the reference decoding only the single layer a caller asked for
(/root/reference/mapbox_vector_tile/decoder.py:146-160): both use stored
per-container metadata to skip containers a query cannot need. The same
idea as Parquet dictionary-page filtering, applied to this engine's codec
suite:

- ``CONSTANT``  — compare the one stored value; positions are closed-form.
- ``FOR_BITPACK`` — ``x`` outside ``[lo, lo + 2^w)`` -> no hit, payload
  untouched; otherwise compare the *relative* stream directly against
  ``x - lo`` (the base is never added back).
- ``BITPACK_ZZ`` — ``zigzag(x)`` needs more than ``w`` bits -> no hit.
- ``DICT_BITPACK`` / ``DICT_ESCAPE`` — membership decided from the small
  value table (and escape list); the O(n) index stream is only decoded
  when the table actually contains ``x``.
- ``RLE`` — only the run-VALUE stream (one value per run) is scanned; hit
  positions come from run starts/lengths, never an O(n) inflate.
- ``PAGED`` — each self-describing page is checked independently, so
  pages that cannot contain ``x`` are skipped wholesale.
- ``DELTA_*`` / ``RAW`` — the params carry no value bound: full decode.

Every function returns ``(positions, values_decoded)`` where ``positions``
is the sorted int64 array of value offsets equal to ``x`` and
``values_decoded`` counts O(n)-proportional stream materializations (0 when
the block was pruned or answered from table/run metadata) — the number a
100 TB scan wants minimized and the number the tests assert on.
"""

from __future__ import annotations

import numpy as np

from . import blocks as B
from . import kernels as K

_EMPTY = np.zeros(0, dtype=np.int64)

INT32_MIN = -(1 << 31)
INT32_MAX = (1 << 31) - 1


def _zigzag32(x: int) -> int:
    """Scalar zigzag of an int32 (matches :func:`kernels.zigzag_encode`)."""
    return ((x << 1) ^ (x >> 31)) & 0xFFFFFFFF


def _rel32(x: int, lo: int) -> int:
    """Scalar analog of :func:`blocks._rel_u32`: wrapped offset from lo."""
    return (x - lo) & 0xFFFFFFFF


def _matching_runs(v, match: np.ndarray) -> np.ndarray:
    """Positions covered by the runs of RLE view ``v`` that ``match``
    selects; callers read the run lengths only once some run matches."""
    lens = B.run_lengths(v)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))[match]
    lens = lens[match]
    total = int(lens.sum())
    if total == 0:
        return _EMPTY
    run_first = np.concatenate(([0], np.cumsum(lens)[:-1]))
    return np.repeat(starts - run_first, lens) + np.arange(total, dtype=np.int64)


def _paged(probe, v, *args) -> tuple[np.ndarray, int]:
    """``probe`` over each self-describing page of PAGED view ``v``, the
    page positions shifted to chunk offsets."""
    parts: list[np.ndarray] = []
    decoded = 0
    for value_off, page in B.iter_pages(v):
        pos, dec = probe(page, *args)
        decoded += dec
        if pos.size:
            parts.append(pos + value_off)
    if not parts:
        return _EMPTY, decoded
    return np.concatenate(parts), decoded


def _probe(table: dict, buf, *args) -> tuple[np.ndarray, int]:
    v = B.read_view(buf)
    return (_EMPTY, 0) if v is None else table[v.codec_id](v, *args)


def hit_positions(buf: bytes | memoryview, x: int) -> tuple[np.ndarray, int]:
    """All positions of value ``x`` in a framed block + values decoded."""
    if not (INT32_MIN <= x <= INT32_MAX):
        return _EMPTY, 0
    return _probe(_HIT_BODY, buf, int(x))


def _hit_const(v, x: int) -> tuple[np.ndarray, int]:
    if v.value != x:
        return _EMPTY, 0
    return np.arange(v.n, dtype=np.int64), 0


def _hit_bitpack_zz(v, x: int) -> tuple[np.ndarray, int]:
    zx = _zigzag32(x)
    if v.w < 32 and zx >= (1 << v.w):
        return _EMPTY, 0
    return np.nonzero(v.zz.unpack() == np.uint32(zx))[0].astype(np.int64), v.n


def _hit_for_bitpack(v, x: int) -> tuple[np.ndarray, int]:
    rx = _rel32(x, v.lo)
    if v.w < 32 and rx >= (1 << v.w):
        return _EMPTY, 0
    return np.nonzero(v.rel.unpack() == np.uint32(rx))[0].astype(np.int64), v.n


def _hit_rle(v, x: int) -> tuple[np.ndarray, int]:
    rx = _rel32(x, v.vmin)
    if v.vw < 32 and rx >= (1 << v.vw):
        return _EMPTY, 0
    match = v.vals.unpack() == np.uint32(rx)
    if not match.any():
        return _EMPTY, 0
    return _matching_runs(v, match), 0


def _hit_dict_bitpack(v, x: int) -> tuple[np.ndarray, int]:
    rx = _rel32(x, v.tmin)
    if v.tw < 32 and rx >= (1 << v.tw):
        return _EMPTY, 0
    code = np.nonzero(v.table.unpack() == np.uint32(rx))[0]
    if code.size == 0:
        return _EMPTY, 0
    idx = B.dict_codes(v)
    return np.nonzero(idx == np.uint32(code[0]))[0].astype(np.int64), v.n


def _hit_dict_escape(v, x: int) -> tuple[np.ndarray, int]:
    hrx = _rel32(x, v.hmin)
    head_code = -1
    if v.hw == 32 or hrx < (1 << v.hw):
        hit = np.nonzero(v.head.unpack() == np.uint32(hrx))[0]
        if hit.size:
            head_code = int(hit[0])
    esc_match = None
    if v.n_esc:
        erx = _rel32(x, v.emin)
        if v.ew == 32 or erx < (1 << v.ew):
            m = v.esc.unpack() == np.uint32(erx)
            if m.any():
                esc_match = m
    if head_code < 0 and esc_match is None:
        return _EMPTY, 0
    codes = B.dict_codes(v)
    parts = []
    if head_code >= 0:
        parts.append(np.nonzero(codes == np.uint32(head_code))[0])
    if esc_match is not None:
        esc_pos = np.nonzero(codes == np.uint32((1 << v.k) - 1))[0]
        parts.append(esc_pos[esc_match])
    pos = parts[0] if len(parts) == 1 else np.sort(np.concatenate(parts))
    return pos.astype(np.int64), v.n


def _hit_for_patch(v, x: int) -> tuple[np.ndarray, int]:
    rx = _rel32(x, v.lo)
    if v.w == 32 or rx < (1 << v.w):
        hits = np.nonzero(v.base.unpack() == np.uint32(rx))[0].astype(np.int64)
        # patched positions hold base code 0 but store values >= lo + 2^w:
        # exclude them when probing the base-zero value itself
        if rx == 0 and v.n_exc and hits.size:
            pos = v.pos.unpack().astype(np.int64)
            hits = np.setdiff1d(hits, pos, assume_unique=True)
        return hits, v.n
    # probe above the base domain: only the O(n_exc) exception arrays are
    # read — the O(n) base stream stays untouched (the PFOR pruning win)
    if not v.n_exc:
        return _EMPTY, 0
    erx = rx - (1 << v.w)
    if v.ew < 32 and erx >= (1 << v.ew):
        return _EMPTY, 0
    m = v.exc.unpack() == np.uint32(erx)
    if not m.any():
        return _EMPTY, 0
    return v.pos.unpack().astype(np.int64)[m], 0


def _hit_decode(v, x: int) -> tuple[np.ndarray, int]:
    a = B.decode_view(v)
    return np.nonzero(a == np.int32(x))[0].astype(np.int64), v.n


def _hit_paged(v, x: int) -> tuple[np.ndarray, int]:
    return _paged(hit_positions, v, x)


_HIT_BODY = {
    B.RAW: _hit_decode,
    B.CONSTANT: _hit_const,
    B.BITPACK_ZZ: _hit_bitpack_zz,
    B.FOR_BITPACK: _hit_for_bitpack,
    B.DELTA_ZZ_BITPACK: _hit_decode,
    B.DELTA_ZZ_VARINT: _hit_decode,
    B.RLE: _hit_rle,
    B.DICT_BITPACK: _hit_dict_bitpack,
    B.DICT_ESCAPE: _hit_dict_escape,
    B.PAGED: _hit_paged,
    B.FOR_PATCH: _hit_for_patch,
}


# ---------------------------------------------------------------------------
# range predicates: positions of values in [lo, hi] (inclusive)
# ---------------------------------------------------------------------------

def range_positions(
    buf: bytes | memoryview, lo: int, hi: int
) -> tuple[np.ndarray, int]:
    """All positions with ``lo <= value <= hi`` + values decoded.

    The BETWEEN analog of :func:`hit_positions`: FOR/dict/RLE/zigzag
    parameters bound the chunk's value domain, so chunks (and PAGED pages)
    disjoint from the probe interval are pruned without materializing
    their streams; dictionary chunks answer from the table + index codes
    without ever rebuilding absolute values.
    """
    lo, hi = int(lo), int(hi)
    if hi < lo or hi < INT32_MIN or lo > INT32_MAX:
        return _EMPTY, 0
    lo, hi = max(lo, INT32_MIN), min(hi, INT32_MAX)
    return _probe(_RANGE_BODY, buf, lo, hi)


def _domain_hi(lo: int, w: int) -> int:
    """Largest value a ``w``-bit offset from ``lo`` can store."""
    return lo + ((1 << w) - 1 if w < 32 else 0xFFFFFFFF)


def _range_const(v, lo, hi):
    if lo <= v.value <= hi:
        return np.arange(v.n, dtype=np.int64), 0
    return _EMPTY, 0


def _range_bitpack_zz(v, lo, hi):
    w = v.w
    if w < 32:
        # w-bit zigzag codes cover exactly [-(2^(w-1)), 2^(w-1)-1]... shifted:
        # zz < 2^w  <=>  v in [-(2^(w-1)), 2^(w-1) - 1] for even/odd split
        vmax = (1 << w) // 2 - 1 if w else 0
        vmin = -((1 << w) // 2) if w else 0
        if hi < vmin or lo > vmax:
            return _EMPTY, 0
    vals = K.zigzag_decode(v.zz.unpack())
    return (
        np.nonzero((vals >= np.int32(max(lo, INT32_MIN)))
                   & (vals <= np.int32(min(hi, INT32_MAX))))[0].astype(np.int64),
        v.n,
    )


def _range_for_bitpack(v, lo, hi):
    if hi < v.lo or lo > _domain_hi(v.lo, v.w):
        return _EMPTY, 0
    rel = v.rel.unpack().astype(np.int64)
    # compare in relative space: absolute array never rebuilt
    rlo, rhi = max(lo - v.lo, 0), hi - v.lo
    return np.nonzero((rel >= rlo) & (rel <= rhi))[0].astype(np.int64), v.n


def _range_rle(v, lo, hi):
    if hi < v.vmin or lo > _domain_hi(v.vmin, v.vw):
        return _EMPTY, 0
    vals = v.vmin + v.vals.unpack().astype(np.int64)
    match = (vals >= lo) & (vals <= hi)
    if not match.any():
        return _EMPTY, 0
    return _matching_runs(v, match), 0


def _range_dict_bitpack(v, lo, hi):
    table = v.tmin + v.table.unpack().astype(np.int64)
    codes = np.nonzero((table >= lo) & (table <= hi))[0]
    if codes.size == 0:
        return _EMPTY, 0
    idx = B.dict_codes(v)
    if codes.size == 1:
        m = idx == np.uint32(codes[0])
    else:
        in_range = np.zeros(v.c, dtype=bool)
        in_range[codes] = True
        m = in_range[idx]
    return np.nonzero(m)[0].astype(np.int64), v.n


def _range_dict_escape(v, lo, hi):
    table = v.hmin + v.head.unpack().astype(np.int64)
    head_codes = np.nonzero((table >= lo) & (table <= hi))[0]
    esc_match = None
    if v.n_esc:
        esc = v.emin + v.esc.unpack().astype(np.int64)
        m = (esc >= lo) & (esc <= hi)
        if m.any():
            esc_match = m
    if head_codes.size == 0 and esc_match is None:
        return _EMPTY, 0
    codes = B.dict_codes(v)
    parts = []
    if head_codes.size:
        in_range = np.zeros(1 << v.k, dtype=bool)
        in_range[head_codes] = True
        parts.append(np.nonzero(in_range[codes])[0])
    if esc_match is not None:
        esc_pos = np.nonzero(codes == np.uint32((1 << v.k) - 1))[0]
        parts.append(esc_pos[esc_match])
    pos = parts[0] if len(parts) == 1 else np.sort(np.concatenate(parts))
    return pos.astype(np.int64), v.n


def _range_for_patch(v, lo, hi):
    exc_lo = v.lo + (1 << v.w)
    want_base = not (hi < v.lo or lo > _domain_hi(v.lo, v.w))
    want_exc = bool(v.n_exc) and not (hi < exc_lo or lo > _domain_hi(exc_lo, v.ew))
    if not want_base and not want_exc:
        return _EMPTY, 0
    parts: list[np.ndarray] = []
    decoded = 0
    pos = None
    if want_base:
        rel = v.base.unpack().astype(np.int64)
        rlo, rhi = max(lo - v.lo, 0), hi - v.lo
        m = (rel >= rlo) & (rel <= rhi)
        decoded += v.n
        if v.n_exc and rlo == 0:
            # patched positions hold 0 but store values above the base domain
            pos = v.pos.unpack().astype(np.int64)
            m[pos] = False
        bh = np.nonzero(m)[0]
        if bh.size:
            parts.append(bh)
    if want_exc:
        exc = v.exc.unpack().astype(np.int64) + exc_lo
        em = (exc >= lo) & (exc <= hi)
        if em.any():
            if pos is None:
                pos = v.pos.unpack().astype(np.int64)
            parts.append(pos[em])
    if not parts:
        return _EMPTY, decoded
    out = parts[0] if len(parts) == 1 else np.sort(np.concatenate(parts))
    return out.astype(np.int64), decoded


def _range_decode(v, lo, hi):
    a = B.decode_view(v)
    return (
        np.nonzero((a >= np.int32(lo)) & (a <= np.int32(hi)))[0].astype(np.int64),
        v.n,
    )


def _range_paged(v, lo, hi):
    return _paged(range_positions, v, lo, hi)


_RANGE_BODY = {
    B.RAW: _range_decode,
    B.CONSTANT: _range_const,
    B.BITPACK_ZZ: _range_bitpack_zz,
    B.FOR_BITPACK: _range_for_bitpack,
    B.DELTA_ZZ_BITPACK: _range_decode,
    B.DELTA_ZZ_VARINT: _range_decode,
    B.RLE: _range_rle,
    B.DICT_BITPACK: _range_dict_bitpack,
    B.DICT_ESCAPE: _range_dict_escape,
    B.PAGED: _range_paged,
    B.FOR_PATCH: _range_for_patch,
}
