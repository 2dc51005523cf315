"""Codec-aware aggregate pushdown: count/sum/min/max INSIDE encoded blocks.

The aggregation sibling of :mod:`.search`: a stats scan over the blocks
table should touch O(codec metadata) bytes wherever the codec already
carries the answer, never inflating the value stream just to reduce it —
the same economics as Parquet column statistics, except these are computed
*from the payload's own parameters* so they need no extra storage:

- ``CONSTANT``   — closed form: ``(n, n·v, v, v)``; zero bytes decoded.
- ``RLE``        — O(runs): ``sum = Σ value·len`` over the run-value
  stream; min/max over run values. ``decoded`` stays 0 (runs ≪ n by the
  codec-selection contract).
- ``DICT_BITPACK`` — min/max from the value table alone, O(table); the
  sum needs the code histogram, a ``bincount`` over the O(n) index stream
  (skipped entirely when the caller doesn't ask for sums).
- ``DICT_ESCAPE``  — min/max from table + escape stream, O(table+escapes);
  sum decodes the code stream.
- ``FOR_BITPACK`` / ``BITPACK_ZZ`` — sums/extrema over the relative or
  zigzag stream (O(n), but never reconstructing the absolute array when
  only the relative reduction is needed: ``sum = n·lo + Σ rel``).
- ``DELTA_*`` / ``RAW`` — full decode (params carry no value content).
- ``PAGED``      — recurse per self-describing page; pruned pages
  contribute their closed forms.

Every function returns ``(n, sum|None, min|None, max|None, decoded)``;
``decoded`` counts O(n_values)-proportional materializations — the number
a 100 TB stats scan minimizes and the tests assert on. All arithmetic is
int64-exact (token values are int32; 2^31·n fits int64 far beyond any
single chunk's size).
"""

from __future__ import annotations

import numpy as np

from . import blocks as B

Stats = tuple[int, int | None, int | None, int | None, int]

_EMPTY: Stats = (0, 0, None, None, 0)


def value_stats(buf: bytes | memoryview, need_sum: bool = True) -> Stats:
    """``(n, sum, min, max, values_decoded)`` of one framed block."""
    v = B.read_view(buf)
    if v is None:
        return _EMPTY
    return _STATS_BODY[v.codec_id](v, need_sum)


def _stats_decode(v, need_sum: bool) -> Stats:
    a64 = B.decode_view(v).astype(np.int64)
    return v.n, int(a64.sum()), int(a64.min()), int(a64.max()), v.n


def _stats_const(v, need_sum: bool) -> Stats:
    return v.n, v.n * v.value, v.value, v.value, 0


def _stats_rel(v, lo: int, rel: np.ndarray) -> Stats:
    """Stats from the relative stream ``rel`` (int64) of a FOR-style view
    with base ``lo``; the absolute array is never built."""
    return (
        v.n, v.n * lo + int(rel.sum()), lo + int(rel.min()),
        lo + int(rel.max()), v.n,
    )


def _stats_for_bitpack(v, need_sum: bool) -> Stats:
    return _stats_rel(v, v.lo, v.rel.unpack().astype(np.int64))


def _stats_for_patch(v, need_sum: bool) -> Stats:
    rel = v.base.unpack().astype(np.int64)
    if v.n_exc:
        rel[v.pos.unpack().astype(np.int64)] = (
            v.exc.unpack().astype(np.int64) + (1 << v.w)
        )
    return _stats_rel(v, v.lo, rel)


def _stats_rle(v, need_sum: bool) -> Stats:
    lens = B.run_lengths(v)
    vals = v.vmin + v.vals.unpack().astype(np.int64)
    return v.n, int((vals * lens).sum()), int(vals.min()), int(vals.max()), 0


def _stats_dict_bitpack(v, need_sum: bool) -> Stats:
    table = v.tmin + v.table.unpack().astype(np.int64)
    mn, mx = int(table.min()), int(table.max())
    if not need_sum:
        return v.n, None, mn, mx, 0
    counts = np.bincount(B.dict_codes(v).astype(np.int64), minlength=v.c)
    return v.n, int((table * counts).sum()), mn, mx, v.n


def _stats_dict_escape(v, need_sum: bool) -> Stats:
    table = v.hmin + v.head.unpack().astype(np.int64)
    mn, mx = int(table.min()), int(table.max())
    esc = None
    if v.n_esc:
        esc = v.emin + v.esc.unpack().astype(np.int64)
        mn, mx = min(mn, int(esc.min())), max(mx, int(esc.max()))
    if not need_sum:
        return v.n, None, mn, mx, 0
    esc_code = (1 << v.k) - 1
    counts = np.bincount(
        B.dict_codes(v).astype(np.int64), minlength=esc_code + 1
    )
    s = int((table * counts[: v.c]).sum())
    if esc is not None:
        s += int(esc.sum())
    return v.n, s, mn, mx, v.n


def _stats_paged(v, need_sum: bool) -> Stats:
    total = s = decoded = 0
    mn = mx = None
    have_sum = True
    for _, page in B.iter_pages(v):
        pn, ps, pmn, pmx, pd = value_stats(page, need_sum)
        total += pn
        decoded += pd
        if ps is None:
            have_sum = False
        elif have_sum:
            s += ps
        if pmn is not None:
            mn = pmn if mn is None else min(mn, pmn)
            mx = pmx if mx is None else max(mx, pmx)
    return total, (s if have_sum and need_sum else None), mn, mx, decoded


_STATS_BODY = {
    B.RAW: _stats_decode,
    B.CONSTANT: _stats_const,
    B.BITPACK_ZZ: _stats_decode,
    B.FOR_BITPACK: _stats_for_bitpack,
    B.DELTA_ZZ_BITPACK: _stats_decode,
    B.DELTA_ZZ_VARINT: _stats_decode,
    B.RLE: _stats_rle,
    B.DICT_BITPACK: _stats_dict_bitpack,
    B.DICT_ESCAPE: _stats_dict_escape,
    B.PAGED: _stats_paged,
    B.FOR_PATCH: _stats_for_patch,
}


def distinct_values(buf: bytes | memoryview) -> tuple[np.ndarray, int]:
    """Sorted distinct int32 values of one framed block + values decoded.

    The COUNT(DISTINCT) pushdown primitive: dictionary chunks return their
    value table (O(table), zero stream decode), RLE returns unique run
    values, CONSTANT its single value — only param-opaque codecs inflate.
    Dictionary chunks are answered from the table alone: their code stream
    is never unpacked, so a code past the table
    (:func:`..blocks.dict_codes`) goes unseen here; every reader that
    unpacks the codes raises on it.
    """
    v = B.read_view(buf)
    if v is None:
        return np.empty(0, np.int32), 0
    if v.codec_id == B.CONSTANT:
        return np.array([v.value], np.int32), 0
    if v.codec_id == B.RLE:
        return np.unique(v.vals.values(v.vmin)), 0
    if v.codec_id == B.DICT_BITPACK:
        # every table entry occurs (frequency-ordered build contract)
        return np.sort(v.table.values(v.tmin)), 0
    if v.codec_id == B.DICT_ESCAPE:
        table = v.head.values(v.hmin)
        if v.n_esc:
            table = np.concatenate([table, v.esc.values(v.emin)])
        return np.unique(table), v.n_esc
    if v.codec_id == B.PAGED:
        parts, decoded = [], 0
        for _, page in B.iter_pages(v):
            vals, dec = distinct_values(page)
            parts.append(vals)
            decoded += dec
        return np.unique(np.concatenate(parts)), decoded
    return np.unique(B.decode_view(v)), v.n


def range_histogram(
    buf: bytes | memoryview, lo: int, hi: int
) -> tuple[np.ndarray, np.ndarray, int]:
    """``(values, counts, values_decoded)`` for ``lo <= value <= hi``.

    The GROUP-BY-value pushdown primitive (vocabulary-distribution audits):
    RLE aggregates run lengths by run value (O(runs)), CONSTANT is closed
    form, dictionaries bincount their code stream against an in-range code
    mask without rebuilding values, FOR histograms the relative stream.
    ``values`` is sorted ascending; counts are exact.
    """
    lo, hi = int(lo), int(hi)
    v = B.read_view(buf)
    empty = (np.empty(0, np.int64), np.empty(0, np.int64), 0)
    if v is None or hi < lo:
        return empty
    if v.codec_id == B.CONSTANT:
        if lo <= v.value <= hi:
            return np.array([v.value], np.int64), np.array([v.n], np.int64), 0
        return empty
    if v.codec_id == B.RLE:
        vals = v.vmin + v.vals.unpack().astype(np.int64)
        m = (vals >= lo) & (vals <= hi)
        if not m.any():
            return empty
        uv, inv = np.unique(vals[m], return_inverse=True)
        counts = np.zeros(uv.size, np.int64)
        np.add.at(counts, inv, B.run_lengths(v)[m])
        return uv, counts, 0
    if v.codec_id == B.DICT_BITPACK:
        table = v.tmin + v.table.unpack().astype(np.int64)
        in_range = (table >= lo) & (table <= hi)
        if not in_range.any():
            return empty
        idx = B.dict_codes(v).astype(np.int64)
        code_counts = np.bincount(idx, minlength=v.c)
        keep = in_range & (code_counts > 0)
        order = np.argsort(table[keep], kind="stable")
        return table[keep][order], code_counts[keep][order], v.n
    if v.codec_id == B.PAGED:
        acc: dict[int, int] = {}
        decoded = 0
        for _, page in B.iter_pages(v):
            uv, cnt, dec = range_histogram(page, lo, hi)
            decoded += dec
            for val, c in zip(uv.tolist(), cnt.tolist()):
                acc[val] = acc.get(val, 0) + c
        if not acc:
            return np.empty(0, np.int64), np.empty(0, np.int64), decoded
        keys = np.array(sorted(acc), np.int64)
        return keys, np.array([acc[int(k)] for k in keys], np.int64), decoded
    # generic: any codec with a registered decoder (incl. DICT_ESCAPE,
    # FOR/zigzag — exact, O(n))
    a = B.decode_view(v).astype(np.int64)
    m = (a >= lo) & (a <= hi)
    if not m.any():
        return np.empty(0, np.int64), np.empty(0, np.int64), v.n
    uv, cnt = np.unique(a[m], return_counts=True)
    return uv, cnt.astype(np.int64), v.n
