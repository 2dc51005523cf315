"""Per-chunk codec auto-selection.

Samples the value distribution of a chunk — cardinality, run-length count,
delta-width and value-width stats (the north rule's exact list) — then picks
the codec with the minimum *exactly computed* encoded size, with a
deterministic tie-break. The reference precedent is the usage-count +
frequency-sort optimizer pass (/root/reference/mapbox_vector_tile/
optimise.py:20-57), which rewrites the encoded form to the smaller variant;
here the decision happens inside the encode kernel, so no second pass over
stored data is needed (SURVEY.md §3.3).

All stats come from one shared :class:`~.analysis.ChunkAnalysis` — each
derived array is computed once and reused by the winning encoder (memory
bandwidth, not compute, limits throughput at full parallelism).

A bounded fallback ladder (try chosen codec, validate, fall back to RAW) is
the analog of the reference's bounded geometry-repair retry loop
(/root/reference/mapbox_vector_tile/encoder.py:113-129).
"""

from __future__ import annotations


import numpy as np

from . import blocks as B
from . import kernels as K
from .analysis import ChunkAnalysis

# Skip the O(n log n) full-uniq dictionary evaluation when the sampled
# cardinality says DICT can't plausibly win.
_CARD_SKIP_THRESHOLD = 4096

# PAGED: re-pick the codec every PAGE_SIZE values. Only evaluated for chunks
# of >= 2 pages (so per-page plans never recurse into PAGED).
PAGE_SIZE = 1 << 16


def paged_plan(an: ChunkAnalysis, page_size: int | None = None):
    """Per-page best-codec plan ``[(sub_analysis, cid, framed_size)]``,
    cached on the analysis so the selector's sizing pass and the winning
    encoder share one set of page analyses (no recompute). Page analyses
    use a reduced cardinality sample (the parent screens DICT viability at
    full precision; pages only gate it).

    When the analysis carries ``seg_bounds`` (known distribution boundaries,
    e.g. cluster-bucket transitions inside a merged chunk), pages follow
    those variable-length segments instead of a fixed stride — each segment
    then compresses exactly as it would as its own chunk. The wire format is
    unchanged: sub-frames are self-describing, so the decoder never assumes
    a uniform page size."""
    sb = an.seg_bounds
    if sb is not None and len(sb):
        if an._paged_plan is None or an._paged_plan[0] != -1:
            bounds = [0, *(int(x) for x in sb if 0 < int(x) < an.n), an.n]
            plans = []
            for s, e in zip(bounds[:-1], bounds[1:]):
                if s >= e:
                    continue
                # full-precision cardinality sample: segments are the "real"
                # chunks here (the 8192 cap below is sized for 64k pages)
                sub = ChunkAnalysis(an.a[s:e])
                sizes = candidate_sizes(sub.a, sub)
                cid = min(sizes, key=lambda c: (sizes[c], _TIE_RANK[c]))
                plans.append((sub, cid, B.header_size() + sizes[cid]))
            an._paged_plan = (-1, plans)
        return an._paged_plan[1]
    ps = page_size or PAGE_SIZE
    if an._paged_plan is None or an._paged_plan[0] != ps:
        plans = []
        for s in range(0, an.n, ps):
            sub = ChunkAnalysis(an.a[s : s + ps], card_sample_cap=8192)
            sizes = candidate_sizes(sub.a, sub)
            cid = min(sizes, key=lambda c: (sizes[c], _TIE_RANK[c]))
            plans.append((sub, cid, B.header_size() + sizes[cid]))
        an._paged_plan = (ps, plans)
    return an._paged_plan[1]


def _paged_bound(an: ChunkAnalysis, ps: int) -> int:
    """Optimistic per-page size bound from VECTORIZED reductions only (one
    reshape min/max pass + one delta min/max pass, no sorts, no Python loop
    per page): each page is assumed to achieve the better of FOR-bitpack or
    delta-zigzag-bitpack at its local widths. Used to screen out
    homogeneous chunks, where per-page re-selection can only add header
    overhead — without paying the full per-page analysis."""
    n = an.n
    n_full = n // ps
    body = an.a[: n_full * ps].reshape(n_full, ps)
    pmin = body.min(axis=1).astype(np.int64)
    pmax = body.max(axis=1).astype(np.int64)
    wr = np.ceil(np.log2(np.maximum(pmax - pmin, 1) + 1)).astype(np.int64)
    # wraparound int32 deltas — the same semantics the delta kernels use
    d = body[:, 1:].view(np.uint32) - body[:, :-1].view(np.uint32)
    d = d.view(np.int32)
    dmin = d.min(axis=1).astype(np.int64)
    dmax = d.max(axis=1).astype(np.int64)
    zz = np.maximum(2 * dmax, -2 * dmin - 1)
    wd = np.ceil(np.log2(np.maximum(zz, 1) + 1)).astype(np.int64)
    w = np.minimum(wr, wd)
    per_page = B.header_size() + 10 + (ps * w + 7) // 8
    total = int(per_page.sum())
    tail = n - n_full * ps
    if tail:
        t = an.a[n_full * ps :].astype(np.int64)
        wt = int(np.ceil(np.log2(max(int(t.max() - t.min()), 1) + 1)))
        total += B.header_size() + 10 + (tail * wt + 7) // 8
    return B.paged_size([]) + 4 * (n_full + (1 if tail else 0)) + total


def _nbits_bytes(n: int, w: int) -> int:
    return (n * w + 7) // 8


def candidate_sizes(
    a: np.ndarray, analysis: ChunkAnalysis | None = None
) -> dict[int, int]:
    """Exact params+payload size per applicable codec (no payloads built)."""
    an = analysis if isinstance(analysis, ChunkAnalysis) else ChunkAnalysis(a)
    n = an.n
    sizes: dict[int, int] = {B.RAW: 4 * n}
    if n == 0:
        return sizes
    if an.vmin == an.vmax:
        sizes[B.CONSTANT] = 4
    sizes[B.BITPACK_ZZ] = 1 + _nbits_bytes(n, an.width_zz)
    sizes[B.FOR_BITPACK] = 9 + _nbits_bytes(n, an.width_range)
    sizes[B.DELTA_ZZ_BITPACK] = 5 + _nbits_bytes(n - 1, an.width_delta_zz)
    sizes[B.DELTA_ZZ_VARINT] = an.varint_size_mvt()
    best_so_far = min(sizes.values())
    # FOR_PATCH (PFOR): only promising when the value range is wide but the
    # sampled distribution says most values fit a much narrower base width.
    # Screen from the cached cardinality sample (scaled bit-length histogram,
    # optimistic); the exact histogram pass runs only when the estimate beats
    # the leader, and its result is cached for the winning encoder.
    if an.width_range >= 6 and n >= 64:
        vals, counts = an.sample_uc
        rel_s = vals.astype(np.int64) - an.vmin
        bl_s = np.zeros(rel_s.size, dtype=np.int64)
        nz = rel_s > 0
        if nz.any():
            bl_s[nz] = (
                np.floor(np.log2(rel_s[nz].astype(np.float64))).astype(np.int64)
                + 1
            )
        hist_s = np.bincount(bl_s, weights=counts, minlength=an.width_range + 1)
        tot_s = float(counts.sum())
        scale = n / tot_s if tot_s else 0.0
        cnt_ge = np.cumsum(hist_s[::-1])[::-1] * scale
        pos_w = K.bit_width(max(n - 1, 0))
        relmax = an.vmax - an.vmin
        est_best = None
        for w in range(an.width_range):
            n_exc = cnt_ge[w + 1] if w + 1 <= an.width_range else 0.0
            ew = (relmax - (1 << w)).bit_length()
            est = 19 + _nbits_bytes(n, w) + int(n_exc * (pos_w + ew) * 0.75) // 8
            if est_best is None or est < est_best:
                est_best = est
        if est_best is not None and est_best <= best_so_far:
            w, n_exc, pos_w, ew = B.for_patch_params(an)
            sizes[B.FOR_PATCH] = B.for_patch_size(n, w, n_exc, pos_w, ew)
            best_so_far = min(best_so_far, sizes[B.FOR_PATCH])
    # RLE: run count is one boolean reduction; only build the run arrays if
    # a TIGHT lower bound could beat the best candidate so far. Every chunk
    # value appears as some run's value, so the run-value span equals the
    # chunk span — vw is exactly width_range; and max run length >= mean,
    # so lw >= bit_width(ceil(n/r) - 1). (The previous 2-bit/run bound
    # passed on high-entropy token chunks and built ~r*16 B of run arrays
    # per chunk that RLE then always lost with.)
    r = an.n_runs
    lw_lb = (-(-n // r) - 1).bit_length() if r else 0
    rle_lb = 18 + _nbits_bytes(r, lw_lb) + _nbits_bytes(r, an.width_range)
    if rle_lb <= best_so_far:
        vals, lens = an.runs
        lw = K.bit_width(int(lens.max()) - 1)
        vw = (int(vals.max()) - int(vals.min())).bit_length()
        sizes[B.RLE] = 18 + _nbits_bytes(r, lw) + _nbits_bytes(r, vw)
    # DICT: only evaluate when sampled cardinality is plausibly winning
    if an.card_sample <= _CARD_SKIP_THRESHOLD:
        table = np.unique(an.a)
        c = table.size
        tw = (int(table[-1]) - int(table[0])).bit_length()
        iw = K.bit_width(max(c - 1, 0))
        sizes[B.DICT_BITPACK] = 18 + _nbits_bytes(c, tw) + _nbits_bytes(n, iw)
    # DICT_ESCAPE: high cardinality but concentrated mass (zipf-shaped) —
    # screen on the sampled top-255 mass, then on a sampled size estimate,
    # before paying the exact full-chunk passes (heavy() is a searchsorted
    # over every value; on corpora where varint/bitpack wins it was pure
    # selection overhead on every chunk)
    elif n >= 256:
        vals, counts = an.sample_uc
        top = np.sort(counts)[-255:]
        csum = int(counts.sum())
        if top.sum() * 10 >= csum * 3:  # >= 30% sampled head mass
            # optimistic estimate: 8-bit codes + escapes at the chunk's FOR
            # width, escape count from the sampled tail mass with 25% slack
            est_esc = n * (csum - int(top.sum())) / max(csum, 1)
            est = (
                22 + n + int(0.75 * est_esc * an.width_range) // 8
            )
            if est <= best_so_far:
                k, c, hw, n_esc, ew = B.dict_escape_params(an)
                sizes[B.DICT_ESCAPE] = B.dict_escape_sizes(n, c, hw, k, n_esc, ew)
    # PAGED: per-page re-selection for multi-page chunks — exact size from
    # the cached page plans (reused by the encoder if PAGED wins). Covers
    # mixed-distribution chunks that arrive without a good cluster key.
    # Screened first by a vectorized optimistic bound: homogeneous chunks
    # (where pages match the whole-chunk widths) skip the full per-page
    # analysis, which would otherwise double the selection cost of every
    # large clustered chunk.
    sb = an.seg_bounds
    if sb is not None and len(sb):
        # known segment boundaries: evaluate segment-aligned PAGED exactly
        # (the per-segment analyses are the same work the segments would
        # have cost as separate chunks; no screen needed)
        plans = paged_plan(an)
        sizes[B.PAGED] = B.paged_size([p[2] for p in plans])
    elif n >= 2 * PAGE_SIZE:
        best_so_far = min(sizes.values())
        if _paged_bound(an, PAGE_SIZE) < best_so_far:
            plans = paged_plan(an)
            sizes[B.PAGED] = B.paged_size([p[2] for p in plans])
    return sizes


# Deterministic tie-break: cheaper-to-decode codecs first.
_TIE_ORDER = [
    B.CONSTANT,
    B.RAW,
    B.FOR_BITPACK,
    B.FOR_PATCH,
    B.BITPACK_ZZ,
    B.DELTA_ZZ_BITPACK,
    B.RLE,
    B.DICT_BITPACK,
    B.DICT_ESCAPE,
    B.PAGED,
    B.DELTA_ZZ_VARINT,
]
_TIE_RANK = {c: i for i, c in enumerate(_TIE_ORDER)}


def choose_codec(a: np.ndarray, analysis: ChunkAnalysis | None = None) -> int:
    """Minimum predicted size; ties broken by :data:`_TIE_ORDER`."""
    sizes = candidate_sizes(a, analysis)
    return min(sizes, key=lambda c: (sizes[c], _TIE_RANK[c]))


def encode_auto(
    a: np.ndarray, codec: int | str | None = None, validate: bool = False
) -> tuple[bytes, int]:
    """Encode with the chosen (or forced) codec; fall back to RAW on any
    kernel failure or (when ``validate``) round-trip mismatch.

    Returns ``(block_bytes, codec_id_used)``.
    """
    an = ChunkAnalysis(a)
    if isinstance(codec, str):
        codec = B.CODEC_IDS[codec]
    cid = choose_codec(an.a, an) if codec is None else codec
    try:
        blk = B.encode_block(an.a, cid, an)
        if validate and not np.array_equal(B.decode_block(blk), an.a):
            raise ValueError("round-trip mismatch")
        return blk, cid
    except Exception:
        if cid == B.RAW:
            raise
        return B.encode_block(an.a, B.RAW, an), B.RAW
