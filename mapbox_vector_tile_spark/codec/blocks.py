"""Self-describing encoded blocks: frame format + codec registry.

A *block* is the unit the Spark jobs store in a ``binary`` column:
``magic | version | codec_id | n_values | codec params | payload``.
A chunk may be a composed pipeline (e.g. DELTA -> ZIGZAG -> BITPACK),
mirroring how the reference composes delta∘zigzag∘runlength∘varint in one
command stream (/root/reference/mapbox_vector_tile/geom_encoder.py:47-76).

The decoder is driven entirely by the codec id in the block header — never by
assumptions about what the encoder "would have" picked — the engine contract
analog of the reference decoder tolerating foreign encoders
(/root/reference/mapbox_vector_tile/decoder.py:68-80, SURVEY.md §2.8).

Encoders take a :class:`~.analysis.ChunkAnalysis` so derived arrays computed
during codec selection are reused, never recomputed (bandwidth is the scale
constraint). Codec ids are stable on-disk identifiers; never renumber.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

from . import kernels as K
from .analysis import ChunkAnalysis

MAGIC = b"SGB1"
VERSION = 1
_HDR = struct.Struct("<4sBBq")  # magic, version, codec_id, n_values

RAW = 0
CONSTANT = 1
BITPACK_ZZ = 2
FOR_BITPACK = 3
DELTA_ZZ_BITPACK = 4
DELTA_ZZ_VARINT = 5  # the reference MVT scheme (compression baseline)
RLE = 6
DICT_BITPACK = 7
DICT_ESCAPE = 8  # heavy-hitter head codes + escaped tail (zipf-shaped data)
PAGED = 9  # per-page codec re-selection inside one chunk (mixed regimes)
FOR_PATCH = 10  # PFOR: narrow FOR base width + patched outliers (skewed tails)

CODEC_NAMES = {
    RAW: "raw",
    CONSTANT: "constant",
    BITPACK_ZZ: "bitpack_zz",
    FOR_BITPACK: "for_bitpack",
    DELTA_ZZ_BITPACK: "delta_zz_bitpack",
    DELTA_ZZ_VARINT: "delta_zz_varint",
    RLE: "rle",
    DICT_BITPACK: "dict_bitpack",
    DICT_ESCAPE: "dict_escape",
    PAGED: "paged",
    FOR_PATCH: "for_patch",
}
CODEC_IDS = {v: k for k, v in CODEC_NAMES.items()}


def _nbytes(n: int, width: int) -> int:
    return (n * width + 7) // 8


def _rel_u32(a: np.ndarray, lo: int) -> np.ndarray:
    """(a - lo) as uint32 via wraparound (no int64 temp; exact because the
    range of an int32 array always fits in uint32)."""
    return a.view(np.uint32) - np.uint32(lo & 0xFFFFFFFF)


# ---------------------------------------------------------------------------
# per-codec encode of the params+payload section (from ChunkAnalysis)
# and decode (from the raw buffer)
# ---------------------------------------------------------------------------

def _enc_raw(an: ChunkAnalysis) -> bytes:
    return an.a.astype("<i4", copy=False).tobytes()


def _dec_raw(buf: memoryview, n: int) -> np.ndarray:
    return np.frombuffer(buf, dtype="<i4", count=n).astype(np.int32, copy=False)


_CONST = struct.Struct("<i")


def _enc_constant(an: ChunkAnalysis) -> bytes:
    if an.vmin != an.vmax:
        raise ValueError("CONSTANT codec requires a constant array")
    return _CONST.pack(int(an.a[0]))


def _dec_constant(buf: memoryview, n: int) -> np.ndarray:
    (v,) = _CONST.unpack_from(buf)
    return np.full(n, v, dtype=np.int32)


_BPZZ = struct.Struct("<B")


def _enc_bitpack_zz(an: ChunkAnalysis) -> bytes:
    w = an.width_zz
    return _BPZZ.pack(w) + K.bitpack(an.zz, w)


def _dec_bitpack_zz(buf: memoryview, n: int) -> np.ndarray:
    (w,) = _BPZZ.unpack_from(buf)
    return K.zigzag_decode(K.bitunpack(buf[_BPZZ.size :], w, n))


_FOR = struct.Struct("<qB")


def _enc_for_bitpack(an: ChunkAnalysis) -> bytes:
    lo = an.vmin
    rel = _rel_u32(an.a, lo)
    w = an.width_range
    return _FOR.pack(lo, w) + K.bitpack(rel, w)


def _dec_for_bitpack(buf: memoryview, n: int) -> np.ndarray:
    lo, w = _FOR.unpack_from(buf)
    rel = K.bitunpack(buf[_FOR.size :], w, n)
    return (rel + np.uint32(lo & 0xFFFFFFFF)).view(np.int32)


_DZB = struct.Struct("<iB")


def _enc_delta_zz_bitpack(an: ChunkAnalysis) -> bytes:
    w = an.width_delta_zz
    return _DZB.pack(an.first, w) + K.bitpack(an.zzd, w)


def _dec_delta_zz_bitpack(buf: memoryview, n: int) -> np.ndarray:
    first, w = _DZB.unpack_from(buf)
    zz = K.bitunpack(buf[_DZB.size :], w, n - 1)
    return K.delta_decode(first, K.zigzag_decode(zz))


def _enc_delta_zz_varint(an: ChunkAnalysis) -> bytes:
    return K.varint_encode(an.mvt_zz)  # uint32-native, no upcast copy


def _dec_delta_zz_varint(buf: memoryview, n: int) -> np.ndarray:
    zz = K.varint_decode(buf, n, dtype=np.uint32)
    # zigzag-decode in place (zz is freshly owned): one sign temp
    sign = np.uint32(0) - (zz & np.uint32(1))
    np.right_shift(zz, np.uint32(1), out=zz)
    np.bitwise_xor(zz, sign, out=zz)
    return np.cumsum(zz, dtype=np.uint32).view(np.int32)


_RLE = struct.Struct("<qBqB")  # n_runs, len_width, val_min, val_width


def _enc_rle(an: ChunkAnalysis) -> bytes:
    vals, lens = an.runs
    r = vals.size
    lens_rel = (lens - 1).astype(np.uint32)  # run length >= 1
    lw = K.bit_width(lens_rel)
    vmin = int(vals.min())
    vrel = _rel_u32(np.ascontiguousarray(vals, dtype=np.int32), vmin)
    vw = K.bit_width(vrel)
    return _RLE.pack(r, lw, vmin, vw) + K.bitpack(lens_rel, lw) + K.bitpack(vrel, vw)


def _dec_rle(buf: memoryview, n: int) -> np.ndarray:
    r, lw, vmin, vw = _RLE.unpack_from(buf)
    off = _RLE.size
    lens = K.bitunpack(buf[off : off + _nbytes(r, lw)], lw, r).astype(np.int64) + 1
    off += _nbytes(r, lw)
    vals = (K.bitunpack(buf[off:], vw, r) + np.uint32(vmin & 0xFFFFFFFF)).view(np.int32)
    return K.rle_inflate(vals, lens)


_DICT = struct.Struct("<qqBB")  # cardinality, table_min, table_width, idx_width


def _enc_dict_bitpack(an: ChunkAnalysis) -> bytes:
    table, idx = K.dict_encode(an.a)
    c = table.size
    tmin = int(table.min())
    trel = _rel_u32(np.ascontiguousarray(table, dtype=np.int32), tmin)
    tw = K.bit_width(trel)
    iw = K.bit_width(max(c - 1, 0))
    return (
        _DICT.pack(c, tmin, tw, iw)
        + K.bitpack(trel, tw)
        + K.bitpack(idx.astype(np.uint32), iw)
    )


def _dec_dict_bitpack(buf: memoryview, n: int) -> np.ndarray:
    c, tmin, tw, iw = _DICT.unpack_from(buf)
    off = _DICT.size
    table = (
        K.bitunpack(buf[off : off + _nbytes(c, tw)], tw, c)
        + np.uint32(tmin & 0xFFFFFFFF)
    ).view(np.int32)
    idx = K.bitunpack(buf[off + _nbytes(c, tw) :], iw, n)
    return K.dict_decode(table, idx)


# k, head_card, n_escapes, head_min, head_width, esc_min, esc_width
_DESC = struct.Struct("<BHqqBqB")


def dict_escape_sizes(n: int, c: int, hw: int, k: int, n_esc: int, ew: int) -> int:
    """Exact params+payload size for DICT_ESCAPE (shared with the selector)."""
    return (
        _DESC.size + _nbytes(c, hw) + _nbytes(n, k) + _nbytes(n_esc, ew)
    )


def dict_escape_params(an: ChunkAnalysis) -> tuple[int, int, int, int, int]:
    """(k, head_card, head_width, n_escapes, esc_width) — shared between the
    encoder and the selector's exact size computation."""
    head, valid, _, n_esc = an.heavy()
    c = head.size
    if c == 0:
        raise ValueError("DICT_ESCAPE requires a nonempty head")
    k = max(1, int(c).bit_length())  # 2^k > c, escape code = 2^k - 1
    hw = (int(head.max()) - int(head.min())).bit_length()
    if n_esc:
        esc_vals = an.a[~valid]
        ew = (int(esc_vals.max()) - int(esc_vals.min())).bit_length()
    else:
        ew = 0
    return k, c, hw, n_esc, ew


def _enc_dict_escape(an: ChunkAnalysis) -> bytes:
    head, valid, codes, n_esc = an.heavy()
    k, c, hw, n_esc, ew = dict_escape_params(an)
    escape = np.uint32((1 << k) - 1)
    codes = codes.copy()
    codes[~valid] = escape
    hmin = int(head.min())
    hrel = _rel_u32(np.ascontiguousarray(head, dtype=np.int32), hmin)
    esc_vals = an.a[~valid]
    if esc_vals.size:
        emin = int(esc_vals.min())
        erel = _rel_u32(np.ascontiguousarray(esc_vals, dtype=np.int32), emin)
    else:
        emin, erel = 0, np.zeros(0, dtype=np.uint32)
    return (
        _DESC.pack(k, c, n_esc, hmin, hw, emin, ew)
        + K.bitpack(hrel, hw)
        + K.bitpack(codes, k)
        + K.bitpack(erel, ew)
    )


def _dec_dict_escape(buf: memoryview, n: int) -> np.ndarray:
    k, c, n_esc, hmin, hw, emin, ew = _DESC.unpack_from(buf)
    off = _DESC.size
    head = (
        K.bitunpack(buf[off : off + _nbytes(c, hw)], hw, c)
        + np.uint32(hmin & 0xFFFFFFFF)
    ).view(np.int32)
    off += _nbytes(c, hw)
    codes = K.bitunpack(buf[off : off + _nbytes(n, k)], k, n)
    off += _nbytes(n, k)
    esc_vals = (
        K.bitunpack(buf[off:], ew, n_esc) + np.uint32(emin & 0xFFFFFFFF)
    ).view(np.int32)
    escape = np.uint32((1 << k) - 1)
    mask = codes == escape
    out = np.empty(n, dtype=np.int32)
    out[~mask] = np.take(head, codes[~mask].astype(np.int64))
    out[mask] = esc_vals
    return out


# ---------------------------------------------------------------------------
# FOR_PATCH (PFOR): frame-of-reference at a REDUCED base width, with the few
# values that don't fit stored as patched exceptions (positions + remainders).
# Covers "narrow body, heavy tail" chunks — lengths with rare long outliers,
# id streams with occasional jumps — where plain FOR pays the outlier's full
# width on every value and DICT_ESCAPE pays a code per value. Classic PFOR
# (Zukowski et al., ICDE 2006, public); the reference has no analog — its
# varint stream (geom_encoder.py:47-76) handles outliers per-value instead.
# ---------------------------------------------------------------------------

# lo, base_width, n_exc, pos_width, exc_width
_PFOR = struct.Struct("<qBqBB")


def for_patch_size(n: int, w: int, n_exc: int, pos_w: int, ew: int) -> int:
    """Exact params+payload size for FOR_PATCH (shared with the selector)."""
    return _PFOR.size + _nbytes(n, w) + _nbytes(n_exc, pos_w) + _nbytes(n_exc, ew)


def for_patch_params(an: ChunkAnalysis) -> tuple[int, int, int, int]:
    """(base_width, n_exc, pos_width, exc_width) minimizing the exact encoded
    size — from one bit-length histogram of (a - vmin), cached on the
    analysis so the selector's sizing pass and the encoder share it."""
    if an._pfor is not None:
        return an._pfor
    n = an.n
    pos_w = K.bit_width(max(n - 1, 0))
    wr = an.width_range
    if wr == 0:
        an._pfor = (0, 0, pos_w, 0)
        return an._pfor
    rel = _rel_u32(an.a, an.vmin)
    # bit_length per value: floor(log2) + 1 (float64 log2 is exact-enough for
    # uint32: error << gap to the next integer boundary)
    bl = np.zeros(n, dtype=np.int64)
    nz = rel != 0
    if nz.any():
        bl[nz] = np.floor(np.log2(rel[nz].astype(np.float64))).astype(np.int64) + 1
    hist = np.bincount(bl, minlength=wr + 1)
    # cnt_gt[w] = count(bit_length > w) = count(rel >= 2^w)
    cnt_gt = np.cumsum(hist[::-1])[::-1]
    relmax = an.vmax - an.vmin
    best = None
    for w in range(wr):
        n_exc = int(cnt_gt[w + 1]) if w + 1 <= wr else 0
        ew = (relmax - (1 << w)).bit_length()
        size = for_patch_size(n, w, n_exc, pos_w, ew)
        if best is None or size < best[0]:
            best = (size, w, n_exc, ew)
    an._pfor = (best[1], best[2], pos_w, best[3])
    return an._pfor


def _enc_for_patch(an: ChunkAnalysis) -> bytes:
    w, n_exc, pos_w, ew = for_patch_params(an)
    lo = an.vmin
    rel = _rel_u32(an.a, lo)
    if n_exc:
        exc_mask = rel >= np.uint32(1 << w) if w < 32 else np.zeros(an.n, bool)
        pos = np.flatnonzero(exc_mask).astype(np.uint32)
        exc = rel[exc_mask] - np.uint32(1 << w)
        base = rel.copy()
        base[exc_mask] = 0
    else:
        pos = np.zeros(0, dtype=np.uint32)
        exc = np.zeros(0, dtype=np.uint32)
        base = rel
    return (
        _PFOR.pack(lo, w, n_exc, pos_w, ew)
        + K.bitpack(base, w)
        + K.bitpack(pos, pos_w)
        + K.bitpack(exc, ew)
    )


def _dec_for_patch(buf: memoryview, n: int) -> np.ndarray:
    lo, w, n_exc, pos_w, ew = _PFOR.unpack_from(buf)
    off = _PFOR.size
    rel = K.bitunpack(buf[off : off + _nbytes(n, w)], w, n)
    if n_exc:
        off += _nbytes(n, w)
        pos = K.bitunpack(buf[off : off + _nbytes(n_exc, pos_w)], pos_w, n_exc)
        off += _nbytes(n_exc, pos_w)
        exc = K.bitunpack(buf[off:], ew, n_exc) + np.uint32(1 << w)
        rel[pos.astype(np.int64)] = exc
    return (rel + np.uint32(lo & 0xFFFFFFFF)).view(np.int32)


# ---------------------------------------------------------------------------
# PAGED: re-pick the codec every `page_size` values inside one chunk — the
# granularity analog of the reference re-choosing the encoding per feature
# (/root/reference/mapbox_vector_tile/optimise.py:193-202). Sub-blocks are
# full self-describing frames, so decode reuses the normal dispatch and a
# foreign decoder can skip pages it does not understand.
# ---------------------------------------------------------------------------

_PGD = struct.Struct("<iq")  # page_size, n_pages


def paged_size(page_sizes: list[int]) -> int:
    """Exact params+payload size for PAGED given framed sub-block sizes."""
    return _PGD.size + 4 * len(page_sizes) + sum(page_sizes)


def _enc_paged(an: ChunkAnalysis) -> bytes:
    from . import select as S

    plans = S.paged_plan(an)
    subs = [encode_block(sub.a, cid, sub) for (sub, cid, _) in plans]
    lens = np.array([len(b) for b in subs], dtype="<u4")
    # page_size 0 = variable (segment-aligned) pages; informational only —
    # sub-frames are self-describing and the decoder never reads this field
    sb = an.seg_bounds
    ps = 0 if (sb is not None and len(sb)) else S.PAGE_SIZE
    return _PGD.pack(ps, len(subs)) + lens.tobytes() + b"".join(subs)


def _dec_paged(buf: memoryview, n: int) -> np.ndarray:
    _, n_pages = _PGD.unpack_from(buf)
    off = _PGD.size
    lens = np.frombuffer(buf, dtype="<u4", count=n_pages, offset=off)
    off += 4 * n_pages
    parts = []
    for ln in lens:
        parts.append(decode_block(buf[off : off + int(ln)]))
        off += int(ln)
    out = (
        np.concatenate(parts) if parts else np.zeros(0, dtype=np.int32)
    )
    if out.size != n:
        raise ValueError(f"paged decode produced {out.size} values, want {n}")
    return out


_ENCODERS = {
    RAW: _enc_raw,
    CONSTANT: _enc_constant,
    BITPACK_ZZ: _enc_bitpack_zz,
    FOR_BITPACK: _enc_for_bitpack,
    DELTA_ZZ_BITPACK: _enc_delta_zz_bitpack,
    DELTA_ZZ_VARINT: _enc_delta_zz_varint,
    RLE: _enc_rle,
    DICT_BITPACK: _enc_dict_bitpack,
    DICT_ESCAPE: _enc_dict_escape,
    PAGED: _enc_paged,
    FOR_PATCH: _enc_for_patch,
}
_DECODERS = {
    RAW: _dec_raw,
    CONSTANT: _dec_constant,
    BITPACK_ZZ: _dec_bitpack_zz,
    FOR_BITPACK: _dec_for_bitpack,
    DELTA_ZZ_BITPACK: _dec_delta_zz_bitpack,
    DELTA_ZZ_VARINT: _dec_delta_zz_varint,
    RLE: _dec_rle,
    DICT_BITPACK: _dec_dict_bitpack,
    DICT_ESCAPE: _dec_dict_escape,
    PAGED: _dec_paged,
    FOR_PATCH: _dec_for_patch,
}


@dataclass(frozen=True)
class BlockInfo:
    codec_id: int
    codec: str
    n_values: int
    n_bytes: int


def encode_block(
    a: np.ndarray, codec_id: int, analysis: ChunkAnalysis | None = None
) -> bytes:
    """Frame ``a`` (int32 array) as a self-describing block."""
    an = analysis or ChunkAnalysis(a)
    if an.n == 0:
        return _HDR.pack(MAGIC, VERSION, RAW, 0)
    body = _ENCODERS[codec_id](an)
    return _HDR.pack(MAGIC, VERSION, codec_id, an.n) + body


def decode_block(buf: bytes | memoryview) -> np.ndarray:
    """Inverse of :func:`encode_block`; dispatches on the stored codec id."""
    mv = memoryview(buf)
    magic, version, codec_id, n = _HDR.unpack_from(mv)
    if magic != MAGIC:
        raise ValueError(f"bad block magic {magic!r}")
    if version != VERSION:
        raise ValueError(f"unsupported block version {version}")
    if n == 0:
        return np.zeros(0, dtype=np.int32)
    return _DECODERS[codec_id](mv[_HDR.size :], n)


def block_info(buf: bytes | memoryview) -> BlockInfo:
    mv = memoryview(buf)
    _, _, codec_id, n = _HDR.unpack_from(mv)
    return BlockInfo(codec_id, CODEC_NAMES[codec_id], n, len(mv))


def header_size() -> int:
    return _HDR.size
