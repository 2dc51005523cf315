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

The frame layout lives only in this module: :data:`_LAYOUTS` names each
codec's param struct and payload sections once. Every reader — the
decoders here, positional gather, value search, aggregate pushdown and
remap — parses frames through :func:`read_frame` (magic, version, codec
id), :func:`sections` (params plus bounds-checked section views, nothing
unpacked) and :func:`iter_pages` (the PAGED page table); every writer
goes through :func:`pack_frame`. A malformed frame raises ``ValueError``
naming the bad field, whichever reader meets it.

Encoders take a :class:`~.analysis.ChunkAnalysis` so derived arrays computed
during codec selection are reused, never recomputed (bandwidth is the scale
constraint). Codec ids are stable on-disk identifiers; never renumber.
"""

from __future__ import annotations

import struct
from collections import namedtuple
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from types import SimpleNamespace
from typing import NamedTuple

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
# the frame layout: one param struct and an ordered list of payload
# sections per codec, read by `sections` and written by `pack_frame`
# ---------------------------------------------------------------------------

class Section(NamedTuple):
    """One payload section: ``count`` values of ``width`` bits, bit-packed
    by :func:`kernels.bitpack`, in the bounds-checked view ``buf``. RAW
    values and the PAGED page table are little-endian 32-bit words
    instead, and ``width`` None marks a stream that runs to the end of the
    frame (varints, PAGED page frames)."""

    buf: memoryview
    count: int
    width: int | None

    def unpack(self) -> np.ndarray:
        """The section's values as uint32."""
        return K.bitunpack(self.buf, self.width, self.count)

    def values(self, lo: int) -> np.ndarray:
        """The int32 values of a section stored as offsets from ``lo``."""
        return (self.unpack() + np.uint32(lo & 0xFFFFFFFF)).view(np.int32)


class _Layout(NamedTuple):
    params: struct.Struct
    view: type  # named tuple: codec_id, n, the params, then the sections
    spec: Callable  # view with its params set -> [(count, width)] per section


def _layout(codec_id: int, fmt: str, params: str, secs: str, spec) -> _Layout:
    fields = f"codec_id n {params} {secs}".split()
    return _Layout(
        struct.Struct(fmt), namedtuple(CODEC_NAMES[codec_id], fields), spec
    )


_LAYOUTS = {
    RAW: _layout(RAW, "<", "", "values", lambda v: [(v.n, 32)]),
    CONSTANT: _layout(CONSTANT, "<i", "value", "", lambda v: []),
    BITPACK_ZZ: _layout(BITPACK_ZZ, "<B", "w", "zz", lambda v: [(v.n, v.w)]),
    FOR_BITPACK: _layout(
        FOR_BITPACK, "<qB", "lo w", "rel", lambda v: [(v.n, v.w)]
    ),
    DELTA_ZZ_BITPACK: _layout(
        DELTA_ZZ_BITPACK, "<iB", "first w", "zz", lambda v: [(v.n - 1, v.w)]
    ),
    DELTA_ZZ_VARINT: _layout(
        DELTA_ZZ_VARINT, "<", "", "stream", lambda v: [(v.n, None)]
    ),
    RLE: _layout(
        RLE, "<qBqB", "r lw vmin vw", "lens vals",
        lambda v: [(v.r, v.lw), (v.r, v.vw)],
    ),
    DICT_BITPACK: _layout(
        DICT_BITPACK, "<qqBB", "c tmin tw iw", "table idx",
        lambda v: [(v.c, v.tw), (v.n, v.iw)],
    ),
    # k = code width (escape code 2^k - 1), c = head cardinality
    DICT_ESCAPE: _layout(
        DICT_ESCAPE, "<BHqqBqB", "k c n_esc hmin hw emin ew",
        "head codes esc",
        lambda v: [(v.c, v.hw), (v.n, v.k), (v.n_esc, v.ew)],
    ),
    PAGED: _layout(
        PAGED, "<iq", "page_size n_pages", "page_bytes pages",
        lambda v: [(v.n_pages, 32), (v.n_pages, None)],
    ),
    FOR_PATCH: _layout(
        FOR_PATCH, "<qBqBB", "lo w n_exc pos_w ew", "base pos exc",
        lambda v: [(v.n, v.w), (v.n_exc, v.pos_w), (v.n_exc, v.ew)],
    ),
}


def read_frame(buf: bytes | memoryview) -> tuple[int, int, memoryview]:
    """``(codec_id, n_values, body)`` of one frame, after checking its
    magic, version and codec id; ``ValueError`` names the bad field."""
    mv = memoryview(buf)
    if len(mv) < _HDR.size:
        raise ValueError(
            f"block frame of {len(mv)} bytes is shorter than its "
            f"{_HDR.size}-byte header"
        )
    magic, version, codec_id, n = _HDR.unpack_from(mv)
    if magic != MAGIC:
        raise ValueError(f"bad block magic {magic!r}")
    if version != VERSION:
        raise ValueError(f"unsupported block version {version}")
    if codec_id not in CODEC_NAMES:
        raise ValueError(f"unknown block codec id {codec_id}")
    if n < 0:
        raise ValueError(f"negative block value count {n}")
    return codec_id, n, mv[_HDR.size :]


def sections(codec_id: int, n: int, body: memoryview):
    """The params of a ``codec_id`` frame body holding ``n`` values plus a
    bounds-checked :class:`Section` per payload section, as one named tuple
    (fields as in :data:`_LAYOUTS`). Nothing is unpacked. ``ValueError``
    names a section that has a bad count or width or does not fit."""
    lay = _LAYOUTS[codec_id]
    name = CODEC_NAMES[codec_id]
    if len(body) < lay.params.size:
        raise ValueError(
            f"{name} frame truncated: {len(body)} body bytes, its params "
            f"need {lay.params.size}"
        )
    fields = (codec_id, n, *lay.params.unpack_from(body))
    names = lay.view._fields[len(fields) :]
    specs = lay.spec(lay.view(*fields, *(None,) * len(names)))
    off, secs = lay.params.size, []
    for sec, (count, width) in zip(names, specs):
        if count < 0 or not (width is None or 0 <= width <= 32):
            raise ValueError(
                f"{name} frame: section {sec} has count {count} and width "
                f"{width}"
            )
        end = len(body) if width is None else off + _nbytes(count, width)
        if end > len(body):
            raise ValueError(
                f"{name} frame truncated: section {sec} needs bytes "
                f"[{off}, {end}) of {len(body)}"
            )
        secs.append(Section(body[off:end], count, width))
        off = end
    return lay.view(*fields, *secs)


def read_view(buf: bytes | memoryview):
    """:func:`sections` of one frame, or ``None`` when it holds no values."""
    codec_id, n, body = read_frame(buf)
    return sections(codec_id, n, body) if n else None


def iter_pages(v) -> Iterator[tuple[int, memoryview]]:
    """``(value_offset, page_frame)`` per page of a PAGED view. Each page
    must fit the frame and the pages' value counts must sum to the frame's
    ``n``; ``ValueError`` otherwise."""
    pages = v.pages.buf
    off = value_off = 0
    for i, ln in enumerate(np.frombuffer(v.page_bytes.buf, "<u4").tolist()):
        if off + ln > len(pages):
            raise ValueError(
                f"paged frame truncated: page {i} needs bytes "
                f"[{off}, {off + ln}) of {len(pages)}"
            )
        page = pages[off : off + ln]
        page_n = read_frame(page)[1]
        yield value_off, page
        off += ln
        value_off += page_n
    if value_off != v.n:
        raise ValueError(
            f"paged frame's pages hold {value_off} values, its header "
            f"says {v.n}"
        )


def run_lengths(v) -> np.ndarray:
    """The int64 run lengths of an RLE view; they must sum to its ``n``."""
    lens = v.lens.unpack().astype(np.int64) + 1  # run length >= 1
    if int(lens.sum()) != v.n:
        raise ValueError(
            f"rle frame: runs cover {int(lens.sum())} values, its header "
            f"says {v.n}"
        )
    return lens


def dict_codes(v) -> np.ndarray:
    """The unpacked uint32 codes of a DICT_BITPACK or DICT_ESCAPE view,
    checked against its value table: each code must index the table (or,
    for DICT_ESCAPE, be the escape code ``2^k - 1``, once per escaped
    value). The code stream is only known once unpacked, so every reader
    of the codes takes them from here; ``ValueError`` names the codec, the
    code and the table size."""
    if v.codec_id == DICT_BITPACK:
        codes = v.idx.unpack()
        top = int(codes.max()) if codes.size else -1
    else:
        codes = v.codes.unpack()
        esc = codes == np.uint32((1 << v.k) - 1)
        n_esc = np.count_nonzero(esc)
        if n_esc != v.n_esc:
            raise ValueError(
                f"dict_escape frame: {n_esc} escape codes, its params say "
                f"{v.n_esc}"
            )
        top = -1 if n_esc == codes.size else int(
            codes.max(initial=0, where=~esc)
        )
    if top >= v.c:
        raise ValueError(
            f"{CODEC_NAMES[v.codec_id]} frame: code {top} is past its "
            f"{v.c}-entry table"
        )
    return codes


def pack_frame(codec_id: int, n: int, params: tuple = (), *secs) -> bytes:
    """The writer twin of :func:`sections`: the frame of ``n`` values from
    ``codec_id``'s param fields and its section bytes in layout order."""
    return b"".join((
        _HDR.pack(MAGIC, VERSION, codec_id, n),
        _LAYOUTS[codec_id].params.pack(*params),
        *secs,
    ))


def pack_offsets(vals: np.ndarray) -> tuple[int, int, bytes]:
    """``(lo, width, packed)``: int32 ``vals`` bit-packed as offsets from
    their minimum ``lo`` — every value table's stored form; ``(0, 0, b"")``
    when empty."""
    if not vals.size:
        return 0, 0, b""
    lo = int(vals.min())
    rel = _rel_u32(np.ascontiguousarray(vals, dtype=np.int32), lo)
    w = K.bit_width(rel)
    return lo, w, K.bitpack(rel, w)


def pack_paged(n: int, page_size: int, pages: list[bytes]) -> bytes:
    """A PAGED frame of ``n`` values over framed sub-blocks ``pages``."""
    table = np.array([len(b) for b in pages], dtype="<u4").tobytes()
    return pack_frame(PAGED, n, (page_size, len(pages)), table, *pages)


def _body_size(codec_id: int, **fields) -> int:
    """Exact params+payload bytes of a ``codec_id`` body with ``fields``."""
    lay = _LAYOUTS[codec_id]
    return lay.params.size + sum(
        _nbytes(c, w) for c, w in lay.spec(SimpleNamespace(**fields))
    )


# ---------------------------------------------------------------------------
# per-codec encode (from ChunkAnalysis) and decode (from a section view)
# ---------------------------------------------------------------------------

def _enc_raw(an: ChunkAnalysis) -> bytes:
    return pack_frame(RAW, an.n, (), an.a.astype("<i4", copy=False).tobytes())


def _dec_raw(v) -> np.ndarray:
    return np.frombuffer(v.values.buf, dtype="<i4").astype(np.int32, copy=False)


def _enc_constant(an: ChunkAnalysis) -> bytes:
    if an.vmin != an.vmax:
        raise ValueError("CONSTANT codec requires a constant array")
    return pack_frame(CONSTANT, an.n, (int(an.a[0]),))


def _dec_constant(v) -> np.ndarray:
    return np.full(v.n, v.value, dtype=np.int32)


def _enc_bitpack_zz(an: ChunkAnalysis) -> bytes:
    w = an.width_zz
    return pack_frame(BITPACK_ZZ, an.n, (w,), K.bitpack(an.zz, w))


def _dec_bitpack_zz(v) -> np.ndarray:
    return K.zigzag_decode(v.zz.unpack())


def _enc_for_bitpack(an: ChunkAnalysis) -> bytes:
    lo, w = an.vmin, an.width_range
    rel = _rel_u32(an.a, lo)
    return pack_frame(FOR_BITPACK, an.n, (lo, w), K.bitpack(rel, w))


def _dec_for_bitpack(v) -> np.ndarray:
    return v.rel.values(v.lo)


def _enc_delta_zz_bitpack(an: ChunkAnalysis) -> bytes:
    w = an.width_delta_zz
    return pack_frame(
        DELTA_ZZ_BITPACK, an.n, (an.first, w), K.bitpack(an.zzd, w)
    )


def _dec_delta_zz_bitpack(v) -> np.ndarray:
    return K.delta_decode(v.first, K.zigzag_decode(v.zz.unpack()))


def _enc_delta_zz_varint(an: ChunkAnalysis) -> bytes:
    # uint32-native, no upcast copy
    return pack_frame(DELTA_ZZ_VARINT, an.n, (), K.varint_encode(an.mvt_zz))


def _dec_delta_zz_varint(v) -> np.ndarray:
    zz = K.varint_decode(v.stream.buf, v.n, dtype=np.uint32)
    # zigzag-decode in place (zz is freshly owned): one sign temp
    sign = np.uint32(0) - (zz & np.uint32(1))
    np.right_shift(zz, np.uint32(1), out=zz)
    np.bitwise_xor(zz, sign, out=zz)
    return np.cumsum(zz, dtype=np.uint32).view(np.int32)


def _enc_rle(an: ChunkAnalysis) -> bytes:
    vals, lens = an.runs
    lens_rel = (lens - 1).astype(np.uint32)  # run length >= 1
    lw = K.bit_width(lens_rel)
    vmin, vw, packed = pack_offsets(vals)
    return pack_frame(
        RLE, an.n, (vals.size, lw, vmin, vw), K.bitpack(lens_rel, lw), packed
    )


def _dec_rle(v) -> np.ndarray:
    return K.rle_inflate(v.vals.values(v.vmin), run_lengths(v))


def _enc_dict_bitpack(an: ChunkAnalysis) -> bytes:
    table, idx = K.dict_encode(an.a)
    c = table.size
    tmin, tw, packed = pack_offsets(table)
    iw = K.bit_width(max(c - 1, 0))
    return pack_frame(
        DICT_BITPACK, an.n, (c, tmin, tw, iw),
        packed, K.bitpack(idx.astype(np.uint32), iw),
    )


def _dec_dict_bitpack(v) -> np.ndarray:
    return K.dict_decode(v.table.values(v.tmin), dict_codes(v))


def dict_escape_sizes(n: int, c: int, hw: int, k: int, n_esc: int, ew: int) -> int:
    """Exact params+payload size for DICT_ESCAPE (shared with the selector)."""
    return _body_size(DICT_ESCAPE, n=n, c=c, hw=hw, k=k, n_esc=n_esc, ew=ew)


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
    codes = codes.copy()
    codes[~valid] = np.uint32((1 << k) - 1)
    hmin, _, head_packed = pack_offsets(head)
    emin, _, esc_packed = pack_offsets(an.a[~valid])
    return pack_frame(
        DICT_ESCAPE, an.n, (k, c, n_esc, hmin, hw, emin, ew),
        head_packed, K.bitpack(codes, k), esc_packed,
    )


def _dec_dict_escape(v) -> np.ndarray:
    head = v.head.values(v.hmin)
    codes = dict_codes(v)
    mask = codes == np.uint32((1 << v.k) - 1)
    out = np.empty(v.n, dtype=np.int32)
    out[~mask] = np.take(head, codes[~mask].astype(np.int64))
    out[mask] = v.esc.values(v.emin)
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

def for_patch_size(n: int, w: int, n_exc: int, pos_w: int, ew: int) -> int:
    """Exact params+payload size for FOR_PATCH (shared with the selector)."""
    return _body_size(FOR_PATCH, n=n, w=w, n_exc=n_exc, pos_w=pos_w, ew=ew)


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
    return pack_frame(
        FOR_PATCH, an.n, (lo, w, n_exc, pos_w, ew),
        K.bitpack(base, w), K.bitpack(pos, pos_w), K.bitpack(exc, ew),
    )


def _dec_for_patch(v) -> np.ndarray:
    rel = v.base.unpack()
    if v.n_exc:
        rel[v.pos.unpack().astype(np.int64)] = v.exc.unpack() + np.uint32(
            1 << v.w
        )
    return (rel + np.uint32(v.lo & 0xFFFFFFFF)).view(np.int32)


# ---------------------------------------------------------------------------
# PAGED: re-pick the codec every `page_size` values inside one chunk — the
# granularity analog of the reference re-choosing the encoding per feature
# (/root/reference/mapbox_vector_tile/optimise.py:193-202). Sub-blocks are
# full self-describing frames, so decode reuses the normal dispatch and a
# foreign decoder can skip pages it does not understand.
# ---------------------------------------------------------------------------

def paged_size(page_sizes: list[int]) -> int:
    """Exact params+payload size for PAGED given framed sub-block sizes."""
    return _LAYOUTS[PAGED].params.size + 4 * len(page_sizes) + sum(page_sizes)


def _enc_paged(an: ChunkAnalysis) -> bytes:
    from . import select as S

    plans = S.paged_plan(an)
    subs = [encode_block(sub.a, cid, sub) for (sub, cid, _) in plans]
    # page_size 0 = variable (segment-aligned) pages; informational only —
    # sub-frames are self-describing and the decoder never reads this field
    sb = an.seg_bounds
    ps = 0 if (sb is not None and len(sb)) else S.PAGE_SIZE
    return pack_paged(an.n, ps, subs)


def _dec_paged(v) -> np.ndarray:
    parts = [decode_block(page) for _, page in iter_pages(v)]
    return np.concatenate(parts) if parts else np.zeros(0, dtype=np.int32)


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
        return pack_frame(RAW, 0)
    return _ENCODERS[codec_id](an)


def decode_block(buf: bytes | memoryview) -> np.ndarray:
    """Inverse of :func:`encode_block`; dispatches on the stored codec id."""
    v = read_view(buf)
    return np.zeros(0, dtype=np.int32) if v is None else decode_view(v)


def decode_view(v) -> np.ndarray:
    """Every value of a section view (:func:`sections`)."""
    return _DECODERS[v.codec_id](v)


def block_info(buf: bytes | memoryview) -> BlockInfo:
    """Codec, value count and size of one frame, after the checks every
    reader makes: header, section bounds and (PAGED) the page table.
    Nothing is unpacked."""
    codec_id, n, body = read_frame(buf)
    if n:
        v = sections(codec_id, n, body)
        if codec_id == PAGED:
            for _, page in iter_pages(v):
                block_info(page)
        # a varint stream's length is its count of final (< 0x80) bytes
        if codec_id == DELTA_ZZ_VARINT and np.count_nonzero(
            np.frombuffer(v.stream.buf, np.uint8) < 0x80
        ) < n:
            raise ValueError(f"delta_zz_varint frame truncated: under {n} varints")
    return BlockInfo(codec_id, CODEC_NAMES[codec_id], n, _HDR.size + len(body))


def header_size() -> int:
    return _HDR.size
