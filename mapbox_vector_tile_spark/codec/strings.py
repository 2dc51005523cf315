"""String-column chunks: frequency-ordered dictionary + FSST-compressed blob.

The per-chunk structure mirrors the reference's per-layer string table
(/root/reference/mapbox_vector_tile/encoder.py:241-266, frequency-ordered per
optimise.py:26-57): distinct values stored once, rows store bit-packed
indices. The dictionary blob itself is FSST-compressed — the one codec the
reference has no precedent for (SURVEY §7 "what's hard").

Layout: ``magic | n_rows | card | idx_width | blob_len |
fsst_blob(dict: len-prefixed utf-8 strings) | bitpacked indices``.
"""

from __future__ import annotations

import struct

import numpy as np

from . import fsst
from . import kernels as K

MAGIC = b"SGS1"
_HDR = struct.Struct("<4sqqBq")  # magic, n_rows, card, idx_width, blob_len


def _shared_symbols(shared_table: bytes | memoryview | None):
    if shared_table is None:
        return None
    return fsst.unpack_table(shared_table)[0]


def encode_string_chunk(
    values: list[str] | np.ndarray,
    shared_table: bytes | memoryview | None = None,
) -> bytes:
    """``shared_table`` (packed FSST table, :func:`..fsst.pack_table`)
    switches the dictionary blob to shared-table mode: the table is stored
    once per file/column by the caller instead of per chunk, and decode
    needs the same bytes back. Per-chunk fallback to stored mode keeps
    every blob self-consistent."""
    arr = np.asarray(values, dtype=object)
    n = arr.size
    if n == 0:
        return _HDR.pack(MAGIC, 0, 0, 0, 0)
    if any(v is None for v in arr.tolist()):
        raise ValueError("string column must not contain nulls")
    uniq, inverse, counts = np.unique(arr, return_inverse=True, return_counts=True)
    order = np.argsort(-counts, kind="stable")
    table = uniq[order]
    rank = np.empty(uniq.size, dtype=np.int64)
    rank[order] = np.arange(uniq.size)
    idx = rank[inverse]
    iw = K.bit_width(max(int(uniq.size) - 1, 0))
    raw_blob = b"".join(
        struct.pack("<I", len(s.encode())) + s.encode() for s in table.tolist()
    )
    if shared_table is not None:
        blob = fsst.compress_shared(raw_blob, _shared_symbols(shared_table))
    else:
        blob = fsst.compress(raw_blob)
    packed = K.bitpack(idx.astype(np.uint32), iw)
    return (
        _HDR.pack(MAGIC, n, int(uniq.size), iw, len(blob)) + blob + packed
    )


def string_chunk_find(
    buf: bytes | memoryview,
    value: str,
    shared_table: bytes | memoryview | None = None,
) -> int:
    """Dictionary-only membership probe: the rank of ``value`` in the
    chunk's frequency-ordered dictionary, or -1. Parses ONLY the dict
    blob — the bit-packed index stream is never touched, and the scan
    stops at the first hit (frequent values sit at the front of the
    frequency order), so an equality predicate can prune a chunk at
    dictionary cost instead of full-column decode cost."""
    mv = memoryview(buf)
    magic, n, card, _iw, blob_len = _HDR.unpack_from(mv)
    if magic != MAGIC:
        raise ValueError("bad string-chunk magic")
    if n == 0:
        return -1
    off = _HDR.size
    raw_blob = fsst.decompress(mv[off : off + blob_len],
                           _shared_symbols(shared_table))
    needle = value.encode()
    p = 0
    for rank in range(card):
        (ln,) = struct.unpack_from("<I", raw_blob, p)
        p += 4
        if ln == len(needle) and raw_blob[p : p + ln] == needle:
            return rank
        p += ln
    return -1


def string_chunk_table(
    buf: bytes | memoryview,
    shared_table: bytes | memoryview | None = None,
) -> list[str]:
    """The chunk's frequency-ordered dictionary (rank -> string), without
    expanding any row: aggregations grouped by the column read the
    distinct values once per chunk here and count codes, never
    materializing per-row strings."""
    mv = memoryview(buf)
    magic, n, card, _iw, blob_len = _HDR.unpack_from(mv)
    if magic != MAGIC:
        raise ValueError("bad string-chunk magic")
    if n == 0:
        return []
    raw_blob = fsst.decompress(mv[_HDR.size : _HDR.size + blob_len],
                           _shared_symbols(shared_table))
    table: list[str] = []
    p = 0
    for _ in range(card):
        (ln,) = struct.unpack_from("<I", raw_blob, p)
        p += 4
        table.append(raw_blob[p : p + ln].decode())
        p += ln
    return table


def string_chunk_indices(buf: bytes | memoryview) -> np.ndarray:
    """The chunk's dictionary-code stream (one uint32 rank per row),
    without materializing any string: predicates that resolved a value
    to its rank (:func:`string_chunk_find`) compare integers here."""
    mv = memoryview(buf)
    magic, n, _card, iw, blob_len = _HDR.unpack_from(mv)
    if magic != MAGIC:
        raise ValueError("bad string-chunk magic")
    if n == 0:
        return np.empty(0, dtype=np.uint32)
    return K.bitunpack(mv[_HDR.size + blob_len :], iw, n)


def decode_string_chunk(
    buf: bytes | memoryview,
    shared_table: bytes | memoryview | None = None,
) -> list[str]:
    mv = memoryview(buf)
    magic, n, card, iw, blob_len = _HDR.unpack_from(mv)
    if magic != MAGIC:
        raise ValueError("bad string-chunk magic")
    if n == 0:
        return []
    off = _HDR.size
    raw_blob = fsst.decompress(mv[off : off + blob_len],
                           _shared_symbols(shared_table))
    table: list[str] = []
    p = 0
    for _ in range(card):
        (ln,) = struct.unpack_from("<I", raw_blob, p)
        p += 4
        table.append(raw_blob[p : p + ln].decode())
        p += ln
    idx = K.bitunpack(mv[off + blob_len :], iw, n)
    return [table[i] for i in idx]
