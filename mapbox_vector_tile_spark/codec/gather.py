"""Positional gather over encoded blocks (truncation / prefix decode).

:func:`decode_block_gather` returns the values at a sorted list of flat
positions inside one encoded block, decoding only what the stored codec
makes addressable instead of always inflating the full value stream:

====================  =======================================================
codec                 payload work for ``m`` requested of ``n`` stored values
====================  =======================================================
CONSTANT              0 decoded values (closed form from the params)
RLE                   the two run arrays only (``2*r`` values), positions
                      resolved by ``searchsorted`` on the run ends — the run
                      bodies are never inflated
RAW                   ``m`` values (fancy index over the frombuffer view —
                      numpy touches only the requested elements)
PAGED                 pages containing no requested position are skipped
                      outright (their bytes are never parsed past the
                      sub-frame header, which the page iterator checks
                      like every other); covered pages recurse, so a
                      CONSTANT or RLE page inside a PAGED chunk keeps its
                      pruning
all others            full sequential decode + take (``n`` values)
====================  =======================================================

The delta family (DELTA_ZZ_BITPACK / DELTA_ZZ_VARINT — the reference MVT
scheme, /root/reference/mapbox_vector_tile/geom_encoder.py:47-76) is
*inherently* prefix-coded: value ``i`` is the sum of all earlier deltas, so
positional pruning is impossible without the cumulative prefix.  Bit-packed
and dictionary codes could in principle be bit-addressed, but their full
unpack is already a vectorized O(n) move and the positional bit arithmetic
would cost more than it saves; they take the sequential path deliberately.

Every call also returns how many payload values it actually decoded, so
callers (and the pytest gate) can see the pruning instead of trusting it.
"""

from __future__ import annotations

import numpy as np

from . import blocks as B


def decode_block_gather(
    buf: bytes | memoryview, idx: np.ndarray
) -> tuple[np.ndarray, int]:
    """Values of one encoded block at sorted flat positions ``idx``.

    ``idx`` must be int64, sorted ascending, within ``[0, n_values)``
    (duplicates allowed).  Returns ``(values_int32, n_payload_decoded)``
    where the second element counts payload values materialized — the
    codec-awareness telemetry (0 for CONSTANT, ``2*r`` for RLE, ``n`` for
    the sequential fallback).
    """
    codec_id, n, body = B.read_frame(buf)
    idx = np.asarray(idx, dtype=np.int64)
    if idx.size == 0:
        return np.zeros(0, dtype=np.int32), 0
    if idx[0] < 0 or idx[-1] >= n:
        raise IndexError(f"gather position out of range [0, {n})")
    v = B.sections(codec_id, n, body)

    if codec_id == B.CONSTANT:
        return np.full(idx.size, v.value, dtype=np.int32), 0

    if codec_id == B.RLE:
        ends = np.cumsum(B.run_lengths(v))
        pos = np.searchsorted(ends, idx, side="right")
        return v.vals.values(v.vmin)[pos], 2 * v.r

    if codec_id == B.RAW:
        a = np.frombuffer(v.values.buf, dtype="<i4")
        return a[idx].astype(np.int32, copy=False), idx.size

    if codec_id == B.PAGED:
        parts: list[np.ndarray] = []
        decoded = lo = 0
        for base, page in B.iter_pages(v):
            page_n = B.read_frame(page)[1]
            hi = int(np.searchsorted(idx, base + page_n, side="left"))
            if hi > lo:
                vals, d = decode_block_gather(page, idx[lo:hi] - base)
                parts.append(vals)
                decoded += d
            lo = hi
        out = (
            np.concatenate(parts) if parts else np.zeros(0, dtype=np.int32)
        )
        return out, decoded

    full = B.decode_view(v)
    return full[idx].astype(np.int32, copy=False), n
