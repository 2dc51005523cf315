"""Multimodal columns: opaque ``binary`` payloads + typed metadata.

All three modalities decode for REAL — payloads are stored in standard
formats decodable with numpy/stdlib alone: 24-bit uncompressed BMP and
zlib-deflated PNG (:mod:`.png`) for images, PCM16 or G.711 mu-law WAV
(:mod:`.g711`) for audio, and two video containers: RIFF/AVI
(uncompressed DIB frames, or motion-JPEG whose frames are baseline
JPEGs decoded by the pure-numpy ITU-T T.81 codec in :mod:`.jpeg`) and
animated GIF (LZW, :mod:`.gif`) — so content statistics operate on
actual pixels/samples/frames, not hashes, including through COMPRESSED
codecs on all three modality paths (:func:`decode_image` /
:func:`decode_wav` / :func:`decode_video` sniff the container
magic/format tag). Frame sampling decodes ONLY the sampled frames — via
the idx1 index for AVI (:func:`decode_avi_frames`), via the LZW-free
sub-block walk for GIF. Remaining compressed formats (H.264 et al. via
PyAV/ffmpeg) slot in behind :data:`REAL_DECODERS_AVAILABLE` when those
libs exist.

Pattern: ``mapInPandas`` over an assets table
``(asset_id string, kind string, payload binary, meta map<string,string>)``;
one Arrow batch in -> one statistics batch out, never per-row Python dispatch
at the Spark boundary (the per-asset decode loop is the work itself).
"""

from __future__ import annotations

import io
import struct
import wave
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

ASSETS_SCHEMA = "asset_id string, kind string, payload binary, meta map<string,string>"
CONTENT_STATS_SCHEMA = (
    "asset_id string, kind string, n_bytes long, width long, height long, "
    "sum1 long, sum2 long, vmin long, vmax long, zcross long"
)

# Every shipped format decodes with the in-repo codecs (BMP/PNG/JPEG,
# PCM/mu-law WAV, DIB/MJPEG AVI, GIF) — no external image/audio libs.
# This flag now gates only formats that genuinely need external
# decoders (H.264 and friends via PyAV/ffmpeg, absent in this sandbox).
try:
    import av  # noqa: F401

    REAL_DECODERS_AVAILABLE = True
except Exception:
    REAL_DECODERS_AVAILABLE = False


# ---------------------------------------------------------------------------
# BMP (24-bit uncompressed, BITMAPINFOHEADER) — real codec, numpy only
# ---------------------------------------------------------------------------

def encode_bmp(pixels: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB -> BMP bytes (bottom-up rows, BGR, 4-byte row
    padding — the standard uncompressed layout)."""
    h, w, _ = pixels.shape
    row = w * 3
    pad = (-row) % 4
    body_size = (row + pad) * h
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + body_size, 0, 0, 14 + 40
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, body_size, 2835, 2835, 0, 0)
    bgr = pixels[::-1, :, ::-1]  # bottom-up, BGR
    if pad:
        rows = np.zeros((h, row + pad), dtype=np.uint8)
        rows[:, :row] = bgr.reshape(h, row)
        body = rows.tobytes()
    else:
        body = bgr.tobytes()
    return header + body


def decode_bmp(payload: bytes) -> np.ndarray:
    """BMP bytes -> (H, W, 3) uint8 RGB. Supports the 24-bit uncompressed
    form :func:`encode_bmp` writes (raises on anything else). Header fields
    are validated against the payload length before any reshape, so a
    corrupt header raises a clear error instead of a numpy internals one."""
    if len(payload) < 54:
        raise ValueError(f"BMP payload too short ({len(payload)} bytes)")
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (data_off,) = struct.unpack_from("<I", payload, 10)
    hdr_size, w, h, _, bpp, comp = struct.unpack_from("<IiiHHI", payload, 14)
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={comp})")
    if w <= 0 or h == 0 or abs(h) > 1 << 20 or w > 1 << 20:
        raise ValueError(f"invalid BMP dimensions ({w}x{h})")
    row = w * 3
    stride = row + ((-row) % 4)
    need = data_off + stride * abs(h)
    if data_off < 54 or need > len(payload):
        raise ValueError(
            f"truncated BMP: header needs {need} bytes, payload has "
            f"{len(payload)}"
        )
    body = np.frombuffer(payload, dtype=np.uint8, count=stride * abs(h),
                         offset=data_off).reshape(abs(h), stride)
    bgr = body[:, :row].reshape(abs(h), w, 3)
    if h > 0:
        bgr = bgr[::-1]  # bottom-up -> top-down
    return np.ascontiguousarray(bgr[:, :, ::-1])  # BGR -> RGB


def decode_image(payload: bytes) -> np.ndarray:
    """Format-sniffing image decode: BMP (``BM`` magic, uncompressed) or
    PNG (signature, zlib-deflated — :mod:`.png`). Always returns
    (H, W, 3) uint8 RGB (grayscale broadcast, alpha dropped) so the
    stats/features paths are codec-agnostic."""
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        from .png import decode_png

        px = decode_png(payload)
        if px.ndim == 2:
            return np.repeat(px[:, :, None], 3, axis=2)
        if px.shape[2] == 2:  # gray+alpha -> gray RGB
            return np.repeat(px[:, :, :1], 3, axis=2)
        return np.ascontiguousarray(px[:, :, :3])  # RGB / RGBA->RGB
    raise ValueError("unknown image payload (not BMP or PNG)")


# ---------------------------------------------------------------------------
# WAV (PCM16 mono) — real codec, stdlib wave + numpy
# ---------------------------------------------------------------------------

def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """int16 samples -> WAV bytes (PCM16 mono)."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def decode_video(payload: bytes) -> tuple[np.ndarray, int]:
    """Format-sniffing video decode: RIFF/AVI (DIB or motion-JPEG) or
    animated GIF (:mod:`.gif`, LZW). Returns ((T, H, W, 3) uint8 RGB,
    rate) — fps for AVI, the GIF frame delay in centiseconds."""
    if payload[:4] == b"RIFF":
        return decode_avi(payload)
    if payload[:4] == b"GIF8":
        from .gif import decode_gif

        return decode_gif(payload)
    raise ValueError("unknown video payload (not AVI or GIF)")


def video_headers(payload: bytes) -> tuple[int, int, int]:
    """Sniffing ``(n_frames, width, height)`` without decoding frames."""
    if payload[:4] == b"RIFF":
        return _avi_headers(payload)[:3]
    if payload[:4] == b"GIF8":
        from .gif import gif_headers

        return gif_headers(payload)
    raise ValueError("unknown video payload (not AVI or GIF)")


def decode_video_frames(payload: bytes, indices: np.ndarray) -> np.ndarray:
    """Sniffing sampled-frame decode: AVI seeks via the idx1 index
    (unsampled frames' bytes never read); GIF walks sub-block lengths
    (no LZW for unsampled frames) — each container's honest bound."""
    if payload[:4] == b"RIFF":
        return decode_avi_frames(payload, indices)
    if payload[:4] == b"GIF8":
        from .gif import decode_gif_frames

        return decode_gif_frames(payload, indices)
    raise ValueError("unknown video payload (not AVI or GIF)")


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes -> (int16 samples, sample_rate). Sniffs the fmt tag:
    PCM16 (tag 1, stdlib ``wave``) or COMPRESSED G.711 mu-law (tag 7,
    :mod:`.g711` — stdlib ``wave`` rejects non-PCM), so the stats/
    features paths are codec-agnostic on audio exactly as
    :func:`decode_image` is on images."""
    from .g711 import decode_wav_mulaw, wav_format_tag

    if payload[:4] == b"RIFF" and wav_format_tag(payload) == 7:
        return decode_wav_mulaw(payload)
    with wave.open(io.BytesIO(payload), "rb") as w:
        if w.getsampwidth() != 2:
            raise ValueError("only PCM16 supported")
        data = w.readframes(w.getnframes())
        samples = np.frombuffer(data, dtype="<i2")
        if w.getnchannels() > 1:
            samples = samples.reshape(-1, w.getnchannels()).mean(axis=1)
            samples = samples.astype(np.int16)
        return samples, w.getframerate()


# ---------------------------------------------------------------------------
# AVI (RIFF container, uncompressed 'DIB ' video stream + idx1 index) —
# real codec, struct/numpy only. The layout is the standard one ffmpeg
# emits for rawvideo AVI: hdrl (avih + strl(strh,strf)) / movi ('00db'
# bottom-up BGR frames with 4-byte row padding) / idx1. The idx1 index is
# what makes frame SAMPLING scale: :func:`decode_avi_frames` seeks straight
# to the sampled frames and never touches the other frames' bytes.
# ---------------------------------------------------------------------------


def encode_avi(frames: np.ndarray, fps: int = 10) -> bytes:
    """(T, H, W, 3) uint8 RGB -> AVI bytes (uncompressed DIB frames).

    Container size is closed-form: ``232 + T * (24 + frame_size)`` with
    ``frame_size = padded_stride * H`` — the SQL oracle relies on this.
    """
    t, h, w, _ = frames.shape
    if t < 1:
        raise ValueError("AVI needs at least one frame")
    row = w * 3
    stride = row + ((-row) % 4)
    fs = stride * h
    usec = 1_000_000 // fps
    avih = struct.pack(
        "<14I", usec, fs * fps, 0, 0x10, t, 0, 1, fs, w, h, 0, 0, 0, 0
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4h",
        b"vids", b"DIB ", 0, 0, 0, 0, 1, fps, 0, t, fs, 0, 0,
        0, 0, min(w, 32767), min(h, 32767),
    )
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, fs, 0, 0, 0, 0)
    strl = b"LIST" + struct.pack("<I", 4 + 8 + len(strh) + 8 + len(strf)) + b"strl" \
        + b"strh" + struct.pack("<I", len(strh)) + strh \
        + b"strf" + struct.pack("<I", len(strf)) + strf
    hdrl = b"LIST" + struct.pack("<I", 4 + 8 + len(avih) + len(strl)) + b"hdrl" \
        + b"avih" + struct.pack("<I", len(avih)) + avih + strl

    # frame bodies: bottom-up BGR, padded rows (standard DIB layout)
    bgr = frames[:, ::-1, :, ::-1]
    if stride != row:
        body = np.zeros((t, h, stride), dtype=np.uint8)
        body[:, :, :row] = bgr.reshape(t, h, row)
    else:
        body = bgr.reshape(t, h, row)
    chunk_hdr = b"00db" + struct.pack("<I", fs)
    movi_parts = [b"movi"]
    idx_parts = []
    off = 4  # idx1 offsets are relative to the 'movi' fourcc position
    for k in range(t):
        movi_parts.append(chunk_hdr)
        movi_parts.append(body[k].tobytes())
        idx_parts.append(b"00db" + struct.pack("<III", 0x10, off, fs))
        off += 8 + fs
    movi_data = b"".join(movi_parts)
    movi = b"LIST" + struct.pack("<I", len(movi_data)) + movi_data
    idx_data = b"".join(idx_parts)
    idx1 = b"idx1" + struct.pack("<I", len(idx_data)) + idx_data
    riff_data = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(riff_data)) + riff_data


_MJPG = 0x47504A4D  # 'MJPG' fourcc as the little-endian biCompression value


def _avi_headers(
    payload: bytes,
) -> tuple[int, int, int, int, int, int, int]:
    """Validate the container and return
    ``(n_frames, width, height, fps, movi_pos, idx1_pos, compression)``
    where ``movi_pos`` is the offset of the ``movi`` fourcc, ``idx1_pos``
    the offset of the idx1 chunk data (or -1 if absent), and
    ``compression`` the strf biCompression value (0 = uncompressed DIB,
    ``_MJPG`` = motion-JPEG). Walks the RIFF chunk tree properly
    (even-size padding honored), so any conformant AVI of either codec
    parses, not just :func:`encode_avi` / :func:`encode_avi_mjpeg`
    output."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    (riff_size,) = struct.unpack_from("<I", payload, 4)
    end = min(8 + riff_size, len(payload))
    pos = 12
    n_frames = width = height = -1
    fps = 0
    movi_pos = idx1_pos = -1
    bpp = 24
    comp = 0
    while pos + 8 <= end:
        fourcc = payload[pos:pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        if pos + 8 + size > end:
            raise ValueError("truncated AVI chunk")
        if fourcc == b"LIST":
            ltype = payload[pos + 8:pos + 12]
            if ltype == b"hdrl":
                # avih is required to be the first chunk of hdrl
                if payload[pos + 12:pos + 16] != b"avih":
                    raise ValueError("AVI hdrl missing avih")
                usec, _mbps, _pad, _flags, n_frames, _ini, _nstr, _buf, width, height = (
                    struct.unpack_from("<10I", payload, pos + 20)
                )
                fps = round(1_000_000 / usec) if usec else 0
                # find strf inside to validate the pixel format
                sp = payload.find(b"strf", pos + 8, pos + 8 + size)
                if sp >= 0:
                    _sz, _w, _h, _planes, bpp, comp = struct.unpack_from(
                        "<IiiHHI", payload, sp + 8
                    )
            elif ltype == b"movi":
                movi_pos = pos + 8
        elif fourcc == b"idx1":
            idx1_pos = pos + 8
        pos += 8 + size + (size & 1)
    if movi_pos < 0 or n_frames < 0:
        raise ValueError("AVI missing hdrl/movi")
    if comp == 0:
        if bpp != 24:
            raise ValueError(f"unsupported DIB AVI (bpp={bpp})")
    elif comp != _MJPG:
        raise ValueError(f"unsupported AVI compression 0x{comp:08x}")
    if width <= 0 or height <= 0 or width > 1 << 20 or height > 1 << 20:
        raise ValueError(f"invalid AVI dimensions ({width}x{height})")
    return n_frames, width, height, fps, movi_pos, idx1_pos, comp


def _dib_to_rgb(body: np.ndarray, w: int, h: int, stride: int) -> np.ndarray:
    bgr = body.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    return np.ascontiguousarray(bgr[::-1, :, ::-1])


def encode_avi_mjpeg(
    frames: np.ndarray, fps: int = 10, quality: int = 100
) -> bytes:
    """(T, H, W, 3) uint8 RGB -> motion-JPEG AVI bytes: the same RIFF
    layout as :func:`encode_avi` but handler/biCompression ``MJPG`` and
    each ``00dc`` chunk a standalone baseline JPEG
    (:func:`..jpeg.encode_jpeg`). The idx1 index carries each frame's
    real byte size, so index-seek sampling works identically."""
    from .jpeg import encode_jpeg

    t, h, w, _ = frames.shape
    if t < 1:
        raise ValueError("AVI needs at least one frame")
    bodies = [encode_jpeg(frames[k], quality=quality) for k in range(t)]
    max_fs = max(len(b) for b in bodies)
    usec = 1_000_000 // fps
    avih = struct.pack(
        "<14I", usec, max_fs * fps, 0, 0x10, t, 0, 1, max_fs, w, h, 0, 0,
        0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4h",
        b"vids", b"MJPG", 0, 0, 0, 0, 1, fps, 0, t, max_fs, 0, 0,
        0, 0, min(w, 32767), min(h, 32767),
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, _MJPG, max_fs, 0, 0, 0, 0
    )
    strl = (
        b"LIST" + struct.pack("<I", 4 + 8 + len(strh) + 8 + len(strf))
        + b"strl"
        + b"strh" + struct.pack("<I", len(strh)) + strh
        + b"strf" + struct.pack("<I", len(strf)) + strf
    )
    hdrl = (
        b"LIST" + struct.pack("<I", 4 + 8 + len(avih) + len(strl))
        + b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih + strl
    )
    movi_parts = [b"movi"]
    idx_parts = []
    off = 4
    for body in bodies:
        fs = len(body)
        movi_parts.append(b"00dc" + struct.pack("<I", fs))
        movi_parts.append(body)
        if fs & 1:
            movi_parts.append(b"\x00")  # RIFF even-size padding
        idx_parts.append(b"00dc" + struct.pack("<III", 0x10, off, fs))
        off += 8 + fs + (fs & 1)
    movi_data = b"".join(movi_parts)
    movi = b"LIST" + struct.pack("<I", len(movi_data)) + movi_data
    idx_data = b"".join(idx_parts)
    idx1 = b"idx1" + struct.pack("<I", len(idx_data)) + idx_data
    riff_data = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(riff_data)) + riff_data


def _mjpeg_frame(payload: bytes, off: int, size: int, w: int,
                 h: int) -> np.ndarray:
    from .jpeg import decode_jpeg

    px = decode_jpeg(payload[off:off + size])
    if px.ndim == 2:
        px = np.stack([px, px, px], axis=-1)
    if px.shape[:2] != (h, w):
        raise ValueError(
            f"MJPEG frame {px.shape[1]}x{px.shape[0]} != header {w}x{h}"
        )
    return px


def decode_avi(payload: bytes) -> tuple[np.ndarray, int]:
    """AVI bytes -> ((T, H, W, 3) uint8 RGB, fps). Full sequential decode:
    walks the movi chunks in order (no index required). Dispatches on the
    stream's biCompression: uncompressed DIB or motion-JPEG."""
    n_frames, w, h, fps, movi_pos, _, comp = _avi_headers(payload)
    frames = np.empty((n_frames, h, w, 3), dtype=np.uint8)
    pos = movi_pos + 4
    if comp == _MJPG:
        for k in range(n_frames):
            if payload[pos:pos + 2] != b"00":
                raise ValueError(
                    f"unexpected movi chunk {payload[pos:pos+4]!r}"
                )
            (size,) = struct.unpack_from("<I", payload, pos + 4)
            frames[k] = _mjpeg_frame(payload, pos + 8, size, w, h)
            pos += 8 + size + (size & 1)
        return frames, fps
    row = w * 3
    stride = row + ((-row) % 4)
    fs = stride * h
    for k in range(n_frames):
        if payload[pos:pos + 2] != b"00":
            raise ValueError(f"unexpected movi chunk {payload[pos:pos+4]!r}")
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        if size != fs or pos + 8 + fs > len(payload):
            raise ValueError("AVI frame size mismatch")
        body = np.frombuffer(payload, dtype=np.uint8, count=fs, offset=pos + 8)
        frames[k] = _dib_to_rgb(body, w, h, stride)
        pos += 8 + size + (size & 1)
    return frames, fps


def decode_avi_frames(payload: bytes, indices: np.ndarray) -> np.ndarray:
    """Index-seek partial decode: decode ONLY the frames in ``indices``
    using the idx1 offsets — the bytes of unsampled frames are never read.
    This is the 100 TB frame-sampling shape (decode 1/N of the corpus, not
    all of it); falls back to a header-only sequential walk when idx1 is
    absent (unsampled frames' bodies still never decode). Works for both
    DIB and motion-JPEG streams — for MJPEG the skipped bytes are entire
    compressed frames, which is where sampling pays most."""
    n_frames, w, h, _fps, movi_pos, idx1_pos, comp = _avi_headers(payload)
    indices = np.asarray(indices, dtype=np.int64)
    if indices.size and (indices.min() < 0 or indices.max() >= n_frames):
        raise ValueError("frame index out of range")
    row = w * 3
    stride = row + ((-row) % 4)
    fs = stride * h
    if idx1_pos < 0:
        if comp == _MJPG:
            # variable-size chunks: walk headers only (8 bytes/frame)
            offs = np.empty(n_frames, dtype=np.int64)
            pos = movi_pos + 4
            for k in range(n_frames):
                offs[k] = pos
                (sz,) = struct.unpack_from("<I", payload, pos + 4)
                pos += 8 + sz + (sz & 1)
            offs = offs[indices]
        else:  # fixed-size chunks: positions are closed-form
            offs = movi_pos + 4 + indices * (8 + fs + (fs & 1))
    else:
        (idx_size,) = struct.unpack_from("<I", payload, idx1_pos - 4)
        entries = np.frombuffer(
            payload, dtype=np.uint32, count=idx_size // 4, offset=idx1_pos
        ).reshape(-1, 4)
        if entries.shape[0] < n_frames:
            raise ValueError("idx1 shorter than frame count")
        offs = movi_pos + entries[indices, 2].astype(np.int64)
    out = np.empty((indices.size, h, w, 3), dtype=np.uint8)
    for j, off in enumerate(offs):
        (size,) = struct.unpack_from("<I", payload, int(off) + 4)
        if comp == _MJPG:
            out[j] = _mjpeg_frame(payload, int(off) + 8, size, w, h)
            continue
        if size != fs or off + 8 + fs > len(payload):
            raise ValueError("AVI frame size mismatch")
        body = np.frombuffer(payload, dtype=np.uint8, count=fs, offset=int(off) + 8)
        out[j] = _dib_to_rgb(body, w, h, stride)
    return out


# ---------------------------------------------------------------------------
# content statistics
# ---------------------------------------------------------------------------


def content_stats(assets: DataFrame) -> DataFrame:
    """Integer-exact content statistics through the REAL decoders — the
    oracle-gated face of the multimodal path. Because the synthetic corpus
    is closed-form (see :func:`synthetic_assets`), a SQL oracle can
    recompute every row from first principles; a hash match therefore
    proves the BMP/WAV bytes round-tripped through ``decode_bmp`` /
    ``decode_wav`` bit-exactly (no float tolerance anywhere).

    Per kind: image -> stats over all decoded channel values plus
    ``zcross = count(R > G)``; audio -> stats over decoded PCM16 samples
    with ``zcross`` = sign changes; video -> stats over all decoded frame
    channel values (real AVI decode) with ``zcross = count(R > G)`` across
    every frame. ``n_bytes`` is the exact container size, which for video
    binds the frame count through the closed-form AVI layout.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for asset_id, kind, payload in zip(
                pdf["asset_id"], pdf["kind"], pdf["payload"]
            ):
                payload = bytes(payload) if payload is not None else b""
                if kind == "image":
                    px = decode_image(payload)
                    h, w, _ = px.shape
                    v = px.astype(np.int64)
                    rows.append(
                        (asset_id, kind, len(payload), w, h,
                         int(v.sum()), int((v * v).sum()),
                         int(v.min()), int(v.max()),
                         int((v[:, :, 0] > v[:, :, 1]).sum()))
                    )
                elif kind == "audio":
                    samples, _rate = decode_wav(payload)
                    s = samples.astype(np.int64)
                    neg = s < 0
                    rows.append(
                        (asset_id, kind, len(payload), -1, -1,
                         int(s.sum()), int((s * s).sum()),
                         int(s.min()) if s.size else 0,
                         int(s.max()) if s.size else 0,
                         int(np.count_nonzero(neg[1:] != neg[:-1])))
                    )
                else:  # video: stats over REAL decoded frames
                    frames, _fps = decode_video(payload)
                    _t, h, w, _ = frames.shape
                    v = frames.astype(np.int64)
                    rows.append(
                        (asset_id, kind, len(payload), w, h,
                         int(v.sum()), int((v * v).sum()),
                         int(v.min()), int(v.max()),
                         int((v[:, :, :, 0] > v[:, :, :, 1]).sum()))
                    )
            yield pd.DataFrame(
                rows,
                columns=["asset_id", "kind", "n_bytes", "width", "height",
                         "sum1", "sum2", "vmin", "vmax", "zcross"],
            )

    return assets.select("asset_id", "kind", "payload").mapInPandas(
        fn, CONTENT_STATS_SCHEMA
    )


def synthetic_pixels(i: int) -> np.ndarray:
    """Closed-form image content for asset ``i``: every pixel is an integer
    formula of ``(i, x, y)``, so a SQL oracle can regenerate it exactly."""
    w = 1 + (i * 7919) % 64
    h = 1 + (i * 104729) % 64
    x = np.arange(w, dtype=np.int64)[None, :]
    y = np.arange(h, dtype=np.int64)[:, None]
    px = np.empty((h, w, 3), dtype=np.uint8)
    px[:, :, 0] = np.broadcast_to(((3 * x + i) % 256).astype(np.uint8), (h, w))
    px[:, :, 1] = np.broadcast_to(((5 * y + 2 * i) % 256).astype(np.uint8), (h, w))
    px[:, :, 2] = ((x + y + i) % 256).astype(np.uint8)
    return px


def synthetic_samples(i: int) -> np.ndarray:
    """Closed-form audio content for asset ``i`` (int16 waveform)."""
    n = 400 + (i * 31) % 800
    j = np.arange(n, dtype=np.int64)
    return (((i * 37 + 13 * j * j) % 4001) - 2000).astype(np.int16)


def synthetic_frames(i: int) -> np.ndarray:
    """Closed-form video content for asset ``i``: every pixel of every
    frame is an integer formula of ``(i, t, x, y)``, so a SQL oracle can
    regenerate the decoded frames exactly (same trick as
    :func:`synthetic_pixels`, with a time axis)."""
    t = 2 + (i * 11) % 5
    w = 1 + (i * 13) % 24
    h = 1 + (i * 29) % 24
    tt = np.arange(t, dtype=np.int64)[:, None, None]
    x = np.arange(w, dtype=np.int64)[None, None, :]
    y = np.arange(h, dtype=np.int64)[None, :, None]
    px = np.empty((t, h, w, 3), dtype=np.uint8)
    px[:, :, :, 0] = np.broadcast_to((3 * x + tt + i) % 256, (t, h, w))
    px[:, :, :, 1] = np.broadcast_to((5 * y + 2 * i + 7 * tt) % 256, (t, h, w))
    px[:, :, :, 2] = np.broadcast_to((x + y + i + tt) % 256, (t, h, w))
    return px


def synthetic_video_bytes(i: int) -> bytes:
    """Closed-form video payload for asset ``i``: a real uncompressed AVI
    around :func:`synthetic_frames` content."""
    return encode_avi(synthetic_frames(i), fps=10)


def synthetic_assets(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic assets table with REAL payloads: images are valid
    24-bit BMPs, audio is valid PCM16 WAV, video is valid uncompressed
    AVI. All content is CLOSED-FORM — integer formulas of the asset
    index — so the DuckDB oracle regenerates the exact pixels/samples/
    frames in SQL and :func:`content_stats` can be hash-gated end to end."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rows = []
            for i in ids:
                i = int(i)
                kind = ["image", "audio", "video"][i % 3]
                if kind == "image":
                    payload = encode_bmp(synthetic_pixels(i))
                elif kind == "audio":
                    payload = encode_wav(synthetic_samples(i))
                else:
                    payload = synthetic_video_bytes(i)
                rows.append(
                    {
                        "asset_id": f"asset-{i:06d}",
                        "kind": kind,
                        "payload": payload,
                        "meta": {"idx": str(i)},
                    }
                )
            yield pd.DataFrame(rows)

    return spark.range(n).mapInPandas(gen, ASSETS_SCHEMA)


def content_stats_sql(n: int) -> str:
    """DuckDB oracle for ``content_stats(synthetic_assets(n))``: regenerates
    the closed-form pixels/samples/frames in SQL (no decoders) and computes
    the same integer statistics. ``n_bytes`` is the exact container size
    the encoders emit (BMP 54-byte header + 4-byte-padded rows; WAV 44-byte
    PCM header + 2 bytes/sample; AVI 232 bytes of RIFF/hdrl/movi/idx1
    framing + per-frame ``24 + padded_stride*h``)."""
    return f"""
WITH ids AS (SELECT range AS i FROM range({n})),
img AS (
  SELECT i, 1 + (i*7919) % 64 AS w, 1 + (i*104729) % 64 AS h
  FROM ids WHERE i % 3 = 0
),
imgpx AS (
  SELECT img.i, img.w, img.h,
         (3*x.range + i) % 256 AS r,
         (5*y.range + 2*i) % 256 AS g,
         (x.range + y.range + i) % 256 AS b
  FROM img, range(64) x, range(64) y
  WHERE x.range < img.w AND y.range < img.h
),
img_stats AS (
  SELECT i, 'image' AS kind,
         54 + (3*w + (4 - (3*w) % 4) % 4) * h AS n_bytes,
         w AS width, h AS height,
         SUM(r + g + b) AS sum1, SUM(r*r + g*g + b*b) AS sum2,
         MIN(LEAST(r, g, b)) AS vmin, MAX(GREATEST(r, g, b)) AS vmax,
         SUM(CASE WHEN r > g THEN 1 ELSE 0 END) AS zcross
  FROM imgpx GROUP BY i, w, h
),
aud AS (
  SELECT i, 400 + (i*31) % 800 AS n FROM ids WHERE i % 3 = 1
),
auds AS (
  SELECT aud.i, aud.n, j.range AS j,
         ((i*37 + 13*j.range*j.range) % 4001) - 2000 AS s
  FROM aud, range(1200) j WHERE j.range < aud.n
),
audl AS (
  SELECT i, n, j, s, LAG(s) OVER (PARTITION BY i ORDER BY j) AS sp
  FROM auds
),
aud_stats AS (
  SELECT i, 'audio' AS kind, 44 + 2*n AS n_bytes,
         -1 AS width, -1 AS height,
         SUM(s) AS sum1, SUM(s*s) AS sum2, MIN(s) AS vmin, MAX(s) AS vmax,
         SUM(CASE WHEN sp IS NOT NULL AND (s < 0) != (sp < 0)
             THEN 1 ELSE 0 END) AS zcross
  FROM audl GROUP BY i, n
),
vid AS (
  SELECT i, 2 + (i*11) % 5 AS nt, 1 + (i*13) % 24 AS w, 1 + (i*29) % 24 AS h
  FROM ids WHERE i % 3 = 2
),
vidpx AS (
  SELECT vid.i, vid.nt, vid.w, vid.h,
         (3*x.range + t.range + i) % 256 AS r,
         (5*y.range + 2*i + 7*t.range) % 256 AS g,
         (x.range + y.range + i + t.range) % 256 AS b
  FROM vid, range(6) t, range(24) x, range(24) y
  WHERE t.range < vid.nt AND x.range < vid.w AND y.range < vid.h
),
vid_stats AS (
  SELECT i, 'video' AS kind,
         232 + nt * (24 + (3*w + (4 - (3*w) % 4) % 4) * h) AS n_bytes,
         w AS width, h AS height,
         SUM(r + g + b) AS sum1, SUM(r*r + g*g + b*b) AS sum2,
         MIN(LEAST(r, g, b)) AS vmin, MAX(GREATEST(r, g, b)) AS vmax,
         SUM(CASE WHEN r > g THEN 1 ELSE 0 END) AS zcross
  FROM vidpx GROUP BY i, nt, w, h
),
allstats AS (
  SELECT * FROM img_stats UNION ALL
  SELECT * FROM aud_stats UNION ALL
  SELECT * FROM vid_stats
)
SELECT printf('asset-%06d', i) AS asset_id, kind,
       CAST(n_bytes AS BIGINT) AS n_bytes,
       CAST(width AS BIGINT) AS width, CAST(height AS BIGINT) AS height,
       CAST(sum1 AS BIGINT) AS sum1, CAST(sum2 AS BIGINT) AS sum2,
       CAST(vmin AS BIGINT) AS vmin, CAST(vmax AS BIGINT) AS vmax,
       CAST(zcross AS BIGINT) AS zcross
FROM allstats ORDER BY asset_id
"""


FRAME_STATS_SCHEMA = (
    "asset_id string, t long, width long, height long, "
    "sum1 long, sum2 long, vmin long, vmax long, zcross long"
)


def sample_frame_stats(assets: DataFrame, every_n: int = 2) -> DataFrame:
    """Integer-exact per-frame statistics for every ``every_n``-th frame of
    each video, decoded via the idx1 INDEX-SEEK path
    (:func:`decode_avi_frames`) — unsampled frames' bytes are never read,
    which is what makes frame sampling viable when the video corpus is the
    bulk of 100 TB. Oracle-gated: the closed-form frame content means a SQL
    oracle regenerates exactly the sampled frames."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                payload = bytes(payload)
                n_frames, w, h = video_headers(payload)
                idx = np.arange(0, n_frames, every_n, dtype=np.int64)
                frames = decode_video_frames(payload, idx)
                v = frames.astype(np.int64)
                for j, t in enumerate(idx):
                    rows.append(
                        (asset_id, int(t), w, h,
                         int(v[j].sum()), int((v[j] * v[j]).sum()),
                         int(v[j].min()), int(v[j].max()),
                         int((v[j, :, :, 0] > v[j, :, :, 1]).sum()))
                    )
            yield pd.DataFrame(
                rows,
                columns=["asset_id", "t", "width", "height",
                         "sum1", "sum2", "vmin", "vmax", "zcross"],
            )

    return (
        assets.filter(F.col("kind") == "video")
        .select("asset_id", "payload")
        .mapInPandas(fn, FRAME_STATS_SCHEMA)
    )


def sample_frame_stats_sql(n: int, every_n: int = 2) -> str:
    """DuckDB oracle for ``sample_frame_stats(synthetic_assets(n))``:
    regenerates exactly the sampled frames (``t % every_n = 0``) from the
    closed-form pixel formulas and computes the same integer statistics."""
    return f"""
WITH ids AS (SELECT range AS i FROM range({n})),
vid AS (
  SELECT i, 2 + (i*11) % 5 AS nt, 1 + (i*13) % 24 AS w, 1 + (i*29) % 24 AS h
  FROM ids WHERE i % 3 = 2
),
px AS (
  SELECT vid.i, t.range AS t, vid.w, vid.h,
         (3*x.range + t.range + i) % 256 AS r,
         (5*y.range + 2*i + 7*t.range) % 256 AS g,
         (x.range + y.range + i + t.range) % 256 AS b
  FROM vid, range(6) t, range(24) x, range(24) y
  WHERE t.range < vid.nt AND t.range % {every_n} = 0
    AND x.range < vid.w AND y.range < vid.h
)
SELECT printf('asset-%06d', i) AS asset_id, CAST(t AS BIGINT) AS t,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(SUM(r + g + b) AS BIGINT) AS sum1,
       CAST(SUM(r*r + g*g + b*b) AS BIGINT) AS sum2,
       CAST(MIN(LEAST(r, g, b)) AS BIGINT) AS vmin,
       CAST(MAX(GREATEST(r, g, b)) AS BIGINT) AS vmax,
       CAST(SUM(CASE WHEN r > g THEN 1 ELSE 0 END) AS BIGINT) AS zcross
FROM px GROUP BY i, t, w, h ORDER BY asset_id, t
"""


# ---------------------------------------------------------------------------
# motion-JPEG synthetic assets (closed-form DESPITE the lossy codec)
# ---------------------------------------------------------------------------

def synthetic_mjpeg_frames(i: int) -> np.ndarray:
    """Closed-form MJPEG video content for asset ``i``: frames are
    grayscale (R=G=B) and constant within each 8x8 block, with block
    value ``(7t + 3bx + 5by + i) % 256``. At ``quality=100`` baseline
    JPEG round-trips this content BIT-EXACTLY (single exactly-
    representable DC coefficient, all-zero ACs, Cb = Cr = 128 through
    the color cycle — see :mod:`.jpeg`), so a SQL oracle regenerates
    the *decoded* pixels of a *lossy* codec in closed form."""
    t = 2 + (i * 11) % 4
    bw = 1 + (i * 13) % 3
    bh = 1 + (i * 29) % 3
    tt = np.arange(t, dtype=np.int64)[:, None, None]
    bx = np.arange(bw, dtype=np.int64)[None, None, :]
    by = np.arange(bh, dtype=np.int64)[None, :, None]
    v = ((7 * tt + 3 * bx + 5 * by + i) % 256).astype(np.uint8)
    px = np.repeat(np.repeat(v, 8, axis=1), 8, axis=2)
    return np.repeat(px[..., None], 3, axis=3)


def synthetic_mjpeg_assets(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic MJPEG asset table: every payload is a REAL
    motion-JPEG AVI (RIFF/MJPG + idx1, each frame a standalone baseline
    JPEG) around :func:`synthetic_mjpeg_frames` content."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"].to_numpy():
                i = int(i)
                payload = encode_avi_mjpeg(
                    synthetic_mjpeg_frames(i), fps=10, quality=100
                )
                rows.append(
                    {
                        "asset_id": f"asset-{i:06d}",
                        "kind": "video",
                        "payload": payload,
                        "meta": {"idx": str(i), "codec": "mjpeg"},
                    }
                )
            yield pd.DataFrame(rows)

    return spark.range(n).mapInPandas(gen, ASSETS_SCHEMA)


def mjpeg_frame_stats_sql(n: int, every_n: int = 2) -> str:
    """DuckDB oracle for ``sample_frame_stats(synthetic_mjpeg_assets(n))``:
    the decoded pixels are block-constant, so the oracle aggregates at
    BLOCK granularity (64 pixels x 3 channels per block) — no decoder,
    no per-pixel expansion."""
    return f"""
WITH ids AS (SELECT range AS i FROM range({n})),
vid AS (
  SELECT i, 2 + (i*11) % 4 AS nt,
         1 + (i*13) % 3 AS bw, 1 + (i*29) % 3 AS bh
  FROM ids
),
blk AS (
  SELECT vid.i, t.range AS t, vid.bw, vid.bh,
         (7*t.range + 3*bx.range + 5*by.range + i) % 256 AS v
  FROM vid, range(5) t, range(3) bx, range(3) by
  WHERE t.range < vid.nt AND t.range % {every_n} = 0
    AND bx.range < vid.bw AND by.range < vid.bh
)
SELECT printf('asset-%06d', i) AS asset_id, CAST(t AS BIGINT) AS t,
       CAST(bw * 8 AS BIGINT) AS width, CAST(bh * 8 AS BIGINT) AS height,
       CAST(SUM(192 * v) AS BIGINT) AS sum1,
       CAST(SUM(192 * v * v) AS BIGINT) AS sum2,
       CAST(MIN(v) AS BIGINT) AS vmin,
       CAST(MAX(v) AS BIGINT) AS vmax,
       CAST(0 AS BIGINT) AS zcross
FROM blk GROUP BY i, t, bw, bh ORDER BY asset_id, t
"""


# ---------------------------------------------------------------------------
# PNG synthetic assets (lossless compressed images)
# ---------------------------------------------------------------------------

def synthetic_png_assets(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic compressed-image asset table: the SAME closed-form
    pixels as :func:`synthetic_pixels`, stored as real PNGs with
    per-row adaptive filtering (:mod:`.png`). PNG is lossless, so the
    pixel-stats oracle needs no content trick — only ``n_bytes`` stops
    being closed-form (deflate output size), which is why
    ``png_content_stats`` drops that column from the gate."""
    from .png import encode_png

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"].to_numpy():
                i = int(i)
                rows.append(
                    {
                        "asset_id": f"asset-{i:06d}",
                        "kind": "image",
                        "payload": encode_png(synthetic_pixels(i)),
                        "meta": {"idx": str(i), "codec": "png"},
                    }
                )
            yield pd.DataFrame(rows)

    return spark.range(n).mapInPandas(gen, ASSETS_SCHEMA)


def png_content_stats_sql(n: int) -> str:
    """DuckDB oracle for
    ``content_stats(synthetic_png_assets(n)).drop("n_bytes")``:
    regenerates the closed-form pixels (identical formulas to the BMP
    image oracle) and computes the same integer statistics — a hash
    match proves the zlib/filter pipeline reconstructed every pixel."""
    return f"""
WITH ids AS (SELECT range AS i FROM range({n})),
img AS (
  SELECT i, 1 + (i*7919) % 64 AS w, 1 + (i*104729) % 64 AS h FROM ids
),
px AS (
  SELECT img.i, img.w, img.h,
         (3*x.range + i) % 256 AS r,
         (5*y.range + 2*i) % 256 AS g,
         (x.range + y.range + i) % 256 AS b
  FROM img, range(64) x, range(64) y
  WHERE x.range < img.w AND y.range < img.h
)
SELECT printf('asset-%06d', i) AS asset_id, 'image' AS kind,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(SUM(r + g + b) AS BIGINT) AS sum1,
       CAST(SUM(r*r + g*g + b*b) AS BIGINT) AS sum2,
       CAST(MIN(LEAST(r, g, b)) AS BIGINT) AS vmin,
       CAST(MAX(GREATEST(r, g, b)) AS BIGINT) AS vmax,
       CAST(SUM(CASE WHEN r > g THEN 1 ELSE 0 END) AS BIGINT) AS zcross
FROM px GROUP BY i, w, h ORDER BY asset_id
"""


# ---------------------------------------------------------------------------
# G.711 mu-law synthetic assets (compressed audio)
# ---------------------------------------------------------------------------

def synthetic_mulaw_assets(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic compressed-audio asset table: the SAME closed-form
    waveforms as :func:`synthetic_samples`, stored as real G.711 mu-law
    WAVs (:mod:`.g711`, format tag 7, 8 bits/sample — 2:1 vs PCM16).
    The codec is lossy but its transfer function is a closed-form
    per-sample integer formula, so the content-stats oracle recomputes
    the DECODED samples exactly in SQL — including ``n_bytes``, which
    stays closed-form (``58 + n + n%2``) because mu-law is fixed-rate."""
    from .g711 import encode_wav_mulaw

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"].to_numpy():
                i = int(i)
                rows.append(
                    {
                        "asset_id": f"asset-{i:06d}",
                        "kind": "audio",
                        "payload": encode_wav_mulaw(synthetic_samples(i)),
                        "meta": {"idx": str(i), "codec": "mulaw"},
                    }
                )
            yield pd.DataFrame(rows)

    return spark.range(n).mapInPandas(gen, ASSETS_SCHEMA)


def mulaw_content_stats_sql(n: int) -> str:
    """DuckDB oracle for ``content_stats(synthetic_mulaw_assets(n))``:
    regenerates the closed-form PCM waveform, pushes every sample
    through the mu-law transfer function IN SQL
    (:func:`.g711.mulaw_quantize_sql`), and computes the same integer
    statistics over the decoded (quantized) samples — a hash match
    proves the Spark side's encode -> RIFF container -> decode pipeline
    is sample-exact through a lossy compressed codec."""
    from .g711 import mulaw_quantize_sql

    q = mulaw_quantize_sql("(((i*37 + 13*j.range*j.range) % 4001) - 2000)")
    return f"""
WITH ids AS (SELECT range AS i FROM range({n})),
aud AS (SELECT i, 400 + (i*31) % 800 AS n FROM ids),
samp AS (
  SELECT aud.i, aud.n, j.range AS j, {q} AS s
  FROM aud, range(1200) j WHERE j.range < aud.n
),
lagd AS (
  SELECT i, n, j, s, LAG(s) OVER (PARTITION BY i ORDER BY j) AS sp
  FROM samp
)
SELECT printf('asset-%06d', i) AS asset_id, 'audio' AS kind,
       CAST(58 + n + (n % 2) AS BIGINT) AS n_bytes,
       CAST(-1 AS BIGINT) AS width, CAST(-1 AS BIGINT) AS height,
       CAST(SUM(s) AS BIGINT) AS sum1,
       CAST(SUM(s*s) AS BIGINT) AS sum2,
       CAST(MIN(s) AS BIGINT) AS vmin,
       CAST(MAX(s) AS BIGINT) AS vmax,
       CAST(SUM(CASE WHEN sp IS NOT NULL AND (s < 0) != (sp < 0)
                THEN 1 ELSE 0 END) AS BIGINT) AS zcross
FROM lagd GROUP BY i, n ORDER BY asset_id
"""


# ---------------------------------------------------------------------------
# Animated-GIF synthetic assets (LZW-compressed video)
# ---------------------------------------------------------------------------

def synthetic_gif_frames(i: int) -> tuple[np.ndarray, np.ndarray]:
    """Closed-form palette animation for asset ``i``: frame indices and
    palette are integer formulas of ``(i, t, x, y)`` / ``(i, j)``, so a
    SQL oracle regenerates every decoded RGB value exactly (GIF's LZW is
    lossless)."""
    p = 4 + (i * 3) % 60
    t = 2 + (i * 11) % 5
    w = 1 + (i * 13) % 24
    h = 1 + (i * 29) % 24
    tt = np.arange(t, dtype=np.int64)[:, None, None]
    y = np.arange(h, dtype=np.int64)[None, :, None]
    x = np.arange(w, dtype=np.int64)[None, None, :]
    idx = ((x + 2 * y + 3 * tt + i) % p).astype(np.uint8)
    j = np.arange(p, dtype=np.int64)
    pal = np.stack(
        [(7 * j + i) % 256, (11 * j + 2 * i) % 256, (13 * j + 3 * i) % 256],
        axis=1,
    ).astype(np.uint8)
    return np.broadcast_to(idx, (t, h, w)).copy(), pal


def synthetic_gif_assets(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic animated-GIF asset table (kind ``video``): real
    GIF89a payloads around :func:`synthetic_gif_frames` content,
    LZW-compressed by :mod:`.gif`."""
    from .gif import encode_gif

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"].to_numpy():
                i = int(i)
                frames, pal = synthetic_gif_frames(i)
                rows.append(
                    {
                        "asset_id": f"asset-{i:06d}",
                        "kind": "video",
                        "payload": encode_gif(frames, pal),
                        "meta": {"idx": str(i), "codec": "gif"},
                    }
                )
            yield pd.DataFrame(rows)

    return spark.range(n).mapInPandas(gen, ASSETS_SCHEMA)


def gif_frame_stats_sql(n: int, every_n: int = 2) -> str:
    """DuckDB oracle for
    ``sample_frame_stats(synthetic_gif_assets(n), every_n)``: regenerates
    the sampled frames' palette lookups in SQL — a hash match proves the
    LZW stream decoded every index exactly through the sub-block walk."""
    return f"""
WITH ids AS (SELECT range AS i FROM range({n})),
vid AS (
  SELECT i, 4 + (i*3) % 60 AS p, 2 + (i*11) % 5 AS nt,
         1 + (i*13) % 24 AS w, 1 + (i*29) % 24 AS h
  FROM ids
),
px AS (
  SELECT vid.i, t.range AS t, vid.w, vid.h,
         (x.range + 2*y.range + 3*t.range + i) % p AS j
  FROM vid, range(6) t, range(24) x, range(24) y
  WHERE t.range < vid.nt AND t.range % {every_n} = 0
    AND x.range < vid.w AND y.range < vid.h
),
rgb AS (
  SELECT i, t, w, h,
         (7*j + i) % 256 AS r, (11*j + 2*i) % 256 AS g,
         (13*j + 3*i) % 256 AS b
  FROM px
)
SELECT printf('asset-%06d', i) AS asset_id, CAST(t AS BIGINT) AS t,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(SUM(r + g + b) AS BIGINT) AS sum1,
       CAST(SUM(r*r + g*g + b*b) AS BIGINT) AS sum2,
       CAST(MIN(LEAST(r, g, b)) AS BIGINT) AS vmin,
       CAST(MAX(GREATEST(r, g, b)) AS BIGINT) AS vmax,
       CAST(SUM(CASE WHEN r > g THEN 1 ELSE 0 END) AS BIGINT) AS zcross
FROM rgb GROUP BY i, t, w, h ORDER BY asset_id, t
"""
