"""Plumbing tests: multimodal container codecs + streaming decode parity."""

import numpy as np

from mapbox_vector_tile_spark.engine import generator as G
from mapbox_vector_tile_spark.engine.verify import verify_roundtrip
from mapbox_vector_tile_spark.functions import multimodal as MM


def test_avi_roundtrip_and_index_seek():
    rng = np.random.default_rng(11)
    frames = rng.integers(0, 256, (5, 13, 9, 3), dtype=np.uint8)
    payload = MM.encode_avi(frames, fps=24)
    dec, fps = MM.decode_avi(payload)
    assert fps == 24 and np.array_equal(dec, frames)
    # idx1 index-seek partial decode == the corresponding full-decode frames
    part = MM.decode_avi_frames(payload, np.array([0, 2, 4]))
    assert np.array_equal(part, frames[[0, 2, 4]])
    # closed-form container size (the oracle relies on it)
    stride = 9 * 3 + ((-9 * 3) % 4)
    assert len(payload) == 232 + 5 * (24 + stride * 13)


def test_avi_malformed_quarantine():
    """A truncated AVI raises ``ValueError`` in the decoder that
    :func:`content_stats` calls, never decodes to garbage; the intact
    payload it was cut from still decodes."""
    import pytest

    good = MM.synthetic_video_bytes(2)
    frames, _fps = MM.decode_video(good)
    assert frames.shape[0] > 0 and frames.shape[2] > 0
    with pytest.raises(ValueError):
        MM.decode_video(good[:100])  # truncated mid-header


def test_extract_features_quarantines_malformed_assets():
    """A truncated or foreign image or WAV payload raises ``ValueError`` in
    the decoders that :func:`content_stats` calls; a healthy image from the
    same bytes still decodes."""
    import pytest

    good = MM.encode_bmp(np.full((2, 2, 3), 9, dtype=np.uint8))
    assert np.array_equal(MM.decode_image(good), np.full((2, 2, 3), 9))
    for decode, payload in (
        (MM.decode_image, good[:30]),  # valid magic, truncated body
        (MM.decode_image, b"JUNKJUNKJUNK" * 10),
        (MM.decode_wav, b"RIFFxxxxWAVE" + b"\x00" * 20),
    ):
        with pytest.raises(ValueError):
            decode(payload)


def test_bmp_codec_roundtrip():
    rng = np.random.default_rng(5)
    for h, w in [(1, 1), (3, 5), (64, 63), (17, 2)]:
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        assert np.array_equal(MM.decode_bmp(MM.encode_bmp(px)), px)


def test_wav_codec_roundtrip():
    rng = np.random.default_rng(7)
    s = rng.integers(-32768, 32767, 1234, dtype=np.int16)
    got, rate = MM.decode_wav(MM.encode_wav(s, rate=22050))
    assert rate == 22050 and np.array_equal(got, s)


def test_decode_bmp_validates_header_bounds():
    import pytest

    px = np.full((4, 4, 3), 7, dtype=np.uint8)
    payload = bytearray(MM.encode_bmp(px))
    # inflate claimed width beyond the actual body
    import struct

    struct.pack_into("<i", payload, 18, 1 << 16)
    with pytest.raises(ValueError, match="truncated BMP|invalid BMP"):
        MM.decode_bmp(bytes(payload))


def test_content_stats_matches_duckdb_oracle(spark):
    """End-to-end: Spark decode-side stats == closed-form SQL oracle."""
    import duckdb

    got = [
        tuple(r)
        for r in MM.content_stats(MM.synthetic_assets(spark, 45))
        .orderBy("asset_id")
        .collect()
    ]
    con = duckdb.connect()
    want = con.execute(MM.content_stats_sql(45)).fetchall()
    assert got == want


def test_streaming_decode_matches_batch(spark, tmp_path):
    """Stream-decode of a blocks table must reproduce the source tokens
    bit-exactly (same contract as the batch decoder)."""
    from mapbox_vector_tile_spark.engine.encode import encode_dataframe
    from mapbox_vector_tile_spark.streaming.decode_stream import (
        start_decode_stream,
    )

    n = 150
    tokens_pq = str(tmp_path / "tokens")
    blocks_pq = str(tmp_path / "blocks")
    out_dir = str(tmp_path / "decoded_stream")
    G.corpus_dataframe(spark, n, num_partitions=2).write.parquet(tokens_pq)
    static = spark.read.parquet(tokens_pq)
    encode_dataframe(static).write.parquet(blocks_pq)

    blocks_schema = spark.read.parquet(blocks_pq).schema
    stream = spark.readStream.schema(blocks_schema).parquet(blocks_pq)
    q = start_decode_stream(
        stream, out_dir, str(tmp_path / "ckpt"), trigger_once=True
    )
    q.awaitTermination(120)

    decoded = spark.read.parquet(out_dir).drop("batch_id")
    res = verify_roundtrip(static, decoded).first()
    assert (res.n_docs, res.n_match, res.n_mismatch) == (n, n, 0)
