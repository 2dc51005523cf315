"""Codec-aware vocabulary remap: values rewritten in place, shape streams
copied verbatim.

Unit layer: `remap_block` equals map-after-decode for every codec and
corpus; metadata codecs (CONSTANT/RLE/DICT) decode nothing and their
index/length streams are byte-identical in the new frame. Spark layer:
`remap_blocks` -> decode equals a Catalyst transform over the original
decode, and the rewritten manifest (checksum, bytes_enc) stays consistent
(decode_dataframe's checksum verification passes)."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from mapbox_vector_tile_spark.codec import blocks as B
from mapbox_vector_tile_spark.codec.analysis import ChunkAnalysis
from mapbox_vector_tile_spark.codec.remap import (
    make_range_shift_map,
    remap_block,
)
from mapbox_vector_tile_spark.engine import generator as G
from mapbox_vector_tile_spark.engine.decode import decode_dataframe
from mapbox_vector_tile_spark.engine.encode import (
    EncodeOptions,
    encode_dataframe,
)
from mapbox_vector_tile_spark.engine.remap import remap_blocks

RNG = np.random.default_rng(31)

ALL_CODECS = [
    B.RAW,
    B.CONSTANT,
    B.BITPACK_ZZ,
    B.FOR_BITPACK,
    B.DELTA_ZZ_BITPACK,
    B.DELTA_ZZ_VARINT,
    B.RLE,
    B.DICT_BITPACK,
    B.DICT_ESCAPE,
    B.PAGED,
]

def _table_map(table: dict):
    """Old-id -> new-id lookup; unmapped ids pass through."""
    return lambda a: np.array([table.get(int(x), int(x)) for x in a],
                              dtype=np.int64)


MAPS = [
    make_range_shift_map(0, 255, 1_000_000),
    lambda a: np.clip(a, -1000, 1000),  # non-injective
    _table_map({0: 7, 1: 7, 2: 9, 42: -42}),
]


def _corpora():
    zipf = np.concatenate(
        [np.repeat([3, 5, 9], 200), RNG.integers(-40_000, 40_000, 60)]
    ).astype(np.int32)
    RNG.shuffle(zipf)
    return [
        np.full(100, 42, dtype=np.int32),
        RNG.integers(-50, 50, 500).astype(np.int32),
        np.repeat(RNG.integers(0, 8, 40), RNG.integers(1, 30, 40)).astype(
            np.int32
        ),
        np.sort(RNG.integers(0, 10_000, 300)).astype(np.int32),
        zipf,
        np.concatenate(
            [np.full(3000, 2, np.int32),
             RNG.integers(-(2**20), 2**20, 3000).astype(np.int32)]
        ),  # mixed regimes -> PAGED-friendly
    ]


@pytest.mark.parametrize("codec_id", ALL_CODECS)
def test_remap_block_matches_decode_all_codecs(codec_id):
    for a in _corpora():
        try:
            buf = B.encode_block(a, codec_id, ChunkAnalysis(a))
        except Exception:
            continue  # regime the encoder never selects for this input
        for fn in MAPS:
            new_blk, dec = remap_block(buf, fn)
            want = fn(a.astype(np.int64)).astype(np.int32)
            np.testing.assert_array_equal(B.decode_block(new_blk), want)
            assert 0 <= dec <= a.size


def test_metadata_codecs_decode_nothing_and_keep_streams_verbatim():
    fn = make_range_shift_map(0, 7, 500)

    const = np.full(900, 4, np.int32)
    blk, dec = remap_block(B.encode_block(const, B.CONSTANT, ChunkAnalysis(const)), fn)
    assert dec == 0 and B.decode_block(blk)[0] == 504

    runs = np.repeat(RNG.integers(0, 8, 50), RNG.integers(1, 40, 50)).astype(np.int32)
    old = B.encode_block(runs, B.RLE, ChunkAnalysis(runs))
    blk, dec = remap_block(old, fn)
    assert dec == 0
    # run-length stream verbatim: same (r, lw) params, identical lens bytes
    o, m = B.read_view(old), B.read_view(blk)
    assert (o.r, o.lw) == (m.r, m.lw)
    assert bytes(o.lens.buf) == bytes(m.lens.buf)

    dictish = RNG.integers(0, 16, 400).astype(np.int32)
    old = B.encode_block(dictish, B.DICT_BITPACK, ChunkAnalysis(dictish))
    blk, dec = remap_block(old, fn)
    assert dec == 0
    # index stream verbatim (cardinality and index width cannot change)
    o, m = B.read_view(old), B.read_view(blk)
    assert (o.c, o.iw) == (m.c, m.iw)
    assert bytes(o.idx.buf) == bytes(m.idx.buf)


def test_dict_escape_decodes_only_escapes():
    a = np.concatenate(
        [np.repeat([3, 5, 9], 300), RNG.integers(-40_000, 40_000, 40)]
    ).astype(np.int32)
    RNG.shuffle(a)
    buf = B.encode_block(a, B.DICT_ESCAPE, ChunkAnalysis(a))
    fn = make_range_shift_map(-50_000, 50_000, 100_000)
    blk, dec = remap_block(buf, fn)
    np.testing.assert_array_equal(
        B.decode_block(blk), (a.astype(np.int64) + 100_000).astype(np.int32)
    )
    # cost is exactly the escape count — the code stream is never decoded
    n_esc = B.read_view(buf).n_esc
    assert dec == n_esc < a.size // 2


def test_remap_overflow_fails_fast():
    a = np.full(10, 2**31 - 5, np.int32)
    buf = B.encode_block(a, B.CONSTANT, ChunkAnalysis(a))
    with pytest.raises(ValueError, match="overflow"):
        remap_block(buf, lambda v: v + 100)


def test_remap_blocks_spark_matches_catalyst_transform(spark):
    corpus = G.corpus_dataframe(spark, 400, num_partitions=3).cache()
    blocks = encode_dataframe(corpus, EncodeOptions())
    lo, hi, off = 0, 255, 1_000_000
    remapped = remap_blocks(blocks, make_range_shift_map(lo, hi, off))
    # checksum column consistency: decode verifies crc32(payload) itself
    got = decode_dataframe(remapped, verify_checksum=True).select(
        "doc_id", "tokens"
    )
    want = decode_dataframe(blocks).select(
        "doc_id",
        F.transform(
            "tokens",
            lambda t: F.when((t >= lo) & (t <= hi), t + off).otherwise(t),
        ).alias("tokens"),
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # manifest consistency: bytes_enc matches the new payload length
    bad = remapped.filter(F.length("payload") != F.col("bytes_enc")).count()
    assert bad == 0
