"""Round-trip + golden tests for the block format and codec selector.

Adversarial corpora per FIXTURES.md §1 (constant / long-runs / low-card /
sorted / clustered / uniform / sawtooth / int32 boundaries / empty / single),
the analog of the reference's per-geometry-type round-trip matrix
(/root/reference/tests/test_encoder.py:54-129) and errors.wkt corpus.
"""

import hashlib

import numpy as np
import pytest

from mapbox_vector_tile_spark.codec import blocks as B
from mapbox_vector_tile_spark.codec import select as S

I32 = np.int32
rng = np.random.default_rng(42)

CORPORA = {
    "constant": np.full(5000, 7, dtype=I32),
    "long_runs": np.repeat(rng.integers(0, 100, 300), rng.integers(1, 60, 300)).astype(I32),
    "low_card": rng.integers(0, 64, 5000).astype(I32),
    "sorted_ids": np.cumsum(rng.integers(1, 17, 5000)).astype(I32),
    "clustered": (10000 + rng.integers(0, 256, 5000)).astype(I32),
    "uniform": rng.integers(-(2**31), 2**31, 5000, dtype=np.int64).astype(I32),
    "sawtooth": (np.arange(5000) % 64 * np.where(np.arange(5000) % 2 == 0, 1, -1)).astype(I32),
    "boundaries": np.tile(np.array([2**31 - 1, -(2**31), 0, -1, 1], dtype=I32), 100),
    "zipf_ish": np.where(
        rng.integers(0, 4, 20000) < 3,
        rng.integers(0, 16, 20000),
        rng.integers(0, 50257, 20000),
    ).astype(I32),
    "single": np.array([123456], dtype=I32),
    "single_neg": np.array([-(2**31)], dtype=I32),
    "empty": np.array([], dtype=I32),
    # narrow body + rare heavy tail: the PFOR regime (lengths with a few
    # giant outliers); plain FOR pays the outlier width on every value
    "outlier_tail": np.where(
        rng.integers(0, 1000, 20000) < 5,
        rng.integers(10**6, 2**31 - 1, 20000),
        rng.integers(0, 128, 20000),
    ).astype(I32),
}

ALL_CODECS = [c for c in B.CODEC_NAMES if c != B.CONSTANT]


@pytest.mark.parametrize("name", CORPORA)
@pytest.mark.parametrize("codec", ALL_CODECS, ids=lambda c: B.CODEC_NAMES[c])
def test_roundtrip_every_codec_every_corpus(name, codec):
    a = CORPORA[name]
    blk = B.encode_block(a, codec)
    np.testing.assert_array_equal(B.decode_block(blk), a)


def test_constant_codec_roundtrip():
    a = np.full(1000, -42, dtype=I32)
    blk = B.encode_block(a, B.CONSTANT)
    np.testing.assert_array_equal(B.decode_block(blk), a)
    assert len(blk) == B.header_size() + 4


def test_constant_codec_rejects_nonconstant():
    with pytest.raises(ValueError):
        B.encode_block(np.array([1, 2], dtype=I32), B.CONSTANT)


@pytest.mark.parametrize("name", CORPORA)
def test_auto_roundtrip_and_size(name):
    a = CORPORA[name]
    blk, cid = S.encode_auto(a, validate=True)
    np.testing.assert_array_equal(B.decode_block(blk), a)
    # predicted size is exact
    sizes = S.candidate_sizes(a)
    assert len(blk) == B.header_size() + sizes[cid]


def test_candidate_sizes_are_exact():
    for name, a in CORPORA.items():
        sizes = S.candidate_sizes(a)
        for cid, predicted in sizes.items():
            blk = B.encode_block(a, cid)
            assert len(blk) - B.header_size() == predicted, (name, B.CODEC_NAMES[cid])


# selector picks (FIXTURES.md regime expectations; analog of the reference's
# optimizer tests /root/reference/tests/test_optimise.py:9-65)
@pytest.mark.parametrize(
    "name,expected",
    [
        ("constant", {B.CONSTANT}),
        ("long_runs", {B.RLE}),
        ("low_card", {B.DICT_BITPACK, B.BITPACK_ZZ, B.FOR_BITPACK}),
        ("sorted_ids", {B.DELTA_ZZ_BITPACK}),
        ("clustered", {B.FOR_BITPACK, B.DICT_BITPACK}),
        ("uniform", {B.RAW, B.BITPACK_ZZ}),
        ("zipf_ish", {B.DICT_ESCAPE, B.FOR_PATCH}),
        ("outlier_tail", {B.FOR_PATCH}),
    ],
)
def test_selector_expected_pick(name, expected):
    assert S.choose_codec(CORPORA[name]) in expected


def test_for_patch_beats_for_bitpack_on_outliers():
    a = CORPORA["outlier_tail"]
    sizes = S.candidate_sizes(a)
    assert sizes[B.FOR_PATCH] < sizes[B.FOR_BITPACK] // 3
    blk = B.encode_block(a, B.FOR_PATCH)
    np.testing.assert_array_equal(B.decode_block(blk), a)
    assert len(blk) - B.header_size() == sizes[B.FOR_PATCH]


def test_for_patch_exception_probe_skips_base_stream():
    """Probing a value above the base domain reads only the O(n_exc)
    exception arrays (values_decoded == 0 by the RLE convention)."""
    from mapbox_vector_tile_spark.codec.search import hit_positions

    a = CORPORA["outlier_tail"].copy()
    a[17] = 10**9 + 7  # a unique outlier
    blk = B.encode_block(a, B.FOR_PATCH)
    pos, decoded = hit_positions(blk, 10**9 + 7)
    np.testing.assert_array_equal(pos, [17])
    assert decoded == 0
    # base-domain probe decodes the base stream and excludes patches
    pos0, decoded0 = hit_positions(blk, 0)
    np.testing.assert_array_equal(pos0, np.nonzero(a == 0)[0])
    assert decoded0 == a.size


def test_never_worse_than_raw_plus_header():
    for name, a in CORPORA.items():
        blk, _ = S.encode_auto(a)
        assert len(blk) <= B.header_size() + 4 * a.size + 4, name


def test_beats_or_matches_reference_scheme():
    """North rule: compressed bytes <= reference scheme (delta+zigzag+varint,
    geom_encoder.py:47-76) on every corpus."""
    for name, a in CORPORA.items():
        if a.size == 0:
            continue
        auto, _ = S.encode_auto(a)
        ref = B.encode_block(a, B.DELTA_ZZ_VARINT)
        assert len(auto) <= len(ref), name


def test_decode_rejects_bad_magic():
    with pytest.raises(ValueError):
        B.decode_block(b"XXXX" + bytes(12))


def test_fallback_to_raw_on_forced_failure(monkeypatch):
    a = np.arange(10, dtype=I32)
    monkeypatch.setitem(B._ENCODERS, B.RLE, lambda _: 1 / 0)
    blk, cid = S.encode_auto(a, codec=B.RLE)
    assert cid == B.RAW
    np.testing.assert_array_equal(B.decode_block(blk), a)


# sha256 (first 32 hex digits) over every CORPORA frame of one codec: the
# stored format, so any change to a writer's bytes fails here
ENCODE_DIGESTS = {
    "raw": "fedad1b3fbaf6315d0e2363a2369bafd",
    "constant": "73c358736e5450655e2a92699112174c",
    "bitpack_zz": "8ec4b977ac6b0250af03f75bd10327f3",
    "for_bitpack": "df8ac08c3e378e6ee51ef8d0e11dace2",
    "delta_zz_bitpack": "9f2fd80e9842ceee66d27e265cd6bf0d",
    "delta_zz_varint": "8486d2331a45dc07279f60b92a065f1d",
    "rle": "235aed79a06f359b3386595a887467de",
    "dict_bitpack": "7a615db7df17df3c2cd5230b0cc9ccb1",
    "dict_escape": "297e16a47ff76af15056b46196413575",
    "paged": "f1e775c94ffe01d758aac731eb0384cf",
    "for_patch": "c2d1faecfad305500dc05fc62d491614",
}
# the same over remap_block(frame, t -> t + 7 on [0, 100]) of each frame
REMAP_DIGESTS = {
    "raw": "ec9bd64da4406134777a5970327a63b0",
    "constant": "723b74c12d995ffb57645bc975cf15e8",
    "bitpack_zz": "ec9bd64da4406134777a5970327a63b0",
    "for_bitpack": "ec9bd64da4406134777a5970327a63b0",
    "delta_zz_bitpack": "ec9bd64da4406134777a5970327a63b0",
    "delta_zz_varint": "ec9bd64da4406134777a5970327a63b0",
    "rle": "6cc4624ab636c6a2b1a9875a87495dee",
    "dict_bitpack": "822880c7d8a325de32b29f7c2a7c7cef",
    "dict_escape": "ec5e77ed1177279936579a095e20519a",
    "paged": "fd82d4754f3604e6fcf80b3ecb70e726",
    "for_patch": "ec9bd64da4406134777a5970327a63b0",
}


@pytest.mark.parametrize("codec", B.CODEC_NAMES, ids=B.CODEC_NAMES.get)
def test_encoded_and_remapped_bytes_are_pinned(codec):
    from mapbox_vector_tile_spark.codec.remap import make_range_shift_map, remap_block

    enc, remap = hashlib.sha256(), hashlib.sha256()
    for name, a in CORPORA.items():
        try:
            blk = B.encode_block(a, codec)
        except ValueError:  # CONSTANT on varying data, DICT_ESCAPE headless
            enc.update(name.encode() + (10).to_bytes(8, "little") + b"ValueError")
            continue
        enc.update(name.encode() + len(blk).to_bytes(8, "little") + blk)
        out, _ = remap_block(blk, make_range_shift_map(0, 100, 7))
        remap.update(name.encode() + len(out).to_bytes(8, "little") + out)
    name = B.CODEC_NAMES[codec]
    assert enc.hexdigest()[:32] == ENCODE_DIGESTS[name]
    assert remap.hexdigest()[:32] == REMAP_DIGESTS[name]
