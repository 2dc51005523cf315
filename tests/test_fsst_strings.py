"""FSST + string-chunk codec tests (round-trip, golden-ish, fallback)."""

import numpy as np
import pytest

from mapbox_vector_tile_spark.codec import fsst
from mapbox_vector_tile_spark.codec.strings import (
    decode_string_chunk,
    encode_string_chunk,
)

CORPORA = [
    b"",
    b"a",
    b"hello world hello world hello spark",
    b"web|books|code|wiki|forum|" * 50,
    bytes(range(256)),
    b"\x00\xff" * 100,
    "üñïçødé çömprèssïøn".encode() * 20,
    np.random.default_rng(7).integers(0, 256, 5000, dtype=np.uint8).tobytes(),
]


@pytest.mark.parametrize("i", range(len(CORPORA)))
def test_fsst_roundtrip(i):
    data = CORPORA[i]
    blob = fsst.compress(data)
    assert fsst.decompress(blob) == data


def test_fsst_compresses_repetitive():
    data = b"the quick brown fox " * 200
    blob = fsst.compress(data)
    assert len(blob) < len(data) / 3


def test_fsst_stored_fallback_for_random():
    data = np.random.default_rng(1).integers(0, 256, 2000, dtype=np.uint8).tobytes()
    blob = fsst.compress(data)
    assert len(blob) <= len(data) + 1  # never worse than stored + mode byte


def test_fsst_table_roundtrip():
    syms = [b"abc", b"de", b"f", b"\x00\xff"]
    packed = fsst.pack_table(syms)
    got, off = fsst.unpack_table(packed)
    assert got == syms and off == len(packed)


def test_string_chunk_roundtrip():
    rng = np.random.default_rng(3)
    vals = [["web", "books", "code", "wiki", "forum"][i] for i in rng.integers(0, 5, 1000)]
    blob = encode_string_chunk(vals)
    assert decode_string_chunk(blob) == vals
    # low-cardinality: ~1k rows at 3 bits + tiny dict
    assert len(blob) < 600


def test_string_chunk_edge_cases():
    assert decode_string_chunk(encode_string_chunk([])) == []
    vals = ["", "x", "ünïcode", "", "x"]
    assert decode_string_chunk(encode_string_chunk(vals)) == vals


def test_string_chunk_rejects_nulls():
    with pytest.raises(ValueError, match="must not contain nulls"):
        encode_string_chunk(["a", None, "b"])


def test_string_chunk_frequency_order():
    # most frequent value gets index 0 (smallest) — optimise.py:26-57 analog
    vals = ["b", "a", "b", "b", "c"]
    blob = encode_string_chunk(vals)
    from mapbox_vector_tile_spark.codec import kernels as K
    import struct

    _, n, card, iw, blob_len = struct.unpack_from("<4sqqBq", blob)
    idx = K.bitunpack(memoryview(blob)[struct.calcsize("<4sqqBq") + blob_len :], iw, n)
    assert idx.tolist() == [0, 1, 0, 0, 2]


def test_greedy_parse_matches_reference_loop():
    """The binary-lifting parse must tokenize exactly like the sequential
    greedy longest-match loop it replaced (hypothesis-style sweep)."""
    import numpy as np

    from mapbox_vector_tile_spark.codec import fsst

    def loop_parse(data, symbols):
        best_len, best_code = fsst._match_table(data, symbols)
        codes, lens = [], []
        i, n = 0, data.size
        while i < n:
            ln = int(best_len[i])
            if ln:
                codes.append(int(best_code[i]))
                lens.append(ln)
                i += ln
            else:
                codes.append(fsst.ESCAPE)
                lens.append(1)
                i += 1
        return codes, lens

    rng = np.random.default_rng(11)
    for trial in range(25):
        n = int(rng.integers(0, 400))
        data = rng.integers(0, 6, n).astype(np.uint8) + ord("a")
        blob = data.tobytes()
        symbols = fsst.train(blob)
        codes, lens = fsst._greedy_parse(data, symbols)
        ref_codes, ref_lens = loop_parse(data, symbols)
        assert codes.tolist() == ref_codes
        assert lens.tolist() == ref_lens
        assert fsst.decode(fsst.encode(blob, symbols), symbols) == blob


def test_vectorized_decode_matches_reference_loop():
    """The gather-based decode must reproduce the sequential loop byte for
    byte — including the ambiguous case of 0xFF runs, where escaped 0xFF
    literals are adjacent to escape bytes."""
    rng = np.random.default_rng(23)
    cases = [
        b"",
        b"\xff" * 7,  # odd run of escapes/literals
        b"\xff\xff" * 8,  # even run
        bytes(range(256)) * 3,
    ]
    for trial in range(30):
        n = int(rng.integers(0, 2000))
        # mix text-like bytes with bursts of 0xFF so escape runs occur
        data = rng.integers(0, 8, n).astype(np.uint8) + ord("a")
        ff = rng.random(n) < 0.15
        data[ff] = 0xFF
        cases.append(data.tobytes())
    for blob in cases:
        symbols = fsst.train(blob)
        enc = fsst.encode(blob, symbols)
        assert fsst.decode(enc, symbols) == fsst._decode_loop(enc, symbols)
        assert fsst.decode(enc, symbols) == blob
    # malformed: stream ending inside an escape must fail loudly
    with pytest.raises(ValueError, match="truncated escape"):
        fsst.decode(b"\xff", [])
    with pytest.raises(ValueError, match="out of symbol-table range"):
        fsst.decode(b"\x05", [b"ab"])
