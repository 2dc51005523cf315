"""The one frame reader of ``codec/blocks.py``, seen from every reader.

Every public reader of the int32 block format parses frames through
``blocks.read_frame`` / ``sections`` / ``iter_pages``, so a malformed frame
fails each of them the same way: ``ValueError``, never a ``KeyError``, a
numpy broadcast error or a silently short result. ``test_blocks`` pins the
bytes the writers produce.
"""

import numpy as np
import pytest

from mapbox_vector_tile_spark.codec import blocks as B
from mapbox_vector_tile_spark.codec.aggregate import (
    distinct_values,
    range_histogram,
    value_stats,
)
from mapbox_vector_tile_spark.codec.gather import decode_block_gather
from mapbox_vector_tile_spark.codec.remap import make_range_shift_map, remap_block
from mapbox_vector_tile_spark.codec.search import hit_positions, range_positions
from tests.test_blocks import CORPORA

_SHIFT = make_range_shift_map(0, 100, 7)

# reader name -> call(frame, values, n_positions)
READERS = {
    "decode_block": lambda b, a, n: B.decode_block(b),
    "block_info": lambda b, a, n: B.block_info(b),
    "decode_block_gather": lambda b, a, n: decode_block_gather(
        b, np.arange(n, dtype=np.int64)
    ),
    "hit_positions": lambda b, a, n: hit_positions(b, int(a[0])),
    "range_positions": lambda b, a, n: range_positions(
        b, int(a.min()), int(a.max())
    ),
    "value_stats": lambda b, a, n: value_stats(b),
    "distinct_values": lambda b, a, n: distinct_values(b),
    "range_histogram": lambda b, a, n: range_histogram(
        b, int(a.min()), int(a.max())
    ),
    "remap_block": lambda b, a, n: remap_block(b, _SHIFT),
}


def _header_n(frame: bytes, n: int) -> bytes:
    """``frame`` with its header's value count set to ``n``."""
    return frame[:6] + n.to_bytes(8, "little", signed=True) + frame[14:]


def _malformed():
    """name -> (frame, values, n_positions) for every malformation."""
    a = CORPORA["zipf_ish"]
    dict_blk = B.encode_block(a, B.DICT_BITPACK)
    cases = {
        "unknown_codec": (dict_blk[:5] + b"\x63" + dict_blk[6:], a, a.size),
        "bad_magic": (b"XXXX" + dict_blk[4:], a, a.size),
    }
    # two pages; the header claims 10 values more than they hold
    big = np.tile(a, 4)
    paged = B.encode_block(big, B.PAGED)
    cases["paged_count"] = (
        _header_n(paged, big.size + 10), big, big.size + 10
    )
    for cid, name in B.CODEC_NAMES.items():
        vals = CORPORA["constant" if cid == B.CONSTANT else "zipf_ish"]
        blk = B.encode_block(vals, cid)
        cases[f"truncated_{name}"] = (blk[: len(blk) // 2], vals, vals.size)
    return cases


MALFORMED = _malformed()


@pytest.mark.parametrize("case", MALFORMED)
@pytest.mark.parametrize("reader", READERS)
def test_every_reader_rejects_malformed_frames(reader, case):
    frame, vals, n = MALFORMED[case]
    with pytest.raises(ValueError):
        READERS[reader](frame, vals, n)


def test_errors_name_the_bad_field():
    cases = {k: v[0] for k, v in MALFORMED.items()}
    for case, match in (
        ("unknown_codec", "unknown block codec id 99"),
        ("bad_magic", "bad block magic"),
        ("paged_count", "pages hold 80000 values, its header says 80010"),
        ("truncated_dict_bitpack", "dict_bitpack frame truncated: section"),
    ):
        with pytest.raises(ValueError, match=match):
            B.block_info(cases[case])


def test_sections_view_params_without_unpacking():
    """A view names each param and slices each section to its exact byte
    length; a run-length section is only read when asked for."""
    runs = CORPORA["long_runs"]
    v = B.read_view(B.encode_block(runs, B.RLE))
    assert v.codec_id == B.RLE and v.n == runs.size
    assert v.lens.count == v.vals.count == v.r
    assert len(v.lens.buf) == (v.r * v.lw + 7) // 8
    assert len(v.vals.buf) == (v.r * v.vw + 7) // 8
    np.testing.assert_array_equal(
        np.repeat(v.vals.values(v.vmin), B.run_lengths(v)), runs
    )
    assert B.read_view(B.encode_block(runs[:0], B.RLE)) is None
    paged = B.read_view(B.encode_block(np.tile(runs, 8), B.PAGED))
    assert [off for off, _ in B.iter_pages(paged)] == [0, 1 << 16]


def _codes_past_table():
    """codec name -> dictionary frame whose code stream names an entry past
    its value table ``[5, 9, 11]``: DICT_BITPACK codes ``[0, 1, 2, 3, 0]``,
    and DICT_ESCAPE 3-bit codes ``[0, 1, 2, 4, 0]`` (escape code 7, no
    escaped values)."""
    from mapbox_vector_tile_spark.codec import kernels as K

    tmin, tw, table = B.pack_offsets(np.array([5, 9, 11], np.int32))
    bitpack = B.pack_frame(
        B.DICT_BITPACK, 5, (3, tmin, tw, 2), table,
        K.bitpack(np.array([0, 1, 2, 3, 0], np.uint32), 2),
    )
    escape = B.pack_frame(
        B.DICT_ESCAPE, 5, (3, 3, 0, tmin, tw, 0, 0), table,
        K.bitpack(np.array([0, 1, 2, 4, 0], np.uint32), 3), b"",
    )
    return {"dict_bitpack": bitpack, "dict_escape": escape}


CODES_PAST_TABLE = _codes_past_table()
# every reader that unpacks a dictionary frame's codes
CODE_READERS = {
    "decode_block": B.decode_block,
    "decode_block_gather": lambda b: decode_block_gather(
        b, np.arange(5, dtype=np.int64)
    ),
    "hit_positions": lambda b: hit_positions(b, 5),
    "range_positions": lambda b: range_positions(b, 0, 100),
    "value_stats": value_stats,
    "range_histogram": lambda b: range_histogram(b, 0, 100),
}


@pytest.mark.parametrize("codec", CODES_PAST_TABLE)
@pytest.mark.parametrize("reader", CODE_READERS)
def test_code_past_table_fails_every_code_reader(reader, codec):
    """A code past the value table fails every reader that unpacks the
    codes with one ``ValueError`` naming the codec, the code and the table
    size: not an ``IndexError``, and not a sum that drops the value."""
    with pytest.raises(ValueError, match=f"{codec} frame: code [34] is past "
                                         "its 3-entry table"):
        CODE_READERS[reader](CODES_PAST_TABLE[codec])


def test_distinct_values_reads_only_the_table():
    """``distinct_values`` answers a dictionary frame from its table alone,
    so it never unpacks (or checks) the code stream."""
    for frame in CODES_PAST_TABLE.values():
        vals, decoded = distinct_values(frame)
        assert vals.tolist() == [5, 9, 11] and decoded == 0


def test_escape_count_must_match_params():
    """A DICT_ESCAPE frame whose escape codes disagree with its stored
    escape count fails instead of mis-assigning the escaped values."""
    from mapbox_vector_tile_spark.codec import kernels as K

    tmin, tw, table = B.pack_offsets(np.array([5, 9, 11], np.int32))
    frame = B.pack_frame(
        B.DICT_ESCAPE, 5, (3, 3, 1, tmin, tw, 0, 0), table,
        K.bitpack(np.array([0, 1, 2, 7, 7], np.uint32), 3), b"",
    )
    with pytest.raises(ValueError, match="2 escape codes, its params say 1"):
        B.decode_block(frame)
