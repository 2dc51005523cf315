"""int64 column codecs: kernel exactness across the full domain, mode
selection sanity, Spark roundtrip + order gate over events.ts."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mapbox_vector_tile_spark.codec.int64 import (
    I64_DELTA32,
    I64_DELTA_PLANES,
    I64_PLANES,
    INT64_MODE_NAMES,
    decode_int64,
    encode_int64_auto,
)
from mapbox_vector_tile_spark.engine.columnar import (
    decode_int64_column,
    encode_int64_column,
    int64_roundtrip_rollup,
)


def _rt(a):
    a = np.asarray(a, np.int64)
    payload, mode = encode_int64_auto(a)
    out = decode_int64(payload)
    assert out.dtype == np.int64
    assert np.array_equal(a, out), INT64_MODE_NAMES[mode]
    return mode, len(payload)


def test_kernel_edge_shapes():
    for a in (
        [],
        [0],
        [-(2**63)],
        [2**63 - 1],
        [2**63 - 1, -(2**63), 0, -1, 1],
        [5] * 1000,
    ):
        _rt(a)


def test_mode_selection_matches_structure():
    rng = np.random.default_rng(11)
    # dense-log micros: deltas fit int32 -> delta32
    mode, _ = _rt(np.cumsum(rng.integers(0, 10_000, 4096)) + 10**15)
    assert mode == I64_DELTA32
    # sparse micros: deltas exceed int32, hi plane of zigzag deltas cheap
    mode, size = _rt(
        np.cumsum(rng.integers(0, 3_000_000_000, 4096)) + 10**15
    )
    assert mode == I64_DELTA_PLANES
    assert size < 8 * 4096  # beats raw
    # constant collapses through delta32 -> CONSTANT inner
    mode, size = _rt(np.full(4096, 123456789012345))
    assert mode == I64_DELTA32 and size < 64
    # full-width random: nothing helps, but planes stay ~raw
    mode, size = _rt(rng.integers(-(2**62), 2**62, 4096))
    assert mode == I64_PLANES and size < 8 * 4096 * 1.05


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=300
    )
)
def test_kernel_roundtrip_hypothesis(xs):
    _rt(xs)


def test_spark_roundtrip_events_ts(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us")
    )
    blocks = encode_int64_column(ev, "ts_us", "event_id", 256)
    rows = blocks.collect()
    # monotone micros with >int32 deltas must engage delta-planes and
    # beat raw bytes
    assert {r.mode for r in rows} <= set(INT64_MODE_NAMES.values())
    assert sum(r.bytes_enc for r in rows) < sum(r.bytes_raw for r in rows)
    dec = decode_int64_column(spark.createDataFrame(rows, blocks.schema))
    got = {(r.chunk, r.pos): r.value for r in dec.collect()}
    want_rows = sorted((r.event_id, r.ts_us) for r in ev.collect())
    by_chunk = {}
    for eid, v in want_rows:
        by_chunk.setdefault(eid // 256, []).append(v)
    want = {
        (c, i): v
        for c, vals in by_chunk.items()
        for i, v in enumerate(vals)
    }
    assert got == want


def test_null_value_is_refused_not_stored(spark):
    """A null value has no int64 encoding: the encoder fails and names the
    column instead of storing it as -2^63 (pandas turns the null into NaN,
    which ``to_numpy(np.int64)`` casts to -2^63)."""
    df = spark.createDataFrame(
        list(enumerate([1, 2, 3, 2**40, None, 7])), "k long, v long"
    )
    with pytest.raises(Exception, match="column 'v' holds a null"):
        decode_int64_column(encode_int64_column(df, "v", "k", 4)).collect()


def test_rollup_shape(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us")
    )
    roll = int64_roundtrip_rollup(ev, "ts_us", "event_id", 256).collect()
    assert sum(r.n for r in roll) == ev.count()
    assert all(0 <= r.wcks_mod < 1_000_003 for r in roll)
