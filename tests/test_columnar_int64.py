"""int64 column codecs: kernel exactness across the full domain, mode
selection sanity, table-store roundtrip + order gate over events.ts."""

import numpy as np
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
from mapbox_vector_tile_spark.engine.columnar import int64_roundtrip_rollup
from mapbox_vector_tile_spark.engine.table_encode import (
    decode_table,
    encode_table,
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
    blocks = encode_table(ev, "event_id", 256)
    rows = blocks.collect()
    j = list(rows[0].cols).index("ts_us")
    # monotone micros with >int32 deltas must engage the int64 transforms
    # and beat raw bytes
    assert {r.codecs[j] for r in rows} <= set(INT64_MODE_NAMES.values())
    assert sum(r.bytes_enc[j] for r in rows) < sum(r.bytes_raw[j] for r in rows)
    dec = decode_table(
        spark.createDataFrame(rows, blocks.schema), ev.schema, ["ts_us"]
    )
    got = {(r.chunk, r.pos): r.ts_us for r in dec.collect()}
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


def test_null_value_round_trips_at_its_position(spark):
    """A null in an int64 column comes back as a null at its own position,
    not as -2^63 (what a pandas NaN cast to int64 would store)."""
    vals = [1, 2, 3, 2**40, None, 7]
    df = spark.createDataFrame(list(enumerate(vals)), "k long, v long")
    dec = decode_table(encode_table(df, "k", 4), df.schema, ["v"])
    got = [r.v for r in dec.orderBy("chunk", "pos").collect()]
    assert got == vals


def test_rollup_shape(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us")
    )
    roll = int64_roundtrip_rollup(ev, "ts_us", "event_id", 256).collect()
    assert sum(r.n for r in roll) == ev.count()
    assert all(0 <= r.wcks_mod < 1_000_003 for r in roll)
