"""Scalar-column round trips through the table store: roundtrip
exactness, codec diversity, compression wins on codec-friendly int32
columns, null positions, parallelism invariance."""

import pytest
from pyspark.sql import functions as F

from mapbox_vector_tile_spark.engine.columnar import scalar_roundtrip_rollup
from mapbox_vector_tile_spark.engine.table_encode import (
    decode_table,
    encode_table,
)


@pytest.fixture(scope="module")
def events(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", F.round(F.col("value") * 100).alias("value_c")
    )
    df.cache().count()
    return df


def _int_column(df, order_col, value_col):
    """``df``'s order key and ``value_col`` as int32, the scalar rollups'
    stored table."""
    return df.select(order_col, F.col(value_col).cast("int").alias(value_col))


def _frame(row, col, field):
    """``field`` (a manifest array) of column ``col`` in one blocks row."""
    return getattr(row, field)[list(row.cols).index(col)]


def test_roundtrip_values_and_order(spark, events):
    table = _int_column(events, "event_id", "value_c")
    dec = decode_table(
        encode_table(table, "event_id", 256), table.schema, ["value_c"]
    )
    got = {
        (r.chunk, r.pos): r.value_c for r in dec.collect()
    }
    want_rows = sorted(
        (r.event_id, r.value_c) for r in events.collect()
    )
    by_chunk = {}
    for eid, v in want_rows:
        by_chunk.setdefault(eid // 256, []).append(v)
    want = {
        (c, i): v
        for c, vals in by_chunk.items()
        for i, v in enumerate(vals)
    }
    assert got == want


def test_codec_ladder_engages(spark):
    """Codec-friendly columns must not fall through to RAW: a constant
    column, a sorted column and a tiny-domain column each pick their
    specialist codec and beat raw bytes."""
    n = 4096
    df = spark.range(n).select(
        F.col("id").alias("k"),
        F.lit(7).alias("const_v"),
        F.col("id").alias("sorted_v"),
        (F.col("id") % 3).alias("dict_v"),
    )
    for col, want_better in (
        ("const_v", 50.0),
        ("sorted_v", 4.0),
        ("dict_v", 4.0),
    ):
        blocks = encode_table(_int_column(df, "k", col), "k", 1024).collect()
        codecs = {_frame(b, col, "codecs") for b in blocks}
        assert "raw" not in codecs, (col, codecs)
        ratio = sum(_frame(b, col, "bytes_raw") for b in blocks) / sum(
            _frame(b, col, "bytes_enc") for b in blocks
        )
        assert ratio > want_better, (col, ratio, codecs)


def test_parallelism_invariance(spark, events):
    a = scalar_roundtrip_rollup(
        events.repartition(1), "value_c", "event_id", 256
    ).collect()
    b = scalar_roundtrip_rollup(
        events.repartition(7), "value_c", "event_id", 256
    ).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_nullable_roundtrip_positions_and_values(spark):
    n = 3000
    df = spark.range(n).select(
        F.col("id").alias("k"),
        F.when(F.pmod(F.col("id"), 7) == 0, F.lit(None))
        .otherwise(F.col("id") * 3)
        .cast("long")
        .alias("v"),
    )
    table = _int_column(df, "k", "v")
    dec = decode_table(encode_table(table, "k", 1024), table.schema, ["v"])
    got = {(r.chunk, r.pos): r.v for r in dec.collect()}
    want = {
        (i // 1024, i % 1024): (None if i % 7 == 0 else i * 3)
        for i in range(n)
    }
    assert got == want


def test_nullable_all_null_and_no_null_chunks(spark):
    # chunk 0 all null, chunk 1 no nulls
    df = spark.range(2048).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 1024, F.lit(None))
        .otherwise(F.lit(42))
        .cast("long")
        .alias("v"),
    )
    table = _int_column(df, "k", "v")
    blocks = encode_table(table, "k", 1024)
    by_chunk = {r.chunk: r for r in blocks.collect()}
    assert by_chunk[0].n_rows == 1024 and by_chunk[1].n_rows == 1024
    assert _frame(by_chunk[0], "v", "codecs") == "all_null"
    # constant-when-present picks CONSTANT for the non-null chunk
    assert _frame(by_chunk[1], "v", "codecs") == "constant"
    dec = decode_table(blocks, table.schema, ["v"]).collect()
    nulls = sum(1 for r in dec if r.v is None)
    assert nulls == 1024
    assert all(r.v == 42 for r in dec if r.v is not None)
