"""End-to-end Spark round trip: corpus -> encode -> decode -> bit-identical.

The minimum end-to-end slice of SURVEY §7 step 4, widened to every codec and
checked against both array equality and the DuckDB-replicable checksums.
"""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from mapbox_vector_tile_spark import corpus as C
from mapbox_vector_tile_spark.codec import blocks as B
from mapbox_vector_tile_spark.engine import generator as G
from mapbox_vector_tile_spark.engine.decode import decode_dataframe
from mapbox_vector_tile_spark.engine.encode import EncodeOptions, encode_dataframe
from mapbox_vector_tile_spark.engine.verify import (
    regime_rollup,
    verify_roundtrip,
    with_doc_checksums,
)

N_DOCS = 400


@pytest.fixture(scope="module")
def tokens_df(spark):
    df = G.corpus_dataframe(spark, N_DOCS, num_partitions=4)
    df.cache().count()
    return df


def test_corpus_dataframe_shape(tokens_df):
    assert tokens_df.columns == ["doc_id", "tokens", "n_tok", "source"]
    assert tokens_df.count() == N_DOCS
    row = tokens_df.filter(F.col("doc_id") == "doc-00000007").first()
    assert row.n_tok == 1  # single-token edge case (7 % 103 == 7)
    empty = tokens_df.filter(F.col("doc_id") == "doc-00000000").first()
    assert empty.n_tok == 0 and empty.tokens == []


def test_roundtrip_auto_bit_identical(tokens_df):
    blocks = encode_dataframe(tokens_df, EncodeOptions())
    decoded = decode_dataframe(blocks)
    res = verify_roundtrip(tokens_df, decoded).first()
    assert res.n_docs == N_DOCS
    assert res.n_match == N_DOCS
    assert res.n_mismatch == 0


@pytest.mark.parametrize(
    "codec", ["raw", "bitpack_zz", "for_bitpack", "delta_zz_bitpack",
              "delta_zz_varint", "rle", "dict_bitpack"]
)
def test_roundtrip_forced_codec(tokens_df, codec):
    blocks = encode_dataframe(tokens_df, EncodeOptions(codec=codec))
    res = verify_roundtrip(tokens_df, decode_dataframe(blocks)).first()
    assert (res.n_docs, res.n_match, res.n_mismatch) == (N_DOCS, N_DOCS, 0), codec


def test_blocks_manifest_columns(tokens_df):
    blocks = encode_dataframe(tokens_df).cache()
    agg = blocks.agg(
        F.sum("n_rows").alias("rows"),
        F.sum("n_values").alias("vals"),
        F.sum("bytes_enc").alias("enc"),
        F.sum("bytes_ref").alias("ref"),
        F.sum("bytes_raw").alias("raw"),
    ).first()
    assert agg.rows == N_DOCS
    lengths, _ = C.tokens_flat(np.arange(N_DOCS))
    assert agg.vals == int(lengths.sum())
    # north rule: auto-selected total <= reference MVT scheme total
    assert agg.enc <= agg.ref
    assert agg.enc < agg.raw
    codecs = {r.codec for r in blocks.select("codec").distinct().collect()}
    assert codecs <= set(B.CODEC_IDS)
    blocks.unpersist()


def test_decoded_checksums_match_duckdb_oracle(tokens_df, spark):
    """The oracle gate in miniature: decoded checksums == DuckDB evaluating
    the generator formula directly."""
    blocks = encode_dataframe(tokens_df)
    decoded = decode_dataframe(blocks)
    got = {
        r.regime: r.asDict()
        for r in regime_rollup(with_doc_checksums(decoded)).collect()
    }
    con = duckdb.connect()
    sql = C.per_regime_checksum_sql(f"(SELECT UNNEST(range({N_DOCS})) AS doc_id)")
    for regime, n_docs, sum_n_tok, s_cks, s_wcks, tmin, tmax in con.sql(sql).fetchall():
        g = got[regime]
        assert g["n_docs"] == n_docs
        assert g["sum_n_tok"] == sum_n_tok
        assert g["sum_tok_cks"] == s_cks
        assert g["sum_tok_wcks"] == s_wcks
        assert g["tok_min"] == tmin
        assert g["tok_max"] == tmax


def test_chunk_splitting_bounded_memory(tokens_df):
    blocks = encode_dataframe(tokens_df, EncodeOptions(max_chunk_values=10_000))
    assert blocks.agg(F.max("n_values")).first()[0] <= 10_000 + 8192
    res = verify_roundtrip(tokens_df, decode_dataframe(blocks)).first()
    assert res.n_match == N_DOCS


def test_checksum_detects_corruption(tokens_df, spark):
    import pyarrow as pa

    from mapbox_vector_tile_spark.engine.decode import (
        _DECODE_COLS,
        _checked_lengths,
    )

    blocks = encode_dataframe(tokens_df)
    row = blocks.filter(F.col("n_values") > 0).first()
    cols = {c: pa.array([getattr(row, c)]) for c in _DECODE_COLS}
    cols["payload"] = pa.array([bytes(row.payload) + b"x"], pa.binary())
    with pytest.raises(ValueError, match="checksum"):
        _checked_lengths(cols, 0, True)


def test_decode_doc_range_zone_map_pruning(tokens_df, spark):
    from mapbox_vector_tile_spark.engine.decode import decode_doc_range

    # small chunks so the doc range covers a strict subset of chunks
    blocks = encode_dataframe(tokens_df, EncodeOptions(max_chunk_values=10_000))
    blocks.cache()
    lo, hi = "doc-00000100", "doc-00000200"
    got = decode_doc_range(blocks, lo, hi)
    rows = {r.doc_id: r for r in got.collect()}
    want = {
        r.doc_id: r
        for r in decode_dataframe(blocks)
        .filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        .collect()
    }
    assert set(rows) == set(want) and len(rows) == 100
    for d, r in rows.items():
        assert r.tokens == want[d].tokens, d
    # the zone-map filter must actually prune chunks, not just rows
    n_all = blocks.count()
    n_kept = blocks.filter(
        (F.col("max_doc_id") >= lo) & (F.col("min_doc_id") < hi)
    ).count()
    assert 0 < n_kept < n_all
    blocks.unpersist()
