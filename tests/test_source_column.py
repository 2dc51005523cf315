"""Full input_hint schema round trip: tokens AND source column."""

from pyspark.sql import functions as F

from mapbox_vector_tile_spark.engine import generator as G
from mapbox_vector_tile_spark.engine.decode import decode_dataframe
from mapbox_vector_tile_spark.engine.encode import EncodeOptions, encode_dataframe


def test_source_column_roundtrip(spark):
    n = 300
    tokens = G.corpus_dataframe(spark, n, num_partitions=3).cache()
    blocks = encode_dataframe(tokens, EncodeOptions(), string_col="source")
    decoded = decode_dataframe(blocks, with_source=True)
    j = tokens.alias("o").join(decoded.alias("d"), "doc_id")
    agg = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (
                F.col("o.source").eqNullSafe(F.col("d.source"))
                & F.col("o.tokens").eqNullSafe(F.col("d.tokens"))
            ).cast("long")
        ).alias("ok"),
    ).first()
    assert agg.n == n and agg.ok == n
    tokens.unpersist()


def test_source_blob_is_compact(spark):
    tokens = G.corpus_dataframe(spark, 500, num_partitions=1)
    blocks = encode_dataframe(tokens, EncodeOptions(), string_col="source")
    row = blocks.select(F.sum(F.length("source_blob")).alias("b"),
                        F.sum("n_rows").alias("r")).first()
    # 5-value dictionary + 3-bit indices: well under a byte per row
    assert row.b < row.r * 1.0 + 200


def test_decode_without_source_requested_errors(spark):
    import pytest

    tokens = G.corpus_dataframe(spark, 50, num_partitions=1)
    blocks = encode_dataframe(tokens, EncodeOptions())  # no string_col
    with pytest.raises(Exception, match="without string_col"):
        decode_dataframe(blocks, with_source=True).collect()


def test_null_source_is_rejected_by_name(spark):
    import pytest

    tokens = G.corpus_dataframe(spark, 50, num_partitions=1)
    one = tokens.first().doc_id
    tokens = tokens.withColumn(
        "source",
        F.when(F.col("doc_id") == one, F.lit(None)).otherwise(F.col("source")),
    )
    with pytest.raises(Exception, match="must not contain nulls"):
        encode_dataframe(tokens, EncodeOptions(), string_col="source").collect()
