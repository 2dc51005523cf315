"""optimise_tile analog: re-encode stored blocks smaller, losslessly."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from mapbox_vector_tile_spark.engine import generator as G
from mapbox_vector_tile_spark.engine.decode import decode_dataframe
from mapbox_vector_tile_spark.engine.encode import EncodeOptions, encode_dataframe
from mapbox_vector_tile_spark.engine.reoptimize import reoptimize_blocks
from mapbox_vector_tile_spark.engine.verify import verify_roundtrip


def test_reoptimize_shrinks_forced_raw(spark):
    n = 300
    tokens = G.corpus_dataframe(spark, n, num_partitions=2).cache()
    legacy = encode_dataframe(tokens, EncodeOptions(codec="raw")).cache()
    better = reoptimize_blocks(legacy).cache()
    a = legacy.agg(F.sum("bytes_enc")).first()[0]
    b = better.agg(F.sum("bytes_enc")).first()[0]
    assert b < a / 2  # auto codecs crush forced-raw
    res = verify_roundtrip(tokens, decode_dataframe(better)).first()
    assert (res.n_docs, res.n_match, res.n_mismatch) == (n, n, 0)
    legacy.unpersist()
    tokens.unpersist()


def test_reoptimize_is_noop_on_optimal_blocks(spark):
    tokens = G.corpus_dataframe(spark, 200, num_partitions=2)
    blocks = encode_dataframe(tokens, EncodeOptions()).cache()
    re_blocks = reoptimize_blocks(blocks)
    a = blocks.agg(F.sum("bytes_enc"), F.sum("checksum")).first()
    b = re_blocks.agg(F.sum("bytes_enc"), F.sum("checksum")).first()
    assert tuple(a) == tuple(b)
    blocks.unpersist()


def test_reoptimize_refuses_corrupt_payload(spark, tmp_path):
    """A payload byte flipped after the write fails the rewrite; it is not
    re-encoded under a fresh checksum."""
    tokens = G.corpus_dataframe(spark, 50, num_partitions=1)
    good = encode_dataframe(tokens, EncodeOptions(codec="raw")).toArrow()
    payloads = good.column("payload").to_pylist()
    bad = bytearray(payloads[0])
    bad[-1] ^= 0x01  # a value byte of the RAW stream: still decodes
    payloads[0] = bytes(bad)
    i = good.schema.get_field_index("payload")
    path = str(tmp_path / "corrupt.parquet")
    pq.write_table(
        good.set_column(i, "payload", pa.array(payloads, pa.binary())), path
    )
    corrupt = spark.read.parquet(path)
    with pytest.raises(Exception, match="checksum mismatch"):
        reoptimize_blocks(corrupt).collect()
