"""Decode output batching: tiny chunks coalesce into combined Arrow
batches; results are bit-identical to per-chunk emission at every flush
setting, for the full decode with and without the string column and for
the prefix and id readers, which batch through the same row reader."""

import pytest
from pyspark.sql import functions as F

from mapbox_vector_tile_spark.engine import decode as D
from mapbox_vector_tile_spark.engine import generator as G
from mapbox_vector_tile_spark.engine.encode import (
    EncodeOptions,
    encode_dataframe,
)


@pytest.fixture(scope="module")
def tiny_blocks(spark):
    corpus = G.corpus_dataframe(spark, 800, num_partitions=4)
    df = encode_dataframe(
        corpus, EncodeOptions(max_chunk_values=128), string_col="source"
    ).cache()
    assert df.count() > 100  # genuinely tiny chunks
    return df


_IDS = G.doc_id_str(list(range(0, 800, 3)))


def _decoded(df):
    return {
        r.doc_id: (list(r.tokens), r.n_tok, getattr(r, "source", None))
        for r in df.collect()
    }


@pytest.mark.parametrize("with_source", [False, True])
def test_decode_batching_identical_across_flush_sizes(
    spark, tiny_blocks, with_source, monkeypatch
):
    reads = [(lambda b: D.decode_dataframe(b, with_source=with_source), 800)]
    if not with_source:  # the prefix and id readers have no source column
        reads += [
            (lambda b: D.decode_prefix_dataframe(b, 5), 800),
            (lambda b: D.decode_doc_ids(b, _IDS), len(_IDS)),
        ]
    for read, n_docs in reads:
        monkeypatch.undo()
        want = _decoded(read(tiny_blocks))
        assert len(want) == n_docs
        for fv, fr in [(1, 1), (300, 10**9), (10**9, 7), (10**9, 10**9)]:
            monkeypatch.setattr(D, "DECODE_FLUSH_VALUES", fv)
            monkeypatch.setattr(D, "DECODE_FLUSH_ROWS", fr)
            assert _decoded(read(tiny_blocks)) == want


def test_decode_batching_fewer_output_batches(spark, tiny_blocks):
    # observable effect: far fewer Arrow batches cross to the JVM
    import pyarrow as pa

    chunks = tiny_blocks.select(
        "doc_ids", "lengths_blob", "payload", "checksum"
    ).toPandas()
    n_chunks = len(chunks)
    out = D.decode_dataframe(tiny_blocks)
    # count per-partition emitted batches via mapInArrow passthrough
    counted = out.mapInArrow(
        lambda it: iter([pa.RecordBatch.from_pydict(
            {"n": [sum(1 for _ in it)]},
            schema=pa.schema([("n", pa.int64())]))]),
        "n long",
    ).agg(F.sum("n")).first()[0]
    # Spark re-batches between stages, so this is an upper bound check on
    # the planning shape, not an exact emission count — it must be far
    # below one-batch-per-chunk
    assert counted < n_chunks / 4, (counted, n_chunks)
