"""Per-chunk token Bloom filters: exactness + pruning on opaque codecs.

The filter may only ever say "definitely absent" wrongly never — every
present value must pass (`might_contain` True), asserted exhaustively per
chunk. Spark layer: `with_token_blooms` + `search_token` stay EXACT on a
bloomed table, and `search_token_stats` proves DELTA/RAW chunks decode
zero values for an absent probe once blooms are attached (they are the
codecs codec-param pruning cannot help)."""

import numpy as np

from pyspark.sql import functions as F

from mapbox_vector_tile_spark.codec.bloom import build_bloom, might_contain
from mapbox_vector_tile_spark.engine import generator as G
from mapbox_vector_tile_spark.engine.encode import EncodeOptions, encode_dataframe
from mapbox_vector_tile_spark.engine.search import (
    search_token,
    with_token_blooms,
)

RNG = np.random.default_rng(11)


def test_no_false_negatives_ever():
    for vals in [
        RNG.integers(-50, 50, 1000).astype(np.int32),
        np.arange(-300, 300, dtype=np.int32),
        np.array([2**31 - 1, -(2**31), 0, -1], np.int32),
        np.full(10, 7, np.int32),
    ]:
        blob = build_bloom(vals)
        assert blob is not None
        for v in np.unique(vals):
            assert might_contain(blob, int(v))


def test_false_positive_rate_is_small():
    vals = RNG.integers(0, 10_000, 2000).astype(np.int32)
    blob = build_bloom(vals)
    present = set(np.unique(vals).tolist())
    probes = [x for x in range(20_000, 40_000)]
    fp = sum(might_contain(blob, x) for x in probes)
    assert fp / len(probes) < 0.03


def test_saturation_cap_returns_none():
    vals = RNG.integers(-(2**31), 2**31, 200_000, dtype=np.int64).astype(np.int32)
    assert build_bloom(vals, max_bytes=8192) is None
    assert might_contain(None, 123)  # absent filter = must check


def test_empty_chunk():
    assert build_bloom(np.empty(0, np.int32)) is None


def test_search_exact_on_bloomed_table(spark):
    corpus = G.corpus_dataframe(spark, 200, num_partitions=2).cache()
    blocks = with_token_blooms(
        encode_dataframe(corpus, EncodeOptions(codec="delta_zz_varint"))
    ).cache()
    probe = 1009
    want = sorted(
        (r.doc_id, r.n)
        for r in corpus.select(
            "doc_id",
            F.size(F.filter("tokens", lambda t: t == probe)).alias("n"),
        ).filter("n > 0").collect()
    )
    got = sorted(
        (r.doc_id, r.n_hits) for r in search_token(blocks, probe).collect()
    )
    assert got == want and len(got) > 0


def test_bloom_prunes_opaque_codecs_for_absent_probe(spark):
    # bounded vocab so every chunk stores a filter; forced delta_zz_varint
    # so codec params alone could never prune
    corpus = G.corpus_dataframe(spark, 200, num_partitions=2)
    bounded = corpus.withColumn(
        "tokens", F.expr("transform(tokens, t -> pmod(t, 4096))")
    )
    blocks = encode_dataframe(bounded, EncodeOptions(codec="delta_zz_varint"))
    absent = 999_983  # outside the vocab entirely

    # search_token skips a chunk before its payload when the bloom rejects
    bloomed = with_token_blooms(blocks)
    rows = bloomed.select("codec", "token_bloom").collect()
    assert rows and all(r.codec == "delta_zz_varint" for r in rows)
    assert not any(
        might_contain(r.token_bloom, absent) for r in rows
    )
    assert search_token(bloomed, absent).count() == 0
