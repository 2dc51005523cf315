"""Codec-aware aggregate pushdown: exact stats, metadata-bounded work.

Unit layer: `value_stats` equals numpy reductions on the decoded array for
every codec and corpus shape, and `values_decoded == 0` where the codec
carries the answer (CONSTANT, RLE, dict min/max). Spark layer:
`token_value_stats` matches a full-decode aggregate."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from mapbox_vector_tile_spark.codec import blocks as B
from mapbox_vector_tile_spark.codec.aggregate import value_stats
from mapbox_vector_tile_spark.codec.analysis import ChunkAnalysis
from mapbox_vector_tile_spark.engine import generator as G
from mapbox_vector_tile_spark.engine.decode import decode_dataframe
from mapbox_vector_tile_spark.engine.encode import EncodeOptions, encode_dataframe
from mapbox_vector_tile_spark.engine.stats import token_value_stats

RNG = np.random.default_rng(23)

ALL_CODECS = [
    B.RAW,
    B.BITPACK_ZZ,
    B.FOR_BITPACK,
    B.DELTA_ZZ_BITPACK,
    B.DELTA_ZZ_VARINT,
    B.RLE,
    B.DICT_BITPACK,
]


def _corpora():
    return [
        np.full(100, 42, dtype=np.int32),
        np.full(7, -(2**31), dtype=np.int32),
        RNG.integers(-50, 50, 500).astype(np.int32),
        np.repeat(RNG.integers(0, 8, 40), RNG.integers(1, 30, 40)).astype(np.int32),
        np.sort(RNG.integers(0, 10_000, 300)).astype(np.int32),
        np.array([2**31 - 1, -(2**31), 0, -1, 1] * 20, np.int32),
        RNG.integers(-(2**31), 2**31, 200, dtype=np.int64).astype(np.int32),
    ]


@pytest.mark.parametrize("codec_id", ALL_CODECS)
def test_value_stats_matches_numpy_all_codecs(codec_id):
    for a in _corpora():
        if codec_id == B.BITPACK_ZZ and a.min() == -(2**31):
            continue  # regime the encoder never selects for this input
        try:
            buf = B.encode_block(a, codec_id, ChunkAnalysis(a))
        except Exception:
            continue
        n, s, mn, mx, dec = value_stats(buf)
        a64 = a.astype(np.int64)
        assert (n, s, mn, mx) == (a.size, int(a64.sum()), int(a.min()), int(a.max()))
        assert 0 <= dec <= 2 * a.size


def test_metadata_only_codecs_decode_nothing():
    const = np.full(1000, -7, np.int32)
    n, s, mn, mx, dec = value_stats(
        B.encode_block(const, B.CONSTANT, ChunkAnalysis(const))
    )
    assert (n, s, mn, mx, dec) == (1000, -7000, -7, -7, 0)

    runs = np.repeat(RNG.integers(-5, 5, 30), RNG.integers(1, 50, 30)).astype(np.int32)
    n, s, mn, mx, dec = value_stats(B.encode_block(runs, B.RLE, ChunkAnalysis(runs)))
    r64 = runs.astype(np.int64)
    assert (n, s, mn, mx, dec) == (
        runs.size, int(r64.sum()), int(runs.min()), int(runs.max()), 0
    )

    dictish = RNG.integers(0, 16, 400).astype(np.int32)
    buf = B.encode_block(dictish, B.DICT_BITPACK, ChunkAnalysis(dictish))
    # min/max only: the O(n) index stream is never touched
    n, s, mn, mx, dec = value_stats(buf, need_sum=False)
    assert (n, s, mn, mx, dec) == (400, None, int(dictish.min()), int(dictish.max()), 0)
    # with sums the index stream is paid, and the sum is exact
    n, s, mn, mx, dec = value_stats(buf, need_sum=True)
    assert s == int(dictish.astype(np.int64).sum()) and dec == 400


def test_paged_combines_pages():
    a = np.concatenate(
        [np.full(200, 5, np.int32), RNG.integers(-9, 9, 200).astype(np.int32)]
    )
    an = ChunkAnalysis(a)
    try:
        buf = B.encode_block(a, B.PAGED, an)
    except Exception:
        pytest.skip("PAGED not selectable for this input")
    n, s, mn, mx, dec = value_stats(buf)
    a64 = a.astype(np.int64)
    assert (n, s, mn, mx) == (a.size, int(a64.sum()), int(a.min()), int(a.max()))


def test_spark_stats_match_decode(spark):
    corpus = G.corpus_dataframe(spark, 300, num_partitions=3).cache()
    blocks = encode_dataframe(corpus, EncodeOptions()).cache()
    got = token_value_stats(blocks).first()
    want = (
        decode_dataframe(blocks)
        .select(F.explode("tokens").alias("tok"))
        .agg(
            F.count("tok").alias("n_values"),
            F.sum("tok").alias("sum_tok"),
            F.min("tok").alias("tok_min"),
            F.max("tok").alias("tok_max"),
        )
        .first()
    )
    assert (got.n_values, got.sum_tok, got.tok_min, got.tok_max) == tuple(want)


def test_pushdown_on_clustered_table(spark):
    # regime-homogeneous chunks (the flagship's clustered shape) let the
    # metadata-carrying codecs answer min/max with zero stream inflation
    from mapbox_vector_tile_spark.engine.verify import doc_num_expr, regime_expr

    corpus = G.corpus_dataframe(spark, 300, num_partitions=3)
    clustered = (
        corpus.withColumn("bucket", regime_expr(doc_num_expr()).cast("int"))
        .repartition(3, "bucket")
        .sortWithinPartitions("bucket")
    )
    blocks = encode_dataframe(clustered, EncodeOptions(), bucket_col="bucket").cache()
    got = token_value_stats(blocks, need_sum=False).first()
    want = (
        decode_dataframe(blocks)
        .select(F.explode("tokens").alias("tok"))
        .agg(F.min("tok"), F.max("tok"))
        .first()
    )
    assert (got.tok_min, got.tok_max) == tuple(want)

    # some chunk answers min/max from codec metadata alone
    rows = blocks.select("n_values", "payload").collect()
    stats = [value_stats(r.payload, need_sum=False) for r in rows]
    assert any(s[4] == 0 and r.n_values > 0 for s, r in zip(stats, rows))
    assert sum(s[4] for s in stats) < sum(r.n_values for r in rows)


def test_distinct_values_matches_numpy_all_codecs():
    from mapbox_vector_tile_spark.codec.aggregate import distinct_values

    for a in _corpora():
        for codec_id in ALL_CODECS:
            if codec_id == B.BITPACK_ZZ and a.min() == -(2**31):
                continue
            try:
                buf = B.encode_block(a, codec_id, ChunkAnalysis(a))
            except Exception:
                continue
            vals, dec = distinct_values(buf)
            np.testing.assert_array_equal(vals, np.unique(a))
            assert 0 <= dec <= 2 * a.size
    # metadata-only codecs ship their tables without stream decode
    dictish = RNG.integers(0, 16, 400).astype(np.int32)
    _, dec = distinct_values(
        B.encode_block(dictish, B.DICT_BITPACK, ChunkAnalysis(dictish))
    )
    assert dec == 0
    runs = np.repeat(np.arange(5, dtype=np.int32), 40)
    _, dec = distinct_values(B.encode_block(runs, B.RLE, ChunkAnalysis(runs)))
    assert dec == 0


def test_distinct_token_count_spark(spark):
    from mapbox_vector_tile_spark.engine.stats import distinct_token_count

    corpus = G.corpus_dataframe(spark, 300, num_partitions=3).cache()
    blocks = encode_dataframe(corpus, EncodeOptions())
    got = distinct_token_count(blocks).first().n_distinct
    want = (
        decode_dataframe(blocks)
        .select(F.explode("tokens").alias("tok"))
        .select("tok")
        .distinct()
        .count()
    )
    assert got == want > 0


def test_range_histogram_matches_numpy_all_codecs():
    from mapbox_vector_tile_spark.codec.aggregate import range_histogram

    for a in _corpora():
        amin, amax = int(a.min()), int(a.max())
        intervals = [
            (amin, amax),
            (amin - 5, amin - 1),
            (amin + (amax - amin) // 3, amin + (amax - amin) // 2),
        ]
        for codec_id in ALL_CODECS:
            if codec_id == B.BITPACK_ZZ and a.min() == -(2**31):
                continue
            try:
                buf = B.encode_block(a, codec_id, ChunkAnalysis(a))
            except Exception:
                continue
            for lo, hi in intervals:
                uv, cnt, dec = range_histogram(buf, lo, hi)
                a64 = a.astype(np.int64)
                sel = a64[(a64 >= lo) & (a64 <= hi)]
                wu, wc = np.unique(sel, return_counts=True)
                np.testing.assert_array_equal(uv, wu)
                np.testing.assert_array_equal(cnt, wc)
                assert 0 <= dec <= 2 * a.size


def test_range_histogram_metadata_codecs_decode_nothing():
    from mapbox_vector_tile_spark.codec.aggregate import range_histogram

    runs = np.repeat(np.arange(10, dtype=np.int32) * 3, 25)
    buf = B.encode_block(runs, B.RLE, ChunkAnalysis(runs))
    uv, cnt, dec = range_histogram(buf, 0, 12)
    np.testing.assert_array_equal(uv, [0, 3, 6, 9, 12])
    assert cnt.sum() == 5 * 25 and dec == 0

    const = np.full(70, 4, np.int32)
    buf = B.encode_block(const, B.CONSTANT, ChunkAnalysis(const))
    assert range_histogram(buf, 0, 10)[1].tolist() == [70]
    assert range_histogram(buf, 5, 10)[0].size == 0


def test_top_k_tokens_spark(spark):
    from mapbox_vector_tile_spark.engine.stats import top_k_tokens

    corpus = G.corpus_dataframe(spark, 300, num_partitions=3).cache()
    blocks = encode_dataframe(corpus, EncodeOptions())
    k = 15
    plan = top_k_tokens(blocks, k)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # per-partition heaps, no global sort
    got = [(r.tok, r.n) for r in top_k_tokens(blocks, k).collect()]
    want = (
        decode_dataframe(blocks)
        .select(F.explode("tokens").alias("tok"))
        .groupBy(F.col("tok").cast("long").alias("tok"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(k)
        .collect()
    )
    assert got == [(r.tok, r.n) for r in want] and len(got) == k


def test_doc_length_histogram_lengths_only_scan(spark, tmp_path):
    from mapbox_vector_tile_spark.engine.stats import doc_length_histogram

    corpus = G.corpus_dataframe(spark, 300, num_partitions=3).cache()
    blocks = encode_dataframe(corpus, EncodeOptions())
    path = str(tmp_path / "blocks")
    blocks.write.parquet(path)
    stored = spark.read.parquet(path)

    got = [(r.n_tok, r.n_docs) for r in doc_length_histogram(stored).collect()]
    want = [
        (r.n_tok, r.n)
        for r in corpus.groupBy(F.col("n_tok").cast("long").alias("n_tok"))
        .agg(F.count("*").alias("n"))
        .orderBy("n_tok")
        .collect()
    ]
    assert got == want and len(got) > 0

    # payload never read: column pruning reaches the parquet scan
    plan = (
        doc_length_histogram(stored)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "lengths_blob" in plan and "payload" not in plan


def test_token_histogram_spark(spark):
    from mapbox_vector_tile_spark.engine.stats import token_histogram

    corpus = G.corpus_dataframe(spark, 300, num_partitions=3).cache()
    blocks = encode_dataframe(corpus, EncodeOptions())
    lo, hi = 0, 63
    got = [(r.tok, r.n) for r in token_histogram(blocks, lo, hi).collect()]
    want = [
        (r.tok, r.n)
        for r in decode_dataframe(blocks)
        .select(F.explode("tokens").alias("tok"))
        .filter(f"tok between {lo} and {hi}")
        .groupBy(F.col("tok").cast("long").alias("tok"))
        .agg(F.count("*").alias("n"))
        .orderBy("tok")
        .collect()
    ]
    assert got == want and len(got) > 0
