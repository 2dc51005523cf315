"""Codec-aware token search: hit positions without full decode.

Unit layer: per-codec ``hit_positions`` equals brute force on the decoded
array, and pruning really skips the O(n) stream (``values_decoded == 0``)
when the codec's params rule the probe out. Spark layer: ``search_token``
over an encoded corpus matches the generator formula, and the stats
surface proves dictionary-regime chunks never materialize values for an
out-of-vocabulary probe.
"""

import numpy as np

from mapbox_vector_tile_spark.codec import blocks as B
from mapbox_vector_tile_spark.codec.analysis import ChunkAnalysis
from mapbox_vector_tile_spark.codec.search import hit_positions


def _brute(a: np.ndarray, x: int) -> np.ndarray:
    return np.nonzero(a == np.int32(x))[0].astype(np.int64)


def _check(a: np.ndarray, codec_id: int, x: int) -> int:
    buf = B.encode_block(a, codec_id, ChunkAnalysis(a))
    pos, decoded = hit_positions(buf, x)
    np.testing.assert_array_equal(pos, _brute(a, x))
    assert decoded <= a.size * 2  # paged recursion bound
    return decoded


RNG = np.random.default_rng(7)


def _corpora():
    return [
        np.full(100, 42, dtype=np.int32),
        RNG.integers(-50, 50, 500).astype(np.int32),
        np.repeat(RNG.integers(0, 8, 40), RNG.integers(1, 30, 40)).astype(np.int32),
        np.sort(RNG.integers(0, 10_000, 300)).astype(np.int32),
        np.array([2**31 - 1, -(2**31), 0, -1, 1] * 20, np.int32),
        RNG.integers(-(2**31), 2**31, 200, dtype=np.int64).astype(np.int32),
    ]


ALL_CODECS = [
    B.RAW,
    B.BITPACK_ZZ,
    B.FOR_BITPACK,
    B.DELTA_ZZ_BITPACK,
    B.DELTA_ZZ_VARINT,
    B.RLE,
    B.DICT_BITPACK,
]


def test_hit_positions_matches_brute_force_all_codecs():
    for a in _corpora():
        probes = {int(a[0]), int(a[-1]), int(a.min()), int(a.max()), 7, -7, 10**9}
        for codec_id in ALL_CODECS:
            if codec_id == B.BITPACK_ZZ and a.min() == -(2**31):
                # zigzag(-2^31) needs 32 bits: width 32 is valid, still test
                pass
            for x in probes:
                _check(a, codec_id, x)


def test_constant_hits_without_decode():
    a = np.full(1000, 5, dtype=np.int32)
    buf = B.encode_block(a, B.CONSTANT, ChunkAnalysis(a))
    pos, decoded = hit_positions(buf, 5)
    assert pos.size == 1000 and decoded == 0
    pos, decoded = hit_positions(buf, 6)
    assert pos.size == 0 and decoded == 0


def test_dict_prunes_out_of_vocab_probe():
    a = RNG.integers(0, 32, 2000).astype(np.int32)  # card 32 -> dict
    buf = B.encode_block(a, B.DICT_BITPACK, ChunkAnalysis(a))
    pos, decoded = hit_positions(buf, 999)  # not in the table
    assert pos.size == 0 and decoded == 0
    pos, decoded = hit_positions(buf, int(a[3]))  # in-vocab: index scan
    assert pos.size > 0 and decoded == a.size


def test_for_and_zigzag_bounds_prune():
    a = (1000 + RNG.integers(0, 100, 500)).astype(np.int32)
    for_buf = B.encode_block(a, B.FOR_BITPACK, ChunkAnalysis(a))
    pos, decoded = hit_positions(for_buf, 5000)  # above [lo, lo + 2^w)
    assert pos.size == 0 and decoded == 0
    zz_buf = B.encode_block(a, B.BITPACK_ZZ, ChunkAnalysis(a))
    pos, decoded = hit_positions(zz_buf, -100_000)  # zigzag too wide
    assert pos.size == 0 and decoded == 0


def test_rle_never_materializes_values():
    a = np.repeat(np.array([3, 9, 3, 7], np.int32), [500, 300, 200, 100])
    buf = B.encode_block(a, B.RLE, ChunkAnalysis(a))
    pos, decoded = hit_positions(buf, 3)
    np.testing.assert_array_equal(pos, _brute(a, 3))
    assert decoded == 0
    pos, decoded = hit_positions(buf, 4)  # in-range but between run values
    assert pos.size == 0 and decoded == 0


def test_dict_escape_head_escape_and_miss():
    # heavy head values + rare large escapes
    head = RNG.integers(0, 16, 5000).astype(np.int32)
    esc_pos = RNG.choice(5000, 20, replace=False)
    a = head.copy()
    a[esc_pos] = (10**6 + np.arange(20)).astype(np.int32)
    buf = B.encode_block(a, B.DICT_ESCAPE, ChunkAnalysis(a))
    _check(a, B.DICT_ESCAPE, int(a[esc_pos[0]]))  # escape hit
    _check(a, B.DICT_ESCAPE, int(head[0]))  # head hit
    pos, decoded = hit_positions(buf, 555_555)  # neither
    assert pos.size == 0 and decoded == 0


def test_paged_skips_non_candidate_pages():
    from mapbox_vector_tile_spark.codec import select as S

    # two distribution segments: low-card dict-able page(s) then a high
    # constant page; probing the constant must not decode the dict pages
    n1, n2 = S.PAGE_SIZE, S.PAGE_SIZE
    a = np.concatenate(
        [RNG.integers(0, 8, n1).astype(np.int32), np.full(n2, 70_000, np.int32)]
    )
    an = ChunkAnalysis(a, seg_bounds=[n1])
    buf = B.encode_block(a, B.PAGED, an)
    pos, decoded = hit_positions(buf, 70_000)
    np.testing.assert_array_equal(pos, np.arange(n1, n1 + n2))
    assert decoded < a.size  # the first page was pruned or table-answered
    pos2, decoded2 = hit_positions(buf, 123_456)
    assert pos2.size == 0


def test_empty_and_out_of_int32_probe():
    buf = B.encode_block(np.zeros(0, np.int32), B.RAW)
    assert hit_positions(buf, 0)[0].size == 0
    a = np.arange(100, dtype=np.int32)
    buf = B.encode_block(a, B.RAW, ChunkAnalysis(a))
    assert hit_positions(buf, 2**40)[0].size == 0


# ---------------------------------------------------------------------------
# Spark layer
# ---------------------------------------------------------------------------


def test_search_token_matches_formula(spark):
    from mapbox_vector_tile_spark import corpus as C
    from mapbox_vector_tile_spark.engine.encode import EncodeOptions, encode_dataframe
    from mapbox_vector_tile_spark.engine.generator import corpus_dataframe
    from mapbox_vector_tile_spark.engine.search import search_token

    n_docs, x = 800, 10_007
    tokens = corpus_dataframe(spark, n_docs, num_partitions=2)
    blocks = encode_dataframe(tokens, EncodeOptions(max_chunk_values=1 << 14))
    got = {
        r["doc_id"]: r["n_hits"] for r in search_token(blocks, x).collect()
    }
    ids = np.arange(n_docs, dtype=np.int64)
    lengths, values = C.tokens_flat(ids)
    starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    nonempty = lengths > 0
    hits_per_doc = np.zeros(n_docs, np.int64)
    hits_per_doc[nonempty] = np.add.reduceat(
        (values == np.int32(x)).astype(np.int64), starts[nonempty]
    )
    want = {
        f"doc-{i:08d}": int(hits_per_doc[i]) for i in np.nonzero(hits_per_doc)[0]
    }
    assert got == want and len(want) > 0


def test_search_stats_prune_low_card_corpus(spark):
    from pyspark.sql import functions as F

    from mapbox_vector_tile_spark.engine.encode import EncodeOptions, encode_dataframe
    from mapbox_vector_tile_spark.engine.generator import corpus_dataframe
    from mapbox_vector_tile_spark.codec.search import hit_positions
    from mapbox_vector_tile_spark.engine.search import search_token

    # regime 2 docs only (doc_id % 8 == 2, not boundary): tokens in [0, 64)
    tokens = corpus_dataframe(spark, 1600).filter(
        (F.expr("cast(substr(doc_id, 5) as long) % 8") == 2)
        & (F.expr("cast(substr(doc_id, 5) as long) % 131") != 13)
    )
    blocks = encode_dataframe(tokens, EncodeOptions())
    rows = blocks.select("n_values", "payload").collect()
    assert sum(r.n_values for r in rows) > 0
    # every chunk answers from its codec parameters: nothing decoded
    for r in rows:
        hits, decoded = hit_positions(r.payload, 9999)
        assert hits.size == 0 and decoded == 0
    assert search_token(blocks, 9999).count() == 0


# ---------------------------------------------------------------------------
# range predicates
# ---------------------------------------------------------------------------

def _brute_range(a: np.ndarray, lo: int, hi: int) -> np.ndarray:
    a64 = a.astype(np.int64)
    return np.nonzero((a64 >= lo) & (a64 <= hi))[0].astype(np.int64)


def test_range_positions_matches_brute_force_all_codecs():
    from mapbox_vector_tile_spark.codec.search import range_positions

    for a in _corpora():
        amin, amax = int(a.min()), int(a.max())
        intervals = [
            (amin, amax),                      # everything
            (amin - 10, amin - 1),             # below domain
            (amax + 1, amax + 10),             # above domain
            (amin, amin),                      # single value at edge
            (amin + (amax - amin) // 3, amin + (amax - amin) // 2),
            (5, -5),                           # empty interval
            (-(2**40), 2**40),                 # beyond int32: clamps
        ]
        for codec_id in ALL_CODECS:
            if codec_id == B.BITPACK_ZZ and a.min() == -(2**31):
                continue
            try:
                buf = B.encode_block(a, codec_id, ChunkAnalysis(a))
            except Exception:
                continue
            for lo, hi in intervals:
                pos, dec = range_positions(buf, lo, hi)
                np.testing.assert_array_equal(pos, _brute_range(a, lo, hi))
                assert 0 <= dec <= 2 * a.size


def test_range_pruning_skips_disjoint_domains():
    from mapbox_vector_tile_spark.codec.search import range_positions

    a = np.sort(RNG.integers(100, 200, 300)).astype(np.int32)
    for codec_id in (B.FOR_BITPACK, B.RLE, B.DICT_BITPACK):
        try:
            buf = B.encode_block(a, codec_id, ChunkAnalysis(a))
        except Exception:
            continue
        pos, dec = range_positions(buf, 10_000, 20_000)
        assert pos.size == 0 and dec == 0
    const = np.full(50, 7, np.int32)
    buf = B.encode_block(const, B.CONSTANT, ChunkAnalysis(const))
    assert range_positions(buf, 8, 100) == range_positions(buf, 8, 100)
    pos, dec = range_positions(buf, 0, 100)
    assert pos.size == 50 and dec == 0


def test_search_token_range_spark(spark):
    from pyspark.sql import functions as F

    from mapbox_vector_tile_spark.engine import generator as G
    from mapbox_vector_tile_spark.engine.encode import (
        EncodeOptions,
        encode_dataframe,
    )
    from mapbox_vector_tile_spark.engine.search import search_token_range

    corpus = G.corpus_dataframe(spark, 200, num_partitions=2).cache()
    blocks = encode_dataframe(corpus, EncodeOptions())
    lo, hi = 100, 250
    want = sorted(
        (r.doc_id, r.n)
        for r in corpus.select(
            "doc_id",
            F.size(
                F.filter("tokens", lambda t: (t >= lo) & (t <= hi))
            ).alias("n"),
        ).filter("n > 0").collect()
    )
    got = sorted(
        (r.doc_id, r.n_hits)
        for r in search_token_range(blocks, lo, hi).collect()
    )
    assert got == want and len(got) > 0


def test_search_checks_each_row_lengths(spark):
    """Each search reads a blocks row's lengths through the checked row
    path: lengths that disagree with the row's doc ids, or that do not sum
    to its payload's value count, raise ``ValueError`` naming the chunk
    instead of crediting a hit to another doc or failing inside Arrow."""
    import pyarrow as pa
    import pytest

    from mapbox_vector_tile_spark.codec.select import encode_auto
    from mapbox_vector_tile_spark.engine.encode import (
        BLOCKS_SPARK_SCHEMA,
        encode_dataframe,
    )
    from mapbox_vector_tile_spark.engine.search import (
        search_phrase,
        search_token,
        search_token_range,
    )

    tokens = spark.createDataFrame(
        [("a", [1, 2]), ("b", [3, 4]), ("c", [5, 6])],
        "doc_id string, tokens array<int>",
    ).coalesce(1)
    good = encode_dataframe(tokens).toArrow()
    assert good.num_rows == 1 and good.column("n_values")[0].as_py() == 6
    i = good.schema.get_field_index("lengths_blob")
    searches = [
        lambda df: search_token(df, 6),
        lambda df: search_phrase(df, 5, 6),
        lambda df: search_token_range(df, 6, 6),
    ]
    for run in searches:
        df = spark.createDataFrame(good, BLOCKS_SPARK_SCHEMA)
        assert [tuple(r) for r in run(df).collect()] == [("c", 1)]
    # two lengths for three doc ids; lengths summing to 5 over 6 values
    for lengths in ([2, 4], [2, 2, 1]):
        blob = encode_auto(np.array(lengths, np.int32))[0]
        bad = good.set_column(i, "lengths_blob", pa.array([blob], pa.binary()))
        df = spark.createDataFrame(bad, BLOCKS_SPARK_SCHEMA)
        for run in searches:
            with pytest.raises(Exception, match=r"ValueError: chunk \[a\.\.c\]"):
                run(df).collect()
