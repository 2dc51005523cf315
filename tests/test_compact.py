"""Chunk compaction: merging under-sized chunks must be lossless,
actually reduce chunk count, pass already-compact chunks through
byte-identically, and preserve the source string column and multi-bucket
zone-map contracts."""

import pytest
from pyspark.sql import functions as F

from mapbox_vector_tile_spark.engine import generator as G
from mapbox_vector_tile_spark.engine.compact import compact_blocks
from mapbox_vector_tile_spark.engine.decode import decode_dataframe
from mapbox_vector_tile_spark.engine.encode import (
    EncodeOptions,
    encode_dataframe,
)
from mapbox_vector_tile_spark.engine.verify import verify_roundtrip

N_DOCS = 300


@pytest.fixture(scope="module")
def tokens_df(spark):
    return G.corpus_dataframe(spark, N_DOCS, num_partitions=4).cache()


def test_compact_merges_and_roundtrips(spark, tokens_df):
    frag = encode_dataframe(
        tokens_df, EncodeOptions(max_chunk_values=1 << 11)
    ).cache()
    n_frag = frag.count()
    compacted = compact_blocks(frag, EncodeOptions()).cache()
    n_comp = compacted.count()
    assert n_comp < n_frag / 4  # genuinely merged, not passed through
    res = verify_roundtrip(tokens_df, decode_dataframe(compacted)).first()
    assert (res.n_docs, res.n_match, res.n_mismatch) == (N_DOCS, N_DOCS, 0)
    # one output chunk per (bucket, group): chunk_ids unique
    assert compacted.select("chunk_id").distinct().count() == n_comp
    frag.unpersist()
    compacted.unpersist()


def test_compact_payload_bytes_bounded(spark, tokens_df):
    """Compaction's win is CHUNK COUNT (manifest rows, scheduling units,
    per-row metadata), not payload bytes: small frames fit local value
    distributions better (tighter FOR/delta widths), so fragmented
    payloads are near-optimal already and the merged chunk's selector
    keeps per-segment choices via seg-aligned PAGED. The contract is
    payload bytes within 1% of the fragmented form — measured +0.2-0.3%
    (the PAGED page-index overhead) on both clustered and mixed inputs."""
    from mapbox_vector_tile_spark.engine.verify import (
        doc_num_expr,
        regime_expr,
    )

    for df in (
        tokens_df.orderBy(regime_expr(doc_num_expr()), "doc_id").coalesce(1),
        tokens_df,
    ):
        frag = encode_dataframe(
            df, EncodeOptions(max_chunk_values=1 << 10)
        ).cache()
        compacted = compact_blocks(frag, EncodeOptions())
        b_frag = frag.agg(F.sum("bytes_enc")).first()[0]
        b_comp = compacted.agg(F.sum("bytes_enc")).first()[0]
        assert b_comp <= 1.01 * b_frag
        frag.unpersist()


def test_compact_passthrough_is_byte_identical(spark, tokens_df):
    """Chunks already at/above target compact to themselves: same chunk
    count, payloads byte-identical (no decode/re-encode on that path).
    target=1 puts every chunk in its own group — all singletons."""
    blocks = encode_dataframe(tokens_df, EncodeOptions()).cache()
    compacted = compact_blocks(
        blocks, EncodeOptions(), target_chunk_values=1
    ).cache()
    orig = {
        r["checksum"]: r["bytes_enc"]
        for r in blocks.select("checksum", "bytes_enc").collect()
    }
    out = {
        r["checksum"]: r["bytes_enc"]
        for r in compacted.select("checksum", "bytes_enc").collect()
    }
    assert out == orig  # same payload crc32s and sizes, chunk for chunk
    blocks.unpersist()
    compacted.unpersist()


def test_compact_preserves_source_column(spark, tokens_df):
    frag = encode_dataframe(
        tokens_df,
        EncodeOptions(max_chunk_values=1 << 11),
        string_col="source",
    )
    compacted = compact_blocks(frag, EncodeOptions())
    decoded = decode_dataframe(compacted, with_source=True)
    back = (
        decoded.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    want = {
        r["source"]: r["n"]
        for r in tokens_df.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {r["source"]: r["n"] for r in back} == want


def test_compact_multibucket_fused_blocks(spark, tokens_df, tmp_path):
    """Blocks from the fused multi-bucket exchange compact per bucket:
    bucket zone maps stay intact and the round trip is bit-exact."""
    from mapbox_vector_tile_spark.engine.exchange import (
        exchange_encode_fused_direct,
        regime_doc_key,
    )

    tokens_pq = str(tmp_path / "tokens")
    blocks_pq = str(tmp_path / "blocks")
    tokens_df.write.parquet(tokens_pq)
    exchange_encode_fused_direct(
        spark,
        tokens_pq,
        blocks_pq,
        6,
        key_fn=regime_doc_key,
        n_tasks=4,
        min_chunk_values=0,
        options=EncodeOptions(max_chunk_values=1 << 11),
    )
    blocks = spark.read.parquet(blocks_pq).cache()
    compacted = compact_blocks(blocks, EncodeOptions()).cache()
    assert compacted.count() < blocks.count()
    # bucket range preserved: every output chunk's [bucket, bucket_max]
    # span lies within the input's bucket set
    assert (
        compacted.filter(F.col("bucket_max") < F.col("bucket")).count() == 0
    )
    assert (
        compacted.select("bucket").distinct().count()
        == blocks.select("bucket").distinct().count()
    )
    res = verify_roundtrip(tokens_df, decode_dataframe(compacted)).first()
    assert (res.n_docs, res.n_match, res.n_mismatch) == (N_DOCS, N_DOCS, 0)
    blocks.unpersist()
    compacted.unpersist()


def test_compact_table_snapshot_level(spark, tmp_path):
    """Snapshot-level compaction: fewer chunks, bit-identical content,
    old snapshot still readable."""
    import os

    from mapbox_vector_tile_spark.engine import generator as G
    from mapbox_vector_tile_spark.engine import snapshots as S
    from mapbox_vector_tile_spark.engine.compact import compact_table
    from mapbox_vector_tile_spark.engine.encode import (
        EncodeOptions,
        encode_dataframe,
    )
    from mapbox_vector_tile_spark.engine.verify import verify_roundtrip

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    tok = G.corpus_dataframe(spark, 300, num_partitions=4)
    S.commit_append(
        root, encode_dataframe(tok, EncodeOptions(max_chunk_values=4096))
    )
    n_before = S.read_blocks_at(spark, root).count()
    sid = compact_table(spark, root, EncodeOptions())
    n_after = S.read_blocks_at(spark, root, sid).count()
    assert n_after < n_before
    v = verify_roundtrip(tok, S.decode_at(spark, root, sid)).first()
    assert v.n_mismatch == 0 and v.n_docs == 300
    v0 = verify_roundtrip(tok, S.decode_at(spark, root, 1)).first()
    assert v0.n_mismatch == 0


def test_compact_table_over_many_commits(spark, tmp_path):
    """Chunk ids restart with each encode run, so a snapshot of several
    commits repeats them; compaction still writes every doc exactly once."""
    from pyspark.sql import functions as F

    from mapbox_vector_tile_spark.engine import generator as G
    from mapbox_vector_tile_spark.engine import snapshots as S
    from mapbox_vector_tile_spark.engine.compact import compact_table
    from mapbox_vector_tile_spark.engine.encode import (
        EncodeOptions,
        encode_dataframe,
    )
    from mapbox_vector_tile_spark.engine.verify import verify_roundtrip

    root = str(tmp_path / "tbl")
    tok = G.corpus_dataframe(spark, 300, num_partitions=1)
    for lo, hi in ((0, 100), (100, 200), (200, 300)):
        lo, hi = G.doc_id_str([lo, hi])
        part = tok.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        S.commit_append(root, encode_dataframe(part, EncodeOptions()))
    ids = S.read_blocks_at(spark, root).select("chunk_id").collect()
    assert len({r.chunk_id for r in ids}) < len(ids)
    sid = compact_table(spark, root, target_chunk_values=1 << 30)
    blocks = S.read_blocks_at(spark, root, sid)
    assert blocks.agg(F.sum("n_rows")).first()[0] == 300
    v = verify_roundtrip(tok, S.decode_at(spark, root, sid)).first()
    assert v.n_mismatch == 0 and v.n_docs == 300
