"""Z-order layout: interleave exactness, grid locality, 2-D pruning win,
and end-to-end fused encode clustered along the Z-curve."""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from mapbox_vector_tile_spark.codec.blocks import decode_block
from mapbox_vector_tile_spark.engine import generator as G
from mapbox_vector_tile_spark.engine.verify import verify_roundtrip
from mapbox_vector_tile_spark.engine.zorder import (
    LINEAR_SHIFT,
    RECT,
    Z_BITS,
    Z_SHIFT,
    zorder_doc_len_key,
    zorder_key_expr,
    zorder_pruning_audit,
    zorder_zone_maps,
    zorder_doc_len_key as _key_fn,
)

N_DOCS = 500


def _interleave_py(a: int, b: int, bits: int = Z_BITS) -> int:
    out = 0
    for i in range(bits):
        out |= ((a >> i) & 1) << (2 * i)
        out |= ((b >> i) & 1) << (2 * i + 1)
    return out


@pytest.fixture(scope="module")
def tokens(spark):
    df = G.corpus_dataframe(spark, N_DOCS, num_partitions=4)
    df.cache().count()
    return df


def test_interleave_matches_reference(spark):
    vals = [(0, 0), (1, 0), (0, 1), (5, 9), (499, 8192), (16383, 16383)]
    df = spark.createDataFrame(vals, "a long, b long").select(
        "a", "b", zorder_key_expr(F.col("a"), F.col("b")).alias("z")
    )
    for r in df.collect():
        assert r.z == _interleave_py(r.a, r.b), (r.a, r.b)


def test_key_fn_matches_expr(tokens):
    t = pa.table(
        {
            "doc_id": [f"doc-{i:08d}" for i in (0, 7, 499)],
            "n_tok": [0, 997, 8192],
        }
    )
    keys = zorder_doc_len_key(t).to_pylist()
    for row, key in zip(t.to_pylist(), keys):
        num = int(row["doc_id"][4:])
        z = _interleave_py(num, row["n_tok"])
        assert key == f"{z:010d}|{row['doc_id']}"


def test_zone_map_cells_are_bounded_rectangles(tokens):
    cell = 1 << (Z_SHIFT // 2)  # 256: each grid cell spans <= 256 per dim
    for r in zorder_zone_maps(tokens).collect():
        assert r.max_doc - r.min_doc < cell
        assert r.max_len - r.min_len < cell


def test_pruning_audit_zorder_wins_on_rectangle(tokens):
    rows = {r.layout: r for r in zorder_pruning_audit(tokens).collect()}
    z, l = rows["zorder"], rows["linear"]
    assert z.rows_matched == l.rows_matched > 0
    # the 2-D layout reads strictly fewer rows for the 2-D predicate
    assert z.rows_touched < l.rows_touched
    assert z.amp_pct < l.amp_pct
    # and everything matched is inside what was touched
    assert z.rows_touched >= z.rows_matched
    assert l.rows_touched >= l.rows_matched


def test_fused_encode_zorder_clusters_length(spark, tmp_path):
    """Encode with the Z-curve cluster key: roundtrip stays exact and the
    chunks' LENGTH spans become bounded (2-D zone-map locality in the
    real blocks), unlike the doc-ordered layout."""
    from mapbox_vector_tile_spark.engine.exchange import (
        exchange_encode_fused_direct,
    )

    src = str(tmp_path / "tokens")
    tok = G.corpus_dataframe(spark, N_DOCS, num_partitions=4)
    tok.write.parquet(src)

    from mapbox_vector_tile_spark.engine.encode import EncodeOptions

    # small chunks so layout (not chunk granularity) decides the spans
    opts = EncodeOptions(max_chunk_values=8192)
    out_z, out_d = str(tmp_path / "blocks_z"), str(tmp_path / "blocks_d")
    exchange_encode_fused_direct(
        spark, src, out_z, num_buckets=8, options=opts,
        key_fn=zorder_doc_len_key, key_cols=("doc_id", "n_tok"),
    )
    exchange_encode_fused_direct(
        spark, src, out_d, num_buckets=8, options=opts
    )
    blocks_z = spark.read.parquet(out_z).cache()
    blocks_d = spark.read.parquet(out_d).cache()

    # correctness is layout-independent
    from mapbox_vector_tile_spark.engine.decode import decode_dataframe

    v = verify_roundtrip(tok, decode_dataframe(blocks_z)).first()
    assert v.n_mismatch == 0 and v.n_docs == N_DOCS

    def len_spans(blocks) -> list[int]:
        spans = []
        for r in blocks.select("lengths_blob").collect():
            lens = decode_block(memoryview(r.lengths_blob))
            if len(lens):
                spans.append(int(lens.max() - lens.min()))
        return spans

    z_spans, d_spans = len_spans(blocks_z), len_spans(blocks_d)
    # doc-ordered chunks mix the whole length domain; z-ordered chunks
    # stay inside a narrow band (grid cell = 256 wide, minus the 8192
    # outlier cell) — compare medians to be robust to tail chunks
    assert np.median(z_spans) < np.median(d_spans) / 4
    blocks_z.unpersist()
    blocks_d.unpersist()


def test_optimize_zorder_table(spark, tmp_path):
    """OPTIMIZE ZORDER as a rewrite commit: content identical, old layout
    time-travelable, chunk length spans tightened."""
    from mapbox_vector_tile_spark.engine import snapshots as S
    from mapbox_vector_tile_spark.engine.encode import (
        EncodeOptions,
        encode_dataframe,
    )
    from mapbox_vector_tile_spark.engine.zorder import optimize_zorder_table

    root = str(tmp_path / "tbl")
    import os

    os.makedirs(root)
    tok = G.corpus_dataframe(spark, N_DOCS, num_partitions=4)
    opts = EncodeOptions(max_chunk_values=8192)
    S.commit_append(root, encode_dataframe(tok, opts))
    sid = optimize_zorder_table(spark, root, options=opts)

    # lossless: the rewritten table decodes bit-identically
    from mapbox_vector_tile_spark.engine.decode import decode_dataframe

    v = verify_roundtrip(tok, S.decode_at(spark, root, sid)).first()
    assert v.n_mismatch == 0 and v.n_docs == N_DOCS
    # and the PRE-optimize snapshot is still readable (time travel)
    v0 = verify_roundtrip(tok, S.decode_at(spark, root, 1)).first()
    assert v0.n_mismatch == 0

    def spans(sid):
        out = []
        for r in S.read_blocks_at(spark, root, sid).select(
            "lengths_blob"
        ).collect():
            lens = decode_block(memoryview(r.lengths_blob))
            if len(lens) > 1:
                out.append(int(lens.max() - lens.min()))
        return out

    before, after = spans(1), spans(sid)
    assert np.median(after) < np.median(before) / 4, (
        np.median(before),
        np.median(after),
    )
