"""Z-order layout: interleave exactness, grid locality, 2-D pruning win,
and a snapshot table rewritten along the Z-curve."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from mapbox_vector_tile_spark.codec.blocks import decode_block
from mapbox_vector_tile_spark.engine import generator as G
from mapbox_vector_tile_spark.engine.verify import verify_roundtrip
from mapbox_vector_tile_spark.engine.zorder import (
    Z_BITS,
    Z_SHIFT,
    zorder_key_expr,
    zorder_pruning_audit,
    zorder_zone_maps,
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
