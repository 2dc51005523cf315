"""Point-lookup decode: explicit doc-id sets resolved through zone-map
pruning + in-chunk positional gather; parity vs full decode."""

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from mapbox_vector_tile_spark.engine import generator as G
from mapbox_vector_tile_spark.engine.decode import (
    decode_dataframe,
    decode_doc_ids,
)
from mapbox_vector_tile_spark.engine.encode import EncodeOptions, encode_dataframe

N_DOCS = 400


@pytest.fixture(scope="module")
def blocks(spark):
    tokens = G.corpus_dataframe(spark, N_DOCS, num_partitions=4)
    # small chunks so a scattered id set covers a strict subset of chunks
    b = encode_dataframe(tokens, EncodeOptions(max_chunk_values=10_000))
    b.cache().count()
    yield b
    b.unpersist()


@pytest.fixture(scope="module")
def full(blocks):
    return {r.doc_id: r for r in decode_dataframe(blocks).collect()}


def test_point_lookup_parity_scattered(blocks, full):
    ids = [f"doc-{n:08d}" for n in range(3, N_DOCS, 41)]
    got = {r.doc_id: r for r in decode_doc_ids(blocks, ids).collect()}
    assert set(got) == set(ids)
    for d in ids:
        assert got[d].tokens == full[d].tokens, d
        assert got[d].n_tok == full[d].n_tok, d


def test_point_lookup_single_and_empty_doc(blocks, full):
    # docs 0 and 202 are empty (n_tok=0); doc 7 is the n_tok=1 regime
    for d in ("doc-00000000", "doc-00000202", "doc-00000007", "doc-00000399"):
        got = decode_doc_ids(blocks, [d]).collect()
        assert len(got) == 1 and got[0].doc_id == d
        assert got[0].tokens == full[d].tokens
        assert got[0].n_tok == full[d].n_tok


def test_point_lookup_duplicate_and_unsorted_ids(blocks, full):
    ids = ["doc-00000300", "doc-00000007", "doc-00000300"]
    got = {r.doc_id: r for r in decode_doc_ids(blocks, ids).collect()}
    assert set(got) == {"doc-00000007", "doc-00000300"}
    for d, r in got.items():
        assert r.tokens == full[d].tokens


def test_point_lookup_prunes_chunks(blocks):
    ids = ["doc-00000007", "doc-00000380"]
    want = F.filter(
        F.array(*[F.lit(d) for d in ids]),
        lambda d: (d >= F.col("min_doc_id")) & (d <= F.col("max_doc_id")),
    )
    n_all = blocks.count()
    n_kept = (
        blocks.filter(
            (F.col("max_doc_id") >= ids[0]) & (F.col("min_doc_id") <= ids[-1])
        )
        .filter(F.size(want) > 0)
        .count()
    )
    assert 0 < n_kept < n_all  # containment pruning really drops chunks


def test_unwanted_rows_decode_nothing():
    """The checked row reader skips a row none of whose docs its id picker
    (the literal ids, or the row's ``__want`` array) picks before reading
    its lengths or payload; a picked doc in the same row reaches the
    checked decode."""
    from mapbox_vector_tile_spark.engine.decode import (
        _ids_picker,
        _pick_wanted,
        _read_rows,
    )

    def rows(want):
        return [pa.RecordBatch.from_pydict({
            "doc_ids": [["doc-a", "doc-b"]], "n_rows": [2], "n_values": [3],
            "lengths_blob": [b"junk"], "payload": [b"junk"], "checksum": [0],
            "min_doc_id": ["doc-a"], "max_doc_id": ["doc-b"],
            "__want": [want],
        })]

    # doc-ab passes the zone map but is none of the row's doc ids
    for want in (["doc-c"], ["doc-ab"]):
        assert list(_read_rows(rows(want), True, _ids_picker(want))) == []
        assert list(_read_rows(rows(want), True, _pick_wanted)) == []
    for pick in (_ids_picker(["doc-a"]), _pick_wanted):
        with pytest.raises(ValueError, match="checksum"):
            list(_read_rows(rows(["doc-a"]), True, pick))


def test_point_lookup_rejects_empty_set(blocks):
    with pytest.raises(ValueError):
        decode_doc_ids(blocks, [])


def test_doc_ids_df_parity_bulk(spark, blocks, full):
    """Join-shaped overload: a bulk id DataFrame (every 3rd doc — far
    beyond literal-array comfort) decodes identically to the full scan,
    and the id set never becomes plan literals."""
    from mapbox_vector_tile_spark.engine.decode import decode_doc_ids_df

    ids_df = (
        spark.range(0, N_DOCS, 3)
        .select(F.format_string("doc-%08d", F.col("id")).alias("doc_id"))
    )
    got = {r.doc_id: r for r in decode_doc_ids_df(blocks, ids_df).collect()}
    want = {f"doc-{n:08d}" for n in range(0, N_DOCS, 3)}
    assert set(got) == want
    for d in want:
        assert got[d].tokens == full[d].tokens, d
        assert got[d].n_tok == full[d].n_tok, d


def test_doc_ids_df_empty_and_miss(spark, blocks):
    from mapbox_vector_tile_spark.engine.decode import decode_doc_ids_df

    empty = spark.createDataFrame([], "doc_id string")
    out = decode_doc_ids_df(blocks, empty)
    assert out.count() == 0
    assert out.columns == ["doc_id", "tokens", "n_tok"]
    # ids absent from the table: empty result, not an error
    miss = spark.createDataFrame([("doc-99999999",)], "doc_id string")
    assert decode_doc_ids_df(blocks, miss).count() == 0


def test_doc_ids_df_duplicates_collapse(spark, blocks, full):
    from mapbox_vector_tile_spark.engine.decode import decode_doc_ids_df

    ids_df = spark.createDataFrame(
        [("doc-00000007",), ("doc-00000007",), ("doc-00000300",)],
        "doc_id string",
    )
    got = decode_doc_ids_df(blocks, ids_df).collect()
    assert sorted(r.doc_id for r in got) == ["doc-00000007", "doc-00000300"]
    for r in got:
        assert r.tokens == full[r.doc_id].tokens
