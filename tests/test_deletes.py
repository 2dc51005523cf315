"""Merge-on-read equality deletes: decode-time filtering without rewrites.

Correctness: decode_with_deletes == plain decode minus the deleted doc ids,
exact array equality per doc, across delete shapes (empty set, scattered,
clustered range, whole-chunk, everything), and a delete sidecar committed
to a snapshot table applies at read time.
"""

import pytest

from pyspark.sql import functions as F

from mapbox_vector_tile_spark.engine import generator as G
from mapbox_vector_tile_spark.engine.decode import decode_dataframe
from mapbox_vector_tile_spark.engine import snapshots as S
from mapbox_vector_tile_spark.engine.deletes import decode_with_deletes
from mapbox_vector_tile_spark.engine.encode import EncodeOptions, encode_dataframe

N_DOCS = 400


@pytest.fixture(scope="module")
def corpus(spark):
    return G.corpus_dataframe(spark, N_DOCS, num_partitions=4).cache()


@pytest.fixture(scope="module")
def blocks(spark, corpus):
    return encode_dataframe(corpus, EncodeOptions()).cache()


def _sorted_rows(df):
    return [
        (r.doc_id, list(r.tokens), r.n_tok)
        for r in df.orderBy("doc_id").collect()
    ]


def _expect(corpus_blocks, deleted_ids_df):
    plain = decode_dataframe(corpus_blocks).join(
        deleted_ids_df.select("doc_id"), "doc_id", "left_anti"
    )
    return _sorted_rows(plain)


@pytest.mark.parametrize(
    "pred",
    [
        "substring(doc_id, 5, 8) % 17 = 3",  # scattered
        "doc_id >= 'doc-00000100' and doc_id < 'doc-00000140'",  # clustered
        "doc_id = 'doc-00000000'",  # single
    ],
)
def test_decode_with_deletes_matches_anti_join(spark, corpus, blocks, pred):
    dels = corpus.select("doc_id").filter(F.expr(pred))
    got = _sorted_rows(decode_with_deletes(blocks, dels))
    assert got == _expect(blocks, dels)
    assert len(got) == N_DOCS - dels.count()


def test_empty_delete_set_is_identity(spark, corpus, blocks):
    dels = corpus.select("doc_id").filter(F.lit(False))
    assert _sorted_rows(decode_with_deletes(blocks, dels)) == _sorted_rows(
        decode_dataframe(blocks)
    )


def test_delete_everything(spark, corpus, blocks):
    dels = corpus.select("doc_id")
    assert decode_with_deletes(blocks, dels).count() == 0


def test_nonexistent_ids_are_noops(spark, corpus, blocks):
    dels = spark.createDataFrame(
        [("doc-99999999",), ("aaaa",)], "doc_id string"
    )
    assert decode_with_deletes(blocks, dels).count() == N_DOCS


def test_sidecar_roundtrip(spark, corpus, blocks, tmp_path):
    root = str(tmp_path / "tbl")
    dels = corpus.select("doc_id").filter(
        F.expr("substring(doc_id, 5, 8) % 17 = 3")
    )
    S.commit_append(root, blocks)
    sid = S.commit_deletes(root, dels)
    assert S.read_snapshot(root, sid)["delete_files"]
    got = _sorted_rows(S.decode_at(spark, root))
    assert got == _expect(blocks, dels)
