"""Snapshot commits + time travel over the blocks table.

Append/delete/rewrite commits produce immutable snapshots; decode_at(sid)
reproduces exactly the table as of that commit (bit-identical token
arrays), delete commits never touch data files, a rewrite applies the
deletes while older snapshots stay readable, and the current-pointer swap
is atomic."""

import os

import pytest

from pyspark.sql import functions as F

from mapbox_vector_tile_spark.engine import generator as G
from mapbox_vector_tile_spark.engine import snapshots as S
from mapbox_vector_tile_spark.engine.encode import EncodeOptions, encode_dataframe

N1, N2 = 180, 300  # commit 1: docs [0,180); commit 2 appends [180,300)


@pytest.fixture(scope="module")
def corpus(spark):
    return G.corpus_dataframe(spark, N2, num_partitions=4).cache()


@pytest.fixture(scope="module")
def table(spark, corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("snap") / "tbl")
    os.makedirs(root)
    first = corpus.filter(F.expr("substring(doc_id, 5, 8) < 180"))
    second = corpus.filter(F.expr("substring(doc_id, 5, 8) >= 180"))
    assert S.commit_append(root, encode_dataframe(first, EncodeOptions())) == 1
    assert S.commit_append(root, encode_dataframe(second, EncodeOptions())) == 2
    dels = corpus.select("doc_id").filter(
        F.expr("substring(doc_id, 5, 8) % 17 = 3")
    )
    assert S.commit_deletes(root, dels) == 3
    return root


def _ids(df):
    return sorted(r.doc_id for r in df.select("doc_id").collect())


def _expected_ids(corpus, pred):
    return sorted(
        r.doc_id for r in corpus.filter(F.expr(pred)).select("doc_id").collect()
    )


def test_time_travel_reads_each_snapshot(spark, corpus, table):
    assert _ids(S.decode_at(spark, table, 1)) == _expected_ids(
        corpus, "substring(doc_id, 5, 8) < 180"
    )
    assert _ids(S.decode_at(spark, table, 2)) == _ids(corpus)
    assert _ids(S.decode_at(spark, table, 3)) == _expected_ids(
        corpus, "substring(doc_id, 5, 8) % 17 <> 3"
    )
    # default = current
    assert S.current_snapshot_id(table) == 3
    assert _ids(S.decode_at(spark, table)) == _ids(S.decode_at(spark, table, 3))


def test_decode_is_bit_identical_at_snapshots(spark, corpus, table):
    want = {
        r.doc_id: list(r.tokens)
        for r in corpus.filter(F.expr("substring(doc_id, 5, 8) < 180")).collect()
    }
    got = {
        r.doc_id: list(r.tokens) for r in S.decode_at(spark, table, 1).collect()
    }
    assert got == want


def test_delete_commit_adds_no_data_files(table):
    log = S.snapshot_log(table)
    assert [s["operation"] for s in log] == ["append", "append", "delete"]
    assert log[2]["data_files"] == log[1]["data_files"]
    assert log[1]["delete_files"] == [] and len(log[2]["delete_files"]) > 0
    assert [s["parent_id"] for s in log] == [None, 1, 2]


def test_rewrite_applies_deletes(spark, corpus, table):
    # apply the deletes for real: rewrite from the merged view
    rewritten = encode_dataframe(S.decode_at(spark, table), EncodeOptions())
    sid = S.commit_rewrite(table, rewritten)
    snap = S.read_snapshot(table, sid)
    assert snap["operation"] == "rewrite" and snap["delete_files"] == []
    assert _ids(S.decode_at(spark, table, sid)) == _expected_ids(
        corpus, "substring(doc_id, 5, 8) % 17 <> 3"
    )


def test_incremental_changes(spark, corpus, tmp_path):
    root = str(tmp_path / "inc")
    os.makedirs(root)
    first = corpus.filter(F.expr("substring(doc_id, 5, 8) < 180"))
    second = corpus.filter(F.expr("substring(doc_id, 5, 8) >= 180"))
    S.commit_append(root, encode_dataframe(first, EncodeOptions()))
    S.commit_append(root, encode_dataframe(second, EncodeOptions()))
    dels = corpus.select("doc_id").filter(
        F.expr("substring(doc_id, 5, 8) % 17 = 3")
    )
    S.commit_deletes(root, dels)

    ins, removed = S.incremental_changes(spark, root, 1, 2)
    assert _ids(ins) == _expected_ids(corpus, "substring(doc_id, 5, 8) >= 180")
    assert removed.count() == 0

    ins, removed = S.incremental_changes(spark, root, 2)  # to current (3)
    assert ins.count() == 0
    assert sorted(r.doc_id for r in removed.collect()) == _expected_ids(
        corpus, "substring(doc_id, 5, 8) % 17 = 3"
    )

    # consumer contract: snapshot-1 state + window changes == snapshot-3 read
    base = set(_ids(S.decode_at(spark, root, 1)))
    ins, removed = S.incremental_changes(spark, root, 1, 3)
    got = (base | set(_ids(ins))) - {r.doc_id for r in removed.collect()}
    assert sorted(got) == _ids(S.decode_at(spark, root, 3))

    S.commit_rewrite(root, encode_dataframe(S.decode_at(spark, root), EncodeOptions()))
    with pytest.raises(ValueError):
        S.incremental_changes(spark, root, 2, 4)


def test_empty_table_reads_fail(spark, tmp_path):
    with pytest.raises(ValueError):
        S.read_blocks_at(spark, str(tmp_path))


def test_refs_tag_branch_lifecycle(spark, corpus, tmp_path):
    # own two-commit table: the shared one gets rewritten/expired by
    # earlier tests, which can collapse its log to a single snapshot
    table = str(tmp_path / "tbl")
    os.makedirs(table)
    first = corpus.filter(F.expr("substring(doc_id, 5, 8) < 120"))
    second = corpus.filter(
        F.expr("substring(doc_id, 5, 8) >= 120 AND "
               "substring(doc_id, 5, 8) < 180")
    )
    assert S.commit_append(table, encode_dataframe(first, EncodeOptions())) == 1
    assert S.commit_append(table, encode_dataframe(second, EncodeOptions())) == 2
    lo, hi = 1, 2
    assert S.set_ref(table, "train-v1", lo, kind="tag") == lo
    assert S.set_ref(table, "main", hi, kind="branch") == hi
    assert S.resolve_ref(table, "train-v1") == lo
    # decode by name == decode by id
    named = S.decode_at(spark, table, S.resolve_ref(table, "train-v1"))
    assert _ids(named) == _ids(S.decode_at(spark, table, lo))
    # tags are write-once; branches move
    with pytest.raises(ValueError):
        S.set_ref(table, "train-v1", hi, kind="tag")
    assert S.set_ref(table, "main", lo, kind="branch") == lo
    # re-pinning a tag to the SAME snapshot is a no-op, not an error
    assert S.set_ref(table, "train-v1", lo, kind="tag") == lo
    with pytest.raises(KeyError):
        S.resolve_ref(table, "never-created")


def test_refs_reject_dangling_targets(table):
    with pytest.raises(FileNotFoundError):
        S.set_ref(table, "nope", 99_999)
