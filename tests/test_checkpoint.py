"""Checkpoint/resume tests for the fused resumable job (SURVEY §5 plan:
kill after k tasks, rerun, assert only pending ran and result equals an
uninterrupted run)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from mapbox_vector_tile_spark.engine import generator as G
from mapbox_vector_tile_spark.engine.checkpoint import (
    encode_with_checkpoint_fused,
)
from mapbox_vector_tile_spark.engine.decode import decode_dataframe
from mapbox_vector_tile_spark.engine.verify import verify_roundtrip

N_DOCS = 500
N_BUCKETS = 8
N_TASKS = 6


@pytest.fixture(scope="module")
def tokens_df(spark):
    df = G.corpus_dataframe(spark, N_DOCS, num_partitions=4)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def tokens_pq(spark, tokens_df, tmp_path_factory):
    # more files than tasks, so every task owns a file group
    path = str(tmp_path_factory.mktemp("ckpt") / "tokens")
    tokens_df.repartition(12).write.parquet(path)
    return path


def test_resume_equals_uninterrupted(spark, tokens_df, tokens_pq, tmp_path):
    out1 = str(tmp_path / "blocks_full")
    ck1 = str(tmp_path / "ckpt_full")
    s = encode_with_checkpoint_fused(
        spark, tokens_pq, out1, ck1, N_BUCKETS, n_tasks=N_TASKS
    )
    assert s["tasks_processed"] == s["tasks_total"] == N_TASKS

    out2 = str(tmp_path / "blocks_resumed")
    ck2 = str(tmp_path / "ckpt_resumed")
    # "crash" after 3 tasks
    s1 = encode_with_checkpoint_fused(
        spark, tokens_pq, out2, ck2, N_BUCKETS, n_tasks=N_TASKS,
        fail_after_tasks=3,
    )
    assert s1["tasks_processed"] == 3
    # resume: only the pending tasks run
    s2 = encode_with_checkpoint_fused(
        spark, tokens_pq, out2, ck2, N_BUCKETS, n_tasks=N_TASKS
    )
    assert s2["tasks_processed"] == s2["tasks_total"] - 3
    # third call: nothing pending
    s3 = encode_with_checkpoint_fused(
        spark, tokens_pq, out2, ck2, N_BUCKETS, n_tasks=N_TASKS
    )
    assert s3["tasks_processed"] == 0

    full = spark.read.parquet(out1)
    resumed = spark.read.parquet(out2)
    # identical decoded contents
    res = verify_roundtrip(tokens_df, decode_dataframe(resumed)).first()
    assert (res.n_docs, res.n_match, res.n_mismatch) == (N_DOCS, N_DOCS, 0)
    # identical byte totals (same plan -> same chunks)
    a = full.agg(F.sum("bytes_enc"), F.sum("n_values"), F.sum("n_rows")).first()
    b = resumed.agg(F.sum("bytes_enc"), F.sum("n_values"), F.sum("n_rows")).first()
    assert tuple(a) == tuple(b)

    ck = spark.read.parquet(ck2)
    assert ck.count() == s1["tasks_total"]  # one lineage row per task
    assert {r.status for r in ck.select("status").distinct().collect()} == {"done"}


def test_bucket_plan_persisted_and_reused(spark, tokens_df, tokens_pq,
                                          tmp_path):
    out = str(tmp_path / "blocks_plan")
    ck = str(tmp_path / "ckpt_plan")
    encode_with_checkpoint_fused(
        spark, tokens_pq, out, ck, N_BUCKETS, n_tasks=N_TASKS,
        fail_after_tasks=2,
    )
    plan_path = os.path.join(ck, "_bucket_plan.json")
    assert os.path.exists(plan_path)
    with open(plan_path) as f:
        plan = json.load(f)
    assert plan["num_partitions"] == N_BUCKETS
    assert len(plan["cuts"]) == N_BUCKETS - 1
    assert len(plan["groups"]) == N_TASKS
    # resume with a different bucketing or cluster key must fail fast
    with pytest.raises(ValueError, match="plan mismatch"):
        encode_with_checkpoint_fused(spark, tokens_pq, out, ck, N_BUCKETS * 2)
    with pytest.raises(ValueError, match="plan mismatch"):
        encode_with_checkpoint_fused(
            spark, tokens_pq, out, ck, N_BUCKETS, key_name="regime|doc_id"
        )
    # the persisted grouping wins over a different cluster size
    s = encode_with_checkpoint_fused(
        spark, tokens_pq, out, ck, N_BUCKETS, n_tasks=2
    )
    assert s["tasks_processed"] == s["tasks_total"] - 2 == N_TASKS - 2
    res = verify_roundtrip(
        tokens_df, decode_dataframe(spark.read.parquet(out))
    ).first()
    assert res.n_mismatch == 0 and res.n_docs == N_DOCS


def test_rerun_of_done_bucket_is_idempotent(spark, tokens_df, tokens_pq,
                                            tmp_path):
    out = str(tmp_path / "blocks_idem")
    ck_a = str(tmp_path / "ckpt_a")
    ck_b = str(tmp_path / "ckpt_b")
    encode_with_checkpoint_fused(
        spark, tokens_pq, out, ck_a, N_BUCKETS, n_tasks=N_TASKS
    )
    n1 = spark.read.parquet(out).count()
    # fresh checkpoint dir: every task reruns into the same out_dir;
    # deterministic fragment names must not duplicate rows
    encode_with_checkpoint_fused(
        spark, tokens_pq, out, ck_b, N_BUCKETS, n_tasks=N_TASKS
    )
    n2 = spark.read.parquet(out).count()
    assert n1 == n2
    res = verify_roundtrip(
        tokens_df, decode_dataframe(spark.read.parquet(out))
    ).first()
    assert res.n_mismatch == 0 and res.n_docs == N_DOCS


def test_fused_resume_equals_uninterrupted(spark, tokens_df, tmp_path):
    """Fused flagship path: crash after 2 tasks, resume, third run is a
    no-op; final table byte-identical to an uninterrupted run."""
    tokens_pq = str(tmp_path / "tokens")
    tokens_df.write.parquet(tokens_pq, mode="overwrite")

    out1, ck1 = str(tmp_path / "b1"), str(tmp_path / "c1")
    s1 = encode_with_checkpoint_fused(
        spark, tokens_pq, out1, ck1, N_BUCKETS, n_tasks=4
    )
    assert s1["tasks_total"] == s1["tasks_processed"] == 4

    out2, ck2 = str(tmp_path / "b2"), str(tmp_path / "c2")
    s2a = encode_with_checkpoint_fused(
        spark, tokens_pq, out2, ck2, N_BUCKETS, n_tasks=4, fail_after_tasks=2
    )
    assert s2a["tasks_processed"] == 2
    assert not os.path.exists(os.path.join(out2, "_SUCCESS"))
    s2b = encode_with_checkpoint_fused(
        spark, tokens_pq, out2, ck2, N_BUCKETS, n_tasks=4
    )
    assert s2b["tasks_processed"] == s2a["tasks_total"] - 2
    s2c = encode_with_checkpoint_fused(
        spark, tokens_pq, out2, ck2, N_BUCKETS, n_tasks=4
    )
    assert s2c["tasks_processed"] == 0
    assert os.path.exists(os.path.join(out2, "_SUCCESS"))
    with open(os.path.join(out2, "_manifest.json")) as fh:
        counts = json.load(fh)["row_counts"]
    assert sum(counts.values()) == spark.read.parquet(out2).count()

    # resumed result equals uninterrupted result, and decodes bit-identical
    a = spark.read.parquet(out1)
    b = spark.read.parquet(out2)
    cols = ["chunk_id", "n_rows", "n_values", "checksum", "bytes_enc"]
    assert sorted(map(tuple, a.select(cols).collect())) == sorted(
        map(tuple, b.select(cols).collect())
    )
    res = verify_roundtrip(tokens_df, decode_dataframe(b)).first()
    assert (res.n_docs, res.n_match, res.n_mismatch) == (N_DOCS, N_DOCS, 0)

    # plan mismatch fails fast
    with pytest.raises(ValueError, match="plan mismatch"):
        encode_with_checkpoint_fused(
            spark, tokens_pq, out2, ck2, N_BUCKETS + 1, n_tasks=4
        )


def test_fused_resume_from_pre_envelope_checkpoint(spark, tokens_df,
                                                   tmp_path):
    """Resuming a checkpoint dir whose earlier files predate the
    min_doc_id/max_doc_id columns (12-column schema) must not fail or
    silently corrupt the manifest: mergeSchema reconciles the mix, and
    pre-envelope rows land as null stats (conservative keep at scan)."""
    tokens_pq = str(tmp_path / "tokens")
    tokens_df.write.parquet(tokens_pq, mode="overwrite")
    out, ck = str(tmp_path / "b"), str(tmp_path / "c")
    s = encode_with_checkpoint_fused(
        spark, tokens_pq, out, ck, N_BUCKETS, n_tasks=4, fail_after_tasks=2
    )
    assert s["tasks_processed"] == 2

    # rewrite the partial checkpoint in the OLD 12-column layout
    old = spark.read.parquet(ck).drop("min_doc_id", "max_doc_id")
    old_rows = old.collect()
    import shutil
    shutil.rmtree(ck)
    spark.createDataFrame(old_rows, old.schema).write.parquet(ck)

    # resume appends 14-column files next to the 12-column ones
    s2 = encode_with_checkpoint_fused(
        spark, tokens_pq, out, ck, N_BUCKETS, n_tasks=4
    )
    assert s2["tasks_processed"] == 2
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    with open(os.path.join(out, "_manifest.json")) as fh:
        man = json.load(fh)
    assert sum(man["row_counts"].values()) == spark.read.parquet(out).count()
    # pre-envelope fragments: null stats; resumed ones: real envelopes
    stats = man["file_stats"]
    assert any(v["min_doc_id"] is None for v in stats.values())
    assert any(v["min_doc_id"] for v in stats.values())
    res = verify_roundtrip(
        tokens_df, decode_dataframe(spark.read.parquet(out))
    ).first()
    assert (res.n_docs, res.n_match, res.n_mismatch) == (N_DOCS, N_DOCS, 0)
