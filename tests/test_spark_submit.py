"""End-to-end spark-submit --py-files deployment test (north-rule form):
interrupted run + resumed runs via separate spark-submit invocations follow
the task resume contract and equal an uninterrupted encode, verified by
decoding the output."""

import json
import os
import shutil
import subprocess

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT), reason="no spark-submit")
def test_spark_submit_encode_resume(spark, tmp_path):
    from pyspark.sql import functions as F

    from mapbox_vector_tile_spark.engine import generator as G
    from mapbox_vector_tile_spark.engine.decode import decode_dataframe
    from mapbox_vector_tile_spark.engine.verify import verify_roundtrip

    n = 300
    tokens_pq = str(tmp_path / "tokens")
    # more input files than the job's 4 tasks: every task owns a file
    # group, and a crash after 2 tasks leaves 2 pending
    G.corpus_dataframe(spark, n, num_partitions=8).write.parquet(tokens_pq)

    zip_path = subprocess.run(
        ["python", os.path.join(ROOT, "tools", "build_pyfiles.py")],
        capture_output=True, text=True, cwd=ROOT, check=True,
    ).stdout.strip()
    assert zip_path.endswith(".zip") and os.path.exists(zip_path)

    out = str(tmp_path / "blocks")
    ckpt = str(tmp_path / "ckpt")

    def submit(extra):
        cmd = [
            SPARK_SUBMIT, "--master", "local[4]",
            "--py-files", zip_path,
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=4",
            os.path.join(ROOT, "jobs", "encode_job.py"),
            "--input", tokens_pq, "--output", out, "--checkpoint", ckpt,
            "--num-buckets", "6",
        ] + extra
        r = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        assert r.returncode == 0, r.stderr[-2000:]
        return json.loads(r.stdout.strip().splitlines()[-1])

    s1 = submit(["--fail-after", "2"])  # simulated crash after 2 tasks
    assert s1["tasks_total"] == 4
    assert (s1["tasks_pending"], s1["tasks_processed"]) == (2, 2)
    assert not os.path.exists(os.path.join(out, "_SUCCESS"))
    s2 = submit([])  # resume: only the pending tasks run
    assert s2["tasks_processed"] == s2["tasks_pending"] == 2
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    assert os.path.exists(os.path.join(out, "_manifest.json"))
    s3 = submit([])  # nothing pending
    assert s3["tasks_processed"] == s3["tasks_pending"] == 0

    blocks = spark.read.parquet(out)
    res = verify_roundtrip(
        spark.read.parquet(tokens_pq), decode_dataframe(blocks)
    ).first()
    assert (res.n_docs, res.n_match, res.n_mismatch) == (n, n, 0)
    assert blocks.agg(F.sum("bytes_enc")).first()[0] > 0


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT), reason="no spark-submit")
def test_spark_submit_decode_verify(spark, tmp_path):
    """decode_job end to end: a full decode verifies against the original
    tokens, and a doc range that matches no doc decodes and verifies as an
    empty slice."""
    from mapbox_vector_tile_spark.engine import generator as G
    from mapbox_vector_tile_spark.engine.exchange import (
        exchange_encode_fused_direct,
    )

    n = 300
    tokens_pq = str(tmp_path / "tokens")
    blocks_pq = str(tmp_path / "blocks")
    G.corpus_dataframe(spark, n, num_partitions=4).write.parquet(tokens_pq)
    exchange_encode_fused_direct(spark, tokens_pq, blocks_pq, 4)
    zip_path = subprocess.run(
        ["python", os.path.join(ROOT, "tools", "build_pyfiles.py")],
        capture_output=True, text=True, cwd=ROOT, check=True,
    ).stdout.strip()

    def submit(extra):
        cmd = [
            SPARK_SUBMIT, "--master", "local[2]",
            "--py-files", zip_path,
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=4",
            os.path.join(ROOT, "jobs", "decode_job.py"),
            "--input", blocks_pq, "--output", str(tmp_path / "decoded"),
            "--verify-against", tokens_pq,
        ] + extra
        r = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        assert r.returncode == 0, r.stderr[-2000:]
        return json.loads(r.stdout.strip().splitlines()[-1])

    full = submit([])
    assert (full["rows_decoded"], full["n_docs"], full["n_mismatch"]) == (
        n, n, 0
    )
    empty = submit(["--doc-range", "doc-99999000:doc-99999999"])
    assert (empty["rows_decoded"], empty["n_mismatch"]) == (0, 0)


def test_build_pyfiles_is_reproducible(tmp_path, monkeypatch):
    """Unchanged sources rebuild the --py-files zip byte-identical, whatever
    their file times (a fresh checkout sets new ones), so the tracked
    dist/mvt_spark.zip stays clean after the submit tests rebuild it."""
    import sys
    import zipfile

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        import build_pyfiles
    finally:
        sys.path.pop(0)
    first = build_pyfiles.build(str(tmp_path / "a.zip"))
    # the same sources in another checkout, with other file times
    checkout = tmp_path / "checkout"
    shutil.copytree(
        os.path.join(ROOT, "mapbox_vector_tile_spark"),
        checkout / "mapbox_vector_tile_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    for dp, _, files in os.walk(checkout):
        for f in files:
            os.utime(os.path.join(dp, f), (1_000_000_000, 1_000_000_000))
    monkeypatch.setattr(build_pyfiles, "ROOT", str(checkout))
    second = build_pyfiles.build(str(tmp_path / "b.zip"))
    with open(first, "rb") as a, open(second, "rb") as b:
        assert a.read() == b.read()
    names = zipfile.ZipFile(first).namelist()
    assert names == sorted(names)
    assert "mapbox_vector_tile_spark/__init__.py" in names
