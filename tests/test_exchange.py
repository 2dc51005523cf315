"""Fused size-weighted exchange + encode: every doc lands in the bucket
its cluster key selects, buckets balance, chunks stay sorted, and the round
trip is lossless."""

from bisect import bisect_left

import numpy as np
import pytest
from pyspark.sql import functions as F

from mapbox_vector_tile_spark.engine import generator as G
from mapbox_vector_tile_spark.engine.exchange import (
    doc_id_key,
    exchange_encode_fused_direct,
    plan_weighted_cuts,
    regime_doc_key,
)
from mapbox_vector_tile_spark.engine.verify import (
    doc_num_expr,
    regime_expr,
    verify_roundtrip,
)
from mapbox_vector_tile_spark.sources.parquet_direct import list_parquet_files

N_DOCS = 500
N_BUCKETS = 8


@pytest.fixture(scope="module")
def tokens_pq(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("xchg") / "tokens")
    G.corpus_dataframe(spark, N_DOCS, num_partitions=4).write.parquet(path)
    return path


def test_plan_cuts_deterministic(spark, tokens_pq):
    files = list_parquet_files(tokens_pq)
    c1 = plan_weighted_cuts(spark, files, N_BUCKETS)
    c2 = plan_weighted_cuts(spark, files, N_BUCKETS)
    assert c1 == c2
    assert len(c1) == N_BUCKETS - 1
    assert c1 == sorted(c1)


def test_exchange_membership_balance_sortedness(spark, tokens_pq, tmp_path):
    out = str(tmp_path / "blocks")
    # min_chunk_values=0: strict chunk/bucket homogeneity; one input file
    # per task, so every chunk is one sorted run
    summary = exchange_encode_fused_direct(
        spark, tokens_pq, out, N_BUCKETS, key_fn=doc_id_key,
        n_tasks=len(list_parquet_files(tokens_pq)), min_chunk_values=0,
    )
    assert summary["n_rows"] == N_DOCS
    cuts = summary["cuts"]
    blocks = spark.read.parquet(out).select(
        "bucket", "bucket_max", "doc_ids", "n_values"
    ).collect()
    assert {r.bucket for r in blocks} == set(range(N_BUCKETS))

    # balance: max bucket weight <= 2x mean
    per_bucket: dict[int, int] = {}
    for r in blocks:
        per_bucket[r.bucket] = per_bucket.get(r.bucket, 0) + r.n_values
    weights = np.array(list(per_bucket.values()), dtype=float)
    assert weights.max() <= 2.0 * weights.mean()

    # membership: every doc sits in the bucket its key selects
    n = 0
    for r in blocks:
        assert r.bucket == r.bucket_max
        for d in r.doc_ids:
            assert bisect_left(cuts, d) == r.bucket
        # every chunk is sorted by the cluster key
        assert list(r.doc_ids) == sorted(r.doc_ids)
        n += len(r.doc_ids)
    assert n == N_DOCS


def test_regime_key_matches_spark_expr(spark, tokens_pq):
    import pyarrow.dataset as ds

    table = ds.dataset(tokens_pq).to_table(columns=["doc_id"])
    got = dict(zip(table.column("doc_id").to_pylist(),
                   regime_doc_key(table).to_pylist()))
    want = {
        r.doc_id: r.k
        for r in spark.read.parquet(tokens_pq)
        .select(
            "doc_id",
            F.format_string(
                "%d|%s", regime_expr(doc_num_expr()), F.col("doc_id")
            ).alias("k"),
        )
        .collect()
    }
    assert got == want


def test_exchange_encode_decode_roundtrip(spark, tokens_pq, tmp_path):
    from mapbox_vector_tile_spark.sources.parquet_direct import (
        decode_to_parquet_direct,
    )

    blocks_pq = str(tmp_path / "blocks")
    exchange_encode_fused_direct(
        spark, tokens_pq, blocks_pq, N_BUCKETS, key_fn=regime_doc_key,
        n_tasks=8, min_chunk_values=0,
    )
    blocks = spark.read.parquet(blocks_pq)
    # chunks are bucket-homogeneous and cover all buckets
    assert blocks.select("bucket").distinct().count() == N_BUCKETS
    assert blocks.filter(F.col("bucket") != F.col("bucket_max")).count() == 0
    out_pq = str(tmp_path / "decoded")
    assert decode_to_parquet_direct(spark, blocks_pq, out_pq, n_tasks=4) == (
        N_DOCS
    )
    decoded = spark.read.parquet(out_pq)
    res = verify_roundtrip(spark.read.parquet(tokens_pq), decoded).first()
    assert (res.n_docs, res.n_match, res.n_mismatch) == (N_DOCS, N_DOCS, 0)


def test_checksum_verify_matches_catalyst_and_detects_mismatch(
    spark, tokens_pq, tmp_path
):
    from mapbox_vector_tile_spark.engine.verify import (
        verify_roundtrip_checksums,
        with_doc_checksums,
    )
    from mapbox_vector_tile_spark.sources.parquet_direct import (
        decoded_doc_checksums_direct,
        doc_checksums_direct,
    )

    # worker-side checksums == Catalyst aggregate checksums, doc by doc
    direct = {
        r.doc_id: (r.n_tok, r.tok_cks, r.tok_wcks)
        for r in doc_checksums_direct(spark, tokens_pq).collect()
    }
    catalyst = {
        r.doc_id: (r.n_tok, r.tok_cks, r.tok_wcks)
        for r in with_doc_checksums(spark.read.parquet(tokens_pq))
        .select("doc_id", "n_tok", "tok_cks", "tok_wcks")
        .collect()
    }
    assert direct == catalyst

    blocks_pq = str(tmp_path / "blocks")
    exchange_encode_fused_direct(spark, tokens_pq, blocks_pq, N_BUCKETS)
    o = doc_checksums_direct(spark, tokens_pq)
    d = decoded_doc_checksums_direct(spark, blocks_pq)
    res = verify_roundtrip_checksums(o, d).first()
    assert (res.n_docs, res.n_match, res.n_mismatch) == (N_DOCS, N_DOCS, 0)
    # a missing doc on one side must count as a mismatch (full-outer join)
    res2 = verify_roundtrip_checksums(
        o.filter(F.col("doc_id") != "doc-00000007"), d
    ).first()
    assert (res2.n_docs, res2.n_mismatch) == (N_DOCS, 1)


def test_direct_checkpoint_resume(spark, tokens_pq, tmp_path):
    """Resumable fused encode with the regime key: crash after 3 tasks,
    resume finishes only the pending set, result round-trips, and a
    mismatched cluster key fails fast."""
    from mapbox_vector_tile_spark.engine.checkpoint import (
        encode_with_checkpoint_fused,
    )
    from mapbox_vector_tile_spark.engine.decode import decode_dataframe

    out = str(tmp_path / "blocks")
    ck = str(tmp_path / "ckpt")
    s1 = encode_with_checkpoint_fused(
        spark, tokens_pq, out, ck, N_BUCKETS, fail_after_tasks=3,
        key_name="regime|doc_id",
    )
    assert s1["tasks_processed"] == 3
    with pytest.raises(ValueError, match="plan mismatch"):
        encode_with_checkpoint_fused(
            spark, tokens_pq, out, ck, N_BUCKETS, key_name="doc_id"
        )
    s2 = encode_with_checkpoint_fused(
        spark, tokens_pq, out, ck, N_BUCKETS, key_name="regime|doc_id"
    )
    assert s2["tasks_processed"] == s2["tasks_total"] - 3
    s3 = encode_with_checkpoint_fused(
        spark, tokens_pq, out, ck, N_BUCKETS, key_name="regime|doc_id"
    )
    assert s3["tasks_processed"] == 0
    res = verify_roundtrip(
        spark.read.parquet(tokens_pq),
        decode_dataframe(spark.read.parquet(out)),
    ).first()
    assert (res.n_docs, res.n_match, res.n_mismatch) == (N_DOCS, N_DOCS, 0)
    assert spark.read.parquet(ck).count() == s2["tasks_total"]


def test_fused_exchange_encode_roundtrip(spark, tokens_pq, tmp_path):
    """Fused path must decode bit-identical to the source, and strict
    bucket homogeneity must cost little compression vs merged tails."""
    from mapbox_vector_tile_spark.engine.decode import decode_dataframe

    blocks_pq = str(tmp_path / "blocks_fused")
    # min_chunk_values=0: strict chunk/bucket homogeneity (partitionBy mode)
    exchange_encode_fused_direct(
        spark, tokens_pq, blocks_pq, N_BUCKETS, key_fn=regime_doc_key,
        n_tasks=4, min_chunk_values=0,
    )
    written = spark.read.parquet(blocks_pq)
    assert written.select("bucket").distinct().count() == N_BUCKETS
    res = verify_roundtrip(
        spark.read.parquet(tokens_pq), decode_dataframe(written)
    ).first()
    assert (res.n_docs, res.n_match, res.n_mismatch) == (N_DOCS, N_DOCS, 0)

    # compression within ~5% of the default (merged-tail) layout
    merged = exchange_encode_fused_direct(
        spark, tokens_pq, str(tmp_path / "blocks_merged"), N_BUCKETS,
        key_fn=regime_doc_key, n_tasks=4,
    )
    b1 = written.agg(F.sum("bytes_enc")).first()[0]
    assert b1 <= 1.05 * merged["bytes_enc"]


def test_fused_min_chunk_merging(spark, tokens_pq, tmp_path):
    """Default fused mode merges sub-budget bucket segments: n_chunks stays
    O(tasks), not O(tasks x buckets), the round trip is still bit-exact, and
    every chunk's bucket is its first row's bucket under the shared cuts."""
    from mapbox_vector_tile_spark.engine.decode import decode_dataframe

    blocks_pq = str(tmp_path / "blocks_merged")
    cuts = plan_weighted_cuts(
        spark, list_parquet_files(tokens_pq), N_BUCKETS, key_fn=regime_doc_key
    )
    exchange_encode_fused_direct(
        spark, tokens_pq, blocks_pq, N_BUCKETS, key_fn=regime_doc_key,
        n_tasks=4, cuts=cuts,
    )
    written = spark.read.parquet(blocks_pq)
    n_chunks = written.count()
    # the corpus is far below min_chunk_values per task: every task's
    # buckets merge into ~one chunk instead of one chunk per (task, bucket)
    assert n_chunks <= 2 * 4, n_chunks
    # merged chunks: bucket == bucket of the lowest-key row in the chunk
    for row in written.select("bucket", "doc_ids").collect():
        import numpy as np

        from mapbox_vector_tile_spark.corpus import regime_of

        nums = np.array([int(d[4:]) for d in row.doc_ids], dtype=np.int64)
        keys = [
            f"{int(r)}|{d}" for r, d in zip(regime_of(nums), row.doc_ids)
        ]
        assert row.bucket == bisect_left(cuts, min(keys))
    res = verify_roundtrip(
        spark.read.parquet(tokens_pq), decode_dataframe(written)
    ).first()
    assert (res.n_docs, res.n_match, res.n_mismatch) == (N_DOCS, N_DOCS, 0)


def test_exchange_task_retry_overwrites(spark, tokens_pq, tmp_path):
    # deterministic fragment names: rerunning the encode into the same
    # directory must not duplicate rows (the task-retry contract)
    out = str(tmp_path / "blocks")
    s1 = exchange_encode_fused_direct(spark, tokens_pq, out, N_BUCKETS)
    s2 = exchange_encode_fused_direct(spark, tokens_pq, out, N_BUCKETS)
    assert s1["cuts"] == s2["cuts"]
    written = spark.read.parquet(out).agg(F.sum("n_rows")).first()[0]
    assert written == N_DOCS


def test_exchange_rerun_at_different_parallelism_wipes_stale_fragments(
    spark, tokens_pq, tmp_path
):
    """An interrupted encode redone at different parallelism groups files
    differently (fragment names = part-{task_id}); stale fragments from the
    first attempt must not survive as duplicate rows."""
    import os

    out = str(tmp_path / "blocks")
    exchange_encode_fused_direct(spark, tokens_pq, out, N_BUCKETS, n_tasks=4)
    # simulate the interruption: drop _SUCCESS, leave all 4-task fragments
    os.remove(os.path.join(out, "_SUCCESS"))
    # resume at different parallelism -> different part-ids
    exchange_encode_fused_direct(spark, tokens_pq, out, N_BUCKETS, n_tasks=2)
    written = spark.read.parquet(out).agg(F.sum("n_rows")).first()[0]
    assert written == N_DOCS


def test_fused_direct_summary_matches_written(spark, tokens_pq, tmp_path):
    """The summary totals equal the written table's; the manifest sidecar
    carries per-fragment chunk counts; decode is bit-identical."""
    import json
    import os

    from mapbox_vector_tile_spark.engine.decode import decode_dataframe

    cuts = plan_weighted_cuts(
        spark, list_parquet_files(tokens_pq), N_BUCKETS, key_fn=regime_doc_key
    )
    out = str(tmp_path / "blocks_direct")
    summary = exchange_encode_fused_direct(
        spark, tokens_pq, out, N_BUCKETS, key_fn=regime_doc_key,
        n_tasks=4, cuts=cuts,
    )
    written = spark.read.parquet(out)
    agg = written.agg(
        F.count(F.lit(1)), F.sum("n_values"), F.sum("bytes_enc"),
        F.sum("n_rows"),
    ).first()
    assert summary["n_chunks"] == agg[0]
    assert summary["n_values"] == agg[1]
    assert summary["bytes_enc"] == agg[2]
    assert summary["n_rows"] == agg[3] == N_DOCS
    res = verify_roundtrip(
        spark.read.parquet(tokens_pq), decode_dataframe(written)
    ).first()
    assert (res.n_docs, res.n_match, res.n_mismatch) == (N_DOCS, N_DOCS, 0)
    with open(os.path.join(out, "_manifest.json")) as fh:
        counts = json.load(fh)["row_counts"]
    assert sum(counts.values()) == summary["n_chunks"]
    assert os.path.exists(os.path.join(out, "_SUCCESS"))


def test_fused_manifest_zone_maps_and_file_pruning(spark, tmp_path):
    """The fused sink records each fragment's doc-id envelope in
    _manifest.json; range scans drop whole fragments from the file list
    BEFORE any footer is opened, and the pruned decode stays exact."""
    import json
    import os

    from mapbox_vector_tile_spark.engine.decode import (
        decode_dataframe,
        decode_doc_range,
    )
    from mapbox_vector_tile_spark.engine.exchange import (
        exchange_encode_fused_direct,
    )
    from mapbox_vector_tile_spark.sources.parquet_direct import (
        blocks_scan,
        list_parquet_files,
        prune_files_by_doc_range,
    )

    tokens = str(tmp_path / "tokens_ranged")
    G.corpus_dataframe(spark, N_DOCS, num_partitions=4).repartitionByRange(
        8, "doc_id"
    ).write.parquet(tokens)
    out = str(tmp_path / "blocks_zm")
    exchange_encode_fused_direct(spark, tokens, out, N_BUCKETS, n_tasks=8)

    with open(os.path.join(out, "_manifest.json")) as fh:
        man = json.load(fh)
    files = list_parquet_files(out)
    assert set(man["file_stats"]) == {
        os.path.relpath(f, out) for f in files
    }
    for st in man["file_stats"].values():
        assert st["min_doc_id"] <= st["max_doc_id"]

    lo, hi = "doc-00000150", "doc-00000350"
    kept = prune_files_by_doc_range(files, lo, hi)
    assert 0 < len(kept) < len(files)
    # conservative for every in-range doc: union of kept files' envelopes
    # covers [lo, hi) intersected with the corpus
    scan = blocks_scan(spark, out, doc_range=(lo, hi))
    assert set(scan.inputFiles()) <= {f"file://{f}" for f in files}
    assert len(scan.inputFiles()) == len(kept)

    got = {
        r.doc_id: list(r.tokens)
        for r in decode_doc_range(scan, lo, hi).collect()
    }
    want = {
        r.doc_id: list(r.tokens)
        for r in decode_dataframe(
            blocks_scan(spark, out)
        ).filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).collect()
    }
    assert got == want and len(got) > 0

    # fully-disjoint range: everything pruned, empty frame, schema intact
    empty = blocks_scan(spark, out, doc_range=("doc-99999990", None))
    assert empty.count() == 0
    assert "payload" in empty.columns


def test_direct_doc_range_decode_matches_catalyst(spark, tmp_path):
    """decode_to_parquet_direct(doc_range=...) — the worker-side-sink twin
    of blocks_scan + decode_doc_range: same rows, manifest file pruning,
    empty-range contract."""
    from mapbox_vector_tile_spark.engine.decode import (
        decode_dataframe,
    )
    from mapbox_vector_tile_spark.engine.exchange import (
        exchange_encode_fused_direct,
    )
    from mapbox_vector_tile_spark.sources.parquet_direct import (
        decode_to_parquet_direct,
        doc_checksums_direct,
    )

    tokens = str(tmp_path / "toks_rng")
    G.corpus_dataframe(spark, N_DOCS, num_partitions=4).repartitionByRange(
        8, "doc_id"
    ).write.parquet(tokens)
    blocks = str(tmp_path / "blk_rng")
    exchange_encode_fused_direct(spark, tokens, blocks, N_BUCKETS, n_tasks=8)

    lo, hi = "doc-00000120", "doc-00000360"
    out = str(tmp_path / "dec_rng")
    n = decode_to_parquet_direct(spark, blocks, out, doc_range=(lo, hi))
    got = {
        r.doc_id: list(r.tokens)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r.doc_id: list(r.tokens)
        for r in decode_dataframe(spark.read.parquet(blocks))
        .filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        .collect()
    }
    assert got == want and n == len(want) > 0

    # disjoint range: zero rows, valid empty dataset with _SUCCESS that
    # reads back and checksums as zero rows
    import os

    out2 = str(tmp_path / "dec_empty")
    assert decode_to_parquet_direct(
        spark, blocks, out2, doc_range=("doc-99999000", "doc-99999999")
    ) == 0
    assert os.path.exists(os.path.join(out2, "_SUCCESS"))
    assert spark.read.parquet(out2).count() == 0
    assert doc_checksums_direct(spark, out2).count() == 0


def test_blocks_files_metadata_table(spark, tmp_path):
    """Per-fragment chunk counts + doc envelopes come from the manifest
    alone — no parquet footers opened (poison-proof)."""
    from mapbox_vector_tile_spark.engine.exchange import (
        exchange_encode_fused_direct,
    )
    from mapbox_vector_tile_spark.sources.parquet_direct import (
        file_row_counts,
        list_parquet_files,
        manifest_file_stats,
    )

    tokens = str(tmp_path / "toks_meta")
    G.corpus_dataframe(spark, 300, num_partitions=4).repartitionByRange(
        4, "doc_id"
    ).write.parquet(tokens)
    out = str(tmp_path / "blk_meta")
    exchange_encode_fused_direct(spark, tokens, out, N_BUCKETS, n_tasks=4)

    files = list_parquet_files(out)
    # poison every fragment: a footer read would now throw
    for f in files:
        with open(f, "r+b") as fh:
            fh.seek(0, 2)
            size = fh.tell()
            fh.seek(size - 4)
            fh.write(b"XXXX")
    counts = file_row_counts(spark, files)
    stats = manifest_file_stats(files)
    assert sorted(counts) == sorted(stats) == sorted(files)
    assert all(n > 0 for n in counts.values())
    assert all(s["min_doc_id"] <= s["max_doc_id"] for s in stats.values())
