"""Benchmark: headline engine queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line (driver contract).

Corpus scales with the sf dir (n_docs = documents_rows x SPARK_GRAFT_BENCH_MULT,
default 40 -> ~110M tokens at sf0.1). Data moves between phases as parquet —
the realistic shape (the north star stores token tables in Iceberg/parquet)
and the fast one (vectorized columnar scan -> Arrow, no row-object boxing).

Timed phases:
  q_generate    distributed corpus synthesis -> tokens parquet (worker sink)
  q_partition   cut planning (stride sample -> weighted quantiles)
  q_encode      sort + bucket + encode in one worker pass over the source
                parquet, worker-side blocks sink (engine/exchange.py
                exchange_encode_fused_direct): parquet -> Arrow -> numpy ->
                parquet in workers, no JVM row boxing of token arrays
  q_decode      blocks parquet -> mapInArrow decode -> token count agg
  q_verify      per-doc checksum metadata join (worker-side order-sensitive
                checksums both sides; arrays never cross to the JVM)

Headline value = total seconds; extra keys carry tokens/sec, GB/s, and
compressed size vs raw and vs the reference MVT scheme (delta+zigzag+varint,
/root/reference/mapbox_vector_tile/geom_encoder.py:47-76).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _probe_first_touch(procs: int = 4, mb: int = 256) -> float:
    """Aggregate MB/s of ``procs`` processes first-touching fresh buffers
    simultaneously — the load shape the executor pool presents. This VM
    backs guest RAM lazily and its first-touch bandwidth swings ~25 MB/s
    to ~5 GB/s minute-to-minute (BENCH/host_probe.log methodology); the
    probe values recorded in the bench JSON let a reader separate a dirty
    measurement window from a code regression without re-running."""
    import multiprocessing as mp

    def _touch(n_mb: int, q) -> None:
        import numpy as np

        t = time.time()
        a = np.zeros(n_mb * 1024 * 1024, dtype=np.uint8)
        a[::4096] = 1
        q.put(time.time() - t)
        del a

    q = mp.Queue()
    ps = [mp.Process(target=_touch, args=(mb, q)) for _ in range(procs)]
    t0 = time.time()
    for p in ps:
        p.start()
    times = []
    try:
        for _ in ps:
            times.append(q.get(timeout=300))
    except Exception:
        times.append(300.0)  # a killed child reads as a (very) dirty probe
    for p in ps:
        p.join(timeout=10)
        if p.is_alive():
            p.kill()
    wall = max(max(times), time.time() - t0)
    return round(procs * mb / wall, 1)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    mult = int(os.environ.get("SPARK_GRAFT_BENCH_MULT", "40"))
    num_buckets = int(os.environ.get("SPARK_GRAFT_BENCH_BUCKETS", str(cpus)))
    # best-of rep count for the timed encode/decode phases. Reps inside one
    # bench invocation reuse the warm JVM + python workers, so extra reps
    # are the cheapest way to sample past this host's minute-scale slow
    # episodes (BENCH/BASELINE.md); scaling campaigns raise it to 3.
    n_reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    from pyspark.sql import functions as F

    from mapbox_vector_tile_spark.engine import generator as G
    from mapbox_vector_tile_spark.engine.encode import EncodeOptions, encode_dataframe
    from mapbox_vector_tile_spark.engine.exchange import (
        exchange_encode_fused_direct,
        plan_weighted_cuts,
        regime_doc_key,
    )
    from mapbox_vector_tile_spark.engine.session import get_spark
    from mapbox_vector_tile_spark.engine.verify import verify_roundtrip_checksums
    from mapbox_vector_tile_spark.sources.parquet_direct import list_parquet_files

    spark = get_spark(
        app_name="mvt-spark-bench",
        cpus=cpus,
        shuffle_partitions=max(cpus, num_buckets),
        extra_conf={
            # bench inputs are many small files; size splits so the scan
            # fans out to every core (at 100 TB the default 128m is right)
            "spark.sql.files.maxPartitionBytes": "8m",
            "spark.sql.files.openCostInBytes": "1m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Warm Python workers (imports + first-touch page faults) before timing:
    # a real cluster runs warm executors; this measures steady state.
    G.corpus_dataframe(spark, 64 * cpus, num_partitions=2 * cpus).count()
    encode_dataframe(
        G.corpus_dataframe(spark, 64 * cpus, num_partitions=2 * cpus)
    ).count()
    warm_dir = tempfile.mkdtemp(prefix="mvt_warm_")
    try:
        G.write_corpus_parquet_direct(
            spark, 64 * cpus, f"{warm_dir}/tokens", num_partitions=2 * cpus,
            checksums_path=f"{warm_dir}/tokens_cks",
        )
    finally:
        shutil.rmtree(warm_dir, ignore_errors=True)

    import pyarrow.parquet as pq

    n_base = pq.read_metadata(f"{sf_dir}/documents.parquet").num_rows
    n_docs = n_base * mult

    # SPARK_GRAFT_BENCH_CACHE: reuse the (deterministic) generated corpus
    # across runs so scaling comparisons re-measure only the gated phases
    cache = os.environ.get("SPARK_GRAFT_BENCH_CACHE")
    work = cache or tempfile.mkdtemp(prefix="mvt_bench_")
    os.makedirs(work, exist_ok=True)
    tokens_pq = f"{work}/tokens_{n_docs}"
    cks_pq = f"{work}/tokens_{n_docs}_cks"
    blocks_pq = f"{work}/blocks"
    queries: dict[str, float] = {}
    probes: dict[str, float] = {"pre_generate": _probe_first_touch()}
    t_all = time.time()
    try:
        t = time.time()
        if not os.path.exists(f"{tokens_pq}/_SUCCESS"):
            n_written = G.write_corpus_parquet_direct(
                spark, n_docs, tokens_pq, num_partitions=4 * cpus,
                checksums_path=cks_pq,
            )
            assert n_written == n_docs, (n_written, n_docs)
        queries["q_generate"] = round(time.time() - t, 3)

        # cluster by content regime so chunks are distribution-homogeneous and
        # the per-chunk selector can beat the one-size-fits-all reference
        # scheme (the table-level analog of the reference's delta-minimizing
        # reorder, /root/reference/mapbox_vector_tile/optimise.py:133-163).
        # best-of-2 on the encode phase: this VM backs guest RAM lazily, so
        # whichever run first touches fresh pages pays a ~100 MB/s
        # first-touch tax; the second run measures steady state (what a
        # warm cluster delivers)
        probes["pre_encode"] = _probe_first_touch()
        t = time.time()
        cuts = plan_weighted_cuts(
            spark, list_parquet_files(tokens_pq), num_buckets,
            key_fn=regime_doc_key,
        )
        queries["q_partition"] = round(time.time() - t, 3)
        best = None
        # 2*cpus writer tasks: sizes the blocks file count for the
        # decode side's parallelism (decode tasks = file groups).
        # Worker-side sink: encoded payloads go numpy -> Arrow ->
        # parquet inside each task; the JVM sees one manifest row per
        # task, so payloads are never boxed into JVM rows
        for _ in range(n_reps):
            t = time.time()
            exchange_encode_fused_direct(
                spark, tokens_pq, blocks_pq, num_buckets, EncodeOptions(),
                key_fn=regime_doc_key, n_tasks=2 * cpus, cuts=cuts,
            )
            dt = round(time.time() - t, 3)
            best = dt if best is None else min(best, dt)
        queries["q_encode"] = best

        written = spark.read.parquet(blocks_pq)
        sizes = written.agg(
            F.sum("bytes_raw").alias("raw"),
            F.sum("bytes_enc").alias("enc"),
            F.sum("bytes_ref").alias("ref"),
            F.sum("n_values").alias("vals"),
            F.sum("n_rows").alias("rows"),
            F.count(F.lit(1)).alias("chunks"),
        ).first()
        total_tokens = int(sizes.vals)
        assert sizes.rows == n_docs, (sizes.rows, n_docs)

        from mapbox_vector_tile_spark.sources.parquet_direct import (
            decoded_doc_checksums_direct,
        )

        # q_decode decodes every block AND emits per-doc checksum rows —
        # the decode output verify needs, so verify is a pure metadata
        # join (warm path) instead of a second decode + corpus re-scan.
        # rep 2 persists: still a full decode (plus the 200k-row cache
        # write); best-of-2 keeps the honest minimum. Scaling mode
        # (verify skipped) times the same decode and never persists.
        skip_verify = os.environ.get("SPARK_GRAFT_BENCH_SKIP_VERIFY") == "1"
        dec = None
        best = None
        for rep in range(n_reps):
            df = decoded_doc_checksums_direct(
                spark, blocks_pq, n_tasks=2 * cpus
            )
            if rep == n_reps - 1 and not skip_verify:
                df = df.persist()
            t = time.time()
            dec_tokens = df.agg(F.sum("n_tok")).first()[0]
            dt = round(time.time() - t, 3)
            best = dt if best is None else min(best, dt)
            assert dec_tokens == total_tokens, (dec_tokens, total_tokens)
            dec = df
        queries["q_decode"] = best

        match_rate = None
        if not skip_verify:
            from mapbox_vector_tile_spark.sources.parquet_direct import (
                doc_checksums_direct,
            )

            t = time.time()
            # source side: the checksum sidecar written during q_generate
            # (fall back to a corpus re-scan for pre-sidecar cached dirs)
            if os.path.exists(f"{cks_pq}/_SUCCESS"):
                src_cks = spark.read.parquet(cks_pq)
            else:
                src_cks = doc_checksums_direct(spark, tokens_pq, n_tasks=2 * cpus)
            res = verify_roundtrip_checksums(src_cks, dec).first()
            queries["q_verify"] = round(time.time() - t, 3)
            assert res.n_mismatch == 0 and res.n_docs == n_docs, res
            match_rate = res.n_match / res.n_docs
    finally:
        if cache:
            shutil.rmtree(blocks_pq, ignore_errors=True)
        else:
            shutil.rmtree(work, ignore_errors=True)

    total = round(time.time() - t_all, 3)
    enc_tps = total_tokens / queries["q_encode"]
    dec_tps = total_tokens / queries["q_decode"]
    result = {
        "metric": "encode+decode+verify wall, synthetic token corpus",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "n_docs": n_docs,
        "total_tokens": total_tokens,
        "cpus": cpus,
        "encode_tokens_per_sec": round(enc_tps),
        "decode_tokens_per_sec": round(dec_tps),
        "encode_gb_per_sec": round(4 * enc_tps / 1e9, 3),
        "bytes_raw": int(sizes.raw),
        "bytes_enc": int(sizes.enc),
        "bytes_ref": int(sizes.ref),
        "compression_ratio_vs_raw": round(sizes.raw / sizes.enc, 3),
        "bytes_vs_reference_scheme": round(sizes.enc / sizes.ref, 4),
        "n_chunks": int(sizes.chunks),
        # None (JSON null) when the verify phase was skipped — a rate is
        # only reported when it was actually measured this run
        "roundtrip_match_rate": match_rate,
        # sustained multi-process first-touch MB/s before q_generate and
        # before q_encode: this host's lazy RAM backing swings 25 MB/s -
        # 5 GB/s minute-to-minute, so these separate a dirty measurement
        # window from a code regression (campaign methodology,
        # BENCH/host_probe.log); clean windows read >= ~1500 MB/s
        "probe_mb_s": probes,
    }
    print(json.dumps(result))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
