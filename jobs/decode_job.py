"""spark-submit entry point: distributed decode job (inverse of encode_job).

    spark-submit --master <cluster> --py-files dist/mvt_spark.zip \
        jobs/decode_job.py \
        --input  /path/to/blocks_table \
        --output /path/to/tokens_out \
        [--verify-against /path/to/original_tokens] [--doc-range LO:HI]

Decodes every block worker-side (pyarrow scan -> numpy kernels -> pyarrow
parquet sink; token arrays never cross the JVM row boundary) and optionally
verifies the result against an original tokens table via the per-doc
checksum metadata join. ``--doc-range`` switches to the selective path:
whole fragments prune from the plan via the ``_manifest.json`` zone maps,
chunk zone maps prune inside the survivors, and only the range decodes
(verification then covers exactly that slice). Prints one JSON summary
line.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="distributed token-decode job")
    p.add_argument("--input", required=True, help="blocks parquet path")
    p.add_argument("--output", required=True, help="tokens output path")
    p.add_argument("--verify-against", default=None,
                   help="original tokens parquet to checksum-verify against")
    p.add_argument("--n-tasks", type=int, default=None)
    p.add_argument("--doc-range", default=None, metavar="LO:HI",
                   help="selective decode of doc_id in [LO, HI): fragments "
                        "prune at the MANIFEST level (file zone maps), then "
                        "chunk zone maps prune inside the survivors")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from mapbox_vector_tile_spark.sources.parquet_direct import (
        decode_to_parquet_direct,
        doc_checksums_direct,
    )

    spark = SparkSession.builder.appName("mvt-spark-decode").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    doc_range = None
    if args.doc_range:
        lo, sep, hi = args.doc_range.partition(":")
        if not (sep and lo and hi):
            raise SystemExit("--doc-range wants LO:HI (both ends)")
        doc_range = (lo, hi)
    n_rows = decode_to_parquet_direct(
        spark,
        args.input,
        args.output,
        n_tasks=args.n_tasks,
        doc_range=doc_range,
    )
    summary = {"rows_decoded": n_rows, "output": args.output}
    if args.verify_against:
        from pyspark.sql import functions as F

        from mapbox_vector_tile_spark.engine.verify import (
            verify_roundtrip_checksums,
        )

        want = doc_checksums_direct(spark, args.verify_against)
        if args.doc_range:
            # verify exactly the requested slice of the original
            want = want.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            )
        res = verify_roundtrip_checksums(
            want,
            doc_checksums_direct(spark, args.output),
        ).first()
        summary.update(
            n_docs=res.n_docs, n_match=res.n_match, n_mismatch=res.n_mismatch
        )
    print(json.dumps(summary))
    spark.stop()
    return 0 if summary.get("n_mismatch", 0) == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
