"""spark-submit entry point: resumable distributed encode job.

North-rule deployment form:

    python tools/build_pyfiles.py                       # -> dist/mvt_spark.zip
    spark-submit --master <cluster> \
        --py-files dist/mvt_spark.zip \
        jobs/encode_job.py \
        --input  /path/to/tokens_table \
        --output /path/to/blocks_table \
        --checkpoint /path/to/lineage_table \
        --num-buckets 512 [--codec auto] [--sort-col regime|doc_id]

The job runs the fused exchange+encode with a worker-side sink
(``engine.checkpoint.encode_with_checkpoint_fused``) and is idempotent at
task granularity: each task turns one planned input file group into one
blocks fragment, a rerun after an interruption encodes only the tasks
without a ``done`` lineage row, and task reruns overwrite their own
fragment (never duplicate). The last run writes ``_manifest.json`` and
``_SUCCESS``. ``--input`` also takes ``iceberg://<table>[@<snapshot>]``;
tables with live delete files must be rewritten (``rewrite_data_files``)
first. The last stdout line is a JSON summary with
``tasks_total``/``tasks_pending``/``tasks_processed``.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="resumable token-encode job")
    p.add_argument("--input", required=True, help="tokens parquet/Iceberg path")
    p.add_argument("--output", required=True, help="blocks output path")
    p.add_argument("--checkpoint", required=True, help="lineage/checkpoint path")
    p.add_argument("--num-buckets", type=int, default=32)
    p.add_argument("--codec", default=None, help="force codec (default: auto)")
    p.add_argument("--sort-col", default="doc_id",
                   help="cluster key for size-weighted buckets: doc_id or "
                        "regime|doc_id")
    p.add_argument("--validate", action="store_true")
    p.add_argument("--fail-after", type=int, default=None,
                   help="test hook: stop after N tasks (simulated crash)")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from mapbox_vector_tile_spark.engine.checkpoint import (
        encode_with_checkpoint_fused,
    )
    from mapbox_vector_tile_spark.engine.encode import EncodeOptions

    spark = SparkSession.builder.appName("mvt-spark-encode").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    opts = EncodeOptions(
        codec=None if args.codec in (None, "auto") else args.codec,
        validate=args.validate,
    )
    summary = encode_with_checkpoint_fused(
        spark,
        args.input,
        args.output,
        args.checkpoint,
        num_buckets=args.num_buckets,
        options=opts,
        fail_after_tasks=args.fail_after,
        key_name=args.sort_col,
    )
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
