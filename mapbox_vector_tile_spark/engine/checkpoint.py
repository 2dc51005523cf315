"""Checkpoint / resume at task granularity (north rule).

Spark restarts *stages*, not *jobs* — an interrupted 100 TB encode would
otherwise start over. :func:`encode_with_checkpoint_fused` runs the fused
exchange+encode (:mod:`.exchange`) resumably:

1. the first run persists a plan sidecar: cuts, bucket count, cluster key
   and the file grouping, so every later run encodes the same fragments;
2. each finished task appends one lineage/metrics row (n_rows, n_values,
   bytes in/out/ref, chunk count, fragment path, wall ms, run_id) — the
   explicit form of the reference's implicit compressed-size accounting;
3. a rerun skips the tasks with a ``done`` lineage row and encodes only the
   pending ones. Fragment names are deterministic and writes atomic, so a
   task that died mid-write is simply redone in place.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.utils import AnalysisException

from ..sources.parquet_direct import group_files_by_size, list_parquet_files
from .encode import EncodeOptions
from .exchange import (
    CLUSTER_KEYS,
    _fused_direct_run,
    commit_blocks,
    plan_weighted_cuts,
)

# Plan sidecar: leading "_" so parquet readers ignore it (like _SUCCESS).
# The cut boundaries and file grouping MUST be identical across runs —
# planning depends on the cluster size, so a resume on a different cluster
# config would otherwise re-derive a different plan and the 'done' markers
# would describe different row sets.
_PLAN_FILE = "_bucket_plan.json"


def _read_plan(ckpt_dir: str) -> dict | None:
    path = os.path.join(ckpt_dir, _PLAN_FILE)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def _write_plan(ckpt_dir: str, plan: dict) -> None:
    os.makedirs(ckpt_dir, exist_ok=True)
    tmp = os.path.join(ckpt_dir, _PLAN_FILE + ".tmp")
    with open(tmp, "w") as f:
        json.dump(plan, f)
    os.replace(tmp, os.path.join(ckpt_dir, _PLAN_FILE))


FUSED_CHECKPOINT_SCHEMA = (
    "task_id int, run_id string, status string, n_rows long, n_values long, "
    "bytes_raw long, bytes_enc long, bytes_ref long, n_chunks long, "
    "path string, min_doc_id string, max_doc_id string, "
    "wall_ms long, finished_at double"
)


def done_tasks(spark: SparkSession, ckpt_dir: str) -> set[int]:
    try:
        ck = spark.read.parquet(ckpt_dir)
    except AnalysisException:
        return set()
    return {
        r.task_id
        for r in ck.filter(F.col("status") == "done")
        .select("task_id")
        .distinct()
        .collect()
    }


def encode_with_checkpoint_fused(
    spark: SparkSession,
    tokens_path: str,
    out_dir: str,
    ckpt_dir: str,
    num_buckets: int = 32,
    options: EncodeOptions | None = None,
    run_id: str | None = None,
    fail_after_tasks: int | None = None,
    key_name: str = "doc_id",
    n_tasks: int | None = None,
) -> dict:
    """Resumable form of :func:`.exchange.exchange_encode_fused_direct`:
    resume granularity is the task (one input file group -> one blocks
    fragment). ``key_name`` picks the cluster key from
    :data:`.exchange.CLUSTER_KEYS`; ``fail_after_tasks`` runs only that many
    pending tasks and returns (the simulated-crash test hook).

    The persisted plan pins cuts, bucket count, cluster key AND the file
    grouping — a resume on a different cluster size must encode the same
    fragments the first run planned, or the done-markers would describe
    different row sets. Each finished task appends one lineage/metrics row
    (bytes in/enc/ref, chunk count, fragment path, wall ms, run_id), but
    only after the run's count check passed (every planned task reported
    and wrote the docs it read); a rerun encodes only the tasks without a
    ``done`` row. When the last task lands, the job writes the dataset
    ``_manifest.json`` (per-fragment chunk counts, from lineage) and
    ``_SUCCESS``. Returns ``tasks_total``/``tasks_pending``/
    ``tasks_processed`` and the ``run_id``.
    """
    if key_name not in CLUSTER_KEYS:
        raise ValueError(
            f"unknown key_name {key_name!r}; valid: {sorted(CLUSTER_KEYS)}"
        )
    opts = options or EncodeOptions()
    run_id = run_id or uuid.uuid4().hex[:12]
    plan = _read_plan(ckpt_dir)
    if plan is None:
        files = list_parquet_files(tokens_path)
        if not files:
            raise ValueError(f"no parquet files under {tokens_path}")
        cuts = plan_weighted_cuts(
            spark, files, num_buckets, key_fn=CLUSTER_KEYS[key_name]
        )
        groups = group_files_by_size(
            files, n_tasks or spark.sparkContext.defaultParallelism
        )
        plan = {
            "kind": "fused",
            "cuts": cuts,
            "num_partitions": num_buckets,
            "sort_col": key_name,
            "groups": groups,
        }
        _write_plan(ckpt_dir, plan)
    else:
        if (
            plan.get("kind") != "fused"
            or plan["num_partitions"] != num_buckets
            or plan["sort_col"] != key_name
        ):
            raise ValueError(
                "checkpoint plan mismatch: recorded "
                f"(kind={plan.get('kind')!r}, "
                f"num_partitions={plan['num_partitions']}, "
                f"sort_col={plan['sort_col']!r}) but caller supplied "
                f"(kind='fused', num_partitions={num_buckets}, "
                f"sort_col={key_name!r}); resume must reuse the original plan"
            )
    groups = plan["groups"]
    cuts = plan["cuts"]
    total = len(groups)
    done = done_tasks(spark, ckpt_dir)
    pending = [
        (i, g) for i, g in enumerate(groups) if i not in done
    ]
    if fail_after_tasks is not None:
        pending = pending[:fail_after_tasks]
    processed = 0
    if pending:
        t0 = time.time()
        manifest = _fused_direct_run(
            spark, pending, out_dir, opts, cuts,
            CLUSTER_KEYS[key_name], ("doc_id",), opts.max_chunk_values // 4,
        )
        wall_ms = int((time.time() - t0) * 1000)
        now = time.time()
        rows = [
            (
                int(r.task_id), run_id, "done", int(r.n_rows),
                int(r.n_values), int(r.bytes_raw), int(r.bytes_enc),
                int(r.bytes_ref), int(r.n_chunks), r.path,
                r.min_doc_id, r.max_doc_id, wall_ms, now,
            )
            for r in manifest
        ]
        spark.createDataFrame(rows, FUSED_CHECKPOINT_SCHEMA).write.mode(
            "append"
        ).parquet(ckpt_dir)
        processed = len(rows)
    if len(done_tasks(spark, ckpt_dir)) == total:
        # mergeSchema: a resume may mix checkpoint files written before
        # min_doc_id/max_doc_id joined FUSED_CHECKPOINT_SCHEMA with new
        # 14-column ones; without it, inference can pick the old schema
        # and fail the select (or silently null the envelope depending on
        # which file wins). Pre-envelope rows read as null -> recorded as
        # "no stats" in the manifest (conservative keep at scan time).
        ck = spark.read.option("mergeSchema", "true").parquet(ckpt_dir)
        for c in ("min_doc_id", "max_doc_id"):
            if c not in ck.columns:
                ck = ck.withColumn(c, F.lit(None).cast("string"))
        frag_rows = (
            ck.filter((F.col("status") == "done") & (F.col("path") != ""))
            .select("path", "n_chunks", "min_doc_id", "max_doc_id")
            .collect()
        )
        commit_blocks(out_dir, frag_rows)
    return {
        "run_id": run_id,
        "tasks_total": total,
        "tasks_pending": len(pending),
        "tasks_processed": processed,
    }
