"""Fused size-weighted exchange + encode: the engine's one bulk encode.

A tokens parquet table becomes a blocks table in one worker pass, without a
JVM row shuffle and without a bucketed intermediate:

1. **plan**: stride-sample ``(cluster_key, weight)`` from the input parquet
   (column-pruned worker-side scans) and cut at equal cumulative-weight
   quantiles. The stride depends only on file contents and the file count,
   so two runs at different parallelism produce identical buckets;
2. **exchange + encode**: each task streams its file group one file at a
   time — pyarrow read, sort by the cluster key, bucket by binary search
   over the broadcast cuts — into the engine's one chunker
   (``engine/encode._FusedChunkEmitter``, one per task), and writes one
   blocks fragment per task with pyarrow (deterministic name, atomic
   tmp+rename, so retries overwrite instead of duplicating).

Bytes flow parquet -> Arrow -> numpy -> parquet inside workers; the JVM sees
only file-task rows and one manifest row per task. Clustering by content
keeps chunks distribution-homogeneous, the distribution analog of the
reference encoder's greedy reorder (``optimise.py``) that groups similar
values so deltas stay small.

At 100 TB: the sample pass reads two small columns (statistics could also
come from table-format column metrics); each task handles one
executor-sized file group and writes one full-sized fragment.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from ..sources.parquet_direct import (
    check_planned_tasks,
    group_files_by_size,
    list_parquet_files,
    task_rows_dataframe,
    write_file_manifest,
    write_parquet_atomic,
)
from .encode import EncodeOptions, _flatten_tokens, _FusedChunkEmitter


def doc_id_key(table: pa.Table | pa.RecordBatch) -> pa.Array:
    """Default cluster key: the doc_id column itself."""
    col = table.column("doc_id")
    return col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col


def regime_doc_key(table: pa.Table | pa.RecordBatch) -> pa.Array:
    """``{regime}|{doc_id}`` — the bench cluster key (same formula as
    ``engine.verify.regime_expr``), computed Arrow-side, no per-row Python."""
    doc_id = table.column("doc_id")
    if isinstance(doc_id, pa.ChunkedArray):
        doc_id = doc_id.combine_chunks()
    num = pc.cast(pc.utf8_slice_codeunits(doc_id, 4, 12), pa.int64()).to_numpy()
    regime = np.where(num % 131 == 13, 8, num % 8)
    return pc.binary_join_element_wise(
        pc.cast(pa.array(regime, pa.int64()), pa.string()), doc_id, "|"
    )


#: named cluster keys, for callers that persist the key choice by name
#: (the resumable job's bucket plan, the spark-submit ``--sort-col`` flag)
CLUSTER_KEYS: dict[str, Callable[[pa.Table], pa.Array]] = {
    "doc_id": doc_id_key,
    "regime|doc_id": regime_doc_key,
}


def _utf8_fixed_bytes(keys: pa.Array, width: int = 0) -> np.ndarray:
    """UTF-8 key column -> fixed-width numpy ``S`` array, fully vectorized.

    NUL-padded byte-wise comparison orders exactly like UTF-8 string
    comparison (code-point order), so ``argsort``/``searchsorted`` over the
    result match the Catalyst string expressions — without materializing a
    Python ``str`` per row (``Array.to_pylist`` was the one per-row object
    churn left on the flagship path). ``width`` raises the item size so cut
    boundary strings longer than any key in this batch are never truncated.
    """
    if isinstance(keys, pa.ChunkedArray):
        keys = keys.combine_chunks()
    if keys.null_count:
        raise ValueError("cluster keys must not be null")
    n = len(keys)
    if n == 0:
        return np.empty(0, dtype=f"S{max(width, 1)}")
    large = pa.types.is_large_string(keys.type) or pa.types.is_large_binary(
        keys.type
    )
    off_dt, off_sz = (np.int64, 8) if large else (np.int32, 4)
    offs = np.frombuffer(
        keys.buffers()[1], dtype=off_dt, count=n + 1, offset=off_sz * keys.offset
    ).astype(np.int64)
    data = np.frombuffer(keys.buffers()[2], dtype=np.uint8, count=int(offs[-1]))
    seg = data[offs[0] : offs[-1]]
    # NUL-padding makes 'a' and 'a\x00' compare equal — reject embedded
    # NULs up front (vectorized min scan) rather than silently mis-bucket
    if seg.size and int(seg.min()) == 0:
        raise ValueError(
            "cluster keys must not contain NUL bytes (fixed-width padding "
            "would make keys differing only by trailing \\x00 compare equal)"
        )
    lens = np.diff(offs)
    w = max(int(lens.max()), width, 1)
    if int(lens.min()) == w and int(lens.max()) == w:
        return np.ascontiguousarray(seg).view(f"S{w}")
    out = np.zeros(n * w, dtype=np.uint8)
    rel = offs - offs[0]
    pos = np.arange(seg.size, dtype=np.int64) - np.repeat(rel[:-1], lens)
    out[np.repeat(np.arange(n, dtype=np.int64) * w, lens) + pos] = seg
    return out.view(f"S{w}")


def _cuts_fixed_bytes(cuts: list[str]) -> tuple[np.ndarray, int]:
    """Cut boundaries as a fixed-width ``S`` array + the minimum item width
    every key array must be padded to so comparisons never truncate."""
    if not cuts:
        return np.empty(0, dtype="S1"), 0
    enc = [c.encode("utf-8") for c in cuts]
    w = max(len(e) for e in enc)
    return np.array(enc, dtype=f"S{w}"), w


def plan_weighted_cuts(
    spark: SparkSession,
    files: list[str],
    num_buckets: int,
    key_fn: Callable[[pa.Table], pa.Array] = doc_id_key,
    key_cols: tuple[str, ...] = ("doc_id",),
    weight_col: str = "n_tok",
    sample_target: int = 100_000,
) -> list[str]:
    """Boundary keys at equal cumulative-weight quantiles, from a
    deterministic per-file stride sample of ``(key, weight)``.

    Unlike ``df.sample`` the stride depends only on file contents and the
    file count, so the plan is reproducible across cluster configurations —
    the property checkpoint resume needs (see engine/checkpoint.py). The
    stride is derived per file from its own row count (worker-side), so the
    driver never loops over file footers.
    """
    n_files = len(files)
    if n_files == 0:
        return []
    per_file_target = max(1, sample_target // n_files)
    groups = group_files_by_size(files, spark.sparkContext.defaultParallelism)
    tasks = task_rows_dataframe(
        spark,
        [(i, g) for i, g in enumerate(groups)],
        "task_id int, paths array<string>",
    )
    cols = list(dict.fromkeys([*key_cols, weight_col]))

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for tb in batches:
            for paths in tb.column("paths").to_pylist():
                keys, weights = [], []
                for path in paths:
                    t = pq.read_table(path, columns=cols)
                    stride = max(1, t.num_rows // per_file_target)
                    idx = np.arange(0, t.num_rows, stride, dtype=np.int64)
                    if idx.size == 0:
                        continue
                    s = t.take(pa.array(idx))
                    keys.append(key_fn(s))
                    w = s.column(weight_col)
                    if isinstance(w, pa.ChunkedArray):
                        w = w.combine_chunks()
                    # each sampled row stands for `stride` rows: scale its
                    # weight so differently-sized files stay unbiased
                    weights.append(
                        pc.multiply(
                            pc.cast(w, pa.int64()),
                            pa.scalar(int(stride), pa.int64()),
                        )
                    )
                if keys:
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.concat_arrays([k.combine_chunks() if isinstance(k, pa.ChunkedArray) else k for k in keys]),
                            pa.concat_arrays(weights),
                        ],
                        names=["key", "weight"],
                    )

    # Arrow collect + arrow-side sort: the pickled-Row path (collect() then
    # Row-attribute sort) cost ~2x the sample job itself at 100k samples
    # (measured r6: collect 1.05 s + row sort/walk 0.44 s vs toArrow 0.50 s
    # + 0.09 s). Cut selection is bit-identical: UTF-8 byte order equals
    # code-point order, and the walk below is unchanged.
    sample = tasks.mapInArrow(fn, "key string, weight long").toArrow()
    if sample.num_rows == 0:
        return []
    sample = sample.take(
        pc.sort_indices(sample, sort_keys=[("key", "ascending")])
    )
    keys = sample.column("key").to_pylist()
    weights = np.maximum(
        sample.column("weight").to_numpy(zero_copy_only=False).astype(np.int64),
        1,
    )
    total = int(weights.sum())
    target = total / num_buckets
    cuts, acc = [], 0.0
    for key, w in zip(keys, weights.tolist()):
        acc += w
        if acc >= target * (len(cuts) + 1) and len(cuts) < num_buckets - 1:
            cuts.append(key)
    return cuts


def exchange_encode_fused_direct(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    num_buckets: int,
    options=None,
    key_fn: Callable[[pa.Table], pa.Array] = doc_id_key,
    key_cols: tuple[str, ...] = ("doc_id",),
    weight_col: str = "n_tok",
    n_tasks: int | None = None,
    cuts: list[str] | None = None,
    min_chunk_values: int | None = None,
) -> dict:
    """Encode the tokens parquet table at ``in_path`` into a blocks table at
    ``out_path`` (cleared first): plan cuts (unless ``cuts`` is given), then
    one fused exchange+encode pass with a worker-side parquet sink.

    Each task streams its file group ONE FILE AT A TIME — read, sort by the
    cluster key, bucket, encode — so working memory is O(one file), not
    O(task file group). Chunk composition comes from the per-bucket
    accumulators of ``encode._FusedChunkEmitter``: each bucket's per-file runs
    merge into bucket-pure chunks of up to ``max_chunk_values``, so
    whole-chunk codec state is shared across files; file junctions stay
    recorded as PAGED segment bounds. Each task writes its own fragment
    with pyarrow, so encoded bytes never cross into the JVM (boxing payloads
    into rows for Spark's writer was the encode scaling ceiling).

    ``min_chunk_values`` (default ``max_chunk_values // 4``) governs
    end-of-task tails: a bucket tail at least this large stands alone;
    smaller tails merge with neighbouring buckets into mixed chunks whose
    ``bucket`` is the lowest bucket they span and ``bucket_max`` the
    highest. Pass ``min_chunk_values=0`` for strict chunk/bucket
    homogeneity. Chunks cannot span tasks, so n_chunks >= n_tasks.

    Writes ``_manifest.json`` (per-fragment chunk counts and doc-id zone
    maps, read by the decode side's split planning and range pruning) and
    ``_SUCCESS``. Raises before either if a task wrote a different number
    of docs than it read (the emitter's check) or never reported. Returns a
    summary dict with the manifest totals.
    """
    import shutil

    opts = options or EncodeOptions()
    if min_chunk_values is None:
        min_chunk_values = opts.max_chunk_values // 4
    files = list_parquet_files(in_path)
    if not files:
        raise ValueError(f"no parquet files under {in_path}")
    if cuts is None:
        cuts = plan_weighted_cuts(
            spark, files, num_buckets, key_fn, key_cols, weight_col
        )
    if n_tasks is None:
        n_tasks = spark.sparkContext.defaultParallelism
    if os.path.isdir(out_path):
        shutil.rmtree(out_path, ignore_errors=True)
    groups = list(enumerate(group_files_by_size(files, n_tasks)))
    manifest = _fused_direct_run(
        spark, groups, out_path, opts, cuts, key_fn, key_cols,
        min_chunk_values,
    )
    commit_blocks(out_path, manifest)
    return {
        "n_fragments": sum(1 for r in manifest if r.path),
        "n_chunks": sum(r.n_chunks for r in manifest),
        "n_rows": sum(r.n_rows for r in manifest),
        "n_values": sum(r.n_values for r in manifest),
        "bytes_raw": sum(r.bytes_raw for r in manifest),
        "bytes_enc": sum(r.bytes_enc for r in manifest),
        "bytes_ref": sum(r.bytes_ref for r in manifest),
        "cuts": cuts,
        # per-task wall spans (epoch sec): diagnosing scaling — worker busy
        # time vs scheduling gaps / stragglers / driver-side serial work
        "task_spans": sorted(
            (round(r.t_start, 3), round(r.t_end, 3)) for r in manifest
        ),
    }


def commit_blocks(out_path: str, rows) -> None:
    """Seal a blocks table: ``_manifest.json`` from per-fragment rows
    (``path``, ``n_chunks``, ``min_doc_id``, ``max_doc_id``; rows with an
    empty ``path`` wrote no fragment) and then ``_SUCCESS``."""
    frags = [r for r in rows if r.path]
    write_file_manifest(
        out_path,
        {os.path.relpath(r.path, out_path): int(r.n_chunks) for r in frags},
        file_stats={
            os.path.relpath(r.path, out_path): {
                "min_doc_id": r.min_doc_id, "max_doc_id": r.max_doc_id
            }
            for r in frags
        },
    )
    with open(os.path.join(out_path, "_SUCCESS"), "w"):
        pass


_MANIFEST_SCHEMA = pa.schema(
    [
        ("task_id", pa.int32()),
        ("path", pa.string()),
        ("min_doc_id", pa.string()),
        ("max_doc_id", pa.string()),
        ("n_chunks", pa.int64()),
        ("n_rows", pa.int64()),
        ("n_values", pa.int64()),
        ("bytes_raw", pa.int64()),
        ("bytes_enc", pa.int64()),
        ("bytes_ref", pa.int64()),
        ("t_start", pa.float64()),
        ("t_end", pa.float64()),
    ]
)


def _fused_direct_run(
    spark: SparkSession,
    groups: list[tuple[int, list[str]]],
    out_path: str,
    opts,
    cuts: list[str],
    key_fn: Callable[[pa.Table], pa.Array],
    key_cols: tuple[str, ...],
    min_chunk_values: int,
) -> list:
    """Run fused encode for explicit ``(task_id, paths)`` groups, one
    worker-written fragment per task (atomic rename, deterministic name —
    a task retry or a resumed run overwrites, never duplicates). Returns
    the collected per-task manifest rows, after checking that every
    planned task reported; each task's emitter raises unless it wrote
    exactly the docs it read. Shared by the one-shot sink and the
    checkpoint-resumable job, which passes only its PENDING task groups."""
    cuts_b, cuts_w = _cuts_fixed_bytes(cuts)
    os.makedirs(out_path, exist_ok=True)
    tasks = task_rows_dataframe(
        spark, groups, "task_id int, paths array<string>"
    )
    read_cols = list(dict.fromkeys([*key_cols, "doc_id", "tokens"]))

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import time as _time

        for tb in batches:
            task_ids = tb.column("task_id").to_pylist()
            for task_id, paths in zip(task_ids, tb.column("paths").to_pylist()):
                t0 = _time.time()
                em = _FusedChunkEmitter(opts, task_id, min_chunk_values)
                for path in paths:
                    t = pq.read_table(path, columns=read_cols)
                    if t.num_rows == 0:
                        continue
                    keys_b = _utf8_fixed_bytes(key_fn(t), cuts_w)
                    # corpora are commonly written key-sorted within each
                    # file (the generator's layout, and the natural shape of
                    # a resharded corpus); then the argsort is the identity
                    # and the row gather — a full copy of every token value
                    # — is skipped entirely
                    if keys_b.size < 2 or bool(
                        np.all(keys_b[:-1] <= keys_b[1:])
                    ):
                        keys_sorted = keys_b
                        t = t.combine_chunks()
                    else:
                        order = np.argsort(keys_b, kind="stable")
                        keys_sorted = keys_b[order]
                        t = t.take(pa.array(order)).combine_chunks()
                    if cuts_b.size:
                        buckets = np.searchsorted(
                            cuts_b, keys_sorted, side="left"
                        )
                    else:
                        buckets = np.zeros(keys_b.size, dtype=np.int64)
                    em.add_file(
                        t.column("doc_id").chunk(0),
                        *_flatten_tokens(t.column("tokens").chunk(0)),
                        buckets,
                    )
                em.flush()
                rows = em.rows  # the rows batch() hands over, for the stats
                out = em.batch()
                final = ""
                dmin = dmax = ""
                if out is not None:
                    final = os.path.join(
                        out_path, f"part-{task_id:05d}.parquet"
                    )
                    write_parquet_atomic(pa.Table.from_batches([out]), final)
                    # fragment zone map: the file-level envelope of the
                    # per-chunk doc-id spans, recorded in _manifest.json so
                    # range scans drop whole fragments before any footer.
                    # Chunks of empty doc_id sets carry None spans — skip
                    # them; an all-None fragment keeps the "" sentinel
                    # (scans treat an empty envelope as "always keep").
                    mins = [r["min_doc_id"] for r in rows
                            if r["min_doc_id"] is not None]
                    maxs = [r["max_doc_id"] for r in rows
                            if r["max_doc_id"] is not None]
                    dmin = min(mins) if mins else ""
                    dmax = max(maxs) if maxs else ""
                yield pa.RecordBatch.from_pydict(
                    {
                        "task_id": [task_id],
                        "path": [final],
                        "min_doc_id": [dmin],
                        "max_doc_id": [dmax],
                        "n_chunks": [len(rows)],
                        **{
                            k: [sum(r[k] for r in rows)]
                            for k in ("n_rows", "n_values", "bytes_raw",
                                      "bytes_enc", "bytes_ref")
                        },
                        # per-task wall span: lets callers separate worker
                        # busy time from scheduling/stragglers/serial driver
                        # work when diagnosing scaling (epoch seconds)
                        "t_start": [t0],
                        "t_end": [_time.time()],
                    },
                    schema=_MANIFEST_SCHEMA,
                )

    manifest = tasks.mapInArrow(
        fn, from_arrow_schema(_MANIFEST_SCHEMA)
    ).collect()
    check_planned_tasks(
        [tid for tid, _ in groups], manifest, "fused encode", "manifest"
    )
    return manifest
