"""Spark-side corpus materialization: distributed, Arrow-batched, no per-row
Python. The numpy generator (:mod:`..corpus`) runs inside ``mapInArrow`` over
``spark.range`` partitions — each executor synthesizes its own slice."""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from .. import corpus as C

TOKENS_SPARK_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"

_TOKENS_ARROW_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
    ]
)


def doc_id_str(ids: np.ndarray) -> list[str]:
    return [f"doc-{int(i):08d}" for i in ids]


def tokens_batch(ids: np.ndarray) -> pa.RecordBatch:
    """One Arrow batch of the corpus for integer doc ids."""
    ids = np.asarray(ids, dtype=np.int64)
    lengths, values = C.tokens_flat(ids)
    offsets = np.zeros(ids.size + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    tokens = pa.LargeListArray.from_arrays(
        pa.array(offsets, pa.int64()), pa.array(values, pa.int32())
    ).cast(pa.list_(pa.int32()))
    return pa.RecordBatch.from_arrays(
        [
            pa.array(doc_id_str(ids), pa.string()),
            tokens,
            pa.array(lengths.astype(np.int32), pa.int32()),
            pa.array(C.source_of(ids).tolist(), pa.string()),
        ],
        schema=_TOKENS_ARROW_SCHEMA,
    )


def corpus_dataframe(spark, n_docs: int, num_partitions: int | None = None):
    """Distributed tokens table ``(doc_id, tokens, n_tok, source)`` for doc
    ids ``0..n_docs-1`` (the BASELINE.json ``input_hint`` shape)."""

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids = batch.column("id").to_numpy()
            if ids.size:
                yield tokens_batch(ids)

    base = spark.range(0, n_docs, numPartitions=num_partitions)
    return base.mapInArrow(gen, TOKENS_SPARK_SCHEMA)


def write_corpus_parquet_direct(
    spark,
    n_docs: int,
    out_path: str,
    num_partitions: int,
    docs_per_batch: int = 65536,
    checksums_path: str | None = None,
) -> int:
    """Materialize the corpus straight to parquet from the workers.

    ``corpus_dataframe(...).write.parquet(...)`` routes every token array
    through JVM row materialization in the parquet writer — the same
    row-boxing tax the direct readers bypass. Here each task synthesizes its
    id slice and writes its own file with pyarrow (deterministic names,
    atomic tmp+rename, ``_SUCCESS`` marker), so bytes go numpy -> Arrow ->
    parquet without a JVM row trip. Returns the row count written.

    ``checksums_path``: also write a per-doc checksum sidecar dataset
    (``doc_id, n_tok, tok_cks, tok_wcks`` — the ``verify`` metadata schema)
    while the token arrays are still in worker memory. The round-trip
    verify then joins two checksum tables instead of re-scanning and
    re-hashing the corpus (the "verify warm path": at 100 TB this is the
    difference between a metadata join and a second full-table pass).
    """
    import os
    from collections.abc import Iterator as _It

    os.makedirs(out_path, exist_ok=True)
    if checksums_path is not None:
        os.makedirs(checksums_path, exist_ok=True)
    bounds = np.linspace(0, n_docs, num_partitions + 1).astype(np.int64)
    rows = [
        (i, int(bounds[i]), int(bounds[i + 1]))
        for i in range(num_partitions)
        if bounds[i] < bounds[i + 1]
    ]
    from ..sources.parquet_direct import task_rows_dataframe

    tasks = task_rows_dataframe(spark, rows, "task_id int, start long, end long")

    def fn(batches: _It[pa.RecordBatch]) -> _It[pa.RecordBatch]:
        import pyarrow.parquet as pq

        from ..sources.parquet_direct import _CKS_ARROW, _doc_cks_batch

        def write_atomic(table: pa.Table, d: str, task_id: int) -> None:
            from ..sources.parquet_direct import write_parquet_atomic

            write_parquet_atomic(
                table, os.path.join(d, f"part-{task_id:05d}.parquet")
            )

        for tb in batches:
            for task_id, start, end in zip(
                tb.column("task_id").to_pylist(),
                tb.column("start").to_pylist(),
                tb.column("end").to_pylist(),
            ):
                parts = [
                    tokens_batch(np.arange(s, min(s + docs_per_batch, end)))
                    for s in range(start, end, docs_per_batch)
                ]
                write_atomic(
                    pa.Table.from_batches(parts, _TOKENS_ARROW_SCHEMA),
                    out_path, task_id,
                )
                if checksums_path is not None:
                    cks = [
                        _doc_cks_batch(
                            p.column("doc_id"),
                            p.column("n_tok").to_numpy(),
                            p.column("tokens").flatten().to_numpy(
                                zero_copy_only=False
                            ),
                        )
                        for p in parts
                    ]
                    write_atomic(
                        pa.Table.from_batches(cks, _CKS_ARROW),
                        checksums_path, task_id,
                    )
                yield pa.RecordBatch.from_pydict(
                    {"task_id": [task_id], "n_rows": [end - start]},
                    schema=pa.schema(
                        [("task_id", pa.int32()), ("n_rows", pa.int64())]
                    ),
                )

    written = tasks.mapInArrow(fn, "task_id int, n_rows long").collect()
    from ..sources.parquet_direct import write_file_manifest

    row_counts = {
        f"part-{r.task_id:05d}.parquet": int(r.n_rows) for r in written
    }
    write_file_manifest(out_path, row_counts)
    with open(os.path.join(out_path, "_SUCCESS"), "w"):
        pass
    if checksums_path is not None:
        write_file_manifest(checksums_path, row_counts)
        with open(os.path.join(checksums_path, "_SUCCESS"), "w"):
            pass
    return sum(r.n_rows for r in written)


def corpus_dataframe_from_ids(df_ids, id_col: str = "doc_id"):
    """Same, but for an explicit integer doc-id DataFrame (e.g. the driver's
    ``documents`` table ids, so the DuckDB oracle can reproduce the set)."""

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids = batch.column(id_col).to_numpy()
            if ids.size:
                yield tokens_batch(ids)

    return df_ids.select(id_col).mapInArrow(gen, TOKENS_SPARK_SCHEMA)
