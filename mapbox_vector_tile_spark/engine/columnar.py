"""Scalar-column encode: the codec ladder over ANY int32 column.

The engine's blocks pipeline encodes token ARRAYS; real tables also carry
flat measure columns (event values, counts, ids). This is the same
self-describing frame (`codec.blocks.encode_block`) and the same
auto-selector (`codec.select.encode_auto`) applied to a scalar column,
chunked by an explicit key so the layout is a pure function of the data:

- chunk assignment ``chunk = order_key >> log2(chunk_rows)`` and in-chunk
  order = the order key — deterministic across parallelism and row order
  (the resume/oracle property every other layout decision here has);
- encode is ``applyInPandas`` per chunk: one shuffle on the chunk id,
  kernels see one contiguous int32 array per chunk (the RLE/FOR/dict
  ladder then wins exactly as it does on token chunks);
- decode is a stateless ``mapInArrow`` over block rows, emitting
  ``(chunk, pos, value)`` — positions reconstruct the total order.

At 100 TB this is a straight repartition-encode: chunk ids are dense and
ordered, so the shuffle is range-partitionable and each task's memory is
O(chunk_rows). The reference encodes exactly one scalar stream this way
already — per-feature attribute values (/root/reference/
mapbox_vector_tile/encoder.py:241-266 writes deduplicated scalar value
tables per tile); this generalizes it to arbitrary table columns.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..codec.blocks import CODEC_NAMES, decode_block
from ..codec.select import encode_auto

CHUNK_ROWS = 1024

# nullable wrapper: n_rows, n_valid | packed validity bitmap | inner frame.
# Nulls are a COLUMN-level concern (Arrow separates validity from values the
# same way), so the wrapper sits outside the codec ladder: the inner frame
# encodes only the non-null values and every codec stays null-free.
_NULL_FMT = "<qq"  # format string, not a Struct: worker closures pickle it
_NULL_HDR_SIZE = struct.calcsize(_NULL_FMT)

_BLOCKS_SCHEMA = (
    "chunk long, n_values long, codec string, bytes_enc long, "
    "bytes_raw long, payload binary"
)


def encode_scalar_column(
    df: DataFrame,
    value_col: str,
    order_col: str,
    chunk_rows: int = CHUNK_ROWS,
) -> DataFrame:
    """Encode ``value_col`` (int32-safe) into self-describing blocks,
    chunked and ordered by ``order_col``."""
    chunk = (
        (F.col(order_col) - F.pmod(F.col(order_col), F.lit(chunk_rows)))
        / chunk_rows
    ).cast("long")
    rows = df.select(
        chunk.alias("chunk"),
        F.col(order_col).cast("long").alias("k"),
        F.col(value_col).cast("int").alias("v"),
    )

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("k", ignore_index=True)
        a = pdf["v"].to_numpy(np.int32)
        payload, codec_id = encode_auto(a)
        return pd.DataFrame(
            {
                "chunk": [int(pdf["chunk"].iloc[0])],
                "n_values": [len(a)],
                "codec": [CODEC_NAMES[codec_id]],
                "bytes_enc": [len(payload)],
                "bytes_raw": [4 * len(a)],
                "payload": [payload],
            }
        )

    return rows.groupBy("chunk").applyInPandas(enc, _BLOCKS_SCHEMA)


def decode_scalar_column(blocks: DataFrame) -> DataFrame:
    """Inverse: ``(chunk, pos, value)`` — pos is the in-chunk rank in
    order-key order."""

    def dec(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            chunks = batch.column("chunk").to_numpy(zero_copy_only=False)
            payloads = batch.column("payload")
            out_c, out_p, out_v = [], [], []
            for i in range(batch.num_rows):
                vals = decode_block(memoryview(payloads[i].as_buffer()))
                out_c.append(np.full(len(vals), chunks[i], np.int64))
                out_p.append(np.arange(len(vals), dtype=np.int64))
                out_v.append(vals.astype(np.int64))
            if out_c:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(out_c), pa.int64()),
                        pa.array(np.concatenate(out_p), pa.int64()),
                        pa.array(np.concatenate(out_v), pa.int64()),
                    ],
                    schema=pa.schema(
                        [
                            ("chunk", pa.int64()),
                            ("pos", pa.int64()),
                            ("value", pa.int64()),
                        ]
                    ),
                )

    return blocks.select("chunk", "payload").mapInArrow(
        dec, "chunk long, pos long, value long"
    )


def encode_scalar_column_nullable(
    df: DataFrame,
    value_col: str,
    order_col: str,
    chunk_rows: int = CHUNK_ROWS,
) -> DataFrame:
    """Nullable variant: a packed validity bitmap precedes the inner block,
    which encodes only the non-null values through the normal ladder (so
    e.g. a column that is constant-when-present still picks CONSTANT)."""
    chunk = (
        (F.col(order_col) - F.pmod(F.col(order_col), F.lit(chunk_rows)))
        / chunk_rows
    ).cast("long")
    rows = df.select(
        chunk.alias("chunk"),
        F.col(order_col).cast("long").alias("k"),
        F.col(value_col).isNull().alias("is_null"),
        F.coalesce(F.col(value_col).cast("int"), F.lit(0)).alias("v"),
    )

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("k", ignore_index=True)
        valid = ~pdf["is_null"].to_numpy(bool)
        a = pdf["v"].to_numpy(np.int32)[valid]
        inner, codec_id = encode_auto(a)
        payload = (
            struct.pack(_NULL_FMT, valid.size, int(valid.sum()))
            + np.packbits(valid).tobytes()
            + inner
        )
        return pd.DataFrame(
            {
                "chunk": [int(pdf["chunk"].iloc[0])],
                "n_values": [int(valid.size)],
                "codec": [CODEC_NAMES[codec_id]],
                "bytes_enc": [len(payload)],
                "bytes_raw": [4 * int(valid.size)],
                "payload": [payload],
            }
        )

    return rows.groupBy("chunk").applyInPandas(enc, _BLOCKS_SCHEMA)


def decode_scalar_column_nullable(blocks: DataFrame) -> DataFrame:
    """Inverse: ``(chunk, pos, value)`` with SQL NULLs restored at their
    original positions (pos covers null rows too — total order is kept)."""

    def dec(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            chunks = batch.column("chunk").to_numpy(zero_copy_only=False)
            payloads = batch.column("payload")
            arrs = []
            for i in range(batch.num_rows):
                mv = memoryview(payloads[i].as_buffer())
                n_rows, n_valid = struct.unpack_from(_NULL_FMT, mv)
                off = _NULL_HDR_SIZE
                nb = (n_rows + 7) // 8
                valid = np.unpackbits(
                    np.frombuffer(mv, np.uint8, count=nb, offset=off)
                )[:n_rows].astype(bool)
                vals = decode_block(mv[off + nb :])
                if vals.size != n_valid:
                    raise ValueError(
                        f"nullable chunk: {vals.size} values, want {n_valid}"
                    )
                full = np.zeros(n_rows, dtype=np.int64)
                full[valid] = vals.astype(np.int64)
                arrs.append(
                    pa.RecordBatch.from_arrays(
                        [
                            pa.array(np.full(n_rows, chunks[i], np.int64)),
                            pa.array(np.arange(n_rows, dtype=np.int64)),
                            pa.array(full, pa.int64(), mask=~valid),
                        ],
                        schema=pa.schema(
                            [
                                ("chunk", pa.int64()),
                                ("pos", pa.int64()),
                                ("value", pa.int64()),
                            ]
                        ),
                    )
                )
            yield from arrs

    return blocks.select("chunk", "payload").mapInArrow(
        dec, "chunk long, pos long, value long"
    )


def scalar_nullable_roundtrip_rollup(
    df: DataFrame,
    value_col: str,
    order_col: str,
    chunk_rows: int = CHUNK_ROWS,
) -> DataFrame:
    """Gated end-to-end: nulls must survive at their exact positions.
    ``(chunk, n, n_null, sum_v, wcks)`` — wcks weights non-null values by
    their in-chunk rank INCLUDING null rows, so null placement is gated."""
    blocks = encode_scalar_column_nullable(df, value_col, order_col, chunk_rows)
    dec = decode_scalar_column_nullable(blocks)
    return (
        dec.groupBy("chunk")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("value").isNull().cast("long")).alias("n_null"),
            F.coalesce(F.sum("value"), F.lit(0)).alias("sum_v"),
            F.coalesce(
                F.sum(F.col("value") * (F.col("pos") + 1)), F.lit(0)
            ).alias("wcks"),
        )
        .orderBy("chunk")
    )


def scalar_nullable_roundtrip_rollup_sql(
    chunk_rows: int = CHUNK_ROWS,
) -> str:
    """Oracle over raw events with the same deterministic null pattern the
    query injects (value cents divisible by 7 -> NULL; sign-safe pmod)."""
    return f"""
WITH rows_ AS (
  SELECT event_id // {chunk_rows} AS chunk,
         ROW_NUMBER() OVER (PARTITION BY event_id // {chunk_rows}
                            ORDER BY event_id) - 1 AS pos,
         CASE WHEN ((CAST(round(value * 100) AS BIGINT) % 7) + 7) % 7 = 0
              THEN NULL
              ELSE CAST(round(value * 100) AS BIGINT) END AS v
  FROM events)
SELECT chunk, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(COALESCE(SUM(v), 0) AS BIGINT) AS sum_v,
       CAST(COALESCE(SUM(v * (pos + 1)), 0) AS BIGINT) AS wcks
FROM rows_ GROUP BY chunk ORDER BY chunk
"""


def scalar_roundtrip_rollup(
    df: DataFrame,
    value_col: str,
    order_col: str,
    chunk_rows: int = CHUNK_ROWS,
) -> DataFrame:
    """Gated end-to-end: encode -> decode -> per-chunk order-sensitive
    checksums. ``(chunk, n, sum_v, wcks)`` where wcks weights each value
    by its in-chunk rank (so value ORDER is gated, not just the multiset)."""
    blocks = encode_scalar_column(df, value_col, order_col, chunk_rows)
    dec = decode_scalar_column(blocks)
    return (
        dec.groupBy("chunk")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("value").alias("sum_v"),
            F.sum(F.col("value") * (F.col("pos") + 1)).alias("wcks"),
        )
        .orderBy("chunk")
    )


def scalar_roundtrip_rollup_sql(chunk_rows: int = CHUNK_ROWS) -> str:
    """Oracle over raw events: identical per-chunk rollup straight from
    the source column (value cents ordered by event_id)."""
    return f"""
WITH rows_ AS (
  SELECT event_id // {chunk_rows} AS chunk,
         ROW_NUMBER() OVER (PARTITION BY event_id // {chunk_rows}
                            ORDER BY event_id) - 1 AS pos,
         CAST(round(value * 100) AS BIGINT) AS v
  FROM events)
SELECT chunk, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(v) AS BIGINT) AS sum_v,
       CAST(SUM(v * (pos + 1)) AS BIGINT) AS wcks
FROM rows_ GROUP BY chunk ORDER BY chunk
"""


# ---------------------------------------------------------------------------
# int64 columns (timestamps, wide ids) — codec/int64.py outer transforms
# ---------------------------------------------------------------------------

_I64_BLOCKS_SCHEMA = (
    "chunk long, n_values long, mode string, bytes_enc long, "
    "bytes_raw long, payload binary"
)


def encode_int64_column(
    df: DataFrame,
    value_col: str,
    order_col: str,
    chunk_rows: int = CHUNK_ROWS,
) -> DataFrame:
    """Encode an int64 column (epoch-micros timestamps, 64-bit ids) into
    self-describing blocks via the int64 outer transforms
    (``codec/int64.py``: delta32 / delta-planes / planes, inner streams
    through the full int32 ladder). Same deterministic chunk contract as
    :func:`encode_scalar_column` — one shuffle on the chunk id, worker
    memory O(chunk_rows), layout a pure function of the data. A null value
    fails the encode with ``ValueError`` naming ``value_col``."""
    from ..codec.int64 import INT64_MODE_NAMES, encode_int64_auto

    chunk = (
        (F.col(order_col) - F.pmod(F.col(order_col), F.lit(chunk_rows)))
        / chunk_rows
    ).cast("long")
    rows = df.select(
        chunk.alias("chunk"),
        F.col(order_col).cast("long").alias("k"),
        F.col(value_col).cast("long").alias("v"),
    )

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        # pandas holds a null as NaN, which the int64 cast turns into -2^63
        if pdf["v"].isna().any():
            raise ValueError(
                f"encode_int64_column: column {value_col!r} holds a null, "
                "which has no int64 encoding"
            )
        pdf = pdf.sort_values("k", ignore_index=True)
        a = pdf["v"].to_numpy(np.int64)
        payload, mode = encode_int64_auto(a)
        return pd.DataFrame(
            {
                "chunk": [int(pdf["chunk"].iloc[0])],
                "n_values": [len(a)],
                "mode": [INT64_MODE_NAMES[mode]],
                "bytes_enc": [len(payload)],
                "bytes_raw": [8 * len(a)],
                "payload": [payload],
            }
        )

    return rows.groupBy("chunk").applyInPandas(enc, _I64_BLOCKS_SCHEMA)


def decode_int64_column(blocks: DataFrame) -> DataFrame:
    """Stateless inverse map: ``(chunk, pos, value)`` int64-exact."""
    from ..codec.int64 import decode_int64

    def dec(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            chunks = batch.column("chunk").to_numpy(zero_copy_only=False)
            payloads = batch.column("payload")
            out_c, out_p, out_v = [], [], []
            for i in range(batch.num_rows):
                vals = decode_int64(memoryview(payloads[i].as_buffer()))
                out_c.append(np.full(len(vals), chunks[i], np.int64))
                out_p.append(np.arange(len(vals), dtype=np.int64))
                out_v.append(vals)
            if out_c:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(out_c), pa.int64()),
                        pa.array(np.concatenate(out_p), pa.int64()),
                        pa.array(np.concatenate(out_v), pa.int64()),
                    ],
                    schema=pa.schema(
                        [
                            ("chunk", pa.int64()),
                            ("pos", pa.int64()),
                            ("value", pa.int64()),
                        ]
                    ),
                )

    return blocks.select("chunk", "payload").mapInArrow(
        dec, "chunk long, pos long, value long"
    )


_I64_MOD = 1_000_003  # modular checksum base: micros sums overflow int64


def int64_roundtrip_rollup(
    df: DataFrame,
    value_col: str,
    order_col: str,
    chunk_rows: int = CHUNK_ROWS,
) -> DataFrame:
    """Gated end-to-end for int64 columns. Epoch-micros sums overflow
    int64 under rank weighting, so the checksums are modular: per chunk
    ``(n, min_v, max_v, sum_mod, wcks_mod)`` where
    ``wcks_mod = SUM(pmod(v, M) * (pos+1)) % M`` gates value ORDER and
    min/max gate the raw domain."""
    blocks = encode_int64_column(df, value_col, order_col, chunk_rows)
    dec = decode_int64_column(blocks)
    vm = F.pmod(F.col("value"), F.lit(_I64_MOD))
    return (
        dec.groupBy("chunk")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
            F.pmod(F.sum(vm), F.lit(_I64_MOD)).alias("sum_mod"),
            F.pmod(F.sum(vm * (F.col("pos") + 1)), F.lit(_I64_MOD)).alias(
                "wcks_mod"
            ),
        )
        .orderBy("chunk")
    )


def int64_roundtrip_rollup_sql(chunk_rows: int = CHUNK_ROWS) -> str:
    """Oracle straight from events.ts as epoch micros (DuckDB
    ``epoch_us``), identical modular rollup."""
    m = _I64_MOD
    return f"""
WITH rows_ AS (
  SELECT event_id // {chunk_rows} AS chunk,
         ROW_NUMBER() OVER (PARTITION BY event_id // {chunk_rows}
                            ORDER BY event_id) - 1 AS pos,
         epoch_us(ts) AS v
  FROM events)
SELECT chunk, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(v) AS BIGINT) AS min_v,
       CAST(MAX(v) AS BIGINT) AS max_v,
       CAST(((SUM(v % {m}) % {m}) + {m}) % {m} AS BIGINT) AS sum_mod,
       CAST(((SUM((v % {m}) * (pos + 1)) % {m}) + {m}) % {m} AS BIGINT)
         AS wcks_mod
FROM rows_ GROUP BY chunk ORDER BY chunk
"""
