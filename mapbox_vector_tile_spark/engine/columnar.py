"""Single-column round trips through the table store.

Five gated queries each store ONE column of a source table and roll the
decoded values up per chunk: event value cents as int32 (with and without
nulls), event timestamps as int64 epoch micros, and document text as
FSST+dictionary string chunks (per-chunk or one shared FSST table). Every
one encodes with :func:`.table_encode.encode_table` over the order and
value columns and decodes with :func:`.table_encode.decode_table`, so the
layout is the table store's:

- chunk assignment ``chunk = order_key >> log2(chunk_rows)`` and in-chunk
  order = the order key — deterministic across parallelism and row order
  (the resume/oracle property every other layout decision here has);
- one frame per column through its type's codec (the int32 ladder, the
  int64 outer transforms, FSST+dict strings), with nulls in a validity
  bitmap so the inner frame encodes only the non-null values;
- decode emits ``(chunk, pos, value)`` — positions reconstruct the total
  order, and the rank-weighted checksums below gate it.

The reference writes its per-layer value tables the same way for every
value type (``mapbox_vector_tile/encoder.py:241-266``); the table store
generalizes that to arbitrary table columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .table_encode import decode_table, encode_table

CHUNK_ROWS = 1024
TEXT_CHUNK_ROWS = 256


def _round_trip(
    df: DataFrame,
    order_col: str,
    value: Column,
    chunk_rows: int,
    fsst_table: bytes | None = None,
) -> DataFrame:
    """``(chunk, pos, value)`` of ``value`` over ``df`` after a table-store
    encode and decode; ``pos`` is the in-chunk rank by ``order_col``.
    ``fsst_table`` is the shared FSST table of a string ``value``."""
    table = df.select(order_col, value.alias("value"))
    tables = None if fsst_table is None else {"value": fsst_table}
    blocks = encode_table(table, order_col, chunk_rows, fsst_tables=tables)
    return decode_table(blocks, table.schema, ["value"], fsst_tables=tables)


def scalar_nullable_roundtrip_rollup(
    df: DataFrame,
    value_col: str,
    order_col: str,
    chunk_rows: int = CHUNK_ROWS,
) -> DataFrame:
    """Gated end-to-end: nulls must survive at their exact positions.
    ``(chunk, n, n_null, sum_v, wcks)`` — wcks weights non-null values by
    their in-chunk rank INCLUDING null rows, so null placement is gated.
    The value is stored as int32, through the codec ladder."""
    dec = _round_trip(df, order_col, F.col(value_col).cast("int"), chunk_rows)
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
    by its in-chunk rank (so value ORDER is gated, not just the multiset).
    The value is stored as int32, through the codec ladder."""
    dec = _round_trip(df, order_col, F.col(value_col).cast("int"), chunk_rows)
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


_I64_MOD = 1_000_003  # modular checksum base: micros sums overflow int64


def int64_roundtrip_rollup(
    df: DataFrame,
    value_col: str,
    order_col: str,
    chunk_rows: int = CHUNK_ROWS,
) -> DataFrame:
    """Gated end-to-end for int64 columns (epoch-micros timestamps, wide
    ids), stored through the int64 outer transforms (``codec/int64.py``).
    Epoch-micros sums overflow int64 under rank weighting, so the
    checksums are modular: per chunk ``(n, min_v, max_v, sum_mod,
    wcks_mod)`` where ``wcks_mod = SUM(pmod(v, M) * (pos+1)) % M`` gates
    value ORDER and min/max gate the raw domain."""
    dec = _round_trip(df, order_col, F.col(value_col).cast("long"), chunk_rows)
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


def train_shared_fsst_table(
    df: DataFrame,
    text_col: str = "text",
    order_col: str = "doc_id",
    sample_rows: int = 256,
) -> bytes:
    """One FSST symbol table for a whole column: trained on a DETERMINISTIC
    sample (the ``sample_rows`` lowest order keys — resume/oracle-stable
    across parallelism), packed with :func:`..codec.fsst.pack_table`.
    Sharing it across every chunk (``encode_table(fsst_tables=...)``)
    amortizes training cost (the expensive FSST step) and removes the
    per-chunk table bytes; the paper deploys exactly this way over many
    small blocks."""
    from ..codec import fsst

    sample = (
        df.select(F.col(text_col).cast("string").alias("t"),
                  F.col(order_col).alias("k"))
        .orderBy("k")
        .limit(sample_rows)
        .collect()
    )
    blob = "\n".join(r.t for r in sample if r.t is not None).encode()
    return fsst.pack_table(fsst.train(blob))


def text_roundtrip_rollup(
    df: DataFrame,
    text_col: str = "text",
    order_col: str = "doc_id",
    chunk_rows: int = TEXT_CHUNK_ROWS,
    mod: int = 1_000_000_007,
    shared_fsst: bool = False,
) -> DataFrame:
    """Gated end-to-end: encode -> decode -> per-chunk order-sensitive text
    checksums. ``(chunk, n, sum_len, cks, wcks)`` where cks hashes each
    decoded string portably (48-bit md5 prefix mod ``mod``) and wcks weights
    by in-chunk rank, so content AND order are gated. ``shared_fsst``
    encodes every chunk against one :func:`train_shared_fsst_table`."""
    from ..functions.text import h48

    shared = (
        train_shared_fsst_table(df, text_col, order_col)
        if shared_fsst else None
    )
    dec = _round_trip(
        df, order_col, F.col(text_col).cast("string"), chunk_rows, shared
    )
    h = h48(F.col("value")) % F.lit(mod)
    return (
        dec.groupBy("chunk")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.length(F.col("value"))).cast("long").alias("sum_len"),
            F.pmod(F.sum(h), F.lit(mod)).cast("long").alias("cks"),
            F.pmod(F.sum(h * (F.col("pos") + 1)), F.lit(mod))
            .cast("long")
            .alias("wcks"),
        )
        .orderBy("chunk")
    )


def text_roundtrip_rollup_sql(
    chunk_rows: int = TEXT_CHUNK_ROWS,
    mod: int = 1_000_000_007,
    doc_source: str = "documents",
) -> str:
    """Oracle straight from the source table: identical per-chunk rollup
    (DuckDB md5 prefix matches Spark's — both hash the utf-8 bytes)."""
    from ..functions.text import h48_sql

    h = f"({h48_sql('text')} % {int(mod)})"
    return f"""
WITH rows_ AS (
  SELECT doc_id // {int(chunk_rows)} AS chunk,
         ROW_NUMBER() OVER (PARTITION BY doc_id // {int(chunk_rows)}
                            ORDER BY doc_id) - 1 AS pos,
         text
  FROM {doc_source})
SELECT chunk, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(length(text)) AS BIGINT) AS sum_len,
       CAST(SUM({h}) % {int(mod)} AS BIGINT) AS cks,
       CAST(SUM({h} * (pos + 1)) % {int(mod)} AS BIGINT) AS wcks
FROM rows_ GROUP BY chunk ORDER BY chunk
"""
