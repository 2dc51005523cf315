"""Z-order (Morton) layout: two-dimensional zone-map locality.

The blocks store prunes on ``[min_doc_id, max_doc_id]`` because encode
clusters chunks by doc id — one dimension. Any second predicate (a
sequence-length band for curriculum sampling, a source, a time bucket)
then intersects EVERY chunk and prunes nothing. The classic fix is to
cluster by the bit-interleave of both dimensions: a Z-order key, the same
layout Delta/Iceberg expose as ``OPTIMIZE ... ZORDER BY``. Each grid cell
is then a bounding RECTANGLE in (dim1, dim2) space, so zone maps prune on
either dimension (at sqrt cost to each vs a single-dim sort, the standard
trade).

Everything here is pure Catalyst integer arithmetic — the interleave is an
unrolled shift/mask sum, whole-stage-codegen'd, with a character-identical
SQL mirror — and the grid assignment is a bit-TRUNCATION of the key
(``zkey >> shift``), a pure function of the row. That makes the layout
deterministic (no sampled range boundaries), so the zone-map table and the
pruning audit are exact and oracle-gated, and at 100 TB the cell
assignment needs no global pass at all: it composes with the existing
size-weighted bucket planner by feeding ``zorder_key_expr`` in as the
clustering key, exactly like the ``regime|doc`` key the fused exchange
sorts today (engine/exchange.py key_fn).

Production note on domains: interleaving uses the low ``bits`` bits of
each dimension, so real pipelines first quantize each dimension into
``2^bits`` cells (fixed divisor, or quantile ranks from a sampled CDF —
the same ~100k-row sample the fused exchange's cut planner draws). The synthetic
corpus dims (doc number, n_tok) already fit 14 bits, so the gate exercises
the interleave itself un-quantized.

Analog surface: the reference's tile grid IS a Z-curve cell addressing
scheme — (z, x, y) tiles subdivide space so nearby features land in the
same tile file (/root/reference/mapbox_vector_tile/encoder.py quantizes
geometry into per-tile local grids); here the curve orders storage cells
instead of map tiles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .verify import doc_num_expr

#: low bits of each dimension that take part in the interleave
Z_BITS = 14
#: grid cell = zkey >> Z_SHIFT; 2^16 key values per cell -> 256x256 cells
Z_SHIFT = 16
#: linear strawman: bucket = doc_num >> 3 (8 docs/bucket at sf0.01 — same
#: occupied-bucket order of magnitude as the z-grid, see the audit columns)
LINEAR_SHIFT = 3

#: audit rectangle: a doc-range AND an n_tok band, both selective
RECT = {"doc_lo": 128, "doc_hi": 384, "len_lo": 512, "len_hi": 768}


def zorder_key_expr(dim1: Column, dim2: Column, bits: int = Z_BITS) -> Column:
    """Morton interleave of two non-negative ints: bit ``i`` of ``dim1``
    lands at ``2i``, of ``dim2`` at ``2i+1``. One unrolled projection —
    ``2*bits`` shift/mask terms, JVM codegen, no UDF."""
    a = dim1.cast("long")
    b = dim2.cast("long")
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = out + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        out = out + F.shiftleft(
            F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
    return out


def zorder_key_sql(dim1: str, dim2: str, bits: int = Z_BITS) -> str:
    """SQL mirror of :func:`zorder_key_expr` (DuckDB ``>>``/``&``/``<<``
    on BIGINT)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({dim1} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({dim2} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def _dims(tokens: DataFrame) -> DataFrame:
    return tokens.select(
        doc_num_expr().alias("doc_num"),
        F.col("n_tok").cast("long").alias("len"),
    )


def _zone_maps(dims: DataFrame, bucket: Column) -> DataFrame:
    return (
        dims.select(bucket.alias("bucket"), "doc_num", "len")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_num").alias("min_doc"),
            F.max("doc_num").alias("max_doc"),
            F.min("len").alias("min_len"),
            F.max("len").alias("max_len"),
        )
    )


def zorder_zone_maps(tokens: DataFrame) -> DataFrame:
    """Per-grid-cell zone maps of the Z-order layout: each occupied cell's
    doc/len bounding rectangle and row count. This IS the metadata a
    100 TB table's manifest would carry per file."""
    dims = _dims(tokens)
    zkey = zorder_key_expr(F.col("doc_num"), F.col("len"))
    return _zone_maps(dims, F.shiftright(zkey, Z_SHIFT)).orderBy("bucket")


def zorder_zone_maps_sql() -> str:
    zk = zorder_key_sql("p.doc_id", "p.n_tok")
    from ..corpus import params_cte_sql

    return f"""
WITH {params_cte_sql('documents')}
SELECT ({zk} >> {Z_SHIFT}) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(p.doc_id) AS min_doc, MAX(p.doc_id) AS max_doc,
       MIN(p.n_tok) AS min_len, MAX(p.n_tok) AS max_len
FROM p GROUP BY 1 ORDER BY bucket
"""


def zorder_pruning_audit(tokens: DataFrame) -> DataFrame:
    """Read amplification of a 2-D rectangle query under the Z-order grid
    vs a doc-linear layout, from zone maps alone.

    For ``doc in [doc_lo, doc_hi) AND len in [len_lo, len_hi)``: a bucket
    must be read iff its zone-map rectangle intersects the query rectangle.
    Returns one row per layout::

        (layout, n_buckets, n_buckets_touched, rows_touched, rows_matched,
         amp_pct)

    ``amp_pct`` = rows_touched * 100 / rows_matched (integer) — the
    overscan factor a real scan would pay. The Z-order layout's win on the
    len dimension (and its bounded loss on pure doc ranges) is exactly
    this number; the pytest asserts the ordering, the oracle gates the
    arithmetic.
    """
    r = RECT
    dims = _dims(tokens).cache()
    zkey = zorder_key_expr(F.col("doc_num"), F.col("len"))
    layouts = [
        ("zorder", F.shiftright(zkey, Z_SHIFT)),
        ("linear", F.shiftright(F.col("doc_num"), LINEAR_SHIFT)),
    ]
    matched = dims.filter(
        (F.col("doc_num") >= r["doc_lo"])
        & (F.col("doc_num") < r["doc_hi"])
        & (F.col("len") >= r["len_lo"])
        & (F.col("len") < r["len_hi"])
    ).count()
    out = None
    for name, bucket in layouts:
        zm = _zone_maps(dims, bucket)
        touch = (F.col("max_doc") >= r["doc_lo"]) & (
            F.col("min_doc") < r["doc_hi"]
        ) & (F.col("max_len") >= r["len_lo"]) & (F.col("min_len") < r["len_hi"])
        agg = zm.agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.sum(touch.cast("long")).alias("n_buckets_touched"),
            F.sum(F.when(touch, F.col("n_docs")).otherwise(0)).alias(
                "rows_touched"
            ),
        ).select(
            F.lit(name).alias("layout"),
            "n_buckets",
            "n_buckets_touched",
            "rows_touched",
            F.lit(matched).cast("long").alias("rows_matched"),
            (F.col("rows_touched") * 100 / F.lit(matched))
            .cast("long")
            .alias("amp_pct"),
        )
        out = agg if out is None else out.unionByName(agg)
    return out.orderBy("layout")


def zorder_pruning_audit_sql() -> str:
    from ..corpus import params_cte_sql

    r = RECT
    zk = zorder_key_sql("p.doc_id", "p.n_tok")
    rect = (
        f"max_doc >= {r['doc_lo']} AND min_doc < {r['doc_hi']} "
        f"AND max_len >= {r['len_lo']} AND min_len < {r['len_hi']}"
    )
    return f"""
WITH {params_cte_sql('documents')},
dims AS (SELECT doc_id AS doc_num, n_tok AS len FROM p),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS rows_matched FROM dims
      WHERE doc_num >= {r['doc_lo']} AND doc_num < {r['doc_hi']}
        AND len >= {r['len_lo']} AND len < {r['len_hi']}),
zz AS (SELECT ({zk.replace('p.doc_id', 'doc_num').replace('p.n_tok', 'len')}
          >> {Z_SHIFT}) AS bucket,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          MIN(doc_num) AS min_doc, MAX(doc_num) AS max_doc,
          MIN(len) AS min_len, MAX(len) AS max_len
       FROM dims GROUP BY 1),
ll AS (SELECT (doc_num >> {LINEAR_SHIFT}) AS bucket,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          MIN(doc_num) AS min_doc, MAX(doc_num) AS max_doc,
          MIN(len) AS min_len, MAX(len) AS max_len
       FROM dims GROUP BY 1),
audit AS (
  SELECT 'zorder' AS layout,
         CAST(COUNT(*) AS BIGINT) AS n_buckets,
         CAST(SUM(CASE WHEN {rect} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_buckets_touched,
         CAST(SUM(CASE WHEN {rect} THEN n_docs ELSE 0 END) AS BIGINT)
           AS rows_touched
  FROM zz
  UNION ALL
  SELECT 'linear',
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN {rect} THEN 1 ELSE 0 END) AS BIGINT),
         CAST(SUM(CASE WHEN {rect} THEN n_docs ELSE 0 END) AS BIGINT)
  FROM ll)
SELECT a.layout, a.n_buckets, a.n_buckets_touched, a.rows_touched,
       m.rows_matched,
       CAST(a.rows_touched * 100 // m.rows_matched AS BIGINT) AS amp_pct
FROM audit a CROSS JOIN m
ORDER BY layout
"""


def optimize_zorder_table(
    spark, root: str, options=None, num_partitions: int = 8
) -> int:
    """``OPTIMIZE table ZORDER BY (doc, len)`` — the Delta/Iceberg table
    maintenance command over the snapshot store: decode the current
    snapshot, re-encode clustered along the Z-curve, and commit the result
    as a REWRITE snapshot (time travel keeps the old layout readable; the
    content is bit-identical, which the gate checks).

    The re-cluster is ``repartitionByRange(zkey) + sortWithinPartitions``
    — one range shuffle sized by ``num_partitions``; encode then sees
    Z-contiguous rows, so every chunk's zone maps bound BOTH dimensions
    (the 2-D pruning the audit above prices). Range boundaries are
    sampled, which is fine HERE: layout is physical, content equality is
    what the oracle gates (unlike the resume-critical encode cuts, which
    stay deterministic).

    Returns the new snapshot id.
    """
    from pyspark.sql import functions as F

    from .decode import decode_dataframe
    from .encode import encode_dataframe
    from .snapshots import commit_rewrite, read_blocks_at
    from .verify import doc_num_expr

    tokens = decode_dataframe(read_blocks_at(spark, root))
    zkey = zorder_key_expr(doc_num_expr(), F.col("n_tok"))
    clustered = (
        tokens.withColumn("_zkey", zkey)
        .repartitionByRange(num_partitions, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
    )
    return commit_rewrite(root, encode_dataframe(clustered, options))
