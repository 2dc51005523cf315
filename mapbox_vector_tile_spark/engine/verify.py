"""Round-trip verification and checksum expressions (JVM-side, no Python).

- :func:`verify_roundtrip` — the join-shaped work SURVEY §2.7 predicts:
  decoded-vs-original equi-join on ``doc_id`` + exact array equality.
- :func:`with_doc_checksums` / :func:`regime_rollup` — Catalyst expressions
  computing the same order-sensitive checksums as
  :func:`mapbox_vector_tile_spark.corpus.doc_checksums`, so results can be
  compared against the DuckDB oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import corpus as C

_MOD = C.MOD


def verify_roundtrip(original: DataFrame, decoded: DataFrame) -> DataFrame:
    """One summary row: total docs, matching docs, mismatching/missing docs.

    Exact ``array<int32>`` equality per ``doc_id`` (BASELINE.json per-row
    invariant; analog of assertRoundTrip,
    /root/reference/tests/test_encoder.py:20-50).
    """
    o = original.select("doc_id", F.col("tokens").alias("tokens_orig"))
    d = decoded.select("doc_id", F.col("tokens").alias("tokens_dec"))
    j = o.join(d, "doc_id", "full_outer")
    match = F.col("tokens_orig").eqNullSafe(F.col("tokens_dec"))
    return j.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(match.cast("long")).alias("n_match"),
        F.sum((~match).cast("long")).alias("n_mismatch"),
    )


def verify_roundtrip_checksums(
    original_cks: DataFrame, decoded_cks: DataFrame
) -> DataFrame:
    """Metadata-join round-trip verify: both sides are per-doc checksum rows
    (``doc_id, n_tok, tok_cks, tok_wcks`` — see
    ``sources.parquet_direct.doc_checksums_direct``). The token arrays never
    leave the workers; the join moves four longs per doc. Two independent
    order-sensitive sums mod 1e9+7 make a silent collision vanishingly
    unlikely while keeping the verify O(rows), not O(tokens), at the
    exchange.

    Fast path (the expected case — everything matches): one shuffle-free
    pass computes each side's row count and a commutative multiset hash
    (exact ``decimal(38,0)`` sum of ``xxhash64`` over the full row tuple —
    decimal so the sum never hits ANSI long-overflow; 10^12 docs stay
    within 38 digits). Equal counts and equal hash sums mean the two
    sides hold identical row multisets (collision odds ~2^-64, the same
    epistemics as the checksums themselves), so the full-outer join's
    answer is known without shuffling a single row — at fleet scale this
    removes the only all-rows exchange in the verify. Any difference
    falls back to the exact full-outer join so mismatch COUNTS are always
    join-exact. Deliberate trade: the fallback recomputes both checksum
    inputs (the probe made the function eager), so the RARE mismatch
    case costs two passes — callers expecting mismatches can persist
    their inputs first; the match case (every healthy bench/job run)
    must not pay a materialization it does not need."""
    h = F.xxhash64("doc_id", "n_tok", "tok_cks", "tok_wcks").cast(
        "decimal(38,0)"
    )
    cols = [
        F.count(F.when(F.col("_side") == 0, True)).alias("n_o"),
        F.sum(F.when(F.col("_side") == 0, h)).alias("h_o"),
        F.count(F.when(F.col("_side") == 1, True)).alias("n_d"),
        F.sum(F.when(F.col("_side") == 1, h)).alias("h_d"),
    ]
    base = ["doc_id", "n_tok", "tok_cks", "tok_wcks"]
    u = original_cks.select(*base, F.lit(0).alias("_side")).unionByName(
        decoded_cks.select(*base, F.lit(1).alias("_side"))
    )
    probe = u.agg(*cols).first()
    if probe.n_o == probe.n_d and probe.h_o == probe.h_d:
        n = int(probe.n_o)
        # JVM-side one-row literal result: createDataFrame([row]) slices
        # into defaultParallelism near-empty Python partitions, and the
        # caller's .first() then walks them with incremental take jobs —
        # ~32 Python task round-trips for one literal row (measured up to
        # 3.5 s late in a bench session). range(1)+lit is a single JVM task.
        return original_cks.sparkSession.range(1).select(
            F.lit(n).cast("long").alias("n_docs"),
            F.lit(n).cast("long").alias("n_match"),
            F.lit(0).cast("long").alias("n_mismatch"),
        )
    o = original_cks.select(
        "doc_id",
        F.col("n_tok").alias("o_n"),
        F.col("tok_cks").alias("o_c"),
        F.col("tok_wcks").alias("o_w"),
    )
    d = decoded_cks.select(
        "doc_id",
        F.col("n_tok").alias("d_n"),
        F.col("tok_cks").alias("d_c"),
        F.col("tok_wcks").alias("d_w"),
    )
    j = o.join(d, "doc_id", "full_outer")
    match = (
        F.col("o_n").eqNullSafe(F.col("d_n"))
        & F.col("o_c").eqNullSafe(F.col("d_c"))
        & F.col("o_w").eqNullSafe(F.col("d_w"))
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(match.cast("long")).alias("n_match"),
        F.sum((~match).cast("long")).alias("n_mismatch"),
    )


def transform_tokens(df: DataFrame, a: int, b: int, m: int) -> DataFrame:
    """Pluggable per-token affine remap ``t -> (a*t + b) mod m`` — the analog
    of the reference's custom coordinate transformer hook
    (/root/reference/mapbox_vector_tile/encoder.py:186-189,
    decoder.py:146-149), e.g. vocabulary remapping before encode. Pure
    Catalyst ``transform`` — stays in whole-stage codegen, no Python."""
    return df.withColumn(
        "tokens",
        F.transform(
            F.col("tokens"),
            lambda t: F.pmod(t.cast("long") * F.lit(a) + F.lit(b), F.lit(m)).cast("int"),
        ),
    ).withColumn("n_tok", F.size("tokens"))


def inverse_transform_tokens(df: DataFrame, a: int, b: int, m: int) -> DataFrame:
    """Inverse of :func:`transform_tokens`: ``x -> a^-1 (x - b) mod m`` —
    the decode-side transformer hook (the reference applies its custom
    transformer in BOTH directions, encoder.py:186-189 AND
    decoder.py:146-149; pass this via ``decode_dataframe(transform=...)``
    to read a remapped table back in the original vocabulary)."""
    a_inv = pow(a, -1, m)
    return df.withColumn(
        "tokens",
        F.transform(
            F.col("tokens"),
            lambda t: F.pmod(
                (t.cast("long") - F.lit(b)) * F.lit(a_inv), F.lit(m)
            ).cast("int"),
        ),
    ).withColumn("n_tok", F.size("tokens"))


def doc_num_expr(doc_id_col: str = "doc_id"):
    """Numeric id from the ``doc-%08d`` string form."""
    return F.substring(F.col(doc_id_col), 5, 8).cast("long")


def regime_expr(doc_num):
    return F.when(doc_num % 131 == 13, F.lit(8)).otherwise(doc_num % 8).cast("long")


def with_doc_checksums(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Append ``tok_cks``, ``tok_wcks``, ``tok_min``, ``tok_max`` columns —
    pure Catalyst ``aggregate`` over the array (whole-stage-codegen path)."""
    t = F.col(tokens_col)
    zero = F.struct(
        F.lit(0).cast("long").alias("s"),
        F.lit(0).cast("long").alias("w"),
        F.lit(0).cast("long").alias("i"),
    )
    acc = F.aggregate(
        t,
        zero,
        lambda a, x: F.struct(
            (a["s"] + x.cast("long")).alias("s"),
            (a["w"] + (a["i"] + F.lit(1)) * x.cast("long")).alias("w"),
            (a["i"] + F.lit(1)).alias("i"),
        ),
    )
    return (
        df.withColumn("_acc", acc)
        .withColumn("tok_cks", F.pmod(F.col("_acc.s"), F.lit(_MOD)))
        .withColumn("tok_wcks", F.pmod(F.col("_acc.w"), F.lit(_MOD)))
        .withColumn("tok_min", F.array_min(t).cast("long"))
        .withColumn("tok_max", F.array_max(t).cast("long"))
        .drop("_acc")
    )


def regime_rollup(df_with_checksums: DataFrame) -> DataFrame:
    """Per-regime rollup matching :func:`corpus.per_regime_checksum_sql`."""
    num = doc_num_expr()
    return (
        df_with_checksums.withColumn("regime", regime_expr(num))
        .groupBy("regime")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("sum_n_tok"),
            F.sum("tok_cks").alias("sum_tok_cks"),
            F.sum("tok_wcks").alias("sum_tok_wcks"),
            F.min("tok_min").alias("tok_min"),
            F.max("tok_max").alias("tok_max"),
        )
        .orderBy("regime")
    )
