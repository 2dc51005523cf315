"""Aggregate pushdown over the blocks table: corpus stats without decode.

``SELECT count, sum, min, max FROM tokens`` answered against the ENCODED
form (:mod:`..codec.aggregate`): chunks whose codec already carries the
reduction (CONSTANT, RLE runs, dictionary tables) contribute O(metadata)
work; only param-opaque codecs inflate their streams. One ``mapInArrow``
pass emits a per-chunk partial row — Catalyst's hash aggregate does the
combine, so the shuffle carries one tiny row per chunk, never token data
(exactly the map-side-combine shape a 100 TB stats scan needs).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

_PARTIAL_ARROW_SCHEMA = pa.schema(
    [
        ("n_values", pa.int64()),
        ("sum_tok", pa.int64()),
        ("tok_min", pa.int64()),
        ("tok_max", pa.int64()),
    ]
)
_PARTIAL_SPARK_SCHEMA = (
    "n_values long, sum_tok long, tok_min long, tok_max long"
)


def _chunk_partials(blocks_df: DataFrame, need_sum: bool) -> DataFrame:
    from ..codec.aggregate import value_stats

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            payloads = batch.column("payload")
            # value_stats' fifth field (values decoded) is not aggregated
            rows = [
                value_stats(memoryview(payloads[i].as_buffer()), need_sum)[:4]
                for i in range(batch.num_rows)
            ]
            if rows:
                yield pa.RecordBatch.from_arrays(
                    [pa.array([r[j] for r in rows],
                              _PARTIAL_ARROW_SCHEMA.field(j).type)
                     for j in range(4)],
                    schema=_PARTIAL_ARROW_SCHEMA,
                )

    return blocks_df.select("payload").mapInArrow(
        fn, _PARTIAL_SPARK_SCHEMA
    )


def token_value_stats(blocks_df: DataFrame, need_sum: bool = True) -> DataFrame:
    """One row ``(n_values, [sum_tok,] tok_min, tok_max)`` for the corpus."""
    partial = _chunk_partials(blocks_df, need_sum)
    aggs = [F.sum("n_values").alias("n_values")]
    if need_sum:
        aggs.append(F.sum("sum_tok").alias("sum_tok"))
    aggs += [
        F.min("tok_min").alias("tok_min"),
        F.max("tok_max").alias("tok_max"),
    ]
    return partial.agg(*aggs)


def distinct_token_count(blocks_df: DataFrame) -> DataFrame:
    """One row ``(n_distinct,)``: COUNT(DISTINCT token) over the corpus.

    Pushdown shape: each chunk ships only its per-chunk distinct set
    (:func:`..codec.aggregate.distinct_values` — dictionary chunks ship
    their value TABLE without touching the O(n) index stream, RLE its run
    values, CONSTANT one value), so the dedup shuffle carries per-chunk
    uniques, never the token streams. On a clustered corpus the shuffle
    volume is bounded by chunk-vocabulary sums — the map-side-distinct
    analog of partial aggregation.
    """
    from collections.abc import Iterator as _It

    from ..codec.aggregate import distinct_values

    def fn(batches: _It[pa.RecordBatch]) -> _It[pa.RecordBatch]:
        import numpy as np

        for batch in batches:
            payloads = batch.column("payload")
            parts = [
                distinct_values(memoryview(payloads[i].as_buffer()))[0]
                for i in range(batch.num_rows)
            ]
            if parts:
                # batch-local dedup before anything hits the shuffle
                vals = np.unique(np.concatenate(parts))
                yield pa.RecordBatch.from_arrays(
                    [pa.array(vals, pa.int32())],
                    schema=pa.schema([("tok", pa.int32())]),
                )

    partial = blocks_df.select("payload").mapInArrow(fn, "tok int")
    return partial.agg(
        F.count_distinct("tok").cast("long").alias("n_distinct")
    )


def _histogram_counts(blocks_df: DataFrame, lo: int, hi: int) -> DataFrame:
    """Unordered ``(tok, n)`` counts for token values in ``[lo, hi]``.

    Vocabulary-distribution audit with the same pushdown economics as the
    other stats scans (:func:`..codec.aggregate.range_histogram`): RLE and
    CONSTANT chunks contribute O(runs) work, dictionary chunks bincount
    codes without rebuilding values, disjoint-domain chunks contribute
    nothing. Partials are (value, count) pairs — the shuffle is bounded by
    per-chunk in-range vocabulary, never token streams.
    """
    from collections.abc import Iterator as _It

    from ..codec.aggregate import range_histogram

    lo, hi = int(lo), int(hi)

    def fn(batches: _It[pa.RecordBatch]) -> _It[pa.RecordBatch]:
        for batch in batches:
            payloads = batch.column("payload")
            for i in range(batch.num_rows):
                uv, cnt, _dec = range_histogram(
                    memoryview(payloads[i].as_buffer()), lo, hi
                )
                if uv.size:
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(uv, pa.int64()), pa.array(cnt, pa.int64())],
                        schema=pa.schema(
                            [("tok", pa.int64()), ("n", pa.int64())]
                        ),
                    )

    partial = blocks_df.select("payload").mapInArrow(fn, "tok long, n long")
    return partial.groupBy("tok").agg(F.sum("n").alias("n"))


def token_histogram(blocks_df: DataFrame, lo: int, hi: int) -> DataFrame:
    """``(tok, n)`` counts for every token value in ``[lo, hi]``, ascending."""
    return _histogram_counts(blocks_df, lo, hi).orderBy("tok")


def doc_length_histogram(blocks_df: DataFrame) -> DataFrame:
    """``(n_tok, n_docs)`` — the sequence-length distribution a training
    pipeline sizes its packing/context-window decisions from.

    Answered from ``lengths_blob`` alone: the per-doc length stream is its
    own (tiny) encoded block, so the scan decodes O(docs) values and NEVER
    touches ``payload`` — Catalyst prunes the token bytes out of the
    parquet read entirely (the projection is the proof; see PLANS.md).
    Partials are batch-local (length, count) pairs; the shuffle is bounded
    by distinct lengths per batch."""
    from collections.abc import Iterator as _It

    import numpy as np

    from ..codec.blocks import decode_block

    def fn(batches: _It[pa.RecordBatch]) -> _It[pa.RecordBatch]:
        for batch in batches:
            blobs = batch.column("lengths_blob")
            parts = [
                decode_block(memoryview(blobs[i].as_buffer())).astype(
                    np.int64
                )
                for i in range(batch.num_rows)
            ]
            if parts:
                uv, cnt = np.unique(np.concatenate(parts), return_counts=True)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(uv, pa.int64()),
                     pa.array(cnt.astype(np.int64), pa.int64())],
                    schema=pa.schema(
                        [("n_tok", pa.int64()), ("n_docs", pa.int64())]
                    ),
                )

    partial = blocks_df.select("lengths_blob").mapInArrow(
        fn, "n_tok long, n_docs long"
    )
    return (
        partial.groupBy("n_tok")
        .agg(F.sum("n_docs").alias("n_docs"))
        .orderBy("n_tok")
    )


def doc_lengths(blocks_df: DataFrame) -> DataFrame:
    """``(doc, n_tok)`` per document — numeric doc ids — from ``doc_ids`` +
    ``lengths_blob`` alone; like :func:`doc_length_histogram` the payload
    column is pruned out of the scan entirely. The per-doc length relation
    ranked retrieval / packing / batching joins against, produced without
    decoding a single token. Doc numbers are parsed vectorized Arrow-side
    (``utf8_slice`` + cast), no per-row Python."""
    from collections.abc import Iterator as _It

    import numpy as np

    from ..codec.blocks import decode_block

    def fn(batches: _It[pa.RecordBatch]) -> _It[pa.RecordBatch]:
        import pyarrow.compute as pc

        out_schema = pa.schema([("doc", pa.int64()), ("n_tok", pa.int64())])
        for batch in batches:
            blobs = batch.column("lengths_blob")
            ids = batch.column("doc_ids")
            for i in range(batch.num_rows):
                lengths = decode_block(
                    memoryview(blobs[i].as_buffer())
                ).astype(np.int64)
                docs = pc.cast(
                    pc.utf8_slice_codeunits(ids[i].values, 4), pa.int64()
                )
                yield pa.RecordBatch.from_arrays(
                    [docs, pa.array(lengths, pa.int64())], schema=out_schema
                )

    return blocks_df.select("doc_ids", "lengths_blob").mapInArrow(
        fn, "doc long, n_tok long"
    )


def top_k_tokens(blocks_df: DataFrame, k: int) -> DataFrame:
    """Exact ``k`` most frequent tokens ``(tok, n)`` — the vocabulary-audit
    twin of :func:`token_histogram` over the full value domain.

    Per-chunk partials come from the same codec pushdown (dict chunks
    bincount codes, RLE aggregates runs); the global combine is a hash
    aggregate whose shuffle is bounded by per-chunk vocabularies, and the
    final ``ORDER BY n DESC LIMIT k`` compiles to TakeOrderedAndProject
    (per-partition top-k heaps, no global sort). Ties break on the token
    id, so the result is deterministic across parallelism levels."""
    counts = _histogram_counts(blocks_df, -(2**31), 2**31 - 1)
    return counts.orderBy(F.desc("n"), F.asc("tok")).limit(int(k))


def doc_length_quantiles(
    blocks_df: DataFrame, pcts: tuple[int, ...] = (50, 90, 99)
) -> DataFrame:
    """Exact discrete quantiles ``(pct, n_tok)`` of the sequence-length
    distribution — the numbers a pipeline picks context windows and packing
    targets from (p50/p90/p99 of doc length).

    Built on :func:`doc_length_histogram`, so only ``lengths_blob`` is ever
    scanned (payload pruned). The histogram is tiny — bounded by the number
    of DISTINCT lengths, not docs — so the cumulative window over it is a
    few-KB single-partition step by construction (same documented pattern
    as ``size_weighted_buckets_plan``). The quantile value is the smallest
    ``n_tok`` whose cumulative count covers ``pct`` percent of docs; the
    compare is kept in integers (``100*cum >= total*pct``) so it is exact
    and reproducible by any SQL engine.
    """
    from pyspark.sql import Window

    for p in pcts:
        if not 1 <= int(p) <= 100:
            raise ValueError(f"pct out of [1, 100]: {p}")
    hist = doc_length_histogram(blocks_df)
    w = Window.orderBy("n_tok").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        F.col("n_tok"), F.sum("n_docs").over(w).alias("cum")
    )
    total = hist.agg(F.sum("n_docs").alias("total"))
    pct_col = F.explode(
        F.array(*[F.lit(int(p)) for p in pcts])
    ).alias("pct")
    return (
        cum.crossJoin(F.broadcast(total))
        .select("n_tok", "cum", "total", pct_col)
        .where(F.col("cum") * 100 >= F.col("total") * F.col("pct"))
        .groupBy("pct")
        .agg(F.min("n_tok").alias("n_tok"))
        .select(
            F.col("pct").cast("long").alias("pct"),
            F.col("n_tok").cast("long").alias("n_tok"),
        )
        .orderBy("pct")
    )


def unigram_commonness(
    blocks_df: DataFrame, tokens_df: DataFrame, k: int = 512
) -> DataFrame:
    """Frequency-based quality screen: per-doc coverage by the corpus's
    ``k`` most frequent tokens (the LM-free cousin of CCNet's language-model
    filtering — documents made of rare tokens are disproportionately
    garbled/boilerplate/noise).

    The vocabulary statistics never decode the corpus: counts come from
    :func:`top_k_tokens`, i.e. the codec-metadata histogram partials (dict
    chunks bincount codes, RLE aggregates runs). The ``k``-row result is
    planning-sized, collected once, and baked into a literal lookup map, so
    the scoring pass is a pure per-row projection — zero shuffle, zero
    Python, one ``F.aggregate`` over the token array. All outputs are exact
    integers (``hot_permille`` uses integer division), so any SQL engine
    reproduces them bit-for-bit.

    ``k`` is bounded (default 512) so the in-row map stays cache-resident;
    past ~10^4 hot tokens prefer explode + broadcast hash join + map-side
    combined re-aggregation instead — the map literal is what keeps this
    form shuffle-free.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    hot = top_k_tokens(blocks_df, k).collect()  # k rows: planning-sized
    keys = [int(r.tok) for r in hot]
    vals = [int(r.n) for r in hot]
    m = F.map_from_arrays(
        F.array(*[F.lit(x) for x in keys]).cast("array<int>"),
        F.array(*[F.lit(x) for x in vals]).cast("array<long>"),
    )
    zero = F.struct(
        F.lit(0).cast("long").alias("h"), F.lit(0).cast("long").alias("s")
    )
    acc = F.aggregate(
        F.col("tokens"),
        zero,
        lambda a, x: F.struct(
            (
                a["h"]
                + F.when(F.try_element_at(m, x).isNotNull(), 1).otherwise(0)
            ).alias("h"),
            (a["s"] + F.coalesce(F.try_element_at(m, x), F.lit(0))).alias(
                "s"
            ),
        ),
    )
    return (
        tokens_df.withColumn("_acc", acc)
        .withColumn("n_hot", F.col("_acc.h"))
        .withColumn("hot_cnt_sum", F.col("_acc.s"))
        .withColumn(
            "hot_permille",
            F.expr(
                "CASE WHEN n_tok > 0 THEN CAST((1000 * n_hot) DIV n_tok "
                "AS BIGINT) END"
            ),
        )
        .drop("_acc")
    )
