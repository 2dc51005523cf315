"""Global (corpus-level) shared dictionary over encoded blocks.

Per-chunk DICT codecs carry a LOCAL table each, so the same token maps to
different codes in different chunks. A shared dictionary fixes the code
space corpus-wide — the classic columnar-warehouse "global dictionary":

- equal tokens get equal codes EVERYWHERE, so group-bys, joins and
  histograms run directly on the compact code column with no decode and
  no per-chunk translation;
- codes are dense frequency ranks, so the hottest tokens take the fewest
  bits and every re-encoded chunk bit-packs at ``ceil(log2(vocab))`` or
  better through the normal ladder;
- the dictionary itself is stored ONCE, not per chunk.

Scale shape (100 TB story): the dictionary is bounded by the TOKENIZER
vocabulary — tens of thousands to ~1M entries — which is broadcast-sized
by construction (the same bound the remap maps and IVF centroids rely
on). Building it needs NO token decode: the frequency table comes from
the codec-metadata histogram pushdown (``engine/stats._histogram_counts``
— dict chunks bincount their codes, RLE chunks aggregate runs), so the
build pass reads chunk params, not payload streams. Re-encode and decode
are stateless ``mapInArrow`` passes with the dict in the worker closure.

The rank assignment is one window over the vocab-sized aggregate — a
few-MB single-partition step by construction, the same documented
pattern as ``size_weighted_buckets_plan``.

Reference parity: the reference's per-tile deduplicated value tables
(/root/reference/mapbox_vector_tile/encoder.py:241-266) are the local
form; the frequency-ordered sort mirrors its usage-count optimizer
(/root/reference/mapbox_vector_tile/optimise.py:20-57) lifted to the
whole corpus.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..codec import blocks as B
from ..codec.select import encode_auto
from .stats import _histogram_counts


def build_global_dict(
    blocks_df: DataFrame, rank_buckets: int = 32
) -> DataFrame:
    """``(code, tok, n)`` — frequency-ordered corpus dictionary from codec
    metadata only (no payload decode). Ties break on the token id, so the
    code assignment is deterministic across parallelism levels.

    The rank is a distributed two-level prefix rank (the
    ``components.py`` pattern), not a single-partition window over the
    vocab: rows bucket by deterministic frequency ranges (approx
    quantiles of ``n``; equal frequencies always share a bucket, so
    bucket order embeds in the global order), rank locally within each
    bucket, and offset by the tiny per-bucket size table. Only the
    bucket-count-sized aggregates ever see an unpartitioned window."""
    counts = _histogram_counts(blocks_df, -(2**31), 2**31 - 1)
    fracs = [i / rank_buckets for i in range(1, rank_buckets)]
    bounds = counts.agg(
        F.percentile_approx("n", fracs, 10_000).alias("__bs")
    )
    # bucket 0 holds the highest frequencies: count boundaries > n
    bucketed = counts.crossJoin(F.broadcast(bounds)).select(
        "tok",
        "n",
        F.size(F.filter("__bs", lambda b: b > F.col("n"))).alias("__bk"),
    )
    w_local = Window.partitionBy("__bk").orderBy(F.desc("n"), F.asc("tok"))
    local = bucketed.withColumn("__lr", F.row_number().over(w_local))
    sizes = bucketed.groupBy("__bk").agg(F.count(F.lit(1)).alias("__sz"))
    # prefix offsets via a triangular self-join of the <=rank_buckets-row
    # size table (O(buckets^2) rows, trivially small) — no unpartitioned
    # WindowExec anywhere in the plan
    a, b = sizes.alias("a"), sizes.alias("b")
    offsets = (
        a.join(b, F.col("b.__bk") < F.col("a.__bk"), "left")
        .groupBy(F.col("a.__bk").alias("__bk"))
        .agg(F.coalesce(F.sum("b.__sz"), F.lit(0)).alias("__off"))
    )
    return local.join(F.broadcast(offsets), "__bk").select(
        (F.col("__off") + F.col("__lr") - 1).cast("long").alias("code"),
        F.col("tok").cast("long").alias("tok"),
        F.col("n").cast("long").alias("n"),
    )


def _dict_arrays(dict_df: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Collect the vocab-bounded dictionary: (toks_sorted, code_of_sorted)
    for encode-side lookup. Driver-side by design — the table is
    tokenizer-vocabulary-sized (broadcast class), never corpus-sized."""
    tbl = dict_df.select("code", "tok").toArrow()
    toks = tbl.column("tok").to_numpy(zero_copy_only=False).astype(np.int64)
    codes = tbl.column("code").to_numpy(zero_copy_only=False).astype(np.int64)
    order = np.argsort(toks)
    return toks[order], codes[order]


def encode_with_global_dict(
    blocks_df: DataFrame, dict_df: DataFrame
) -> DataFrame:
    """Rewrite every chunk's token stream into the shared code space; the
    code stream re-runs the normal auto-selector (dense ranks bit-pack).
    All metadata columns pass through; payload/codec/bytes_enc/checksum
    are replaced. Unknown tokens fail fast (the dict must cover the
    corpus it was built from). Every chunk is read through the checked
    row reader first (payload CRC, decoded lengths against the stored
    counts), so a corrupt payload fails the rewrite instead of being
    re-encoded under a fresh checksum."""
    from .decode import _read_rows

    toks_sorted, code_of = _dict_arrays(dict_df)
    schema = blocks_df.schema

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            new_payloads, new_codec, new_enc, new_cks = [], [], [], []
            for _, _, vals, _ in _read_rows([batch], True, flush=(0, 0)):
                idx = np.searchsorted(toks_sorted, vals)
                if (idx >= toks_sorted.size).any() or (
                    toks_sorted[np.minimum(idx, toks_sorted.size - 1)]
                    != vals
                ).any():
                    raise ValueError("token absent from global dictionary")
                codes = code_of[idx].astype(np.int32)
                payload, cid = encode_auto(codes)
                new_payloads.append(payload)
                new_codec.append(B.CODEC_NAMES[cid])
                new_enc.append(len(payload))
                new_cks.append(zlib.crc32(payload))
            arrays = []
            for field in batch.schema:
                if field.name == "payload":
                    arrays.append(pa.array(new_payloads, pa.binary()))
                elif field.name == "codec":
                    arrays.append(pa.array(new_codec, pa.string()))
                elif field.name == "bytes_enc":
                    arrays.append(pa.array(new_enc, pa.int64()))
                elif field.name == "checksum":
                    arrays.append(pa.array(new_cks, pa.int64()))
                else:
                    arrays.append(batch.column(field.name))
            yield pa.RecordBatch.from_arrays(arrays, schema=batch.schema)

    return blocks_df.mapInArrow(fn, schema)


def decode_global_dict(
    coded_blocks: DataFrame, dict_df: DataFrame
) -> DataFrame:
    """Inverse: decode the code streams through the normal block decoder
    (checksums verified over the code payloads), then gather tokens with
    one vectorized dict lookup — ``(doc_id, tokens, n_tok)``."""
    from .decode import decode_dataframe

    tbl = dict_df.select("code", "tok").toArrow()
    codes = tbl.column("code").to_numpy(zero_copy_only=False).astype(np.int64)
    toks = tbl.column("tok").to_numpy(zero_copy_only=False).astype(np.int64)
    tok_for_code = np.zeros(len(codes), np.int64)
    tok_for_code[codes] = toks
    decoded = decode_dataframe(coded_blocks)

    out_schema = pa.schema(
        [
            ("doc_id", pa.string()),
            ("tokens", pa.list_(pa.int32())),
            ("n_tok", pa.int32()),
        ]
    )

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            codes = (
                batch.column("tokens")
                .flatten()
                .to_numpy(zero_copy_only=False)
            )
            toks = tok_for_code[codes].astype(np.int32)
            lengths = batch.column("n_tok").to_numpy(zero_copy_only=False)
            offsets = np.zeros(lengths.size + 1, dtype=np.int64)
            np.cumsum(lengths, out=offsets[1:])
            tokens = pa.LargeListArray.from_arrays(
                pa.array(offsets, pa.int64()), pa.array(toks, pa.int32())
            ).cast(pa.list_(pa.int32()))
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), tokens, batch.column("n_tok")],
                schema=out_schema,
            )

    return decoded.mapInArrow(fn, "doc_id string, tokens array<int>, n_tok int")
