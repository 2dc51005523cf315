"""Text-column round trips through the table store: roundtrip exactness +
order, FSST/dict compression wins on corpus text, duplicate-text dedup
through the dictionary, parallelism invariance of the deterministic chunk
layout, and the shared FSST table."""

import pytest
from pyspark.sql import functions as F

from mapbox_vector_tile_spark.engine.columnar import (
    text_roundtrip_rollup,
    train_shared_fsst_table,
)
from mapbox_vector_tile_spark.engine.table_encode import (
    decode_table,
    encode_table,
)

_SHARED_MISSING = "shared-table FSST blob but no shared_symbols supplied"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def template_docs(spark):
    """700 docs of one template: text a shared FSST table compresses."""
    df = spark.range(0, 700).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("the quick brown token fox "),
            F.col("id").cast("string"),
            F.lit(" jumps over the lazy compression dog"),
        ).alias("text"),
    )
    df.cache().count()
    return df


def _text_frames(rows):
    """(bytes_enc, bytes_raw, payload) of the ``text`` frame of each
    blocks row."""
    out = []
    for r in rows:
        j = list(r.cols).index("text")
        out.append((r.bytes_enc[j], r.bytes_raw[j], bytes(r.payloads[j])))
    return out


def test_roundtrip_text_and_order(spark, docs):
    dec = decode_table(encode_table(docs, "doc_id", 64), docs.schema, ["text"])
    got = {(r.chunk, r.pos): r.text for r in dec.collect()}
    want_rows = sorted((r.doc_id, r.text) for r in docs.collect())
    by_chunk = {}
    for did, t in want_rows:
        by_chunk.setdefault(did // 64, []).append(t)
    want = {
        (c, i): t for c, vals in by_chunk.items() for i, v in enumerate(vals)
        for t in [v]
    }
    assert got == want


def test_compression_beats_raw_on_corpus_text(spark, docs):
    """Word-soup corpus text must compress: the per-chunk dictionary plus
    the FSST symbol table have to beat raw utf-8 bytes by a real margin."""
    frames = _text_frames(encode_table(docs, "doc_id", 256).collect())
    enc = sum(f[0] for f in frames)
    raw = sum(f[1] for f in frames)
    assert enc < raw * 0.8, (enc, raw)


def test_duplicate_texts_dedupe_through_dictionary(spark):
    """1024 rows of 4 distinct strings: the dictionary stores each string
    once, so encoded bytes are dominated by the bit-packed index stream."""
    df = spark.range(1024).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("the quick brown fox payload "), (F.col("id") % 4)
        ).alias("text"),
    )
    frames = _text_frames(encode_table(df, "doc_id", 1024).collect())
    assert len(frames) == 1
    enc, raw, _ = frames[0]
    # raw ~ 29KB; dict holds 4 strings + 2-bit indices for 1024 rows (~256B)
    assert enc < raw // 10, (enc, raw)


def test_parallelism_invariance(spark, docs):
    a = text_roundtrip_rollup(docs.repartition(1), chunk_rows=128).collect()
    b = text_roundtrip_rollup(docs.repartition(7), chunk_rows=128).collect()
    assert a == b


def test_shared_fsst_table_roundtrip(spark, template_docs):
    """Column-level shared FSST table: every chunk's dict blob is in the
    SHARED mode, decoded texts equal the per-chunk-table form, the
    stored-mode fallback is intact, and the rollup agrees in both modes."""
    from mapbox_vector_tile_spark.codec import fsst
    from mapbox_vector_tile_spark.codec.strings import (
        _HDR,
        decode_string_chunk,
        encode_string_chunk,
    )

    docs = template_docs
    st = train_shared_fsst_table(docs)
    assert isinstance(st, bytes) and len(st) > 1
    tables = {"text": st}

    blocks = encode_table(docs, "doc_id", 256, fsst_tables=tables).cache()
    base = encode_table(docs, "doc_id", 256)
    # shared-mode chunks embed NO symbol table: the dict blob inside each
    # chunk starts with the SHARED mode byte (2), not the self-contained
    # FSST mode (1) that prefixes a packed table. (Total payload bytes vs
    # per-chunk tables vary by corpus — per-chunk tables can over-fit
    # template-synthetic text — so the byte win is asserted on the
    # realistic corpus in the oracle gate, not here.)
    frames = _text_frames(blocks.collect())
    assert len(frames) == 3
    assert all(p[_HDR.size] == 2 for _, _, p in frames)  # fsst._SHARED

    def texts(b, fsst_tables=None):
        dec = decode_table(b, docs.schema, ["text"], fsst_tables=fsst_tables)
        return {(r.chunk, r.pos): r.text for r in dec.collect()}

    got = texts(blocks, tables)
    assert got == texts(base) and len(got) == 700
    assert (
        text_roundtrip_rollup(docs, shared_fsst=True).collect()
        == text_roundtrip_rollup(docs).collect()
    )

    # stored-mode fallback: a useless shared table still round-trips
    junk = fsst.pack_table(fsst.train(b"\x01\x02\x03\x04"))
    vals = ["zzz-completely-disjoint-%d" % i for i in range(50)]
    blob = encode_string_chunk(vals, shared_table=junk)
    assert decode_string_chunk(blob, shared_table=junk) == vals

    # shared blob REQUIRES its table back (text the table compresses, so
    # the stored-mode fallback does NOT fire)
    rich = encode_string_chunk(
        ["the quick brown token fox %d jumps over" % i for i in range(200)],
        shared_table=st,
    )
    with pytest.raises(ValueError, match="shared"):
        decode_string_chunk(rich)


def test_shared_table_blocks_fail_loudly_without_the_table(
    spark, template_docs
):
    """A table-store reader handed shared-mode string frames but not their
    FSST table raises the codec's error instead of returning wrong or
    empty rows: ``decode_table`` without ``fsst_tables``, and the
    dictionary-level equality scan, which has no way to take the table."""
    from mapbox_vector_tile_spark.engine.table_encode import (
        scan_table_string_eq,
    )

    docs = template_docs
    st = train_shared_fsst_table(docs)
    blocks = encode_table(docs, "doc_id", 256, fsst_tables={"text": st})
    with pytest.raises(Exception, match=_SHARED_MISSING):
        decode_table(blocks, docs.schema, ["text"]).collect()
    value = docs.filter("doc_id = 5").first().text
    with pytest.raises(Exception, match=_SHARED_MISSING):
        scan_table_string_eq(blocks, docs.schema, "text", value).collect()
    with pytest.raises(ValueError, match="not string columns"):
        encode_table(docs, "doc_id", 256, fsst_tables={"doc_id": st})
