"""Doc conservation through the engine's one chunk emitter.

Property: whatever the layout — zero-token docs, buckets holding only
zero-token docs, docs longer than ``max_chunk_values``, one bucket, many
files forcing pin-window and budget drains — the doc ids, per-doc tokens
and per-doc source strings that come out of the emitted chunks equal those
that went in. The emitter is pure Python, so the property runs without a
Spark session; Spark cases drive the same edges through
``exchange_encode_fused_direct`` and check that it and ``encode_dataframe``
read their token input through the same checks and build the same chunks.
"""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import example, given, settings, strategies as st

from mapbox_vector_tile_spark.codec.strings import decode_string_chunk
from mapbox_vector_tile_spark.engine.decode import (
    _DECODE_COLS,
    _all_values,
    _checked_lengths,
)
from mapbox_vector_tile_spark.engine.encode import (
    EncodeOptions,
    _FusedChunkEmitter,
    blocks_batch,
)

MAX_CHUNK = 64

# one file = rows sorted by cluster key: (n_tokens, bucket) with buckets
# non-decreasing; lengths straddle 0 and MAX_CHUNK on purpose
docs_st = st.lists(
    st.tuples(
        st.one_of(st.just(0), st.integers(0, 20), st.integers(50, 150)),
        st.integers(0, 4),
    ),
    min_size=0,
    max_size=12,
).map(lambda ds: sorted(ds, key=lambda d: d[1]))
files_st = st.lists(docs_st, min_size=1, max_size=12)


def _run_emitter(files, min_chunk, pin_window, budget, seed=0,
                 with_source=False):
    """Feed ``files`` through one emitter; return (docs in, docs out) as
    ``{doc_id: tokens}`` (``{doc_id: (tokens, source)}`` ``with_source``)
    plus the emitter."""
    rng = np.random.default_rng(seed)
    em = _FusedChunkEmitter(
        EncodeOptions(max_chunk_values=MAX_CHUNK),
        task_id=0,
        min_chunk_values=min_chunk,
        buffer_budget_values=budget,
        pin_window=pin_window,
    )
    want = {}
    for f, docs in enumerate(files):
        lengths = np.array([n for n, _ in docs], dtype=np.int64)
        buckets = np.array([b for _, b in docs], dtype=np.int64)
        values = rng.integers(-1000, 1000, int(lengths.sum()), dtype=np.int32)
        ids = [f"f{f:02d}-{i:03d}" for i in range(len(docs))]
        off = np.concatenate(([0], np.cumsum(lengths)))
        # sources repeat and some are empty, as in a real source column
        sources = [f"src{f % 3}-{i % 4}" if i % 5 else ""
                   for i in range(len(docs))] if with_source else None
        for i, d in enumerate(ids):
            want[d] = values[off[i] : off[i + 1]].tolist()
            if with_source:
                want[d] = (want[d], sources[i])
        em.add_file(
            pa.array(ids, pa.string()), lengths, values, buckets,
            None if sources is None else pa.array(sources, pa.string()),
        )
    em.flush()
    got = {}
    if em.rows:
        batch = blocks_batch(em.rows, em.chunk_docs)
        cols = {c: batch.column(c) for c in _DECODE_COLS}
    for k, (row, docs) in enumerate(zip(em.rows, em.chunk_docs)):
        payload, lengths = _checked_lengths(cols, k, True)
        values = _all_values(payload, lengths)
        assert row["n_rows"] == len(docs) == lengths.size
        off = np.concatenate(([0], np.cumsum(lengths)))
        if with_source:
            sources = decode_string_chunk(row["source_blob"])
            assert len(sources) == len(docs)
        else:
            assert row["source_blob"] is None
        for i, d in enumerate(docs.to_pylist()):
            assert d not in got, f"doc {d} emitted twice"
            got[d] = values[off[i] : off[i + 1]].tolist()
            if with_source:
                got[d] = (got[d], sources[i])
    return want, got, em


@settings(max_examples=150, deadline=None)
@given(
    files=files_st,
    min_chunk=st.sampled_from([0, 16, MAX_CHUNK]),
    pin_window=st.sampled_from([1, 2, 8]),
    budget=st.sampled_from([MAX_CHUNK, 2 * MAX_CHUNK, 1 << 20]),
    with_source=st.booleans(),
)
# the reported repro: 6 docs in, 3 of them zero-token, 3 came out
@example(
    files=[[(40, 0), (40, 0), (0, 0), (5, 1), (0, 2), (0, 2)]],
    min_chunk=16, pin_window=8, budget=1 << 20, with_source=False,
)
# zero-token docs alone
@example(files=[[(0, 0), (0, 0), (0, 1)]], min_chunk=16, pin_window=8,
         budget=1 << 20, with_source=False)
@example(files=[[(0, 0), (0, 3)]], min_chunk=0, pin_window=8, budget=1 << 20,
         with_source=True)
# a bucket of only zero-token docs between full buckets
@example(files=[[(30, 0), (0, 1), (0, 1), (30, 2)]], min_chunk=16,
         pin_window=8, budget=1 << 20, with_source=True)
# docs longer than max_chunk_values, around zero-token docs
@example(files=[[(0, 0), (150, 0), (0, 0), (90, 1)]], min_chunk=16,
         pin_window=8, budget=1 << 20, with_source=False)
# every doc in one bucket, across files
@example(files=[[(10, 0)] * 5, [(0, 0)] * 3, [(70, 0), (0, 0)]],
         min_chunk=16, pin_window=8, budget=1 << 20, with_source=True)
# many files: pin-window and budget drains, tails of zero-token docs held
@example(
    files=[[(40, 0), (40, 0), (0, 0), (5, 1), (0, 2)] for _ in range(10)],
    min_chunk=16, pin_window=2, budget=MAX_CHUNK, with_source=True,
)
def test_emitter_conserves_docs_and_tokens(files, min_chunk, pin_window,
                                           budget, with_source):
    want, got, _ = _run_emitter(files, min_chunk, pin_window, budget,
                                with_source=with_source)
    assert got == want


def test_emitter_chunks_respect_bucket_range():
    """Every emitted chunk's [bucket, bucket_max] covers the buckets of its
    docs, zero-token ones included, and strict mode keeps chunks pure."""
    files = [[(30, 0), (0, 1), (0, 1), (30, 2), (0, 3)]]
    bucket_of = {f"f00-{i:03d}": b for i, (_, b) in enumerate(files[0])}
    for min_chunk in (0, 16):
        _, got, em = _run_emitter(files, min_chunk, 8, 1 << 20)
        assert len(got) == 5
        for r, docs in zip(em.rows, em.chunk_docs):
            buckets = {bucket_of[d] for d in docs.to_pylist()}
            assert r["bucket"] == min(buckets)
            assert r["bucket_max"] == max(buckets)
            if min_chunk == 0:
                assert r["bucket"] == r["bucket_max"]


def test_emitter_flush_raises_on_lost_docs():
    """An emitter whose chunks lose docs fails at flush instead of writing
    a short table."""

    class Lossy(_FusedChunkEmitter):
        def _emit_merged(self, group):  # drops every merged tail
            pass

    em = Lossy(EncodeOptions(max_chunk_values=MAX_CHUNK), task_id=3,
               min_chunk_values=16)
    em.add_file(pa.array(["a", "b", "c"]), np.array([40, 40, 5]),
                np.arange(85, dtype=np.int32), np.array([0, 0, 1]))
    with pytest.raises(RuntimeError,
                       match="task 3 was given 3 docs and emitted 2"):
        em.flush()


def test_task_count_check_raises_on_missing_tasks():
    from collections import namedtuple

    from mapbox_vector_tile_spark.sources.parquet_direct import (
        check_planned_tasks,
    )

    Row = namedtuple("Row", "task_id n_rows")
    tasks = [0, 1]
    check_planned_tasks(tasks, [Row(0, 5), Row(1, 0)], "fused encode", "manifest")
    with pytest.raises(RuntimeError, match=r"manifest row \[1\]"):
        check_planned_tasks(tasks, [Row(0, 5)], "fused encode", "manifest")


def test_fused_direct_keeps_zero_token_docs_and_empty_files(spark, tmp_path):
    """One input file with zero-token docs (a whole bucket's worth) plus
    one empty file: every doc comes back with its tokens."""
    from mapbox_vector_tile_spark.engine.decode import decode_dataframe
    from mapbox_vector_tile_spark.engine.exchange import (
        exchange_encode_fused_direct,
    )

    schema = pa.schema([
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
    ])
    rng = np.random.default_rng(7)
    lengths = [0, 300, 0, 0, 0, 0, 5000, 0, 40, 0, 0, 0]
    tokens = [rng.integers(0, 50_000, n).astype(np.int32).tolist()
              for n in lengths]
    ids = [f"doc-{i:08d}" for i in range(len(lengths))]
    src = tmp_path / "tokens"
    src.mkdir()
    pq.write_table(
        pa.table([ids, tokens, lengths], schema=schema),
        str(src / "part-0.parquet"),
    )
    pq.write_table(schema.empty_table(), str(src / "part-1.parquet"))

    out = str(tmp_path / "blocks")
    for min_chunk in (None, 0):
        summary = exchange_encode_fused_direct(
            spark, str(src), out, 4, n_tasks=2,
            options=EncodeOptions(max_chunk_values=1024),
            min_chunk_values=min_chunk,
        )
        assert summary["n_rows"] == len(ids)
        assert summary["n_values"] == sum(lengths)
        got = {
            r.doc_id: list(r.tokens)
            for r in decode_dataframe(spark.read.parquet(out)).collect()
        }
        assert got == dict(zip(ids, tokens))


def _tokens_file(path, tokens, token_type=pa.int32()):
    ids = [f"doc-{i:08d}" for i in range(len(tokens))]
    pq.write_table(
        pa.table({
            "doc_id": pa.array(ids, pa.string()),
            "tokens": pa.array(tokens, pa.list_(token_type)),
            "n_tok": pa.array([len(t) for t in tokens], pa.int32()),
        }),
        str(path),
    )
    return ids


def test_fused_direct_rejects_null_token_elements(spark, tmp_path):
    """A null inside a token array is an error on the bulk path, as it is
    for ``encode_dataframe``; it is not stored as ``-2**31``."""
    from mapbox_vector_tile_spark.engine.exchange import (
        exchange_encode_fused_direct,
    )

    src = tmp_path / "tokens"
    src.mkdir()
    _tokens_file(src / "part-0.parquet", [[1, None, 3], [4]])
    with pytest.raises(Exception,
                       match="tokens arrays must not contain null elements"):
        exchange_encode_fused_direct(
            spark, str(src), str(tmp_path / "blocks"), 1, n_tasks=1
        )


@pytest.mark.parametrize("encoder", ["encode_dataframe", "fused_direct"])
def test_bigint_tokens_are_range_checked(spark, tmp_path, encoder):
    """``array<bigint>`` tokens outside int32 raise on both encoders;
    in-range ones round-trip bit-exact."""
    from mapbox_vector_tile_spark.engine.decode import decode_dataframe
    from mapbox_vector_tile_spark.engine.encode import encode_dataframe
    from mapbox_vector_tile_spark.engine.exchange import (
        exchange_encode_fused_direct,
    )

    def encode(tokens, name):
        src = tmp_path / name
        src.mkdir()
        ids = _tokens_file(src / "part-0.parquet", tokens, pa.int64())
        out = str(tmp_path / f"{name}-blocks")
        if encoder == "encode_dataframe":
            encode_dataframe(spark.read.parquet(str(src))).write.parquet(out)
        else:
            exchange_encode_fused_direct(spark, str(src), out, 1, n_tasks=1)
        return ids, out

    with pytest.raises(Exception, match="Integer value 2147483653 not in range"):
        encode([[1, 2**31 + 5, 3]], "over")
    tokens = [[1, -(2**31), 2**31 - 1], [], [7] * 9]
    ids, out = encode(tokens, "inrange")
    got = {
        r.doc_id: list(r.tokens)
        for r in decode_dataframe(spark.read.parquet(out)).collect()
    }
    assert got == dict(zip(ids, tokens))


def test_dataframe_and_bulk_encoders_build_the_same_chunks(spark, tmp_path):
    """One sorted file, one partition, one Arrow batch, one bucket: the
    DataFrame encoder and the bulk sink cut and encode the same chunks."""
    import zlib

    from mapbox_vector_tile_spark.engine.encode import encode_dataframe
    from mapbox_vector_tile_spark.engine.exchange import (
        exchange_encode_fused_direct,
    )

    rng = np.random.default_rng(3)
    lengths = rng.integers(0, 400, 300)
    lengths[::17] = 0
    tokens = [(rng.integers(0, 5000, n) * (1 + i % 3)).tolist()
              for i, n in enumerate(lengths)]
    src = tmp_path / "tokens"
    src.mkdir()
    _tokens_file(src / "part-0.parquet", tokens)
    opts = EncodeOptions(max_chunk_values=8192)

    def chunks(rows):
        return [(r.checksum, r.lengths_blob, zlib.crc32(r.payload))
                for r in sorted(rows, key=lambda r: r.chunk_id)]

    df_rows = encode_dataframe(
        spark.read.parquet(str(src)).coalesce(1), opts
    ).collect()
    out = str(tmp_path / "blocks")
    exchange_encode_fused_direct(spark, str(src), out, 1, opts, n_tasks=1)
    bulk_rows = spark.read.parquet(out).collect()
    assert len(df_rows) > 3
    assert chunks(df_rows) == chunks(bulk_rows)
