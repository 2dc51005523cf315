"""Native columnar scan path == DataFrame path, bit for bit."""

from pyspark.sql import functions as F

from mapbox_vector_tile_spark.engine import generator as G
from mapbox_vector_tile_spark.engine.decode import decode_dataframe
from mapbox_vector_tile_spark.engine.encode import EncodeOptions, encode_dataframe
from mapbox_vector_tile_spark.engine.exchange import exchange_encode_fused_direct
from mapbox_vector_tile_spark.engine.verify import verify_roundtrip
from mapbox_vector_tile_spark.sources.parquet_direct import (
    decode_to_parquet_direct,
)


def test_direct_encode_decode_roundtrip(spark, tmp_path):
    n = 400
    tokens_pq = str(tmp_path / "tokens")
    G.corpus_dataframe(spark, n, num_partitions=4).write.parquet(tokens_pq)
    static = spark.read.parquet(tokens_pq)

    blocks_pq = str(tmp_path / "blocks")
    exchange_encode_fused_direct(spark, tokens_pq, blocks_pq, 4)

    # same doc and token totals as the DataFrame-API encode
    df_blocks = encode_dataframe(static, EncodeOptions())
    a = spark.read.parquet(blocks_pq).agg(
        F.sum("n_values"), F.sum("n_rows")
    ).first()
    b = df_blocks.agg(F.sum("n_values"), F.sum("n_rows")).first()
    assert tuple(a) == tuple(b)

    # decode via both paths -> bit-identical to the original
    out_pq = str(tmp_path / "decoded")
    assert decode_to_parquet_direct(spark, blocks_pq, out_pq) == n
    for decoded in (
        spark.read.parquet(out_pq),
        decode_dataframe(spark.read.parquet(blocks_pq)),
        decode_dataframe(df_blocks),
    ):
        res = verify_roundtrip(static, decoded).first()
        assert (res.n_docs, res.n_match, res.n_mismatch) == (n, n, 0)


def test_write_corpus_parquet_direct_matches_dataframe(spark, tmp_path):
    from mapbox_vector_tile_spark.engine import generator as G

    out = str(tmp_path / "tokens_direct")
    n = G.write_corpus_parquet_direct(spark, 300, out, num_partitions=4)
    assert n == 300
    direct = spark.read.parquet(out)
    via_df = G.corpus_dataframe(spark, 300, num_partitions=4)
    assert direct.count() == 300
    a = {r.doc_id: (r.tokens, r.n_tok, r.source) for r in direct.collect()}
    b = {r.doc_id: (r.tokens, r.n_tok, r.source) for r in via_df.collect()}
    assert a == b


def test_decode_row_range_splitting(spark, tmp_path):
    """Decode parallelism must not be capped by block file count: with ONE
    blocks file and n_tasks=6, the planner splits it into row ranges and
    the decode still covers every block exactly once."""
    from mapbox_vector_tile_spark.engine import generator as G
    from mapbox_vector_tile_spark.sources.parquet_direct import (
        block_task_dataframe,
        decoded_doc_checksums_direct,
        list_parquet_files,
    )

    n = 400
    tokens_pq = str(tmp_path / "tokens")
    blocks_pq = str(tmp_path / "blocks")
    G.corpus_dataframe(spark, n, num_partitions=1).write.parquet(tokens_pq)
    # small max_chunk, one task -> many block rows inside one output file
    exchange_encode_fused_direct(
        spark, tokens_pq, blocks_pq, 4, n_tasks=1,
        options=EncodeOptions(max_chunk_values=4096),
    )
    files = [f for f in list_parquet_files(blocks_pq)]
    assert len(files) == 1

    plan, n_planned = block_task_dataframe(spark, files, 6)
    # split into >= n_tasks row ranges
    assert plan.count() == n_planned >= 6

    tokens = spark.read.parquet(tokens_pq)
    want = tokens.agg(F.sum("n_tok")).first()[0]
    cks = decoded_doc_checksums_direct(spark, blocks_pq, n_tasks=6)
    assert cks.agg(F.sum("n_tok")).first()[0] == want
    assert cks.count() == n
    out_pq = str(tmp_path / "decoded")
    assert decode_to_parquet_direct(spark, blocks_pq, out_pq, n_tasks=6) == n
    assert len(list_parquet_files(out_pq)) > 1  # the sink splits too
    res = verify_roundtrip(tokens, spark.read.parquet(out_pq)).first()
    assert (res.n_docs, res.n_match, res.n_mismatch) == (n, n, 0)


def test_write_corpus_checksum_sidecar_matches_scan(spark, tmp_path):
    """The per-doc checksum sidecar written during generation (verify warm
    path) must equal the checksums a separate corpus scan computes."""
    from mapbox_vector_tile_spark.engine import generator as G
    from mapbox_vector_tile_spark.sources.parquet_direct import (
        doc_checksums_direct,
    )

    out = str(tmp_path / "tokens")
    cks = str(tmp_path / "tokens_cks")
    n = G.write_corpus_parquet_direct(
        spark, 300, out, num_partitions=4, checksums_path=cks
    )
    assert n == 300
    side = {
        r.doc_id: (r.n_tok, r.tok_cks, r.tok_wcks)
        for r in spark.read.parquet(cks).collect()
    }
    scan = {
        r.doc_id: (r.n_tok, r.tok_cks, r.tok_wcks)
        for r in doc_checksums_direct(spark, out).collect()
    }
    assert side == scan


def test_file_manifest_and_row_counts(spark, tmp_path):
    """Direct sinks write a ``_manifest.json`` with per-fragment row counts;
    readers take counts from it without touching footers, and fall back to a
    distributed footer scan for datasets written by other engines."""
    import json
    import os

    from mapbox_vector_tile_spark.engine import generator as G
    from mapbox_vector_tile_spark.sources.parquet_direct import (
        _footer_row_counts,
        _manifest_row_counts,
        file_row_counts,
        list_parquet_files,
    )

    out = str(tmp_path / "tokens")
    G.write_corpus_parquet_direct(spark, 300, out, num_partitions=3)
    files = list_parquet_files(out)
    with open(os.path.join(out, "_manifest.json")) as fh:
        man = json.load(fh)["row_counts"]
    assert sum(man.values()) == 300 and len(man) == 3
    via_manifest = _manifest_row_counts(files)
    via_footers = _footer_row_counts(spark, files)
    assert via_manifest == via_footers
    assert file_row_counts(spark, files) == via_footers

    # a Spark-written dataset has no manifest -> footer fallback
    plain = str(tmp_path / "plain")
    G.corpus_dataframe(spark, 100, num_partitions=2).write.parquet(plain)
    pf = list_parquet_files(plain)
    assert _manifest_row_counts(pf) is None
    assert sum(file_row_counts(spark, pf).values()) == 100


def test_row_sliced_read_prunes_row_groups(tmp_path):
    """Row-sliced block reads must touch only the overlapping row groups
    and return exactly the requested rows, for every slice position."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapbox_vector_tile_spark.sources.parquet_direct import (
        _read_block_batches,
    )

    path = str(tmp_path / "t.parquet")
    n = 57
    t = pa.table({"x": list(range(n))})
    pq.write_table(t, path, row_group_size=10)  # 6 row groups
    assert pq.ParquetFile(path).metadata.num_row_groups == 6
    for lo, hi in [(0, -1), (0, 10), (5, 25), (10, 20), (33, 34), (50, 57),
                   (0, 57), (56, -1), (57, -1), (20, 15)]:
        got = []
        for b in _read_block_batches(path, ["x"], lo, hi, batch_size=7):
            got.extend(b.column("x").to_pylist())
        end = n if hi < 0 else min(hi, n)
        assert got == list(range(lo, max(lo, end))), (lo, hi)


def test_decode_to_parquet_direct_roundtrip(spark, tmp_path):
    tokens_pq = str(tmp_path / "tokens")
    blocks_pq = str(tmp_path / "blocks")
    out_pq = str(tmp_path / "decoded")
    G.corpus_dataframe(spark, 300, num_partitions=3).write.parquet(tokens_pq)
    exchange_encode_fused_direct(spark, tokens_pq, blocks_pq, 4)
    n = decode_to_parquet_direct(spark, blocks_pq, out_pq, n_tasks=2)
    assert n == 300
    res = verify_roundtrip(
        spark.read.parquet(tokens_pq), spark.read.parquet(out_pq)
    ).first()
    assert (res.n_docs, res.n_match, res.n_mismatch) == (300, 300, 0)


def test_task_rows_dataframe_balanced_partitions(spark):
    """Task plans must spread groups evenly and deterministically with no
    exchange: up to 4x parallelism the Arrow-backed local table slices
    positionally into min(n, parallelism) even partitions (ONE Python pass
    per direct job); beyond that, parallelize keeps exactly one group per
    partition (retry/straggler granularity at fleet scale). The old
    repartition(n, "task_id") hashed n keys into n partitions, leaving
    ~1/e empty and stacking up to 4 groups on one arbitrarily."""
    from mapbox_vector_tile_spark.sources.parquet_direct import (
        task_rows_dataframe,
    )

    par = spark.sparkContext.defaultParallelism
    for n in (1, 7, 32, 64):
        rows = [(i, [f"f{i}"]) for i in range(n)]
        df = task_rows_dataframe(
            spark, rows, "task_id int, paths array<string>"
        )
        parts = df.rdd.glom().map(lambda rs: [r.task_id for r in rs]).collect()
        loads = [len(p) for p in parts]
        if n <= 4 * par:
            assert len(parts) == min(n, par), (n, loads)
            assert max(loads) - min(loads) <= 1, (n, loads)
            # positional slicing: consecutive ids, order preserved
            assert [i for p in parts for i in p] == list(range(n))
        else:
            assert loads == [1] * n, (n, loads)
        # and the plan has no exchange at all
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


def test_decode_to_parquet_direct_rerun_replaces_output(spark, tmp_path):
    """A rerun into the same directory leaves only its own part files:
    fewer tasks, or a narrower doc range, must not read back rows of the
    earlier run."""
    from mapbox_vector_tile_spark.sources.parquet_direct import (
        list_parquet_files,
    )

    n = 400
    tokens_pq = str(tmp_path / "tokens")
    blocks_pq = str(tmp_path / "blocks")
    out_pq = str(tmp_path / "decoded")
    G.corpus_dataframe(spark, n, num_partitions=8).write.parquet(tokens_pq)
    exchange_encode_fused_direct(spark, tokens_pq, blocks_pq, 8, n_tasks=8)
    assert len(list_parquet_files(blocks_pq)) == 8

    assert decode_to_parquet_direct(spark, blocks_pq, out_pq, n_tasks=8) == n
    assert decode_to_parquet_direct(spark, blocks_pq, out_pq, n_tasks=2) == n
    assert spark.read.parquet(out_pq).count() == n

    got = decode_to_parquet_direct(
        spark, blocks_pq, out_pq, doc_range=("doc-00000100", "doc-00000110")
    )
    assert got == 10
    assert spark.read.parquet(out_pq).count() == 10


def test_direct_scans_check_stored_counts(spark, tmp_path):
    """A blocks row whose stored n_values disagrees with its decode, or a
    row range the file cannot fill, fails every direct scan loudly; the
    sink then commits no _manifest.json or _SUCCESS."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from mapbox_vector_tile_spark.sources.parquet_direct import (
        decoded_doc_checksums_direct,
        list_parquet_files,
    )

    tokens_pq = str(tmp_path / "tokens")
    blocks_pq = str(tmp_path / "blocks")
    G.corpus_dataframe(spark, 300, num_partitions=1).write.parquet(tokens_pq)
    exchange_encode_fused_direct(
        spark, tokens_pq, blocks_pq, 4, n_tasks=1,
        options=EncodeOptions(max_chunk_values=4096),
    )
    (path,) = list_parquet_files(blocks_pq)
    good = pq.read_table(path)
    n_values = good.column("n_values").to_numpy().copy()
    n_values[3] += 1
    i = good.schema.get_field_index("n_values")
    pq.write_table(good.set_column(i, "n_values", pa.array(n_values)), path)

    def scans(n_tasks):
        yield lambda: decoded_doc_checksums_direct(
            spark, blocks_pq, n_tasks=n_tasks
        ).collect()
        yield lambda: decode_to_parquet_direct(
            spark, blocks_pq, str(tmp_path / "out"), n_tasks=n_tasks
        )

    for n_tasks in (None, 3):  # whole file, and row ranges
        for scan in scans(n_tasks):
            with pytest.raises(Exception, match=f"{path} row 3: decoded"):
                scan()
    out = str(tmp_path / "out")
    assert not os.path.exists(os.path.join(out, "_SUCCESS"))
    assert not os.path.exists(os.path.join(out, "_manifest.json"))

    # a manifest that promises more rows than the file holds: the last
    # row range comes back short
    pq.write_table(good, path)
    man_path = os.path.join(blocks_pq, "_manifest.json")
    with open(man_path) as fh:
        man = json.load(fh)
    rel = os.path.relpath(path, blocks_pq)
    n_chunks = man["row_counts"][rel]
    assert n_chunks == good.num_rows > 3
    man["row_counts"][rel] = n_chunks + 2
    with open(man_path, "w") as fh:
        json.dump(man, fh)
    for scan in scans(3):
        with pytest.raises(Exception, match="rows of the planned range"):
            scan()


def test_check_planned_tasks_raises_on_missing_task():
    from types import SimpleNamespace

    import pytest

    from mapbox_vector_tile_spark.sources.parquet_direct import (
        check_planned_tasks,
    )

    rows = [SimpleNamespace(task_id=t) for t in (0, 2)]
    check_planned_tasks(
        range(2), rows[:1] + [SimpleNamespace(task_id=1)], "direct decode",
        "result",
    )
    with pytest.raises(RuntimeError, match=r"result row \[1, 3\]"):
        check_planned_tasks(range(4), rows, "direct decode", "result")
