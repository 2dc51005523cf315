"""Point and range reads on a snapshot table laid out like an ingest table:
one data file per micro-batch commit. Results are bit-exact against a full
decode plus a filter; the survivors of the zone-map filter decode in as few
Python tasks as their bytes need; planning a read starts no Spark job;
commits refuse frames that are not blocks-shaped; and every decoder, and
compaction, refuses a chunk whose stored counts disagree with its
lengths."""

import os
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from mapbox_vector_tile_spark.engine import generator as G
from mapbox_vector_tile_spark.engine import snapshots as S
from mapbox_vector_tile_spark.engine.compact import compact_blocks
from mapbox_vector_tile_spark.engine.decode import (
    decode_dataframe,
    decode_doc_ids,
    decode_doc_ids_df,
    decode_doc_range,
    decode_prefix_dataframe,
    decode_suffix_dataframe,
)
from mapbox_vector_tile_spark.engine.deletes import decode_with_deletes
from mapbox_vector_tile_spark.engine.encode import BLOCKS_SPARK_SCHEMA
from mapbox_vector_tile_spark.streaming.snapshot_sink import commit_micro_batch

BATCH_DOCS = 100
N_BATCHES = 8

# the benchmark's scan sizing: one scan task per data file of this table
_SCAN_CONF = {
    "spark.sql.files.maxPartitionBytes": "8m",
    "spark.sql.files.openCostInBytes": "1m",
    "spark.sql.files.minPartitionNum": "8",
}


def _commit_batches(spark, root: str, n_batches: int) -> None:
    corpus = G.corpus_dataframe(spark, n_batches * BATCH_DOCS, num_partitions=1)
    for b in range(n_batches):
        lo, hi = G.doc_id_str([b * BATCH_DOCS, (b + 1) * BATCH_DOCS])
        batch = corpus.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        assert commit_micro_batch(root, batch, b) is not None


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("snapreads") / "tbl")
    _commit_batches(spark, root, N_BATCHES)
    snap = S.read_snapshot(root, S.current_snapshot_id(root))
    assert len(snap["data_files"]) == N_BATCHES
    return root


@pytest.fixture(scope="module")
def full(spark, table):
    return decode_dataframe(S.read_blocks_at(spark, table)).toArrow()


@contextmanager
def _session_conf(spark, conf: dict):
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@contextmanager
def _job_group(spark, name: str):
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _stage_tasks(spark, group: str) -> list[int]:
    """Task count of every stage the group's jobs ran, by stage id."""
    st = spark.sparkContext.statusTracker()
    stages = {
        s for j in st.getJobIdsForGroup(group) for s in st.getJobInfo(j).stageIds
    }
    return [st.getStageInfo(s).numTasks for s in sorted(stages)]


def _exchanges(df) -> int:
    """Shuffle exchanges in the physical plan of ``df``."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(line.lstrip("+- :").startswith("Exchange ")
               for line in plan.splitlines())


def _rows(t: pa.Table) -> list[tuple]:
    cols = (t.column(c).to_pylist() for c in ("doc_id", "tokens", "n_tok"))
    return sorted(zip(*cols))


def _check(got, full: pa.Table, keep) -> int:
    """``got`` equals the full decode filtered by ``keep``, bit for bit and
    with the same schema; returns the number of docs."""
    got = got.toArrow()
    assert got.schema == full.schema
    want = full.filter(keep(full.column("doc_id")))
    assert _rows(got) == _rows(want)
    return got.num_rows


def test_doc_ids_reads_match_full_decode(spark, table, full):
    blocks = S.read_blocks_at(spark, table)
    scattered = G.doc_id_str(range(7, N_BATCHES * BATCH_DOCS, 97))
    one_file = G.doc_id_str(range(3 * BATCH_DOCS + 5, 4 * BATCH_DOCS, 11))
    for ids in (scattered, one_file):
        n = _check(decode_doc_ids(blocks, ids), full,
                   lambda c, ids=ids: pc.is_in(c, pa.array(ids)))
        assert n == len(ids)
    # ids in no chunk: before, between (never written) and after every file
    missing = ["doc-", "doc-00000050x", "zzz"]
    assert _check(decode_doc_ids(blocks, missing), full,
                  lambda c: pc.is_in(c, pa.array(missing))) == 0


def test_doc_ids_overloads_agree(spark, table, full):
    """The literal and the DataFrame id lookups return the same docs, bit
    for bit: ids in two files, a zero-token doc, and an id inside a
    chunk's doc-id span that the chunk does not hold."""
    blocks = S.read_blocks_at(spark, table)
    zero = full.filter(pc.equal(full.column("n_tok"), 0)).column("doc_id")
    inside = G.doc_id_str([BATCH_DOCS + 50])[0] + "x"  # never written
    spans = blocks.filter(
        (F.col("min_doc_id") <= inside) & (F.col("max_doc_id") >= inside)
    ).select("doc_ids").collect()
    assert spans and all(inside not in r.doc_ids for r in spans)
    ids = G.doc_id_str([BATCH_DOCS - 3, 2 * BATCH_DOCS + 7])
    ids += [zero[0].as_py(), inside]
    ids_df = spark.createDataFrame([(d,) for d in ids], "doc_id string")
    want = lambda c: pc.is_in(c, pa.array(ids))  # noqa: E731
    n = _check(decode_doc_ids(blocks, ids), full, want)
    assert n == len(set(ids)) - 1
    assert _check(decode_doc_ids_df(blocks, ids_df), full, want) == n


def test_doc_range_reads_match_full_decode(spark, table, full):
    blocks = S.read_blocks_at(spark, table)
    lo, hi = G.doc_id_str([2 * BATCH_DOCS - 15, 2 * BATCH_DOCS + 25])  # two files
    assert _check(decode_doc_range(blocks, lo, hi), full,
                  lambda c: pc.and_(pc.greater_equal(c, lo),
                                    pc.less(c, hi))) == 40
    zero = full.filter(pc.equal(full.column("n_tok"), 0)).column("doc_id")
    assert len(zero) >= 2
    # ranges holding exactly one zero-token doc: the first and the last one
    for lo, hi in ((zero[0].as_py(), zero[0].as_py() + "\x00"),
                   (zero[-1].as_py(), zero[-1].as_py() + "\x00")):
        got = decode_doc_range(blocks, lo, hi)
        assert _check(got, full, lambda c, lo=lo: pc.equal(c, lo)) == 1
        assert got.first().n_tok == 0


def _reads(blocks) -> dict:
    """A 5-id read scattered over the table and a 40-doc range inside one
    file, with their doc counts."""
    return {
        "ids": (decode_doc_ids(blocks, G.doc_id_str([3, 150, 420, 555, 790])),
                5),
        "range": (decode_doc_range(blocks, *G.doc_id_str([510, 550])), 40),
    }


def test_survivors_decode_in_one_python_task(spark, table):
    """With more scan splits than the session's parallelism, the zone-map
    filter runs in the parallel scan (one task per file) and the surviving
    chunks cross one AQE-sized exchange into one Python task. Planning the
    reads starts no job."""
    with _session_conf(spark, _SCAN_CONF):
        with _job_group(spark, "snapshot-reads-plan"):
            reads = _reads(S.read_blocks_at(spark, table))
        assert spark.sparkContext.statusTracker().getJobIdsForGroup(
            "snapshot-reads-plan") == []
        for name, (df, n) in reads.items():
            assert _exchanges(df) == 1, name
            group = f"snapshot-reads-{name}"
            with _job_group(spark, group):
                assert df.toArrow().num_rows == n
            tasks = _stage_tasks(spark, group)
            assert tasks[0] == N_BATCHES, (name, tasks)
            assert tasks[-1] == 1, (name, tasks)


def test_wide_read_decodes_in_parallel(spark, table):
    """When most chunks survive, the exchange still leaves one Python task
    per core, not one for the whole read. The minimum coalesced partition
    size is lowered so this small table stands in for a large one."""
    conf = dict(_SCAN_CONF)
    conf["spark.sql.adaptive.coalescePartitions.minPartitionSize"] = "1k"
    with _session_conf(spark, conf):
        blocks = S.read_blocks_at(spark, table)
        df = decode_doc_range(blocks, *G.doc_id_str([0, N_BATCHES * BATCH_DOCS]))
        with _job_group(spark, "snapshot-reads-wide"):
            assert df.toArrow().num_rows == N_BATCHES * BATCH_DOCS
    tasks = _stage_tasks(spark, "snapshot-reads-wide")
    assert tasks[0] == N_BATCHES, tasks
    assert tasks[-1] == spark.sparkContext.defaultParallelism, tasks


def test_reads_keep_their_shape_without_spare_splits(spark, table):
    """No exchange is added when it would save no Python task: a scan with
    no more splits than the session's parallelism, or a blocks plan that
    already has an exchange, decodes in the tasks it has."""
    parallelism = spark.sparkContext.defaultParallelism
    blocks = S.read_blocks_at(spark, table)
    assert blocks.rdd.getNumPartitions() <= parallelism
    for name, (df, n) in _reads(blocks).items():
        assert _exchanges(df) == 0, name
        group = f"snapshot-reads-fused-{name}"
        with _job_group(spark, group):
            assert df.toArrow().num_rows == n
        tasks = _stage_tasks(spark, group)
        assert len(tasks) == 1 and tasks[0] <= parallelism, (name, tasks)
    with _session_conf(spark, _SCAN_CONF):
        shuffled = S.read_blocks_at(spark, table).repartition(parallelism + 2)
        for name, (df, n) in _reads(shuffled).items():
            assert _exchanges(df) == 1, name
            group = f"snapshot-reads-shuffled-{name}"
            with _job_group(spark, group):
                assert df.toArrow().num_rows == n
            tasks = _stage_tasks(spark, group)
            assert tasks[-1] == parallelism + 2, (name, tasks)


def test_read_blocks_at_starts_no_job(spark, table):
    with _job_group(spark, "snapshot-read-plan"):
        blocks = S.read_blocks_at(spark, table)
    assert spark.sparkContext.statusTracker().getJobIdsForGroup(
        "snapshot-read-plan") == []
    assert blocks.schema.simpleString() == spark.createDataFrame(
        [], BLOCKS_SPARK_SCHEMA).schema.simpleString()


def test_commits_refuse_other_schemas(spark, table, tmp_path):
    blocks = S.read_blocks_at(spark, table)
    root = str(tmp_path / "tbl")
    for df in (blocks.drop("source_blob"), blocks.withColumn("extra", F.lit(1))):
        for commit in (S.commit_append, S.commit_rewrite):
            with pytest.raises(ValueError, match="differs from the blocks"):
                commit(root, df)
    assert S.current_snapshot_id(root) is None
    assert not os.path.exists(os.path.join(root, "data"))
    assert not os.path.exists(os.path.join(root, "snapshots"))


_BAD_CHUNK = r"chunk \[doc-\d+\.\.doc-\d+\]: .*stored n_rows \d+ and n_values"


def _bump_stored_count(spark, tmp_path, column: str = "n_values"):
    """A 2-commit table whose first blocks row stores ``column`` one too
    high; returns its blocks frame and a doc id of that chunk."""
    root = str(tmp_path / "tbl")
    _commit_batches(spark, root, 2)
    snap = S.read_snapshot(root, S.current_snapshot_id(root))
    path = os.path.join(root, snap["data_files"][0])
    good = pq.read_table(path)
    bad_doc = good.column("doc_ids")[0].values[1].as_py()
    counts = good.column(column).to_numpy().copy()
    counts[0] += 1
    i = good.schema.get_field_index(column)
    pq.write_table(good.set_column(i, column, pa.array(counts)), path)
    # the rewritten file no longer matches the local file system's checksum
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    os.remove(crc)
    return S.read_blocks_at(spark, root), bad_doc


def test_gather_decoders_check_stored_counts(spark, tmp_path):
    """A blocks row whose stored n_values disagrees with its lengths fails
    both gather decoders when a read touches it; other chunks still read."""
    blocks, bad_doc = _bump_stored_count(spark, tmp_path)
    with pytest.raises(Exception, match=r"stored n_rows \d+ and n_values"):
        decode_doc_ids(blocks, [bad_doc]).collect()
    ids_df = spark.createDataFrame([(bad_doc,)], "doc_id string")
    with pytest.raises(Exception, match=r"stored n_rows \d+ and n_values"):
        decode_doc_ids_df(blocks, ids_df).collect()
    ok = G.doc_id_str([BATCH_DOCS + 1])
    assert [r.doc_id for r in decode_doc_ids(blocks, ok).collect()] == ok


@pytest.mark.parametrize("column", ["n_values", "n_rows"])
def test_scan_decoders_check_stored_counts(spark, tmp_path, column):
    """The full, range, prefix, suffix and merge-on-read decoders check
    every chunk's decoded lengths against its stored counts and name the
    chunk; a range read that misses the bad chunk still reads."""
    blocks, bad_doc = _bump_stored_count(spark, tmp_path, column)
    no_deletes = spark.createDataFrame([("zzz",)], "doc_id string")
    reads = [
        decode_dataframe(blocks),
        decode_doc_range(blocks, bad_doc, bad_doc + "~"),
        decode_prefix_dataframe(blocks, 4),
        decode_suffix_dataframe(blocks, 4),
        decode_with_deletes(blocks, no_deletes),
    ]
    for read in reads:
        with pytest.raises(Exception, match=_BAD_CHUNK):
            read.collect()
    lo, hi = G.doc_id_str([BATCH_DOCS, 2 * BATCH_DOCS])
    assert decode_doc_range(blocks, lo, hi).count() == BATCH_DOCS


@pytest.mark.parametrize("column", ["n_values", "n_rows"])
def test_compaction_checks_stored_counts(spark, tmp_path, column):
    """Compaction decodes a multi-member group only through the checked
    row path: a member whose stored counts disagree with its lengths fails
    the rewrite instead of being re-encoded with fresh counts."""
    blocks, _ = _bump_stored_count(spark, tmp_path, column)
    assert blocks.count() >= 2
    assert blocks.select("bucket").distinct().count() == 1
    # a target above the table's size puts every chunk in one group
    total = blocks.agg(F.sum("n_values")).first()[0]
    with pytest.raises(Exception, match=_BAD_CHUNK):
        compact_blocks(blocks, target_chunk_values=2 * total).collect()
