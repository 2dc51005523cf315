"""Point and range reads on a snapshot table laid out like an ingest table:
one data file per micro-batch commit. Results are bit-exact against a full
decode plus a filter, both when the driver decodes the kept files and when
Spark scans them; reads open only the data files whose doc-id zone map can
match; a driver-local read starts no scan job; on the Spark path the
survivors of the zone-map filter decode in as few Python tasks as their
bytes need and planning a read starts no Spark job; commits refuse frames
that are not blocks-shaped; and every decoder, and compaction, refuses a
chunk whose stored counts disagree with its lengths or whose payload fails
its checksum."""

import json
import os
import re
import shutil
import zlib
from contextlib import contextmanager
from urllib.parse import urlparse

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from mapbox_vector_tile_spark.codec import blocks as B
from mapbox_vector_tile_spark.engine import decode as D
from mapbox_vector_tile_spark.engine import generator as G
from mapbox_vector_tile_spark.engine import snapshots as S
from mapbox_vector_tile_spark.engine.compact import compact_blocks, compact_table
from mapbox_vector_tile_spark.engine.decode import (
    decode_dataframe,
    decode_doc_ids,
    decode_doc_ids_df,
    decode_doc_range,
    decode_padded_dataframe,
    decode_prefix_dataframe,
    decode_suffix_dataframe,
)
from mapbox_vector_tile_spark.engine.deletes import decode_with_deletes
from mapbox_vector_tile_spark.engine.encode import BLOCKS_SPARK_SCHEMA
from mapbox_vector_tile_spark.engine.search import (
    search_phrase,
    search_token,
    search_token_range,
)
from mapbox_vector_tile_spark.sources import parquet_direct as PD
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


def _copy_table(table: str, root: str, sidecars: bool = True) -> str:
    """A copy of the snapshot table at ``table``; without its data
    directories' ``_manifest.json`` sidecars unless ``sidecars``."""
    shutil.copytree(table, root)
    if not sidecars:
        for d in os.listdir(os.path.join(root, "data")):
            os.remove(os.path.join(root, "data", d, "_manifest.json"))
    return root


@pytest.fixture(scope="module")
def bare(table, tmp_path_factory):
    """The table as a writer from before per-file zone maps left it."""
    return _copy_table(
        table, str(tmp_path_factory.mktemp("snapreads") / "bare"), False
    )


def _add_empty_chunk_file(spark, root: str, tmp_path) -> None:
    """Commit to ``root`` one more data file whose one chunk has an empty
    doc-id set (null zone map) and no values."""
    row = S.read_blocks_at(spark, root).limit(1).toArrow()
    empty = B.encode_block(np.zeros(0, np.int32), B.RAW)
    cols = {
        "n_rows": 0, "n_values": 0, "doc_ids": [], "lengths_blob": empty,
        "payload": empty, "checksum": zlib.crc32(empty),
        "min_doc_id": None, "max_doc_id": None,
    }
    for name, value in cols.items():
        i = row.schema.get_field_index(name)
        row = row.set_column(
            i, row.schema.field(i), pa.array([value], row.schema.field(i).type)
        )
    src = str(tmp_path / "empty_chunks")
    os.makedirs(src)
    pq.write_table(row, os.path.join(src, "part-0.parquet"))
    S.commit_append(root, spark.read.schema(BLOCKS_SPARK_SCHEMA).parquet(src))


@pytest.fixture(scope="module")
def with_empty_chunk(spark, table, tmp_path_factory):
    """The table plus one committed file whose chunk has no doc ids."""
    tmp = tmp_path_factory.mktemp("snapreads")
    root = _copy_table(table, str(tmp / "tbl"))
    _add_empty_chunk_file(spark, root, tmp)
    return root


@pytest.fixture(scope="module")
def full(spark, table):
    return decode_dataframe(S.read_blocks_at(spark, table)).toArrow()


@pytest.fixture
def opened(monkeypatch):
    """Paths the driver opens through the one blocks file reader of the
    direct scans, in order."""
    paths = []
    read = PD._read_block_batches

    def spy(path, *args, **kwargs):
        paths.append(path)
        return read(path, *args, **kwargs)

    monkeypatch.setattr(PD, "_read_block_batches", spy)
    return paths


@pytest.fixture
def spark_path(monkeypatch):
    """No read fits the driver-local budget: every read that keeps a file
    decodes on Spark."""
    monkeypatch.setattr(D, "LOCAL_READ_BYTES", 0)


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


def _in(ids):
    return lambda c: pc.is_in(c, pa.array(ids, pa.string()))


def _between(lo, hi):
    return lambda c: pc.and_(pc.greater_equal(c, lo), pc.less(c, hi))


def _pruned_read(read, full: pa.Table, keep, n_files: int, opened: list,
                 on: str | None = None) -> int:
    """The frame ``read()`` returns reads ``n_files`` data files and equals
    the full decode filtered by ``keep``; returns its doc count. The files
    are those the driver opened (``opened``) for a driver-local read and
    the frame's ``inputFiles()`` for a Spark scan; ``on`` ("local" or
    "spark") pins which one it must be."""
    opened.clear()
    df = read()
    local, scanned = set(opened), df.inputFiles()
    assert not (local and scanned)
    assert on != "local" or not scanned
    assert on != "spark" or not local
    assert len(local) + len(scanned) == n_files
    return _check(df, full, keep)


def test_manifests_hold_each_files_zone_map(spark, table):
    """Every commit's data directory has a ``_manifest.json`` whose row
    count and ``[min_doc_id, max_doc_id]`` per file are those of the
    file's rows; the snapshot files and listings ignore the sidecar."""
    snap = S.read_snapshot(table, S.current_snapshot_id(table))
    for f in snap["data_files"]:
        d, name = os.path.split(os.path.join(table, f))
        with open(os.path.join(d, "_manifest.json")) as fh:
            man = json.load(fh)
        t = pq.read_table(os.path.join(d, name),
                          columns=["min_doc_id", "max_doc_id"])
        assert man["row_counts"] == {name: t.num_rows}
        assert man["file_stats"] == {name: {
            "min_doc_id": pc.min(t.column("min_doc_id")).as_py(),
            "max_doc_id": pc.max(t.column("max_doc_id")).as_py(),
        }}
    listed = S._rel_parquet_files(table, "data")
    assert listed == sorted(snap["data_files"])
    assert all(f.endswith(".parquet") for f in listed)
    log = S.snapshot_log(table)
    assert [e["snapshot_id"] for e in log] == list(range(1, N_BATCHES + 1))
    assert all(
        "_manifest.json" not in f for e in log for f in e["data_files"]
    )


def test_pruned_doc_ids_reads_match_full_decode(spark, table, full, opened):
    blocks = S.read_blocks_at(spark, table)
    three = G.doc_id_str([BATCH_DOCS + 4, 3 * BATCH_DOCS + 50,
                          6 * BATCH_DOCS + 99])
    assert _pruned_read(lambda: decode_doc_ids(blocks, three), full,
                        _in(three), 3, opened) == 3
    # ids in no file's envelope read no file: zero rows, the real schema
    nowhere = ["a", "doc-", "zzz"]
    assert _pruned_read(lambda: decode_doc_ids(blocks, nowhere), full,
                        _in(nowhere), 0, opened) == 0
    # an id inside one file's envelope that the file does not hold
    inside = G.doc_id_str([BATCH_DOCS + 50])[0] + "x"
    assert _pruned_read(lambda: decode_doc_ids(blocks, [inside]), full,
                        _in([inside]), 1, opened) == 0


def test_pruned_doc_range_reads_match_full_decode(spark, table, full,
                                                  opened):
    blocks = S.read_blocks_at(spark, table)
    last = N_BATCHES * BATCH_DOCS
    for (lo, hi), n_files, n_docs in (
        (("doc-99999999", "zzz"), 0, 0),
        (("a", "doc-"), 0, 0),
        (G.doc_id_str([2 * BATCH_DOCS + 10, 2 * BATCH_DOCS + 11]), 1, 1),
        (G.doc_id_str([3 * BATCH_DOCS, 4 * BATCH_DOCS]), 1, BATCH_DOCS),
        (G.doc_id_str([0, last]), N_BATCHES, last),
        (("", "zzz"), N_BATCHES, last),
    ):
        got = _pruned_read(lambda: decode_doc_range(blocks, lo, hi), full,
                           _between(lo, hi), n_files, opened)
        assert got == n_docs


def test_time_travel_reads_prune_the_older_snapshot(spark, table, opened):
    """A read at an older snapshot prunes within that snapshot's files:
    ids committed later find no file."""
    old = S.read_blocks_at(spark, table, 3)
    old_full = decode_dataframe(old).toArrow()
    assert old_full.num_rows == 3 * BATCH_DOCS
    ids = G.doc_id_str([BATCH_DOCS + 7, 6 * BATCH_DOCS + 7])
    assert _pruned_read(lambda: decode_doc_ids(old, ids), old_full,
                        _in(ids), 1, opened) == 1
    lo, hi = G.doc_id_str([2 * BATCH_DOCS - 5, 5 * BATCH_DOCS])
    assert _pruned_read(lambda: decode_doc_range(old, lo, hi), old_full,
                        _between(lo, hi), 2, opened) == 5 + BATCH_DOCS


def test_unpruned_reads_match(spark, table, bare, full, opened):
    """Without sidecars, and for a frame with an operator above the scan,
    every file is read and the rows are the same."""
    ids = G.doc_id_str([BATCH_DOCS + 4, 6 * BATCH_DOCS + 99])
    lo, hi = G.doc_id_str([3 * BATCH_DOCS, 3 * BATCH_DOCS + 40])
    for blocks in (
        S.read_blocks_at(spark, bare),
        S.read_blocks_at(spark, table).filter(F.col("n_rows") > 0),
    ):
        assert _pruned_read(lambda: decode_doc_ids(blocks, ids), full,
                            _in(ids), N_BATCHES, opened) == 2
        assert _pruned_read(lambda: decode_doc_range(blocks, lo, hi), full,
                            _between(lo, hi), N_BATCHES, opened) == 40


def test_incremental_changes_read_the_added_files(spark, table, full,
                                                  opened):
    inserted, deleted = S.incremental_changes(spark, table, 2, 5)
    assert deleted.count() == 0
    lo, hi = G.doc_id_str([2 * BATCH_DOCS, 5 * BATCH_DOCS])
    assert _pruned_read(lambda: inserted, full, _between(lo, hi), 3,
                        opened) == 3 * BATCH_DOCS


def test_compacted_rewrite_has_zone_maps(spark, table, full, tmp_path,
                                         opened):
    """A ``commit_rewrite`` of ``compact_blocks`` output writes zone maps
    for its new data directory; reads on it prune and match, and the
    snapshot before the rewrite still reads its own files."""
    root = _copy_table(table, str(tmp_path / "tbl"))
    sid = compact_table(spark, root, target_chunk_values=1 << 30)
    files = S.read_snapshot(root, sid)["data_files"]
    assert {os.path.dirname(f) for f in files} == {f"data/s{sid}"}
    with open(os.path.join(root, f"data/s{sid}", "_manifest.json")) as fh:
        stats = json.load(fh)["file_stats"]
    assert sorted(f"data/s{sid}/{k}" for k in stats) == sorted(files)
    blocks = S.read_blocks_at(spark, root)
    assert _check(decode_dataframe(blocks), full, lambda c: pc.is_valid(c)) \
        == N_BATCHES * BATCH_DOCS
    ids = G.doc_id_str([5, 5 * BATCH_DOCS + 5])
    n_files = sum(
        any(st["min_doc_id"] <= d <= st["max_doc_id"] for d in ids)
        for st in stats.values()
    )
    assert _pruned_read(lambda: decode_doc_ids(blocks, ids), full, _in(ids),
                        n_files, opened) == 2
    lo, hi = G.doc_id_str([BATCH_DOCS, BATCH_DOCS + 30])
    assert _check(decode_doc_range(blocks, lo, hi), full,
                  _between(lo, hi)) == 30
    before = S.read_blocks_at(spark, root, sid - 1)
    assert _pruned_read(lambda: decode_doc_ids(before, ids), full, _in(ids),
                        2, opened) == 2


def test_file_without_doc_ids_is_kept(spark, with_empty_chunk, full, opened):
    """A committed file whose chunks all have empty doc-id sets has no
    zone map (its min/max are null), so every read scans it; its chunks
    hold no docs, so the rows are unchanged."""
    root = with_empty_chunk
    new = S.read_snapshot(root, S.current_snapshot_id(root))["data_files"][-1]
    with open(os.path.join(root, os.path.dirname(new), "_manifest.json")) as fh:
        man = json.load(fh)
    assert list(man["row_counts"].values()) == [1]
    assert "file_stats" not in man
    blocks = S.read_blocks_at(spark, root)
    ids = G.doc_id_str([2 * BATCH_DOCS + 3])
    assert _pruned_read(lambda: decode_doc_ids(blocks, ids), full, _in(ids),
                        2, opened) == 1
    lo, hi = G.doc_id_str([BATCH_DOCS, BATCH_DOCS + 9])
    assert _pruned_read(lambda: decode_doc_range(blocks, lo, hi), full,
                        _between(lo, hi), 2, opened) == 9
    assert _pruned_read(lambda: decode_doc_ids(blocks, ["zzz"]), full,
                        _in(["zzz"]), 1, opened) == 0


def _reads(blocks) -> dict:
    """A 5-id read scattered over the table and a 40-doc range inside one
    file, with their doc counts."""
    return {
        "ids": (decode_doc_ids(blocks, G.doc_id_str([3, 150, 420, 555, 790])),
                5),
        "range": (decode_doc_range(blocks, *G.doc_id_str([510, 550])), 40),
    }


def test_survivors_decode_in_one_python_task(spark, bare, spark_path):
    """On a table without per-file zone maps, with more scan splits than
    the session's parallelism, the zone-map filter runs in the parallel
    scan (one task per file) and the surviving chunks cross one AQE-sized
    exchange into one Python task. Planning the reads starts no job."""
    with _session_conf(spark, _SCAN_CONF):
        with _job_group(spark, "snapshot-reads-plan"):
            reads = _reads(S.read_blocks_at(spark, bare))
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


def test_reads_scan_only_files_that_can_match(spark, table, spark_path):
    """With per-file zone maps, a read drops the files that cannot hold its
    docs before Spark plans the scan. A range inside one file and ids of
    the newest batch scan that one file in one task, with no exchange. The
    5-id read keeps its 5 files, more splits than the session's
    parallelism, so its survivors still cross one exchange into one Python
    task. Planning the reads starts no job."""
    with _session_conf(spark, _SCAN_CONF):
        with _job_group(spark, "snapshot-pruned-plan"):
            blocks = S.read_blocks_at(spark, table)
            reads = _reads(blocks)
            new = G.doc_id_str([(N_BATCHES - 1) * BATCH_DOCS + d
                                for d in (5, 30, 99)])
            reads["new_ids"] = (decode_doc_ids(blocks, new), 3)
        assert spark.sparkContext.statusTracker().getJobIdsForGroup(
            "snapshot-pruned-plan") == []
        # name -> (files scanned, exchanges)
        shape = {"ids": (5, 1), "range": (1, 0), "new_ids": (1, 0)}
        for name, (df, n) in reads.items():
            files, exchanges = shape[name]
            assert len(df.inputFiles()) == files, name
            assert _exchanges(df) == exchanges, name
            group = f"snapshot-pruned-{name}"
            with _job_group(spark, group):
                assert df.toArrow().num_rows == n
            tasks = _stage_tasks(spark, group)
            assert tasks[0] == files, (name, tasks)
            assert tasks[-1] == 1, (name, tasks)
            if not exchanges:
                assert tasks == [1], (name, tasks)


def test_wide_read_decodes_in_parallel(spark, table, spark_path):
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


def test_reads_keep_their_shape_without_spare_splits(spark, table, bare,
                                                     spark_path):
    """No exchange is added when it would save no Python task: a scan with
    no more splits than the session's parallelism (here the whole table
    without per-file zone maps), or a blocks plan that already has an
    exchange, decodes in the tasks it has."""
    parallelism = spark.sparkContext.defaultParallelism
    blocks = S.read_blocks_at(spark, bare)
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


def test_local_reads_start_no_scan_job(spark, table, opened):
    """Within the budget, a read decodes only its kept files in the driver
    when it is built: it starts no job and opens each kept file once, and
    its action runs one stage over the decoded rows, with no parquet scan
    and no Python stage."""
    new = G.doc_id_str([(N_BATCHES - 1) * BATCH_DOCS + d for d in (5, 30, 99)])
    # name -> (read, docs, files the zone maps keep)
    reads = {
        "ids": (lambda b: decode_doc_ids(
            b, G.doc_id_str([3, 150, 420, 555, 790])), 5, 5),
        "range": (lambda b: decode_doc_range(b, *G.doc_id_str([510, 550])),
                  40, 1),
        "new_ids": (lambda b: decode_doc_ids(b, new), 3, 1),
    }
    blocks = S.read_blocks_at(spark, table)
    for name, (read, n, n_files) in reads.items():
        opened.clear()
        with _job_group(spark, f"local-read-plan-{name}"):
            df = read(blocks)
        assert spark.sparkContext.statusTracker().getJobIdsForGroup(
            f"local-read-plan-{name}") == [], name
        assert len(opened) == len(set(opened)) == n_files, (name, opened)
        assert df.inputFiles() == [], name
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FileScan" not in plan and "Python" not in plan, (name, plan)
        group = f"local-read-{name}"
        with _job_group(spark, group):
            assert df.toArrow().num_rows == n
        tasks = _stage_tasks(spark, group)
        assert len(tasks) == 1, (name, tasks)
        assert tasks[0] <= spark.sparkContext.defaultParallelism, (name, tasks)
        assert len(opened) == n_files, name


def test_local_reads_check_payload_checksums(spark, tmp_path, opened):
    """A flipped payload byte fails a driver-local id or range read that
    touches the chunk, when the read is built; reads of other files still
    read."""
    root = str(tmp_path / "tbl")
    _commit_batches(spark, root, 2)
    snap = S.read_snapshot(root, S.current_snapshot_id(root))
    path = os.path.join(root, snap["data_files"][0])
    t = pq.read_table(path)
    i = t.schema.get_field_index("payload")
    bad = [p[:-1] + bytes([p[-1] ^ 0xFF]) for p in t.column(i).to_pylist()]
    pq.write_table(t.set_column(i, t.schema.field(i),
                                pa.array(bad, t.schema.field(i).type)), path)
    blocks = S.read_blocks_at(spark, root)
    ids = G.doc_id_str([7, 40])
    with pytest.raises(ValueError, match="payload checksum mismatch"):
        decode_doc_ids(blocks, ids)
    with pytest.raises(ValueError, match="payload checksum mismatch"):
        decode_doc_range(blocks, *G.doc_id_str([10, 20]))
    assert opened and {os.path.realpath(p) for p in opened} == {
        os.path.realpath(path)}
    ok = G.doc_id_str([BATCH_DOCS + 1, BATCH_DOCS + 2])
    assert sorted(r.doc_id for r in decode_doc_ids(blocks, ok).collect()) == ok
    lo, hi = G.doc_id_str([BATCH_DOCS, 2 * BATCH_DOCS])
    assert decode_doc_range(blocks, lo, hi).count() == BATCH_DOCS


@pytest.mark.parametrize("change", ["extra", "short"])
def test_payload_must_hold_its_lengths(spark, monkeypatch, tmp_path, change):
    """A payload frame holding one value more or less than its chunk's
    lengths (stored counts and CRC consistent) fails every read that
    gathers some of the chunk's docs, naming the chunk, and a driver-local
    read also names the file and row; other files still read."""
    root = str(tmp_path / "tbl")
    _commit_batches(spark, root, 2)
    snap = S.read_snapshot(root, S.current_snapshot_id(root))
    path = os.path.join(root, snap["data_files"][0])
    t = pq.read_table(path)
    values = B.decode_block(t.column("payload")[0].as_py())
    values = np.append(values, 7) if change == "extra" else values[:-1]
    payload = B.encode_block(values.astype(np.int32), B.RAW)
    for name, value in (("payload", payload),
                        ("checksum", zlib.crc32(payload))):
        i = t.schema.get_field_index(name)
        col = t.column(i).to_pylist()
        col[0] = value
        t = t.set_column(i, t.schema.field(i),
                         pa.array(col, t.schema.field(i).type))
    pq.write_table(t, path)
    os.remove(os.path.join(os.path.dirname(path),
                           f".{os.path.basename(path)}.crc"))
    blocks = S.read_blocks_at(spark, root)
    bad = r"chunk \[doc-\d+\.\.doc-\d+\]: payload frame holds \d+ values"
    local = re.escape(f"{os.path.basename(path)} row 0: ") + ".*" + bad
    ids = G.doc_id_str([7, 40])
    lo, hi = G.doc_id_str([10, 20])
    with pytest.raises(ValueError, match=local):
        decode_doc_ids(blocks, ids)
    with pytest.raises(ValueError, match=local):
        decode_doc_range(blocks, lo, hi)
    monkeypatch.setattr(D, "LOCAL_READ_BYTES", 0)
    for read in (lambda: decode_doc_ids(blocks, ids),
                 lambda: decode_doc_range(blocks, lo, hi),
                 lambda: decode_prefix_dataframe(blocks, 4)):
        with pytest.raises(Exception, match=bad):
            read().collect()
    ok = G.doc_id_str([BATCH_DOCS + 1, BATCH_DOCS + 2])
    assert sorted(r.doc_id for r in decode_doc_ids(blocks, ok).collect()) == ok


def test_reads_past_the_token_budget_decode_on_spark(spark, monkeypatch,
                                                     table, full, opened):
    """A read whose kept files fit the budget on disk but whose decoded
    tokens do not stops its driver-local decode and scans the kept files on
    Spark instead, with the same rows; a narrower read of the same file
    stays in the driver."""
    blocks = S.read_blocks_at(spark, table)
    path = PD.prune_files_by_doc_range(
        sorted(urlparse(u).path for u in blocks.inputFiles()),
        *G.doc_id_str([3 * BATCH_DOCS, 3 * BATCH_DOCS + 1]),
    )
    assert len(path) == 1
    size = os.path.getsize(path[0])
    tokens = 4 * pq.read_table(path[0]).column("n_values").to_numpy().sum()
    assert size < tokens
    monkeypatch.setattr(D, "LOCAL_READ_BYTES", size)
    lo, hi = G.doc_id_str([3 * BATCH_DOCS, 4 * BATCH_DOCS])
    opened.clear()
    got = decode_doc_range(blocks, lo, hi)
    assert opened == path and len(got.inputFiles()) == 1
    assert _check(got, full, _between(lo, hi)) == BATCH_DOCS
    one = G.doc_id_str([3 * BATCH_DOCS + 5])
    assert _pruned_read(lambda: decode_doc_ids(blocks, one), full, _in(one),
                        1, opened, "local") == 1


@pytest.mark.parametrize("on", ["local", "spark"])
def test_reads_match_full_decode_on_both_paths(
    spark, monkeypatch, table, bare, with_empty_chunk, full, opened, on
):
    """Every read is bit-exact, with the full decode's schema, whether the
    driver decodes the kept files (the default budget) or Spark scans them
    (a budget of 0 bytes): ids over several files and in no envelope,
    ranges over 0, 1 and all files, zero-token docs inside a range, time
    travel, a table without sidecars and a file whose chunk has no doc ids.
    Filtered frames and source-decoding reads always take the Spark
    path."""
    if on == "spark":
        monkeypatch.setattr(D, "LOCAL_READ_BYTES", 0)
    blocks = S.read_blocks_at(spark, table)
    last = N_BATCHES * BATCH_DOCS
    several = G.doc_id_str([5, 2 * BATCH_DOCS + 7, 2 * BATCH_DOCS + 8,
                            last - 1])
    zero = full.filter(pc.equal(full.column("n_tok"), 0)).column("doc_id")
    z = zero[0].as_py()
    zlo, zhi = G.doc_id_str([int(z[4:]) - 3, int(z[4:]) + 4])
    old = S.read_blocks_at(spark, table, 3)
    old_full = decode_dataframe(old).toArrow()
    empty = S.read_blocks_at(spark, with_empty_chunk)
    # (read, expected decode, keep, files read, docs)
    cases = [
        (lambda: decode_doc_ids(blocks, several), full, _in(several), 3, 4),
        (lambda: decode_doc_ids(blocks, ["a", "zzz"]), full,
         _in(["a", "zzz"]), 0, 0),
        (lambda: decode_doc_range(blocks, "doc-99999999", "zzz"), full,
         _between("doc-99999999", "zzz"), 0, 0),
        (lambda: decode_doc_range(blocks, *G.doc_id_str([310, 390])), full,
         _between(*G.doc_id_str([310, 390])), 1, 80),
        (lambda: decode_doc_range(blocks, "", "zzz"), full,
         _between("", "zzz"), N_BATCHES, last),
        (lambda: decode_doc_range(blocks, zlo, zhi), full,
         _between(zlo, zhi), 1, 7),
        (lambda: decode_doc_ids(old, G.doc_id_str([8, 250, 650])), old_full,
         _in(G.doc_id_str([8, 250, 650])), 2, 2),
        (lambda: decode_doc_range(old, *G.doc_id_str([150, 450])), old_full,
         _between(*G.doc_id_str([150, 450])), 2, 150),
        (lambda: decode_doc_ids(S.read_blocks_at(spark, bare), several), full,
         _in(several), N_BATCHES, 4),
        (lambda: decode_doc_range(S.read_blocks_at(spark, bare),
                                  *G.doc_id_str([0, 30])), full,
         _between(*G.doc_id_str([0, 30])), N_BATCHES, 30),
        (lambda: decode_doc_ids(empty, several), full, _in(several), 4, 4),
        (lambda: decode_doc_range(empty, *G.doc_id_str([95, 105])), full,
         _between(*G.doc_id_str([95, 105])), 3, 10),
    ]
    for k, (read, want, keep, n_files, n_docs) in enumerate(cases):
        assert _pruned_read(read, want, keep, n_files, opened, on) == n_docs, k
    assert decode_doc_range(blocks, zlo, zhi).filter("n_tok = 0").count() >= 1
    filtered = blocks.filter(F.col("n_rows") > 0)
    for read in (lambda: decode_doc_ids(filtered, several),
                 lambda: decode_doc_range(filtered, *G.doc_id_str([0, 30]))):
        opened.clear()
        assert read().inputFiles() and not opened
    lo, hi = G.doc_id_str([310, 390])
    opened.clear()
    sourced = decode_doc_range(blocks, lo, hi, with_source=True)
    assert not opened and sourced.columns[-1] == "source"
    assert len(sourced.inputFiles()) == 1
    same = decode_doc_range(blocks, lo, hi, transform=lambda df: df)
    assert not opened and len(same.inputFiles()) == 1
    assert _check(same, full, _between(lo, hi)) == 80


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


def _on_spark(read):
    """``read`` run with no read within the driver-local budget."""
    def run():
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(D, "LOCAL_READ_BYTES", 0)
            return read()
    return run


@pytest.mark.parametrize("column", ["n_values", "n_rows"])
def test_scan_decoders_check_stored_counts(spark, tmp_path, column):
    """Every reader of the checked row reader (the full, range, id,
    prefix, padded, suffix and merge-on-read decoders, the direct scans)
    and the three searches check every chunk's decoded lengths against its
    stored counts and name the chunk; a range read that misses the bad
    chunk still reads. Each read is built inside the check, since a
    driver-local read decodes (and fails) when it is built."""
    blocks, bad_doc = _bump_stored_count(spark, tmp_path, column)
    data = str(tmp_path / "tbl" / "data")
    out = str(tmp_path / "out")
    no_deletes = spark.createDataFrame([("zzz",)], "doc_id string")
    ids_df = spark.createDataFrame([(bad_doc,)], "doc_id string")
    reads = [
        lambda: decode_dataframe(blocks).collect(),
        lambda: decode_doc_range(blocks, bad_doc, bad_doc + "~").collect(),
        _on_spark(lambda: decode_doc_range(blocks, bad_doc, bad_doc + "~")
                  .collect()),
        lambda: decode_doc_ids(blocks, [bad_doc]).collect(),
        _on_spark(lambda: decode_doc_ids(blocks, [bad_doc]).collect()),
        lambda: decode_doc_ids_df(blocks, ids_df).collect(),
        lambda: decode_prefix_dataframe(blocks, 4).collect(),
        lambda: decode_padded_dataframe(blocks, 4, -1).collect(),
        lambda: decode_suffix_dataframe(blocks, 4).collect(),
        lambda: decode_with_deletes(blocks, no_deletes).collect(),
        lambda: PD.decode_to_parquet_direct(spark, data, out),
        lambda: PD.decode_to_parquet_direct(
            spark, data, out, doc_range=(bad_doc, bad_doc + "~")),
        lambda: PD.decoded_doc_checksums_direct(spark, data).collect(),
        lambda: search_token(blocks, 1).collect(),
        lambda: search_phrase(blocks, 1, 2).collect(),
        lambda: search_token_range(blocks, 0, 10).collect(),
    ]
    for read in reads:
        with pytest.raises(Exception, match=_BAD_CHUNK):
            read()
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
