"""Iceberg v2 layer: avro OCF cross-check vs the Java avro jar, table
lifecycle (append/delete/time-travel), determinism, schema round-trip."""

import glob
import json
import os

import numpy as np

import pytest
from pyspark.sql import functions as F

from mapbox_vector_tile_spark.engine import generator as G
from mapbox_vector_tile_spark.sources import avro_ocf as A
from mapbox_vector_tile_spark.sources import iceberg as ICE

RICH_SCHEMA = {
    "type": "record", "name": "r1", "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": "string"},
        {"name": "opt", "type": ["null", "long"], "default": None},
        {"name": "arr", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": "string"}},
        {"name": "payload", "type": "bytes"},
        {"name": "flag", "type": "boolean"},
        {"name": "ratio", "type": "double"},
    ]}
RICH_RECORDS = [
    {"id": 5_000_000_001, "name": "alpha", "opt": None,
     "arr": [5_000_000_002, 3], "m": {"k": "v", "k2": ""},
     "payload": b"\x00\x01\xff", "flag": True, "ratio": 0.25},
    {"id": -7, "name": "", "opt": 5_000_000_005, "arr": [], "m": {},
     "payload": b"", "flag": False, "ratio": -2.5},
]


def test_avro_python_roundtrip():
    for codec in ("null", "deflate"):
        data = A.write_ocf(RICH_SCHEMA, RICH_RECORDS, codec=codec)
        schema, meta, recs = A.read_ocf(data)
        assert recs == RICH_RECORDS
        assert schema["name"] == "r1"
    # deterministic bytes for fixed sync
    assert A.write_ocf(RICH_SCHEMA, RICH_RECORDS) == A.write_ocf(
        RICH_SCHEMA, RICH_RECORDS
    )


def test_avro_java_reads_python_file(spark, tmp_path):
    """The authoritative Java avro implementation parses our OCF output."""
    p = str(tmp_path / "py.avro")
    with open(p, "wb") as fh:
        fh.write(A.write_ocf(RICH_SCHEMA, RICH_RECORDS, codec="deflate"))
    jvm = spark._jvm
    fr = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(p), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    got = []
    while fr.hasNext():
        got.append(str(fr.next()))
    fr.close()
    assert len(got) == 2
    assert '"id": 5000000001' in got[0] and '"opt": 5000000005' in got[1]
    assert '"arr": [5000000002, 3]' in got[0]


def test_avro_python_reads_java_file(spark, tmp_path):
    """Round-trip the other direction: Java writes, we read bit-exactly."""
    jvm = spark._jvm
    gc = spark.sparkContext._gateway._gateway_client
    from py4j.java_collections import ListConverter, MapConverter

    parser = jvm.org.apache.avro.Schema.Parser()
    jschema = parser.parse(json.dumps(RICH_SCHEMA))
    w = jvm.org.apache.avro.generic.GenericDatumWriter(jschema)
    dfw = jvm.org.apache.avro.file.DataFileWriter(w)
    dfw.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    p = str(tmp_path / "java.avro")
    dfw.create(jschema, jvm.java.io.File(p))
    for r in RICH_RECORDS:
        jr = jvm.org.apache.avro.generic.GenericData.Record(jschema)
        jr.put("id", r["id"])
        jr.put("name", r["name"])
        jr.put("opt", r["opt"])
        jr.put("arr", ListConverter().convert(r["arr"], gc))
        jr.put("m", MapConverter().convert(r["m"], gc))
        jr.put("payload", jvm.java.nio.ByteBuffer.wrap(bytearray(r["payload"])))
        jr.put("flag", r["flag"])
        jr.put("ratio", r["ratio"])
        dfw.append(jr)
    dfw.close()
    with open(p, "rb") as fh:
        _, _, recs = A.read_ocf(fh.read())
    # java boxed long ids come back as ints; compare exactly
    assert recs == RICH_RECORDS


def _table(spark, tmp_path, name="t"):
    tp = str(tmp_path / name)
    c1 = G.corpus_dataframe(spark, 120, num_partitions=2)
    ICE.append_dataframe(spark, c1, tp)
    c2 = G.corpus_dataframe(spark, 180, num_partitions=2).filter(
        F.col("doc_id") >= "doc-00000120"
    )
    ICE.append_dataframe(spark, c2, tp)
    return tp


def test_iceberg_append_and_time_travel(spark, tmp_path):
    tp = _table(spark, tmp_path)
    assert ICE.read_table(spark, tp).count() == 180
    assert ICE.read_table(spark, tp, snapshot_id=1).count() == 120
    # snapshot lineage + operations
    snaps = {s["snapshot-id"]: s for s in ICE.load_metadata(tp)["snapshots"]}
    assert snaps[2]["parent-snapshot-id"] == 1
    assert snaps[1]["parent-snapshot-id"] is None
    assert snaps[2]["summary"]["operation"] == "append"
    # content matches the generator exactly at both snapshots
    want = {r.doc_id for r in G.corpus_dataframe(spark, 180, 2).collect()}
    got = {r.doc_id for r in ICE.read_table(spark, tp).collect()}
    assert got == want


def test_iceberg_metadata_is_java_valid_avro(spark, tmp_path):
    tp = _table(spark, tmp_path)
    jvm = spark._jvm
    paths = glob.glob(os.path.join(tp, "metadata", "*.avro"))
    assert len(paths) >= 4  # 2 snapshots x (manifest + manifest list)
    for p in paths:
        fr = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(p),
            jvm.org.apache.avro.generic.GenericDatumReader(),
        )
        n = 0
        while fr.hasNext():
            fr.next()
            n += 1
        fr.close()
        assert n >= 1


def test_iceberg_schema_roundtrip(spark):
    df = G.corpus_dataframe(spark, 5, 1)
    ice = ICE.schema_to_iceberg(df.schema)
    names = [f["name"] for f in ice["fields"]]
    assert names == df.columns
    ids = [f["id"] for f in ice["fields"]]
    assert ids == sorted(set(ids))  # unique, stable field ids
    ddl = ICE.iceberg_to_spark_ddl(ice)
    assert "tokens array<int>" in ddl and "doc_id string" in ddl


def test_iceberg_deterministic_metadata(spark, tmp_path):
    t1 = _table(spark, tmp_path, "a")
    t2 = _table(spark, tmp_path, "b")
    for sub in ("v3.metadata.json",):
        m1 = json.load(open(os.path.join(t1, "metadata", sub)))
        m2 = json.load(open(os.path.join(t2, "metadata", sub)))
        # identical up to the table path embedded in locations/uuids
        s1 = json.dumps(m1, sort_keys=True).replace(t1, "T")
        s2 = json.dumps(m2, sort_keys=True).replace(t2, "T")
        # uuids derive from the path; normalize them out
        import re

        s1 = re.sub(r"[0-9a-f]{8}-[0-9a-f-]{27}", "U", s1)
        s2 = re.sub(r"[0-9a-f]{8}-[0-9a-f-]{27}", "U", s2)
        assert s1 == s2


def test_iceberg_uri_feeds_fused_encode(spark, tmp_path):
    """iceberg://table[@snap] resolves through list_parquet_files, so the
    flagship fused encode pipeline consumes Iceberg tables natively."""
    from mapbox_vector_tile_spark.engine.checkpoint import (
        encode_with_checkpoint_fused,
    )
    from mapbox_vector_tile_spark.engine.decode import decode_dataframe
    from mapbox_vector_tile_spark.engine.verify import verify_roundtrip
    from mapbox_vector_tile_spark.sources.parquet_direct import (
        list_parquet_files,
    )

    tp = _table(spark, tmp_path)
    files = list_parquet_files(f"iceberg://{tp}")
    assert files and all(f.endswith(".parquet") for f in files)
    assert len(list_parquet_files(f"iceberg://{tp}@1")) < len(files)

    out = str(tmp_path / "blocks")
    ckpt = str(tmp_path / "ckpt")
    summary = encode_with_checkpoint_fused(
        spark, f"iceberg://{tp}", out, ckpt, num_buckets=4
    )
    assert summary["tasks_processed"] >= 1
    decoded = decode_dataframe(spark.read.parquet(out))
    res = verify_roundtrip(ICE.read_table(spark, tp), decoded).first()
    assert res.n_mismatch == 0 and res.n_docs == 180


def test_iceberg_position_deletes_mor(spark, tmp_path):
    """v2 position-delete files: DELETE WHERE commits (file_path, pos)
    rows through a content=1 manifest; reads apply them merge-on-read."""
    tp = _table(spark, tmp_path)  # 180 docs across 2 snapshots
    ICE.delete_where(
        spark, tp, "doc_id >= 'doc-00000030' AND doc_id < 'doc-00000050'"
    )
    got = {r.doc_id for r in ICE.read_table(spark, tp).collect()}
    assert len(got) == 160
    assert "doc-00000030" not in got and "doc-00000049" not in got
    assert "doc-00000029" in got and "doc-00000050" in got
    # pre-delete snapshot unaffected (time travel)
    assert ICE.read_table(spark, tp, snapshot_id=2).count() == 180
    # delete files carry over across a later append, still applied
    extra = G.corpus_dataframe(spark, 200, num_partitions=1).filter(
        F.col("doc_id") >= "doc-00000180"
    )
    ICE.append_dataframe(spark, extra, tp)
    after = {r.doc_id for r in ICE.read_table(spark, tp).collect()}
    assert len(after) == 180 and "doc-00000030" not in after
    assert "doc-00000199" in after
    # delete-manifest planning surfaces the delete fragments with their
    # seq (the distributed writer emits one spec-sorted fragment per
    # non-empty scan partition)
    dels = ICE.plan_scan(tp, content=ICE.POSITION_DELETES)
    assert dels and sum(d.record_count for d in dels) == 20
    assert all(d.sequence_number == 3 for d in dels)  # after two appends
    # the file-level scan path refuses tables with live deletes
    from mapbox_vector_tile_spark.sources.parquet_direct import (
        list_parquet_files,
    )

    with pytest.raises(ValueError, match="position/equality deletes"):
        list_parquet_files(f"iceberg://{tp}")
    # row-identical to the engine-native expectation
    want = {
        r.doc_id
        for r in G.corpus_dataframe(spark, 200, 2).collect()
        if not ("doc-00000030" <= r.doc_id < "doc-00000050")
    }
    assert after == want


def test_iceberg_branch_wap(spark, tmp_path):
    """Write-audit-publish on branch refs: staged commits are invisible to
    main until a metadata-only fast-forward; rejects drop the ref."""
    tp = str(tmp_path / "wap")
    base = G.corpus_dataframe(spark, 120, 2)
    ICE.append_dataframe(spark, base, tp)

    # stage a bad batch (duplicates of existing docs) on the audit branch
    dup = G.corpus_dataframe(spark, 60, 1)
    ICE.append_dataframe(spark, dup, tp, branch="audit")
    assert ICE.read_table(spark, tp).count() == 120  # main unaffected
    assert ICE.read_table(spark, tp, branch="audit").count() == 180
    # audit fails (duplicate doc ids) -> reject
    audit = ICE.read_table(spark, tp, branch="audit")
    assert audit.count() != audit.select("doc_id").distinct().count()
    ICE.drop_branch(tp, "audit")
    assert "audit" not in ICE.load_metadata(tp)["refs"]
    assert ICE.read_table(spark, tp).count() == 120

    # stage a good batch and publish: main fast-forwards, row set exact
    good = G.corpus_dataframe(spark, 200, 2).filter(
        F.col("doc_id") >= "doc-00000120"
    )
    ICE.append_dataframe(spark, good, tp, branch="audit")
    assert ICE.read_table(spark, tp).count() == 120
    ICE.publish_branch(tp, "audit")
    got = {r.doc_id for r in ICE.read_table(spark, tp).collect()}
    want = {r.doc_id for r in G.corpus_dataframe(spark, 200, 2).collect()}
    assert got == want
    # publish was metadata-only: no extra snapshot was created by it
    snaps = len(ICE.load_metadata(tp)["snapshots"])
    assert snaps == 3  # base append + rejected stage + published stage


def test_iceberg_equality_deletes(spark, tmp_path):
    """content=2 equality deletes: delete BY VALUE applies to data files
    written strictly before the delete commit."""
    tp = _table(spark, tmp_path)  # 180 docs, snapshots 1-2
    victims = ICE.read_table(spark, tp).filter(
        "doc_id >= 'doc-00000010' AND doc_id < 'doc-00000025'"
    ).select("doc_id")
    ICE.commit_equality_deletes(spark, tp, victims, ["doc_id"])
    got = {r.doc_id for r in ICE.read_table(spark, tp).collect()}
    assert len(got) == 165 and "doc-00000010" not in got
    # the delete is by value: re-appending one victim doc AFTER the delete
    # commit resurrects it (strict seq rule: new data seq > delete seq)
    reborn = G.corpus_dataframe(spark, 11, 1).filter(
        F.col("doc_id") == "doc-00000010"
    )
    ICE.append_dataframe(spark, reborn, tp)
    after = {r.doc_id for r in ICE.read_table(spark, tp).collect()}
    assert "doc-00000010" in after and len(after) == 166
    assert "doc-00000011" not in after  # other victims stay deleted
    # file-level path refuses eq-delete tables too
    from mapbox_vector_tile_spark.sources.parquet_direct import (
        list_parquet_files,
    )

    with pytest.raises(ValueError, match="deletes"):
        list_parquet_files(f"iceberg://{tp}")


def test_iceberg_rewrite_data_files(spark, tmp_path):
    """Compaction folds MoR deletes into fresh data files: content
    identical, zero live deletes afterwards, fused path accepts again."""
    from mapbox_vector_tile_spark.sources.parquet_direct import (
        list_parquet_files,
    )

    tp = _table(spark, tmp_path)
    ICE.delete_where(
        spark, tp, "doc_id >= 'doc-00000030' AND doc_id < 'doc-00000050'"
    )
    before = {r.doc_id for r in ICE.read_table(spark, tp).collect()}
    snap = ICE.rewrite_data_files(spark, tp)
    assert snap["summary"]["operation"] == "replace"
    after = {r.doc_id for r in ICE.read_table(spark, tp).collect()}
    assert after == before and len(after) == 160
    assert not ICE.plan_scan(tp, content=ICE.POSITION_DELETES)
    assert list_parquet_files(f"iceberg://{tp}")  # accepted again
    # pre-compaction snapshot still readable (old layout kept)
    assert ICE.read_table(spark, tp, snapshot_id=2).count() == 180


def test_iceberg_identity_partitioning(spark, tmp_path):
    """Identity partition spec: values live in manifest entries; scans
    prune at the METADATA level before touching any parquet file."""
    tp = str(tmp_path / "part")
    corpus = G.corpus_dataframe(spark, 200, 2)
    ICE.append_dataframe(spark, corpus, tp, partition_by=["source"])
    meta = ICE.load_metadata(tp)
    assert meta["partition-specs"][0]["fields"][0]["transform"] == "identity"

    all_files = ICE.plan_scan(tp)
    sources = [r.source for r in corpus.select("source").distinct().collect()]
    pruned = ICE.plan_scan(tp, partition_filter={"source": sources[0]})
    assert 0 < len(pruned) < len(all_files)
    assert all(f.partition == {"source": sources[0]} for f in pruned)

    # full read reattaches partition columns and matches the input exactly
    got = {(r.doc_id, r.source) for r in ICE.read_table(spark, tp).collect()}
    want = {(r.doc_id, r.source)
            for r in corpus.select("doc_id", "source").collect()}
    assert got == want

    # pruned read == engine filter, token arrays intact
    one = ICE.read_table(spark, tp, partition_filter={"source": sources[0]})
    want_one = corpus.filter(F.col("source") == sources[0])
    assert one.count() == want_one.count()
    a = {r.doc_id: list(r.tokens) for r in one.collect()}
    b = {r.doc_id: list(r.tokens) for r in want_one.collect()}
    assert a == b

    # deletes + compaction keep the partition layout
    ICE.delete_where(spark, tp, f"source = '{sources[0]}'")
    assert ICE.read_table(
        spark, tp, partition_filter={"source": sources[0]}
    ).count() == 0
    ICE.rewrite_data_files(spark, tp)
    assert all(f.partition for f in ICE.plan_scan(tp))
    left = {r.source for r in ICE.read_table(spark, tp).collect()}
    assert sources[0] not in left and len(left) >= 1


def test_iceberg_empty_and_errors(spark, tmp_path):
    tp = str(tmp_path / "empty")
    with pytest.raises(FileNotFoundError):
        ICE.load_metadata(tp)
    ICE.create_table(tp, G.corpus_dataframe(spark, 1, 1).schema)
    with pytest.raises(ValueError):
        ICE.plan_scan(tp)  # no snapshots yet


def test_iceberg_schema_evolution_field_id_resolution(spark, tmp_path):
    """rename reads old physical names, add backfills NULL, drop stops
    projecting; appends after evolution carry the new names."""
    tp = str(tmp_path / "evo")
    df1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "id bigint, tag string, score bigint"
    )
    ICE.append_dataframe(spark, df1, tp)
    ICE.evolve_schema(
        tp, add=[("extra", "int")], rename={"score": "points"}, drop=["tag"]
    )
    df2 = spark.createDataFrame(
        [(3, 30, 7)], "id bigint, points bigint, extra int"
    )
    ICE.append_dataframe(spark, df2, tp)
    rows = {r.id: r for r in ICE.read_table(spark, tp).collect()}
    assert set(ICE.read_table(spark, tp).columns) == {"id", "points", "extra"}
    assert rows[1].points == 10 and rows[1].extra is None
    assert rows[2].points == 20 and rows[2].extra is None
    assert rows[3].points == 30 and rows[3].extra == 7
    # time travel to snapshot 1 still reads through the CURRENT schema
    old = {r.id: r for r in
           ICE.read_table(spark, tp, snapshot_id=1).collect()}
    assert old[1].points == 10 and old[1].extra is None


def test_iceberg_schema_evolution_guards(spark, tmp_path):
    tp = str(tmp_path / "evo_g")
    df1 = spark.createDataFrame([("x", 1)], "src string, v bigint")
    ICE.append_dataframe(spark, df1, tp, partition_by=["src"])
    with pytest.raises(ValueError, match="partition column"):
        ICE.evolve_schema(tp, rename={"src": "origin"})
    with pytest.raises(ValueError, match="partition column"):
        ICE.evolve_schema(tp, drop=["src"])
    ICE.evolve_schema(tp, rename={"v": "val"})
    # stale-name append fails fast instead of writing unreadable files
    with pytest.raises(ValueError, match="current schema"):
        ICE.append_dataframe(
            spark, spark.createDataFrame([("y", 2)], "src string, v bigint"), tp
        )


def test_iceberg_eq_deletes_after_rename(spark, tmp_path):
    """Equality deletes committed AFTER a rename still hit data files
    written BEFORE it — both sides resolve by field id."""
    tp = str(tmp_path / "evo_del")
    df1 = spark.createDataFrame(
        [(1, "keep"), (2, "drop"), (3, "keep")], "id bigint, label string"
    )
    ICE.append_dataframe(spark, df1, tp)
    ICE.evolve_schema(tp, rename={"id": "row_id"})
    ICE.commit_equality_deletes(
        spark,
        tp,
        spark.createDataFrame([(2,)], "row_id bigint"),
        ["row_id"],
    )
    got = sorted(r.row_id for r in ICE.read_table(spark, tp).collect())
    assert got == [1, 3]


def test_iceberg_partition_evolution(spark, tmp_path):
    """Spec v2 partition evolution: files keep their write-time spec,
    mixed-era snapshots read exactly, new-era files prune by metadata,
    compaction migrates the old era to the new layout."""
    tp = str(tmp_path / "spec_evo")
    corpus = G.corpus_dataframe(spark, 300, 2)
    first = corpus.filter(F.col("doc_id") < "doc-00000150")
    rest = corpus.filter(F.col("doc_id") >= "doc-00000150")
    ICE.append_dataframe(spark, first, tp)  # era 1: unpartitioned
    ICE.evolve_partition_spec(tp, ["source"])
    meta = ICE.load_metadata(tp)
    assert meta["default-spec-id"] == 1
    assert len(meta["partition-specs"]) == 2
    ICE.append_dataframe(spark, rest, tp)  # era 2: partitioned

    files = ICE.plan_scan(tp)
    assert {f.spec_id for f in files} == {0, 1}

    got = {(r.doc_id, r.source)
           for r in ICE.read_table(spark, tp)
           .select("doc_id", "source").collect()}
    want = {(r.doc_id, r.source)
            for r in corpus.select("doc_id", "source").collect()}
    assert got == want

    src = sorted(r.source
                 for r in corpus.select("source").distinct().collect())[0]
    # metadata prune: every surviving NEW-spec file matches; old-spec
    # files survive the partition test (their spec can't judge it)
    pruned = ICE.plan_scan(tp, partition_filter={"source": src})
    assert len(pruned) < len(files)
    assert all(f.partition == {"source": src}
               for f in pruned if f.spec_id == 1)
    # the read stays exact across both eras (residual data filter)
    one = ICE.read_table(spark, tp, partition_filter={"source": src})
    want_one = corpus.filter(F.col("source") == src)
    assert {r.doc_id: list(r.tokens)
            for r in one.collect()} == {r.doc_id: list(r.tokens)
                                        for r in want_one.collect()}

    # compaction rewrites under the default spec -> full migration
    ICE.rewrite_data_files(spark, tp)
    files2 = ICE.plan_scan(tp)
    assert {f.spec_id for f in files2} == {1}
    assert all(f.partition for f in files2)
    got2 = {(r.doc_id, r.source)
            for r in ICE.read_table(spark, tp)
            .select("doc_id", "source").collect()}
    assert got2 == want

    # field-id reuse across re-evolutions (spec rule)
    fid = meta["partition-specs"][1]["fields"][0]["field-id"]
    ICE.evolve_partition_spec(tp, [])
    ICE.evolve_partition_spec(tp, ["source"])
    meta3 = ICE.load_metadata(tp)
    assert meta3["partition-specs"][-1]["fields"][0]["field-id"] == fid

    # append with a stale partition_by hint refuses with a pointer
    with pytest.raises(ValueError, match="evolve_partition_spec"):
        ICE.append_dataframe(spark, first, tp, partition_by=["doc_id"])


def test_iceberg_bounds_pruning(spark, tmp_path):
    """Per-file column bounds (footer stats -> manifest entries) prune
    range and equality scans at the metadata level; reads stay exact."""
    tp = str(tmp_path / "bounds")
    corpus = G.corpus_dataframe(spark, 400, 2)
    # range layout so files carry disjoint n_tok bounds
    ICE.append_dataframe(spark, corpus.repartitionByRange(4, "n_tok"), tp)
    files = ICE.plan_scan(tp)
    assert len(files) >= 3
    for f in files:
        assert f.lower_bounds and f.upper_bounds
        assert "n_tok" in f.lower_bounds and "doc_id" in f.lower_bounds
        assert int(f.lower_bounds["n_tok"]) <= int(f.upper_bounds["n_tok"])

    hi = int(corpus.approxQuantile("n_tok", [0.4], 0.0)[0])
    pruned = ICE.plan_scan(tp, range_filter={"n_tok": (None, hi)})
    assert 0 < len(pruned) < len(files)

    got = ICE.read_table(spark, tp, range_filter={"n_tok": (None, hi)})
    want = corpus.filter(F.col("n_tok") <= hi)
    assert {r.doc_id: list(r.tokens)
            for r in got.collect()} == {r.doc_id: list(r.tokens)
                                        for r in want.collect()}

    # equality on a NON-partition column prunes through bounds too
    target = "doc-00000007"
    by_id = ICE.plan_scan(tp, partition_filter={"doc_id": target})
    assert len(by_id) < len(files)
    row = ICE.read_table(
        spark, tp, partition_filter={"doc_id": target}
    ).collect()
    assert len(row) == 1 and row[0].doc_id == target


def test_iceberg_incremental_scan_and_metadata_tables(spark, tmp_path):
    """Incremental append reads select files by data sequence number
    alone; the scan plan exposes each file's spec, partition and bounds."""
    tp = str(tmp_path / "inc")
    corpus = G.corpus_dataframe(spark, 300, 2)
    a = corpus.filter(F.col("doc_id") < "doc-00000100")
    b = corpus.filter(
        (F.col("doc_id") >= "doc-00000100")
        & (F.col("doc_id") < "doc-00000200")
    )
    c = corpus.filter(F.col("doc_id") >= "doc-00000200")
    ICE.append_dataframe(spark, a, tp, partition_by=["source"])
    ICE.evolve_partition_spec(tp, [])  # waves b/c land unpartitioned
    ICE.append_dataframe(spark, b, tp)
    ICE.append_dataframe(spark, c, tp)

    # (1->3] = waves b+c; (2->3] = wave c; (1->2] = wave b
    got = {r.doc_id for r in
           ICE.incremental_scan(spark, tp, 1).select("doc_id").collect()}
    assert got == {r.doc_id for r in b.union(c).select("doc_id").collect()}
    got2 = {r.doc_id for r in
            ICE.incremental_scan(spark, tp, 1, 2).select("doc_id").collect()}
    assert got2 == {r.doc_id for r in b.select("doc_id").collect()}
    assert ICE.incremental_scan(spark, tp, 3).count() == 0
    with pytest.raises(ValueError, match="precedes"):
        ICE.incremental_scan(spark, tp, 3, 1)
    # partition columns come back in incremental reads too
    srcs = {r.source for r in
            ICE.incremental_scan(spark, tp, 2).select("source").collect()}
    assert srcs == {r.source for r in c.select("source").distinct().collect()}

    plan = ICE.plan_scan(tp)
    wave_a = [f for f in plan if f.sequence_number == 1]
    assert wave_a and all("source" in f.partition for f in wave_a)
    assert all("n_tok" in f.lower_bounds for f in wave_a)  # bounds recorded
    assert sum(f.record_count for f in plan) == 300
    assert {f.spec_id for f in plan} == {0, 1}


def test_iceberg_incremental_scan_skips_replace_snapshots(spark, tmp_path):
    """A rewrite_data_files ('replace') commit inside the incremental
    range re-adds existing rows under a new sequence number; the
    append-scan must NOT re-emit them (Iceberg IncrementalAppendScan
    consumes only append snapshots)."""
    tp = str(tmp_path / "inc_replace")
    corpus = G.corpus_dataframe(spark, 200, 2)
    a = corpus.filter(F.col("doc_id") < "doc-00000100")
    b = corpus.filter(F.col("doc_id") >= "doc-00000100")
    ICE.append_dataframe(spark, a, tp)          # snap 1 (append)
    ICE.rewrite_data_files(spark, tp)           # snap 2 (replace): rewrites a
    ICE.append_dataframe(spark, b, tp)          # snap 3 (append)

    # (1 -> current]: only wave b, even though the replace re-added all
    # of wave a's rows at sequence 2
    got = {r.doc_id for r in
           ICE.incremental_scan(spark, tp, 1).select("doc_id").collect()}
    assert got == {r.doc_id for r in b.select("doc_id").collect()}
    # (1 -> 2]: the replace contributes nothing
    assert ICE.incremental_scan(spark, tp, 1, 2).count() == 0
    # full-table read still sees everything (replace is table-preserving)
    assert ICE.read_table(spark, tp).count() == 200


def test_partition_transform_units():
    """Spec conformance without Spark: murmur3 appendix vectors, bucket/
    truncate/temporal value transforms, term parsing."""
    from mapbox_vector_tile_spark.sources.iceberg import (
        bucket_value,
        murmur3_x86_32,
        parse_partition_term,
        time_transform_value,
        transform_field_name,
        truncate_value,
    )

    # Iceberg spec appendix B vectors
    assert murmur3_x86_32((34).to_bytes(8, "little", signed=True)) \
        == 2017239379
    assert murmur3_x86_32("iceberg".encode()) == 1210000089
    # int and long 34 land in the same bucket (spec requirement)
    assert bucket_value(34, 16, "int") == bucket_value(34, 16, "long")
    assert 0 <= bucket_value("doc-00000001", 8, "string") < 8

    # truncate: ints floor (negatives too), strings take code points
    assert truncate_value(17, 10, "long") == 10
    assert truncate_value(-1, 10, "long") == -10
    assert truncate_value("iceberg", 3, "string") == "ice"

    # temporal ordinals from 1970
    us_2024_03_15 = 1710500000000000  # 2024-03-15T...
    assert time_transform_value(us_2024_03_15, "year") == 54
    assert time_transform_value(us_2024_03_15, "month") == 54 * 12 + 2
    assert time_transform_value(us_2024_03_15, "day") \
        == us_2024_03_15 // 86_400_000_000
    assert time_transform_value(us_2024_03_15, "hour") \
        == us_2024_03_15 // 3_600_000_000

    assert parse_partition_term("source") == ("source", "identity", None)
    assert parse_partition_term("bucket(8, doc_id)") \
        == ("doc_id", "bucket[8]", 8)
    assert parse_partition_term("truncate(16,n_tok)") \
        == ("n_tok", "truncate[16]", 16)
    assert parse_partition_term("day(ts_us)") == ("ts_us", "day", None)
    with pytest.raises(ValueError):
        parse_partition_term("zorder(a, b)")
    with pytest.raises(ValueError):
        parse_partition_term("bucket(0, x)")
    assert transform_field_name("doc_id", "bucket[8]") == "doc_id_bucket"
    assert transform_field_name("n_tok", "truncate[16]") == "n_tok_trunc"
    assert transform_field_name("ts", "day") == "ts_day"


def test_murmur_vectorized_matches_scalar():
    from mapbox_vector_tile_spark.sources.iceberg import (
        _murmur3_32_long_np,
        murmur3_x86_32,
    )

    rng = np.random.default_rng(7)
    v = rng.integers(-(2**62), 2**62, 4096, dtype=np.int64)
    got = _murmur3_32_long_np(v)
    want = np.array(
        [murmur3_x86_32(int(x).to_bytes(8, "little", signed=True))
         for x in v],
        dtype=np.int32,
    )
    assert np.array_equal(got, want)


def test_iceberg_bucket_partitioning_end_to_end(spark, tmp_path):
    """bucket(8, doc_id): writes land in spec-correct bucket dirs, point
    predicates prune to one bucket's files at the METADATA level, reads
    stay exact (residual filter), full table reads untouched."""
    from mapbox_vector_tile_spark.sources.iceberg import bucket_value

    tp = str(tmp_path / "bucketed")
    corpus = G.corpus_dataframe(spark, 400, 4)
    ICE.append_dataframe(
        spark, corpus, tp, partition_by=["bucket(8, doc_id)"]
    )
    files = ICE.plan_scan(tp)
    buckets = {f.partition["doc_id_bucket"] for f in files}
    assert len(buckets) > 4  # data really spread over buckets
    # every file's dir value is the spec bucket of its own rows
    some = spark.read.parquet(files[0].file_path).select("doc_id").collect()
    want_b = {bucket_value(r.doc_id, 8, "string") for r in some}
    assert want_b == {int(files[0].partition["doc_id_bucket"])}

    target = "doc-00000123"
    pruned = ICE.plan_scan(tp, partition_filter={"doc_id": target})
    assert 0 < len(pruned) < len(files)
    assert {f.partition["doc_id_bucket"] for f in pruned} \
        == {str(bucket_value(target, 8, "string"))}
    row = ICE.read_table(
        spark, tp, partition_filter={"doc_id": target}
    ).collect()
    assert len(row) == 1 and row[0].doc_id == target
    assert list(row[0].tokens) == [
        list(r.tokens) for r in corpus.filter(
            F.col("doc_id") == target).collect()
    ][0]
    # full read: bit-exact, source column present (transform keeps it)
    got = {r.doc_id: list(r.tokens)
           for r in ICE.read_table(spark, tp).collect()}
    assert got == {r.doc_id: list(r.tokens) for r in corpus.collect()}


def test_iceberg_truncate_and_evolution_to_bucket(spark, tmp_path):
    """truncate(16, n_tok) prunes point predicates through the floor
    transform; evolving to a bucket spec leaves old files prunable under
    THEIR spec and new files under the new one."""
    tp = str(tmp_path / "trunc")
    corpus = G.corpus_dataframe(spark, 300, 4)
    a = corpus.filter("doc_id < 'doc-00000150'")
    b = corpus.filter("doc_id >= 'doc-00000150'")
    ICE.append_dataframe(spark, a, tp, partition_by=["truncate(16, n_tok)"])
    files_a = ICE.plan_scan(tp)
    assert all("n_tok_trunc" in (f.partition or {}) for f in files_a)

    # point predicate on n_tok prunes to its floor-16 band
    n_target = int(a.first().n_tok)
    pruned = ICE.plan_scan(tp, partition_filter={"n_tok": n_target})
    assert 0 < len(pruned) < len(files_a)
    assert {f.partition["n_tok_trunc"] for f in pruned} \
        == {str(n_target - (n_target % 16))}
    got = ICE.read_table(
        spark, tp, partition_filter={"n_tok": n_target}
    )
    want = a.filter(F.col("n_tok") == n_target)
    assert {r.doc_id for r in got.collect()} \
        == {r.doc_id for r in want.collect()}

    # evolve to bucket(4, source): old files keep their spec
    ICE.evolve_partition_spec(tp, ["bucket(4, source)"])
    ICE.append_dataframe(spark, b, tp)
    allf = ICE.plan_scan(tp)
    assert {f.spec_id for f in allf} == {0, 1}
    # mixed-era read is exact
    got_all = {r.doc_id: list(r.tokens)
               for r in ICE.read_table(spark, tp).collect()}
    assert got_all == {r.doc_id: list(r.tokens) for r in corpus.collect()}
    # a source-column point predicate prunes NEW files by bucket and OLD
    # files by their column bounds / residual only (never wrongly drops)
    src = b.first().source
    got_src = {r.doc_id for r in ICE.read_table(
        spark, tp, partition_filter={"source": src}).collect()}
    want_src = {r.doc_id for r in corpus.filter(
        F.col("source") == src).collect()}
    assert got_src == want_src
    # schema evolution guard protects the SOURCE column behind a transform
    with pytest.raises(ValueError, match="partition"):
        ICE.evolve_schema(tp, drop=["source"])


def test_iceberg_day_partitioning(spark, tmp_path):
    """day(ts_us) over micros-from-epoch longs: ordinal-day dirs, point
    predicate prunes to the day's files, read exact."""
    tp = str(tmp_path / "daily")
    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select(
            F.col("event_id").cast("long").alias("event_id"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            F.col("user_id").cast("long").alias("user_id"),
        )
    )
    ICE.append_dataframe(spark, ev, tp, partition_by=["day(ts_us)"])
    files = ICE.plan_scan(tp)
    days = {f.partition["ts_us_day"] for f in files}
    assert len(days) > 3
    probe = ev.first()
    day_ord = probe.ts_us // 86_400_000_000
    pruned = ICE.plan_scan(tp, partition_filter={"ts_us": probe.ts_us})
    assert {f.partition["ts_us_day"] for f in pruned} == {str(day_ord)}
    assert len(pruned) < len(files)
    got = ICE.read_table(
        spark, tp, partition_filter={"ts_us": probe.ts_us}
    ).collect()
    assert {r.event_id for r in got} == {
        r.event_id
        for r in ev.filter(F.col("ts_us") == probe.ts_us).collect()
    }


def test_range_pruning_through_monotonic_transforms(spark, tmp_path):
    """range_filter prunes through day(ts_us) and truncate(W, n) — the
    monotone-transform window [t(lo), t(hi)] — while bucket fields never
    participate; reads stay exact via the residual filter."""
    tp = str(tmp_path / "daily_rng")
    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select(
            F.col("event_id").cast("long").alias("event_id"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        )
    )
    ICE.append_dataframe(spark, ev, tp, partition_by=["day(ts_us)"])
    files = ICE.plan_scan(tp)
    days = sorted(int(f.partition["ts_us_day"]) for f in files)
    assert len(set(days)) > 3
    # a 2-day window in the middle
    d0 = days[len(days) // 2]
    lo, hi = d0 * 86_400_000_000, (d0 + 2) * 86_400_000_000 - 1
    pruned = ICE.plan_scan(tp, range_filter={"ts_us": (lo, hi)})
    got_days = {int(f.partition["ts_us_day"]) for f in pruned}
    assert got_days <= {d0, d0 + 1} and len(pruned) < len(files)
    got = ICE.read_table(spark, tp, range_filter={"ts_us": (lo, hi)})
    want = ev.filter((F.col("ts_us") >= lo) & (F.col("ts_us") <= hi))
    assert {r.event_id for r in got.collect()} \
        == {r.event_id for r in want.collect()}

    # half-open window (lo only)
    lo2 = days[-1] * 86_400_000_000
    pr2 = ICE.plan_scan(tp, range_filter={"ts_us": (lo2, None)})
    assert {int(f.partition["ts_us_day"]) for f in pr2} == {days[-1]}

    # truncate(16, event_id): integer window maps to truncated window
    tp2 = str(tmp_path / "trunc_rng")
    ICE.append_dataframe(
        spark, ev, tp2, partition_by=["truncate(16, event_id)"]
    )
    pr3 = ICE.plan_scan(tp2, range_filter={"event_id": (40, 70)})
    vals = {int(f.partition["event_id_trunc"]) for f in pr3}
    assert vals <= {32, 48, 64} and len(pr3) < len(ICE.plan_scan(tp2))

    # bucket(8, event_id) must NOT range-prune (non-monotonic)
    tp3 = str(tmp_path / "bucket_rng")
    ICE.append_dataframe(
        spark, ev, tp3, partition_by=["bucket(8, event_id)"]
    )
    n_all = len(ICE.plan_scan(tp3))
    pr4 = ICE.plan_scan(tp3, range_filter={"event_id": (40, 70)})
    # bounds may prune some files, but bucket values alone never do:
    # every surviving file was admitted by its footer bounds, and a
    # window this wide overlaps files in many buckets
    assert len({f.partition["event_id_bucket"] for f in pr4}) > 1
    assert n_all >= len(pr4) > 0


def test_delete_where_distributed_writer(spark, tmp_path):
    """delete_where writes position-delete fragments from the workers:
    a predicate spanning several data files commits spec-sorted parquet
    fragments under data/deletes-seq=N (no matched position ever crosses
    to the driver — only one manifest row per fragment), and the
    merge-on-read result is identical to the single-file form."""
    import glob
    import os

    import pyarrow.parquet as pq

    tp = _table(spark, tmp_path, name="tdist")
    # predicate hits rows in every one of the 4 data files
    ICE.delete_where(spark, tp, "n_tok >= 500")
    dels = ICE.plan_scan(tp, content=ICE.POSITION_DELETES)
    assert dels, "delete commit must register fragments"
    frags = glob.glob(os.path.join(tp, "data", "deletes-seq=3", "*.parquet"))
    assert set(f for f in frags) == {d.file_path for d in dels}
    n_rows = 0
    touched_files = set()
    for f in frags:
        t = pq.read_table(f)
        pairs = list(zip(t.column("file_path").to_pylist(),
                         t.column("pos").to_pylist()))
        assert pairs == sorted(pairs)  # spec: sorted by (file_path, pos)
        n_rows += len(pairs)
        touched_files |= {p for p, _ in pairs}
    assert len(touched_files) >= 2  # the wave spans multiple data files
    assert sum(d.record_count for d in dels) == n_rows
    # read-back excludes exactly the matched rows
    got = ICE.read_table(spark, tp)
    assert got.filter(F.col("n_tok") >= 500).count() == 0
    kept = got.count()
    all_rows = ICE.read_table(spark, tp, snapshot_id=2).count()
    assert kept == all_rows - n_rows and n_rows > 0


def test_partition_values_unescaped_from_paths(spark, tmp_path):
    """Spark URL-escapes special characters in partition directories
    (space -> %20, ':' -> %3A) and writes NULL as
    __HIVE_DEFAULT_PARTITION__; the manifest must record the LOGICAL
    values or partition-filter pruning silently drops matching files."""
    tp = str(tmp_path / "tesc")
    rows = [("a", "US east"), ("b", "EU:west"), ("c", None), ("d", "plain")]
    df = spark.createDataFrame(rows, "doc_id string, region string")
    ICE.append_dataframe(spark, df, tp, partition_by=["region"])
    parts = {f.partition["region"] for f in ICE.plan_scan(tp)}
    assert parts == {"US east", "EU:west", None, "plain"}
    for want in ("US east", "EU:west", "plain"):
        pruned = ICE.plan_scan(tp, partition_filter={"region": want})
        assert len(pruned) == 1, want
        got = ICE.read_table(
            spark, tp, partition_filter={"region": want}
        ).collect()
        assert [r.region for r in got] == [want]
