"""Distributed decode job: blocks DataFrame -> tokens DataFrame.

Inverse of :mod:`.encode`; dispatch is driven entirely by each block's stored
codec id (the manifest), never by assumptions about the encoder's choice —
the engine contract analog of the reference decoder accepting foreign
encoders (/root/reference/mapbox_vector_tile/decoder.py:68-80, SURVEY §2.8).
Round-trip bit-identity is the core contract, the analog of
``assertRoundTrip`` (/root/reference/tests/test_encoder.py:20-50).
"""

from __future__ import annotations

import os
import zlib
from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from ..codec import blocks as B

TOKENS_OUT_SPARK_SCHEMA = "doc_id string, tokens array<int>, n_tok int"
TOKENS_SRC_OUT_SPARK_SCHEMA = (
    "doc_id string, tokens array<int>, n_tok int, source string"
)

_OUT_ARROW_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
    ]
)

_SRC_ARROW_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
    ]
)


def _all_values(payload, lengths: np.ndarray) -> np.ndarray:
    """The payload's whole value stream, which must hold ``sum(lengths)``
    values."""
    values = B.decode_block(payload)
    if values.size != int(lengths.sum()):
        raise ValueError(
            f"decoded value count {values.size} != sum(lengths) {int(lengths.sum())}"
        )
    return values


def tokens_batch(
    doc_ids, lengths, values, source=None, n_tok=None
) -> pa.RecordBatch:
    """``(doc_id, tokens, n_tok[, source])`` batch from one decode's flat
    output: ``lengths`` per doc, ``values`` concatenated in doc order.
    ``n_tok`` defaults to ``lengths``; truncating decoders pass the
    original lengths."""
    offsets = np.zeros(lengths.size + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    tokens = pa.LargeListArray.from_arrays(
        pa.array(offsets, pa.int64()), pa.array(values, pa.int32())
    ).cast(pa.list_(pa.int32()))
    n_tok = lengths if n_tok is None else n_tok
    arrays = [doc_ids, tokens, pa.array(n_tok.astype(np.int32), pa.int32())]
    if source is None:
        return pa.RecordBatch.from_arrays(arrays, schema=_OUT_ARROW_SCHEMA)
    return pa.RecordBatch.from_arrays(
        arrays + [source], schema=_SRC_ARROW_SCHEMA
    )


# the blocks columns every checked row read takes: the stream, its CRC and
# the stored counts its decoded lengths are checked against
_DECODE_COLS = [
    "doc_ids", "n_rows", "n_values", "lengths_blob", "payload", "checksum",
]


def _checked_lengths(cols: dict, i: int, verify_checksum: bool):
    """``(payload, lengths)`` of blocks row ``i``, where ``cols`` maps the
    :data:`_DECODE_COLS` to their Arrow arrays. The payload CRC is checked
    when asked; the decoded lengths must agree with the row's doc ids and
    stored ``n_rows`` and sum to its stored ``n_values`` and to the value
    count in the payload frame's header, else ``ValueError`` names the
    chunk by its doc-id span. The payload is a zero-copy view and is not
    decoded here, so a gather of some docs' spans reads a frame that holds
    every doc."""
    payload = memoryview(cols["payload"][i].as_buffer())
    if verify_checksum and zlib.crc32(payload) != cols["checksum"][i].as_py():
        raise ValueError("payload checksum mismatch (corrupt block)")
    lengths = B.decode_block(
        memoryview(cols["lengths_blob"][i].as_buffer())
    ).astype(np.int64)
    doc_ids = cols["doc_ids"][i].values
    n_rows = cols["n_rows"][i].as_py()
    n_values = cols["n_values"][i].as_py()
    total = int(lengths.sum())
    span = f"{doc_ids[0]}..{doc_ids[-1]}" if len(doc_ids) else "no doc ids"
    if lengths.size == len(doc_ids) == n_rows and total == n_values:
        n = B.read_frame(payload)[1]
        if n == total:
            return payload, lengths
        raise ValueError(
            f"chunk [{span}]: payload frame holds {n} values, its "
            f"{lengths.size} lengths sum to {total}"
        )
    raise ValueError(
        f"chunk [{span}]: {lengths.size} lengths summing to {total}, "
        f"{len(doc_ids)} doc ids, stored n_rows {n_rows} and "
        f"n_values {n_values}"
    )


def _gather_spans(payload, starts: np.ndarray, out_lens: np.ndarray):
    """Values at flat positions ``[starts[d], starts[d] + out_lens[d])`` of
    each doc ``d``, concatenated, via the codec-aware positional gather.
    Spans must be disjoint and ascending."""
    from ..codec.gather import decode_block_gather

    total_out = int(out_lens.sum())
    if not total_out:
        return np.zeros(0, dtype=np.int32)
    out_starts = np.zeros(out_lens.size, dtype=np.int64)
    np.cumsum(out_lens[:-1], out=out_starts[1:])
    idx = np.arange(total_out, dtype=np.int64)
    idx += np.repeat(starts - out_starts, out_lens)
    return decode_block_gather(payload, idx)[0]


def _picked_docs(cols: dict, i: int, sel, verify_checksum: bool, trim=None):
    """``(doc_ids, lengths, values, n_tok)`` of blocks row ``i``'s docs at
    the sorted positions ``sel`` (``None``: every doc), after the checks of
    :func:`_checked_lengths`. ``trim=(k, tail)`` keeps each doc's first
    (last when ``tail``) ``min(k, n_tok)`` values; ``n_tok`` stays the
    doc's length. Every doc untrimmed decodes the whole value stream; a
    subset or a trim gathers only its spans (spans are disjoint and
    ascending because doc spans are)."""
    payload, lengths = _checked_lengths(cols, i, verify_checksum)
    doc_ids = cols["doc_ids"][i].values
    if sel is not None and sel.size == lengths.size:
        sel = None
    if sel is None and trim is None:
        return doc_ids, lengths, _all_values(payload, lengths), lengths
    starts, n_tok = np.zeros(lengths.size, dtype=np.int64), lengths
    np.cumsum(lengths[:-1], out=starts[1:])
    if sel is not None:
        doc_ids = doc_ids.take(pa.array(sel))
        starts, n_tok = starts[sel], lengths[sel]
    out_lens = n_tok
    if trim is not None:
        k, tail = trim
        out_lens = np.minimum(n_tok, k)
        if tail:
            starts = starts + (n_tok - out_lens)
    return doc_ids, out_lens, _gather_spans(payload, starts, out_lens), n_tok


# decode output batching: one Arrow batch per CHUNK is the zero-copy ideal
# for normal (~64k-value) chunks, but tiny chunks (selective decodes,
# min_chunk=0 stores, upsert deltas) would pay per-batch Arrow/JVM overhead
# per handful of rows. Chunks below the flush size accumulate and emit as
# one combined batch (one memcpy of their values — cheap exactly when the
# chunks are small); a chunk at/over it keeps the direct no-copy path.
DECODE_FLUSH_VALUES = 1 << 18
DECODE_FLUSH_ROWS = 1 << 12


def _read_rows(
    batches,
    verify_checksum: bool,
    pick=None,
    trim=None,
    label=None,
    with_source: bool = False,
    flush=None,
):
    """The one checked reader of blocks rows: ``(doc_ids, lengths, values,
    n_tok[, source])`` for the picked docs of the blocks record
    ``batches`` (from a ``mapInArrow`` task or a pyarrow file read).

    ``pick(batch, i)`` chooses row ``i``'s docs: ``None`` skips the row
    without touching its lengths or payload, else the sorted positions of
    the picked docs (all of them: the whole row); with no picker every doc
    of every row is read. ``trim=(k, tail)`` keeps the first (last) ``k``
    values of each picked doc. Each read row goes through
    :func:`_picked_docs`, and a ``ValueError`` from its checks is prefixed
    with ``label(r)``, ``r`` counting the rows of ``batches``.
    ``with_source`` adds the picked docs' source strings (blocks encoded
    with ``string_col``).

    Outputs are batched by ``flush=(values, docs)``, the
    :data:`DECODE_FLUSH_VALUES`/:data:`DECODE_FLUSH_ROWS` defaults read
    when the reader starts: a row at or over either size is yielded on its
    own with no copy, smaller ones accumulate and are yielded joined once
    they reach it. ``(0, 0)`` yields one output per read row."""
    from ..codec.strings import decode_string_chunk

    flush_values, flush_docs = flush or (DECODE_FLUSH_VALUES, DECODE_FLUSH_ROWS)
    held: list[tuple] = []
    n_values = n_docs = base = 0
    for batch in batches:
        cols = {c: batch.column(c) for c in _DECODE_COLS}
        for i in range(batch.num_rows):
            sel = None
            if pick is not None:
                sel = pick(batch, i)
                if sel is None:
                    continue  # not picked: lengths and payload untouched
            try:
                out = _picked_docs(cols, i, sel, verify_checksum, trim)
            except ValueError as e:
                if label is None:
                    raise
                raise ValueError(
                    f"{label(base + i)}: decoded block disagrees with the "
                    f"row: {e}"
                ) from e
            if with_source:
                blob = batch.column("source_blob")[i].as_py()
                if blob is None:
                    raise ValueError("blocks were encoded without string_col")
                src = pa.array(decode_string_chunk(blob), pa.string())
                out += (src if sel is None else src.take(pa.array(sel)),)
            size, docs = out[2].size, out[1].size
            if not held and (size >= flush_values or docs >= flush_docs):
                yield out
                continue
            held.append(out)
            n_values += size
            n_docs += docs
            if n_values >= flush_values or n_docs >= flush_docs:
                yield _joined(held)
                held.clear()
                n_values = n_docs = 0
        base += batch.num_rows
    if held:
        yield _joined(held)


def _joined(outputs: list[tuple]) -> tuple:
    """One output of :func:`_read_rows` from several, field by field."""
    return outputs[0] if len(outputs) == 1 else tuple(
        pa.concat_arrays(f) if isinstance(f[0], pa.Array) else np.concatenate(f)
        for f in zip(*outputs)
    )


def _positions(mask) -> np.ndarray | None:
    """The set positions of a boolean Arrow ``mask``; ``None`` if none."""
    sel = np.flatnonzero(mask.to_numpy(zero_copy_only=False))
    return sel if sel.size else None


def _pick_wanted(batch, i):
    """Picker of the docs whose ids are in row ``i``'s ``__want`` array."""
    import pyarrow.compute as pc

    return _positions(pc.is_in(
        batch.column("doc_ids")[i].values,
        value_set=batch.column("__want")[i].values,
    ))


def _zone_picker(can_match, test):
    """Picker of the docs whose ids pass ``test``: a row whose
    ``[min_doc_id, max_doc_id]`` zone map fails ``can_match(mn, mx)`` is
    skipped before its doc ids are read. A null zone map (a chunk with no
    doc ids, or a writer that kept none) leaves it to the doc ids."""

    def pick(batch, i):
        mn = batch.column("min_doc_id")[i].as_py()
        mx = batch.column("max_doc_id")[i].as_py()
        if mn is not None and mx is not None and not can_match(mn, mx):
            return None
        return _positions(test(batch.column("doc_ids")[i].values))

    return pick


def _range_picker(lo: str, hi: str):
    """Picker of the docs with ids in ``[lo, hi)``."""
    import pyarrow.compute as pc

    from ..sources.parquet_direct import _range_can_match

    return _zone_picker(
        _range_can_match(lo, hi),
        lambda ids: pc.and_(pc.greater_equal(ids, lo), pc.less(ids, hi)),
    )


def _ids_picker(ids: list[str]):
    """Picker of the docs with ids in the sorted ``ids``."""
    import pyarrow.compute as pc

    from ..sources.parquet_direct import _ids_can_match

    value_set = pa.array(ids, pa.string())
    return _zone_picker(
        _ids_can_match(ids), lambda d: pc.is_in(d, value_set=value_set)
    )


def _decode_frame(
    df, verify_checksum: bool, cols=(), with_source=False, pick=None, trim=None
):
    """``df``'s blocks rows decoded on Spark: one ``mapInArrow`` over
    :data:`_DECODE_COLS` plus ``cols`` (the columns ``pick`` reads) through
    :func:`_read_rows`, with the flush sizes of the calling process."""
    flush = (DECODE_FLUSH_VALUES, DECODE_FLUSH_ROWS)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for ids, lengths, values, n_tok, *src in _read_rows(
            batches, verify_checksum, pick, trim,
            with_source=with_source, flush=flush,
        ):
            yield tokens_batch(ids, lengths, values, *src, n_tok=n_tok)

    cols = _DECODE_COLS + list(cols) + (["source_blob"] if with_source else [])
    schema = TOKENS_SRC_OUT_SPARK_SCHEMA if with_source else TOKENS_OUT_SPARK_SCHEMA
    return df.select(*cols).mapInArrow(fn, schema)


def decode_dataframe(
    blocks_df,
    verify_checksum: bool = True,
    with_source: bool = False,
    transform=None,
):
    """blocks DataFrame -> ``(doc_id, tokens, n_tok[, source])`` DataFrame.

    Every chunk's decoded lengths are checked against its doc ids and its
    stored ``n_rows`` and ``n_values`` (``ValueError`` naming the chunk).

    ``with_source`` additionally decodes the per-chunk DICT+FSST string blob
    (requires blocks encoded with ``string_col``).

    ``transform``: optional post-decode hook ``DataFrame -> DataFrame`` —
    the decode-side custom transformer (the reference applies its
    transformer on decode too, /root/reference/mapbox_vector_tile/
    decoder.py:146-149); e.g. ``verify.inverse_transform_tokens`` to map a
    remapped vocabulary back to the original. Applied as a Catalyst
    expression over the decoded frame, so it stays JVM-side."""
    out = _decode_frame(blocks_df, verify_checksum, with_source=with_source)
    return transform(out) if transform is not None else out


def _pack_survivors(pruned):
    """``pruned`` with a ``rebalance`` hint when that runs its decode in
    fewer Python tasks, else unchanged.

    On a plain file scan the Python decode runs inside the scan's tasks, so
    a read pays one Python task per file split even when only a few chunks
    survive the zone map. Behind the hint the scan stays parallel and AQE
    (with its default parallelism-first coalescing) packs the survivors'
    encoded rows toward ``total / parallelism`` bytes per task, but no less
    than its minimum partition size (1 MB by default): few survivors decode
    in one task, many in about ``parallelism`` tasks. So the hint saves
    tasks only when the scan has more splits than the session's default
    parallelism; with fewer splits it would add a shuffle of every survivor
    and save none. A plan that already has an exchange (AQE wraps it) has
    its decode stage sized by that exchange, and with AQE off Spark would
    drop the hint; both keep their shape. Counting the splits plans the
    scan on the driver and starts no job.
    """
    spark = pruned.sparkSession
    if spark.conf.get("spark.sql.adaptive.enabled").lower() != "true":
        return pruned
    plan = pruned._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return pruned
    if plan.execute().getNumPartitions() > spark.sparkContext.defaultParallelism:
        return pruned.hint("rebalance")
    return pruned


# The driver-local budget of point and range reads, in bytes. A read
# decodes in the driver (:func:`_decode_local`) when its kept data files
# total at most this on disk, and only while the tokens it decodes total at
# most this too: the first chunk that takes them past it stops the local
# read, and the read decodes on Spark instead. A driver-local read skips
# the parquet scan job, the Python task and their planning. In a probe on
# 4 cores with the benchmark's Spark conf (24 commits of 2 000 docs, each
# one 0.38 MB file holding one chunk of 1.1 M tokens, 4.4 MB decoded;
# median process-tree CPU and wall of the read plus ``toArrow()``) it cost
# less CPU than Spark at every size measured, 1 to 24 files (9.2 MB): one
# doc per file 0.34/0.51/0.78/1.31 CPU s at 1/6/12/24 files against
# 0.77/1.60/1.91/2.78, every doc 0.35/1.32/1.94/3.60 against
# 0.77/1.52/2.71/4.21. It decodes on one core, so its wall time passed
# Spark's near 2 MB of files when every doc was decoded (about 22 MB of
# tokens) and near 4-5 MB for one doc per file. 8 MiB stays inside the
# measured file sizes, and as decoded tokens (2 Mi values, under two such
# commits) below the point where decoding every doc costs more wall time.
# Rerun at 8 MiB: one doc of each of 21 files (8.0 MB) stayed local at 1.01
# CPU s against 2.42 (wall 0.92 s against 0.79); every doc of 2 files
# (8.8 MB of tokens) stopped and moved to Spark for 1.03 CPU s against a
# direct 1.00 (wall 0.43 s against 0.36).
LOCAL_READ_BYTES = 8 << 20


def _read_files_that_can_match(blocks_df, prune):
    """``(scan, paths)`` of a point or range read over ``blocks_df``.

    When ``blocks_df`` is a bare parquet file scan (its analyzed plan is
    one ``LogicalRelation`` with no partition columns), only the data
    files ``prune(paths)`` keeps are read; ``prune`` takes and returns
    local paths, and files that are not local ``file:`` URIs are always
    kept. ``scan()`` builds the frame that reads them: ``blocks_df`` with
    every file kept, an empty frame with its schema with none kept, else
    ``blocks_df`` re-read over the kept files. ``paths`` lists the kept
    files for a driver-local read when every one is local and they total
    at most :data:`LOCAL_READ_BYTES` on disk, else it is ``None``. Any
    other frame gives ``scan()`` = ``blocks_df`` and no ``paths``.
    Planning starts no Spark job."""
    from urllib.parse import unquote, urlparse

    plan = blocks_df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return lambda: blocks_df, None
    rel = plan.relation()
    if (
        rel.getClass().getSimpleName() != "HadoopFsRelation"
        or rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat"
        or rel.partitionSchema().length()
    ):
        return lambda: blocks_df, None
    uris = list(blocks_df.inputFiles())
    local = {
        u: unquote(urlparse(u).path) for u in uris if u.startswith("file:")
    }
    kept = set(prune(sorted(local.values())))
    files = [
        "file:" + local[u] if u in local else u
        for u in uris if u not in local or local[u] in kept
    ]

    def scan():
        if len(files) == len(uris):
            return blocks_df
        if not files:
            return blocks_df.limit(0)
        spark = blocks_df.sparkSession
        return spark.read.schema(blocks_df.schema).parquet(*files)

    paths = sorted(kept)
    if len(files) != len(paths) or (  # a kept file is not local
        sum(os.path.getsize(p) for p in paths) > LOCAL_READ_BYTES
    ):
        paths = None
    return scan, paths


def _decode_local(spark, paths: list[str], verify_checksum: bool, pick):
    """The docs ``pick`` picks from the blocks files ``paths``, decoded in
    the driver through the direct scan's checked reader and returned as a
    local DataFrame with :data:`TOKENS_OUT_SPARK_SCHEMA`: no Spark job or
    Python task runs until an action reads it. ``None`` as soon as the
    decoded tokens pass :data:`LOCAL_READ_BYTES`, so the driver holds at
    most that plus one output batch (and ``createDataFrame`` a second copy
    in its JVM); the read then decodes on Spark.

    The trade: this read is eager, so a corrupt or miscounted chunk raises
    when the read is built rather than at the action, and the decode time
    moves from the action into the call (in a traced read, from the
    ``decode.exec`` span into ``decode.plan``)."""
    from ..sources.parquet_direct import _iter_chunks

    batches, held = [], 0
    for ids, lengths, values, _ in _iter_chunks(
        [(p, 0, -1) for p in paths], verify_checksum, pick
    ):
        held += values.nbytes
        if held > LOCAL_READ_BYTES:
            return None
        batches.append(tokens_batch(ids, lengths, values))
    if not batches:  # pyspark cannot convert a table with no batches
        batches = [pa.RecordBatch.from_pylist([], schema=_OUT_ARROW_SCHEMA)]
    table = pa.Table.from_batches(batches)
    return spark.createDataFrame(table, TOKENS_OUT_SPARK_SCHEMA)


def decode_doc_range(
    blocks_df,
    lo: str,
    hi: str,
    *,
    verify_checksum: bool = True,
    with_source: bool = False,
    transform=None,
):
    """Selective decode of ``doc_id in [lo, hi)`` via zone-map pruning.

    Task shape: on the driver, a bare parquet scan first drops every data
    file whose doc-id envelope in its directory's ``_manifest.json`` (a
    snapshot commit's or the direct sink's) misses the range
    (:func:`_read_files_that_can_match`). Every read then decodes through
    the checked row reader (:func:`_read_rows`) with a range picker: a
    chunk whose zone map misses the range keeps its payload untouched, a
    boundary chunk gathers only the docs inside it (and, with
    ``with_source``, their source strings), and every touched chunk has its
    CRC (unless ``verify_checksum`` is false) and stored counts checked.

    When the kept files are local and total at most
    :data:`LOCAL_READ_BYTES` (8 MiB) on disk, the driver reads them with
    pyarrow and decodes them, eagerly (:func:`_decode_local` states the
    trade). Larger reads, non-local files, frames with any operator above
    the scan, and calls with ``with_source`` or ``transform`` decode on
    Spark: a Catalyst filter on ``[min_doc_id, max_doc_id]`` drops the
    chunks that miss the range in the parallel scan (on a parquet/Iceberg
    blocks table it reaches the reader as ``PushedFilters``, so pruned row
    groups never read their ``payload`` bytes), and the survivors decode in
    the scan's tasks, or behind one ``rebalance`` exchange when the scan
    has more splits than the session's default parallelism
    (:func:`_pack_survivors`).

    The point-lookup / range-scan analog of the reference decoding a single
    requested layer out of a multi-layer tile rather than the whole tile
    (/root/reference/mapbox_vector_tile/decoder.py:146-160): both use
    stored per-container metadata to touch only the containers a query
    needs. At 100 TB this is the difference between a metadata-bounded scan
    (chunks overlapping the range, typically one bucket's worth for a
    clustered table) and a full-corpus decode.
    """
    from pyspark.sql import functions as F

    from ..sources.parquet_direct import prune_files_by_doc_range

    scan, paths = _read_files_that_can_match(
        blocks_df, lambda files: prune_files_by_doc_range(files, lo, hi)
    )
    pick = _range_picker(lo, hi)
    if paths is not None and not with_source and transform is None:
        out = _decode_local(blocks_df.sparkSession, paths, verify_checksum, pick)
        if out is not None:
            return out
    pruned = scan().filter(
        (F.col("max_doc_id") >= lo) & (F.col("min_doc_id") < hi)
    )
    out = _decode_frame(
        _pack_survivors(pruned), verify_checksum, ["min_doc_id", "max_doc_id"],
        with_source=with_source, pick=pick,
    )
    return transform(out) if transform is not None else out


def decode_doc_ids(blocks_df, ids, verify_checksum: bool = True):
    """Point-lookup decode: tokens of an explicit ``doc_id`` set.

    The random-access read path of the store — "show me these training
    examples" — without a corpus scan.

    Task shape: on the driver, a bare parquet scan first drops every data
    file whose doc-id envelope in its directory's ``_manifest.json`` holds
    none of the ids (:func:`_read_files_that_can_match`). When the kept
    files are local and total at most :data:`LOCAL_READ_BYTES` (8 MiB) on
    disk, the driver reads them with pyarrow and decodes them, eagerly
    (:func:`_decode_local` states the trade), through the checked row
    reader (:func:`_read_rows`) with an id picker: a chunk whose zone map
    or doc ids hold none of the ids keeps its payload untouched, and every
    other chunk has its CRC (unless ``verify_checksum`` is false) and
    stored counts checked and gathers only the wanted docs' spans.

    Larger reads, non-local files and frames with any operator above the
    scan decode on Spark, with three pruning layers, cheapest first:

    1. a Catalyst range filter on the id set's global envelope
       ``[min(ids), max(ids)]`` over the zone-map columns — this one is a
       plain column predicate, so on a parquet/Iceberg blocks table it
       reaches the scan (``PushedFilters``) and non-overlapping row groups
       never read their ``payload`` bytes;
    2. per chunk, the requested ids inside ``[min_doc_id, max_doc_id]``
       become its sorted ``__want`` array (``F.filter`` over the literal
       id array, O(|ids|) work per *chunk row*, zone-map-sized), and
       chunks with an empty ``__want`` drop — this prunes the envelope's
       interior chunks when the set is scattered;
    3. in the Python task, the same row reader with the ``__want`` picker:
       each surviving chunk tests its own ``doc_ids`` against ``__want``
       and gathers ONLY the matching docs' spans
       (:func:`~..codec.gather.decode_block_gather` resolves the positions
       codec-aware: RLE/CONSTANT/PAGED chunks never inflate their full
       value stream; a one-doc lookup in a sequential-codec chunk still
       decodes once but ships one doc across Arrow/JVM).

    Layers 1 and 2 run in the parallel scan, one task per file split, so
    pruned row groups never leave it. Layer 3 runs in the scan's tasks, or
    behind one ``rebalance`` exchange when the scan has more splits than
    the session's default parallelism (:func:`_pack_survivors`).

    ``ids`` must be point-lookup sized (the literal array and the broadcast
    of it bound the driver plan; ~10^4 is comfortable). For bulk subsets
    use :func:`decode_doc_range` (clustered) or a join after
    :func:`decode_dataframe` (scan-shaped). The per-doc analog of the
    reference decoding one requested layer out of a multi-layer tile
    (/root/reference/mapbox_vector_tile/decoder.py:146-160).
    """
    from pyspark.sql import functions as F

    from ..sources.parquet_direct import prune_files_by_doc_ids

    ids = sorted(set(ids))
    if not ids:
        raise ValueError("ids must be a non-empty collection of doc ids")
    scan, paths = _read_files_that_can_match(
        blocks_df, lambda files: prune_files_by_doc_ids(files, ids)
    )
    if paths is not None:
        out = _decode_local(
            blocks_df.sparkSession, paths, verify_checksum, _ids_picker(ids)
        )
        if out is not None:
            return out

    want = F.filter(
        F.array(*[F.lit(d) for d in ids]),
        lambda d: (d >= F.col("min_doc_id")) & (d <= F.col("max_doc_id")),
    )
    hit = (
        scan().filter(
            (F.col("max_doc_id") >= ids[0]) & (F.col("min_doc_id") <= ids[-1])
        )
        .select(*_DECODE_COLS, want.alias("__want"))
        .filter(F.size("__want") > 0)
    )
    return _decode_frame(
        _pack_survivors(hit), verify_checksum, ["__want"], pick=_pick_wanted
    )


def decode_doc_ids_df(blocks_df, ids_df, verify_checksum: bool = True):
    """Join-shaped bulk point-lookup decode: the requested ``doc_id`` set
    arrives as a DataFrame and NEVER routes through the driver.

    The delete-wave / GDPR-purge companion to :func:`decode_doc_ids`:
    that overload is right for interactive lookups (ids become plan
    literals, ~10^4 is the comfort bound); this one handles an unbounded
    id set — a CDC delete window, a takedown list — as two joins whose
    shuffles carry only metadata:

    1. each chunk's ``doc_ids`` array is ``explode``d to
       ``(chunk_id, doc_id)`` rows (the payload column is pruned out of
       this scan) and equi-joined to the distinct id set — shuffle
       volume is doc-id strings + ints, never payload bytes;
    2. matched ids fold to one sorted per-chunk ``__want`` array
       (bounded by docs-per-chunk) and join back to the blocks table on
       ``chunk_id`` — AQE broadcasts the matched side when small, and
       the inner join prunes every untouched chunk before its payload is
       read;
    3. worker-side, each surviving chunk membership-tests its OWN
       ``doc_ids`` against ``__want`` and decodes only the matching
       docs' spans via the codec-aware positional gather — the same
       row reader and ``__want`` picker as the literal-id path.

    Joining back id VALUES (not positions) makes ``chunk_id``
    collisions harmless: ``chunk_id`` is only unique within one encode
    run, and a union of several commits (the snapshot/matview read
    shape) can repeat it — colliding chunks then receive the UNION of
    their matched ids, and the per-row membership test restores
    exactness (every id in ``__want`` is a requested id; each chunk
    decodes requested ∩ own docs).

    Returns the standard ``(doc_id, tokens, n_tok)`` frame; an empty
    ``ids_df`` yields an empty result of the same schema.
    """
    from pyspark.sql import functions as F

    ids = (
        ids_df.select(F.col("doc_id").cast("string").alias("doc_id"))
        .distinct()
    )
    pos = blocks_df.select(
        "chunk_id", F.explode("doc_ids").alias("doc_id")
    )
    matched = (
        pos.join(ids, "doc_id")
        .groupBy("chunk_id")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("__want"))
    )
    return _decode_frame(
        blocks_df.join(matched, "chunk_id"), verify_checksum, ["__want"],
        pick=_pick_wanted,
    )


def decode_prefix_dataframe(blocks_df, k: int, verify_checksum: bool = True):
    """Max-sequence-length truncation decode: ``tokens[:k]`` per document.

    The universal training-pipeline step "truncate every sequence to the
    model's context length" without ever materializing the full arrays:
    per chunk, the lengths stream gives each doc's flat start offset, the
    first ``min(k, n_tok)`` positions of every doc become one sorted gather
    index, and :func:`~..codec.gather.decode_block_gather` resolves them
    codec-aware (CONSTANT/RLE/PAGED chunks never inflate their full value
    stream; see that module for the per-codec cost table). ``n_tok`` in the
    output is the ORIGINAL length, so downstream can tell truncated docs
    (``size(tokens) < n_tok``) from short ones.

    At 100 TB the win is twofold: sequential-codec chunks still decode once
    but emit only O(k·docs) values into Arrow/JVM (materialization + transfer
    dominate decode at >200 M tok/s kernel speed), and RLE/CONSTANT/PAGED
    chunks skip the inflation entirely. The per-doc analog of the reference
    decoding a single layer out of a multi-layer tile
    (/root/reference/mapbox_vector_tile/decoder.py:146-160).
    """
    if k < 0:
        raise ValueError("prefix length k must be >= 0")
    return _decode_frame(blocks_df, verify_checksum, trim=(k, False))


def decode_padded_dataframe(
    blocks_df, k: int, pad_id: int, verify_checksum: bool = True
):
    """Rectangular trainer egress: every doc as EXACTLY ``k`` tokens —
    truncated via the codec-aware gather (:func:`decode_prefix_dataframe`),
    then right-padded with ``pad_id`` as a Catalyst ``concat`` /
    ``array_repeat`` projection (JVM-side, no second Python pass).

    Output: ``(doc_id, tokens[k], n_fill, n_tok)`` — ``n_fill`` is the
    real-token count (the attention-mask length a trainer derives masks
    from), ``n_tok`` the original document length. The padding projection
    is map-side on the decode output; total egress is O(k·docs) exactly,
    which is what a fixed-shape tensor consumer reads anyway.
    """
    if k < 0:
        raise ValueError("target length k must be >= 0")
    from pyspark.sql import functions as F

    out = decode_prefix_dataframe(blocks_df, k, verify_checksum)
    fill = F.least(F.col("n_tok"), F.lit(k))
    return out.select(
        "doc_id",
        F.concat(
            "tokens",
            F.array_repeat(F.lit(int(pad_id)).cast("int"), F.lit(k) - fill),
        ).alias("tokens"),
        fill.cast("int").alias("n_fill"),
        "n_tok",
    )


def decode_suffix_dataframe(blocks_df, k: int, verify_checksum: bool = True):
    """Last-``k`` truncation decode: ``tokens[-k:]`` per document.

    The mirror of :func:`decode_prefix_dataframe` for recency-shaped reads
    — "the most recent context window of every sequence" (chat history
    tails, streaming continuation) — via the same codec-aware positional
    gather: each doc's last ``min(k, n_tok)`` flat positions form one
    sorted gather index (suffix spans are disjoint and ascending because
    doc spans are), so RLE/CONSTANT/PAGED chunks never inflate their full
    stream and Arrow/JVM egress is O(k·docs). ``n_tok`` stays the ORIGINAL
    length so truncated docs remain distinguishable.
    """
    if k < 0:
        raise ValueError("suffix length k must be >= 0")
    return _decode_frame(blocks_df, verify_checksum, trim=(k, True))

