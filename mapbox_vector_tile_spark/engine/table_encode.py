"""Whole-table columnar encode: every column of a relational table through
its type's codec, one self-describing frame per (chunk, column).

The engine's column encoders — int32 ladder (``codec/select``), int64
outer transforms (``codec/int64``), FSST+dict strings
(``codec/strings``), float64 byte-stream split (``codec/float64``) —
compose into a table store: a chunk row carries ONE frame per column,
aligned on the same row order, so the original table reconstructs
bit-exactly with per-column codec choice recorded in the manifest
columns. This is the classic columnar-warehouse layout (per-column
encodings + per-segment metadata) expressed in the engine's own frames.

Scale shape: deterministic chunking by an integer order key (``chunk =
key >> log2(rows)`` — layout is a pure function of the data, the
resume/oracle property everything else here has); encode is ONE shuffle
on the chunk id with worker memory O(chunk_rows * columns).

Decode is one reader, per-caller pickers: :func:`_read_chunks` is the
only loop that turns chunk rows into wide ``(chunk, pos, <columns>)``
rows (one stateless ``mapInArrow``, parallel by chunk row), and
``decode_table``, the merge-on-read deletes and the string/int predicate
scans differ only in the picker that chooses each chunk's rows.

Schema drift: chunks resolve columns by NAME, so a table whose later
generations added columns reads as one table. A chunk written before a
column existed reads NULL for it (the Iceberg add-column contract at
chunk granularity): NULL never matches a predicate or an equality
delete, and the aggregates count its rows with no value.

Null handling: a nullable column stores a packed validity bitmap in the
``valids`` manifest column and its inner frame encodes only the
non-null values (so a column that is constant-when-present still picks
CONSTANT, and zone maps stay over real values); decode re-expands nulls
with one vectorized Arrow ``take``. The order key must be null-free.
All-null chunks store a zero-byte ``all_null`` frame.

Reference parity: the reference stores per-feature attribute values in
per-tile typed value tables (/root/reference/mapbox_vector_tile/
encoder.py:241-266); this generalizes that to every column of an
arbitrary table.
"""

from __future__ import annotations

import re
import struct
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..codec import bloom
from ..codec import blocks as B
from ..codec.float64 import FLOAT64_MODE_NAMES, decode_float64, encode_float64_auto
from ..codec.int64 import INT64_MODE_NAMES, decode_int64, encode_int64_auto
from ..codec.select import encode_auto
from ..codec.strings import decode_string_chunk, encode_string_chunk

KIND_INT32 = "int32"
KIND_INT64 = "int64"
KIND_FLOAT64 = "float64"
KIND_STRING = "string"
KIND_DATE = "date"
KIND_BOOL = "bool"
KIND_TS = "timestamp"

_SPARK_TO_KIND = {
    "int": KIND_INT32,
    "integer": KIND_INT32,
    "bigint": KIND_INT64,
    "long": KIND_INT64,
    "double": KIND_FLOAT64,
    "string": KIND_STRING,
    "date": KIND_DATE,
    "boolean": KIND_BOOL,
    "timestamp": KIND_TS,  # epoch micros through the int64 transforms
}

_PA_TYPE = {
    KIND_INT32: pa.int32(),
    KIND_INT64: pa.int64(),
    KIND_FLOAT64: pa.float64(),
    KIND_STRING: pa.string(),
    KIND_DATE: pa.date32(),
    KIND_BOOL: pa.bool_(),
    KIND_TS: pa.timestamp("us"),
}

# all-null chunk marker: zero-byte payload, no inner frame at all
_CODEC_ALL_NULL = "all_null"

_DECIMAL_RE = re.compile(r"^decimal\((\d+),(\d+)\)$")


def _kind_of(simple: str) -> str | None:
    """Spark simpleString -> kind. Decimals keep their parametrized
    string as the kind (``decimal(p,s)``, p <= 18 so the unscaled value
    fits int64 and rides the int64 transforms losslessly)."""
    k = _SPARK_TO_KIND.get(simple)
    if k is not None:
        return k
    m = _DECIMAL_RE.match(simple)
    if m and int(m.group(1)) <= 18:
        return simple
    return None


def _decimal_params(kind: str) -> tuple[int, int]:
    m = _DECIMAL_RE.match(kind)
    return int(m.group(1)), int(m.group(2))


def _pa_type_of(kind: str):
    if kind in _PA_TYPE:
        return _PA_TYPE[kind]
    p, s = _decimal_params(kind)
    return pa.decimal128(p, s)


def _decimal_unscaled(sub: pa.Array) -> np.ndarray:
    """Unscaled int64 view of a null-free decimal128 array (valid for
    precision <= 18): the low 8 bytes of each 16-byte little-endian
    storage word ARE the signed value when it fits int64."""
    data = sub.buffers()[1]
    words = np.frombuffer(data, dtype=np.int64)
    off = sub.offset * 2
    return words[off : off + 2 * len(sub) : 2].copy()


def _decimal_from_unscaled(u: np.ndarray, p: int, s: int) -> pa.Array:
    lo = u.astype(np.int64)
    hi = np.where(lo < 0, np.int64(-1), np.int64(0))
    pair = np.empty((len(lo), 2), np.int64)
    pair[:, 0] = lo
    pair[:, 1] = hi
    return pa.Array.from_buffers(
        pa.decimal128(p, s), len(lo), [None, pa.py_buffer(pair.tobytes())]
    )

_BLOCKS_SCHEMA = (
    "chunk long, n_rows long, cols array<string>, kinds array<string>, "
    "codecs array<string>, bytes_enc array<long>, bytes_raw array<long>, "
    "mins array<long>, maxs array<long>, valids array<binary>, "
    "blooms array<binary>, payloads array<binary>"
)


def _float_sort_keys(a: np.ndarray) -> np.ndarray:
    """Order-preserving int64 image of float64: the classic IEEE-754
    total-order map (negatives flip all bits, non-negatives flip the sign
    bit; then the unsigned result is re-biased to signed). Monotone, so a
    column's [min, max] maps to the key-space [min, max] and float zone
    maps live in the SAME int64 manifest arrays as the integer kinds."""
    u = np.ascontiguousarray(a, dtype=np.float64).view(np.uint64)
    mask = np.where(
        u >> np.uint64(63),
        np.uint64(0xFFFFFFFFFFFFFFFF),
        np.uint64(0x8000000000000000),
    )
    return ((u ^ mask) ^ np.uint64(1 << 63)).view(np.int64)


def _float_sort_key(x: float) -> int:
    return int(_float_sort_keys(np.array([x], dtype=np.float64))[0])


def _float_from_sort_keys(k: np.ndarray) -> np.ndarray:
    """Inverse of :func:`_float_sort_keys` (used to report zone-map stats
    back in the value domain)."""
    ku = np.asarray(k, dtype=np.int64).view(np.uint64) ^ np.uint64(1 << 63)
    neg = ~(ku >> np.uint64(63)).astype(bool)
    u = np.where(neg, ~ku, ku ^ np.uint64(0x8000000000000000))
    return u.astype(np.uint64).view(np.float64)


def _encode_column_arrow(
    sub: pa.Array, kind: str, fsst_table: bytes | None = None
) -> tuple[bytes, str, int]:
    """-> (payload, codec name, bytes_raw). ``sub`` must be null-free —
    :func:`encode_table` strips nulls into the validity bitmap first.
    Arrow-native: int64/float64 values never pass through a lossy pandas
    dtype, and real NaN doubles stay distinct from NULLs. A string column
    with a packed shared ``fsst_table`` compresses its dictionary blob
    against that table."""
    if sub.null_count:
        raise ValueError("inner frame encode is null-free by contract")
    if kind == KIND_INT32:
        a = np.asarray(sub)
        payload, cid = encode_auto(a)
        return payload, B.CODEC_NAMES[cid], 4 * a.size
    if kind == KIND_INT64:
        a = np.asarray(sub)
        payload, mode = encode_int64_auto(a)
        return payload, INT64_MODE_NAMES[mode], 8 * a.size
    if kind == KIND_FLOAT64:
        a = np.asarray(sub)
        payload, mode = encode_float64_auto(a)
        return payload, FLOAT64_MODE_NAMES[mode], 8 * a.size
    if kind == KIND_STRING:
        vals = sub.to_pylist()
        raw = sum(len(s.encode()) for s in vals)
        payload = encode_string_chunk(vals, shared_table=fsst_table)
        return payload, "dict_fsst", raw
    if kind == KIND_DATE:
        a = np.asarray(sub.cast(pa.int32()))  # exact epoch days
        payload, cid = encode_auto(a)
        return payload, B.CODEC_NAMES[cid], 4 * a.size
    if kind == KIND_BOOL:
        a = np.asarray(sub.cast(pa.int32()))
        payload, cid = encode_auto(a)
        return payload, B.CODEC_NAMES[cid], a.size  # 1 byte/val raw
    if kind == KIND_TS:
        a = np.asarray(sub.cast(pa.int64()))  # exact epoch micros
        payload, mode = encode_int64_auto(a)
        return payload, INT64_MODE_NAMES[mode], 8 * a.size
    if kind.startswith("decimal("):
        a = _decimal_unscaled(sub)  # exact unscaled int64 (p <= 18)
        payload, mode = encode_int64_auto(a)
        return payload, INT64_MODE_NAMES[mode], 16 * a.size
    raise ValueError(f"unknown column kind {kind}")


def _decode_column(
    payload: memoryview, kind: str, n: int, fsst_table: bytes | None = None
):
    if kind == KIND_INT32:
        vals = B.decode_block(payload)
        arr = pa.array(vals.astype(np.int32), pa.int32())
    elif kind == KIND_INT64:
        arr = pa.array(decode_int64(payload), pa.int64())
    elif kind == KIND_FLOAT64:
        arr = pa.array(decode_float64(payload), pa.float64())
    elif kind == KIND_STRING:
        texts = decode_string_chunk(payload, shared_table=fsst_table)
        arr = pa.array(texts, pa.string())
    elif kind == KIND_DATE:
        days = B.decode_block(payload).astype(np.int32)
        arr = pa.array(days, pa.int32()).cast(pa.date32())
    elif kind == KIND_BOOL:
        arr = pa.array(B.decode_block(payload).astype(bool), pa.bool_())
    elif kind == KIND_TS:
        us = decode_int64(payload)
        arr = pa.array(us, pa.int64()).cast(pa.timestamp("us"))
    elif kind.startswith("decimal("):
        p, s = _decimal_params(kind)
        arr = _decimal_from_unscaled(decode_int64(payload), p, s)
    else:
        raise ValueError(f"unknown column kind {kind}")
    if len(arr) != n:
        raise ValueError(f"column decoded {len(arr)} rows, want {n}")
    return arr


def _col_index(batch, i, col: str) -> int | None:
    """Position of ``col`` in chunk row ``i``'s ``cols``; ``None`` for a
    chunk written before the column existed."""
    cols = batch.column("cols")[i].as_py()
    return cols.index(col) if col in cols else None


def _valid_mask(batch, i, j: int) -> np.ndarray | None:
    """Row validity of column ``j`` of chunk row ``i``; ``None`` when the
    column stored no bitmap (no nulls, or a table written before
    ``valids`` existed)."""
    if "valids" not in batch.schema.names:
        return None
    vbuf = batch.column("valids")[i][j]
    if not vbuf.is_valid:
        return None
    packed = np.frombuffer(vbuf.as_buffer(), np.uint8)
    n = batch.column("n_rows")[i].as_py()
    return np.unpackbits(packed, count=n).astype(bool)


def _decode_frame(batch, i, j: int, fsst_table: bytes | None = None):
    """Decode column ``j`` of chunk row ``i`` to a FULL-LENGTH Arrow
    array, by the kind the chunk stored: when a validity bitmap is
    present, the inner frame holds only the non-null values and nulls
    re-expand through an Arrow ``take`` with null indices (one vectorized
    gather, any kind)."""
    kind = batch.column("kinds")[i][j].as_py()
    n = batch.column("n_rows")[i].as_py()
    payload = memoryview(batch.column("payloads")[i][j].as_buffer())
    valid = _valid_mask(batch, i, j)
    if valid is None:
        return _decode_column(payload, kind, n, fsst_table)
    n_valid = int(valid.sum())
    if n_valid == 0:
        return pa.nulls(n, _pa_type_of(kind))
    inner = _decode_column(payload, kind, n_valid, fsst_table)
    idx = np.zeros(n, np.int64)
    idx[valid] = np.arange(n_valid)
    return inner.take(pa.array(idx, mask=~valid))


def _schema_of(df_schema, columns: list[str] | None = None) -> dict[str, str]:
    """Column name -> kind of the table schema ``df_schema`` (a StructType
    or DDL string), in schema order; with ``columns``, only those (a
    name outside the schema is refused)."""
    from pyspark.sql.types import StructType

    if isinstance(df_schema, str):
        df_schema = StructType.fromDDL(df_schema)
    kinds = {}
    for f in df_schema.fields:
        k = _kind_of(f.dataType.simpleString())
        if k is None:
            raise ValueError(
                f"unsupported table column type "
                f"{f.dataType.simpleString()} ({f.name})"
            )
        kinds[f.name] = k
    if columns is None:
        return kinds
    unknown = set(columns) - set(kinds)
    if unknown:
        raise ValueError(f"projection names not in schema: {sorted(unknown)}")
    return {c: k for c, k in kinds.items() if c in columns}


# kind -> a Spark type string of it (decimal kinds are their own)
_SPARK_TYPE = {k: s for s, k in _SPARK_TO_KIND.items()}


def _read_chunks(
    blocks: DataFrame,
    df_schema,
    columns: list[str] | None = None,
    pick=None,
    fsst_tables: dict[str, bytes] | None = None,
) -> DataFrame:
    """The one reader of table chunk rows: ONE ``mapInArrow`` emitting
    ``(chunk, pos, <columns>)`` for the picked rows of every chunk row of
    ``blocks``; ``pos`` is the row's original in-chunk rank.

    ``pick(batch, i)`` chooses chunk row ``i``'s rows: ``None`` skips the
    chunk with no other frame parsed, else the ascending positions of the
    rows to keep (all ``n_rows`` of them: the whole chunk, no gather).
    With no picker every row is read. Only the projected columns' frames
    are parsed; a projected column the chunk lacks reads NULL."""
    kinds = _schema_of(df_schema, columns)
    out_schema = pa.schema(
        [("chunk", pa.int64()), ("pos", pa.int64())]
        + [(c, _pa_type_of(k)) for c, k in kinds.items()]
    )
    ddl = ", ".join(
        ["chunk long", "pos long"]
        + [f"{c} {_SPARK_TYPE.get(k, k)}" for c, k in kinds.items()]
    )
    fsst_tables = fsst_tables or {}

    def read(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for i in range(batch.num_rows):
                n = batch.column("n_rows")[i].as_py()
                sel = np.arange(n) if pick is None else pick(batch, i)
                if sel is None or sel.size == 0:
                    continue
                take = None if sel.size == n else pa.array(sel)
                cols = batch.column("cols")[i].as_py()
                chunk = batch.column("chunk")[i].as_py()
                arrays = [
                    pa.array(np.full(sel.size, chunk, np.int64)),
                    pa.array(sel.astype(np.int64)),
                ]
                for c in kinds:
                    if c not in cols:
                        arrays.append(
                            pa.nulls(sel.size, out_schema.field(c).type)
                        )
                        continue
                    full = _decode_frame(
                        batch, i, cols.index(c), fsst_tables.get(c)
                    )
                    arrays.append(full if take is None else full.take(take))
                yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)

    return blocks.mapInArrow(read, ddl)


def table_kinds(df: DataFrame, order_col: str) -> list[tuple[str, str]]:
    """(name, kind) for every column, order_col first (it is stored too —
    decode reconstructs the full original table including the key)."""
    kinds = sorted(_schema_of(df.schema).items(),
                   key=lambda kv: kv[0] != order_col)
    if kinds[0][0] != order_col:
        raise ValueError(f"order_col {order_col!r} not in table")
    return kinds


def encode_table(
    df: DataFrame,
    order_col: str,
    chunk_rows: int = 4096,
    bloom_cols: list[str] | None = None,
    fsst_tables: dict[str, bytes] | None = None,
) -> DataFrame:
    """Encode EVERY column of ``df`` into per-(chunk, column) frames,
    chunked and ordered by the integer ``order_col``.

    ``fsst_tables`` maps string columns to one packed FSST symbol table
    each (``codec.fsst.pack_table``; ``columnar.train_shared_fsst_table``
    trains one): their chunks compress the dictionary blob against that
    shared table instead of embedding a table of their own, so training
    cost and table bytes are paid once per column. The table is not
    stored; :func:`decode_table` needs the same mapping back, and every
    other reader of such a frame fails with the codec's ``ValueError``.

    ``bloom_cols`` names int-family columns (int/bigint/timestamp/date/
    decimal/double) that additionally store a per-chunk Bloom filter over
    their zone-map domain — the Parquet column-index bloom analog. Zone
    maps prune RANGE probes; a point probe on a column uncorrelated with
    the order key (foreign keys, hash ids) passes every chunk's [min,max]
    and decodes the table without one. :func:`scan_table_int_eq` consumes
    them."""
    kinds = table_kinds(df, order_col)
    bloom_set = set(bloom_cols or [])
    known = {c for c, _ in kinds}
    if bloom_set - known:
        raise ValueError(f"bloom_cols not in table: {sorted(bloom_set - known)}")
    for c, k in kinds:
        if c in bloom_set and k == KIND_STRING:
            raise ValueError(
                f"bloom_cols: {c!r} is a string column (the dictionary "
                "probe already prunes point predicates there)"
            )
    fsst_tables = fsst_tables or {}
    not_strings = set(fsst_tables) - {c for c, k in kinds if k == KIND_STRING}
    if not_strings:
        raise ValueError(
            f"fsst_tables: not string columns: {sorted(not_strings)}"
        )
    chunk = (
        (F.col(order_col) - F.pmod(F.col(order_col), F.lit(chunk_rows)))
        / chunk_rows
    ).cast("long")
    rows = df.select(chunk.alias("__chunk"), "*")

    def enc(table: pa.Table) -> pa.Table:
        # Arrow-native on purpose: a pandas hand-off would push nullable
        # int64 through float64 (values above 2^53 shave low bits —
        # hypothesis-caught) and conflate real NaN doubles with NULLs.
        table = table.sort_by(order_col)
        n = table.num_rows
        payloads, codecs, enc_b, raw_b = [], [], [], []
        mins, maxs, valids, blooms = [], [], [], []
        for name, kind in kinds:
            arr = table.column(name).combine_chunks()
            if arr.null_count:
                if name == order_col:
                    raise ValueError("the order key must be null-free")
                valid = np.asarray(arr.is_valid())
                sub = arr.drop_null()
                valids.append(np.packbits(valid).tobytes())
            else:
                sub = arr
                valids.append(None)
            if len(sub) == 0:
                payloads.append(b"")
                codecs.append(_CODEC_ALL_NULL)
                enc_b.append(0)
                raw_b.append(0)
                mins.append(None)
                maxs.append(None)
                blooms.append(None)
                continue
            payload, codec, raw = _encode_column_arrow(
                sub, kind, fsst_tables.get(name)
            )
            payloads.append(payload)
            codecs.append(codec)
            enc_b.append(len(payload))
            raw_b.append(raw)
            # zone-map domain: the int64 image the manifest stores
            if kind in (KIND_INT32, KIND_INT64):
                zvals = np.asarray(sub).astype(np.int64)
            elif kind == KIND_FLOAT64:
                # order-preserving int64 key space
                zvals = _float_sort_keys(np.asarray(sub))
            elif kind in (KIND_DATE, KIND_BOOL):
                zvals = np.asarray(sub.cast(pa.int32())).astype(np.int64)
            elif kind == KIND_TS:
                zvals = np.asarray(sub.cast(pa.int64()))
            elif kind.startswith("decimal("):
                zvals = _decimal_unscaled(sub)  # unscaled order == value
            else:  # strings: no zone map (dict probe prunes instead)
                zvals = None
            if zvals is None:
                mins.append(None)
                maxs.append(None)
                blooms.append(None)
            else:
                mins.append(int(zvals.min()))
                maxs.append(int(zvals.max()))
                blooms.append(
                    bloom.build_bloom(zvals, wide=True)
                    if name in bloom_set else None
                )
        return pa.table(
            {
                "chunk": pa.array(
                    [table.column("__chunk")[0].as_py()], pa.int64()
                ),
                "n_rows": pa.array([n], pa.int64()),
                "cols": pa.array([[c for c, _ in kinds]], pa.list_(pa.string())),
                "kinds": pa.array([[k for _, k in kinds]], pa.list_(pa.string())),
                "codecs": pa.array([codecs], pa.list_(pa.string())),
                "bytes_enc": pa.array([enc_b], pa.list_(pa.int64())),
                "bytes_raw": pa.array([raw_b], pa.list_(pa.int64())),
                "mins": pa.array([mins], pa.list_(pa.int64())),
                "maxs": pa.array([maxs], pa.list_(pa.int64())),
                "valids": pa.array([valids], pa.list_(pa.binary())),
                "blooms": pa.array([blooms], pa.list_(pa.binary())),
                "payloads": pa.array([payloads], pa.list_(pa.binary())),
            }
        )

    return rows.groupBy("__chunk").applyInArrow(enc, _BLOCKS_SCHEMA)


def decode_table(
    blocks: DataFrame,
    df_schema,
    columns: list[str] | None = None,
    fsst_tables: dict[str, bytes] | None = None,
) -> DataFrame:
    """Inverse: wide rows ``(chunk, pos, <original columns>)``; ``pos`` is
    the in-chunk rank by the order key, so total order reconstructs.
    ``df_schema`` is the original table's StructType (or DDL string).

    ``columns`` is PROJECTION PUSHDOWN: only the named columns' frames
    are parsed — every other frame's payload bytes stay untouched (a
    two-column projection of a ten-column table pays two columns of
    decode CPU and Arrow transfer, the classic columnar-store win; the
    tests prove it by poisoning an unselected frame).

    ``fsst_tables`` hands back the shared FSST tables the columns were
    encoded with (:func:`encode_table`); a shared-table frame decoded
    without its table fails with the codec's ``ValueError``.

    Schema drift follows the module rule (a chunk written before a column
    existed reads NULL for it)."""
    return _read_chunks(blocks, df_schema, columns, fsst_tables=fsst_tables)


def decode_table_with_deletes(
    blocks: DataFrame,
    df_schema,
    deletes_df: DataFrame,
    key_col: str,
    columns: list[str] | None = None,
) -> DataFrame:
    """Merge-on-read equality deletes for the relational table store:
    ``decode_table`` minus the rows whose ``key_col`` value appears in
    ``deletes_df`` — encoded chunks are never rewritten.

    Completes the Iceberg-v2 analogy for the store (the blocks table has
    :mod:`.deletes`; CoW MERGE was the store's only row-removal path).
    Same scale shape as the blocks-side reader:

    - the delete set rides to every decode task as ONE broadcast row
      holding the sorted int64 key array (one-row aggregate + broadcast
      cross join — no driver collect, no join keyed on chunk ids);
    - each chunk gates on its MANIFEST zone map for ``key_col`` (two
      ``searchsorted`` calls against the sorted array): chunks with no
      overlapping delete decode on the untouched fast path — only the
      intersecting chunks parse their key frame;
    - touched chunks pick their surviving rows from the key frame, and
      only those rows of the projected columns materialize. ``pos``
      keeps its ORIGINAL in-chunk rank (Iceberg position semantics: a
      delete does not renumber survivors).

    ``key_col`` must be an int-family column whose zone-map image is the
    value itself (int/bigint; the usual case — the table's key). NULL
    keys never match an equality delete. Compaction is the "apply for
    real" companion: ``decode -> re-encode`` retires the sidecar.
    """
    kind = _schema_of(df_schema).get(key_col)
    if kind is None:
        raise ValueError(f"key_col {key_col!r} not in schema")
    if kind not in (KIND_INT32, KIND_INT64):
        raise ValueError(
            f"key_col {key_col!r} must be int/bigint, got {kind}"
        )
    dels = (
        deletes_df.select(F.col(key_col).cast("long").alias("k"))
        .distinct()
        .agg(F.sort_array(F.collect_list("k")).alias("_deleted"))
    )

    def pick(batch, i):
        keep = np.arange(batch.column("n_rows")[i].as_py())
        j = _col_index(batch, i, key_col)
        if j is None:
            return keep  # pre-drift chunk: NULL keys never match
        zlo = batch.column("mins")[i][j].as_py()
        zhi = batch.column("maxs")[i][j].as_py()
        if zlo is None:
            return keep  # all-null key column
        deleted = np.asarray(batch.column("_deleted")[i].values, np.int64)
        a = int(np.searchsorted(deleted, zlo, "left"))
        b = int(np.searchsorted(deleted, zhi, "right"))
        if a == b:
            return keep  # zone map misses every delete: key frame unread
        keys = _decode_frame(batch, i, j)
        hit = np.isin(np.asarray(keys.cast(pa.int64()).fill_null(0)),
                      deleted[a:b])
        if keys.null_count:  # NULL keys never match
            hit &= np.asarray(keys.is_valid())
        return np.flatnonzero(~hit)

    return _read_chunks(
        blocks.crossJoin(F.broadcast(dels)), df_schema, columns, pick
    )


def scan_table_range(
    blocks: DataFrame,
    df_schema,
    col: str,
    lo,
    hi,
    columns: list[str] | None = None,
) -> DataFrame:
    """Range scan with zone-map pruning: chunks whose ``[min, max]`` for
    ``col`` misses ``[lo, hi]`` are dropped by a CATALYST filter on the
    manifest arrays BEFORE any frame is decoded (payload bytes of pruned
    chunks are never touched — the filter reaches the blocks scan), then
    the row predicate re-applies post-decode. Integer columns compare in
    the value domain; float64 columns compare in the order-preserving
    key space (``lo``/``hi`` are mapped through the same monotone map the
    encoder stored, so the manifest filter stays a pure int64 range).
    ``columns`` forwards projection pushdown (must include ``col``).
    The single-predicate case of :func:`scan_table_multi_range`."""
    return scan_table_multi_range(blocks, df_schema, {col: (lo, hi)}, columns)


def scan_table_multi_range(
    blocks: DataFrame,
    df_schema,
    predicates: dict[str, tuple],
    columns: list[str] | None = None,
) -> DataFrame:
    """Conjunction of range predicates, pruned in ONE Catalyst manifest
    filter: every ``col: (lo, hi)`` contributes its zone-map interval
    test (the AND composes — a chunk survives only if every predicate's
    key range intersects its zone map), then the row predicates
    re-apply post-decode. Same key-space mapping per kind as
    :func:`scan_table_range`."""
    if not predicates:
        raise ValueError("need at least one predicate")
    kinds = _schema_of(df_schema)
    manifest_filter = None
    row_filter = None
    for col, (lo, hi) in predicates.items():
        kind = kinds.get(col)
        if kind == KIND_FLOAT64:
            klo, khi = _float_sort_key(float(lo)), _float_sort_key(float(hi))
            flo, fhi = F.lit(lo), F.lit(hi)
        elif kind in (KIND_INT32, KIND_INT64, KIND_BOOL):
            klo, khi = int(lo), int(hi)
            flo, fhi = F.lit(lo), F.lit(hi)
        elif kind == KIND_DATE:
            klo, khi = int(lo), int(hi)
            flo = F.date_from_unix_date(F.lit(klo))
            fhi = F.date_from_unix_date(F.lit(khi))
        elif kind == KIND_TS:
            klo, khi = int(lo), int(hi)
            flo = F.timestamp_micros(F.lit(klo))
            fhi = F.timestamp_micros(F.lit(khi))
        elif kind is not None and kind.startswith("decimal("):
            # bounds arrive in the VALUE domain (str/Decimal/float);
            # the manifest compares unscaled ints
            from decimal import Decimal

            _p, s = _decimal_params(kind)
            klo = int(Decimal(str(lo)).scaleb(s))
            khi = int(Decimal(str(hi)).scaleb(s))
            flo = F.lit(str(lo)).cast(kind)
            fhi = F.lit(str(hi)).cast(kind)
        else:
            raise ValueError(f"range predicate on unsupported column {col!r}")
        if columns is not None and col not in columns:
            raise ValueError("projection must include every predicate column")
        idx = F.array_position(F.col("cols"), F.lit(col))
        m = (
            (idx > 0)
            & (F.element_at(F.col("mins"), idx.cast("int")) <= F.lit(khi))
            & (F.element_at(F.col("maxs"), idx.cast("int")) >= F.lit(klo))
        )
        r = (F.col(col) >= flo) & (F.col(col) <= fhi)
        manifest_filter = m if manifest_filter is None else manifest_filter & m
        row_filter = r if row_filter is None else row_filter & r
    dec = decode_table(blocks.filter(manifest_filter), df_schema, columns)
    return dec.filter(row_filter)


def _probe_key(kind: str | None, col: str, value):
    """(zone-map-domain int key, row-domain Column literal) of one probe
    value — the same per-kind mapping the range scans use."""
    if kind in (KIND_INT32, KIND_INT64, KIND_BOOL, KIND_DATE):
        key = int(value)
        row_val = (F.date_from_unix_date(F.lit(key)) if kind == KIND_DATE
                   else F.lit(value))
    elif kind == KIND_TS:
        key = int(value)
        row_val = F.timestamp_micros(F.lit(key))
    elif kind == KIND_FLOAT64:
        key = _float_sort_key(float(value))
        row_val = F.lit(float(value))
    elif kind is not None and kind.startswith("decimal("):
        from decimal import Decimal

        _p, s = _decimal_params(kind)
        key = int(Decimal(str(value)).scaleb(s))
        row_val = F.lit(str(value)).cast(kind)
    else:
        raise ValueError(f"point probe on unsupported column {col!r}")
    return key, row_val


def scan_table_int_eq(
    blocks: DataFrame,
    df_schema,
    col: str,
    value,
    columns: list[str] | None = None,
) -> DataFrame:
    """Point probe on an int-family column with BLOOM pruning — the
    single-value case of :func:`scan_table_int_in` (which see)."""
    return scan_table_int_in(blocks, df_schema, col, [value], columns)


def scan_table_int_in(
    blocks: DataFrame,
    df_schema,
    col: str,
    values: list,
    columns: list[str] | None = None,
) -> DataFrame:
    """IN-list probe on an int-family column with BLOOM pruning.

    Three layers, cheapest first: (1) a Catalyst zone-map filter on the
    manifest arrays — the OR of each value's interval test, exact per
    value, reaches the blocks scan so pruned chunks never read payload
    bytes; (2) in the decode pass, a picker over the per-chunk Bloom
    filter (when :func:`encode_table` stored one for ``col``) skips
    chunks containing NONE of the values — the case that matters for
    columns uncorrelated with the order key, where every chunk's
    [min,max] straddles the probes; (3) surviving chunks decode and
    row-filter exactly. No false negatives anywhere, so the result is
    exact with or without a stored bloom. ``values`` is point-probe
    sized (the literal OR bounds the plan)."""
    if not values:
        raise ValueError("IN-list must be non-empty")
    kind = _schema_of(df_schema).get(col)
    keys, row_vals = zip(*(_probe_key(kind, col, v) for v in values))
    if columns is not None and col not in columns:
        raise ValueError("projection must include the predicate column")

    idx = F.array_position(F.col("cols"), F.lit(col))
    zone = None
    for key in keys:
        z = (
            (F.element_at(F.col("mins"), idx.cast("int")) <= F.lit(key))
            & (F.element_at(F.col("maxs"), idx.cast("int")) >= F.lit(key))
        )
        zone = z if zone is None else zone | z

    def pick(batch, i):
        if "blooms" in batch.schema.names:  # else a pre-bloom table
            blob = batch.column("blooms")[i][_col_index(batch, i, col)]
            b = None if not blob.is_valid else memoryview(blob.as_buffer())
            if not any(bloom.might_contain(b, key, wide=True)
                       for key in keys):
                return None
        return np.arange(batch.column("n_rows")[i].as_py())

    pruned = blocks.filter((idx > 0) & zone)
    dec = _read_chunks(pruned, df_schema, columns, pick)
    row_pred = None
    for rv in row_vals:
        r = F.col(col) == rv
        row_pred = r if row_pred is None else row_pred | r
    return dec.filter(row_pred)


def _dict_picker(df_schema, col: str, ranks_of):
    """Picker of the rows whose string ``col`` is one of the dictionary
    entries ranked by ``ranks_of(dict_blob)``: a chunk whose dictionary
    holds none of them is skipped having parsed ONLY that blob (no index
    stream, no other frame), else the matching codes of the bit-packed
    index stream map back to row positions. A chunk written before
    ``col`` existed, or whose ``col`` is all NULL, matches nothing."""
    from ..codec.strings import string_chunk_indices

    if _schema_of(df_schema).get(col) != KIND_STRING:
        raise ValueError(f"{col!r} is not a string column")

    def pick(batch, i):
        j = _col_index(batch, i, col)
        if j is None:
            return None
        blob = memoryview(batch.column("payloads")[i][j].as_buffer())
        if len(blob) == 0:
            return None
        ranks = ranks_of(blob)
        if not ranks:
            return None  # dict probe pruned the chunk
        codes = string_chunk_indices(blob)
        sel = np.flatnonzero(np.isin(codes, np.asarray(ranks, np.uint32)))
        valid = _valid_mask(batch, i, j)
        # codes index the NON-NULL rows: map back to row space
        return sel if valid is None else np.flatnonzero(valid)[sel]

    return pick


def scan_table_string_eq(
    blocks: DataFrame,
    df_schema,
    col: str,
    value: str,
    columns: list[str] | None = None,
) -> DataFrame:
    """Equality scan — the single-value case of
    :func:`scan_table_string_in` (which see for the dictionary-level
    evaluation strategy)."""
    return scan_table_string_in(blocks, df_schema, col, [value], columns)


def scan_table_string_in(
    blocks: DataFrame,
    df_schema,
    col: str,
    values: list[str],
    columns: list[str] | None = None,
) -> DataFrame:
    """IN-list scan on a dictionary-encoded string column, resolved at
    DICTIONARY level: per chunk, the predicate values resolve to ranks
    against the frame's frequency-ordered dict table alone — a single
    value probes with early exit (:func:`~..codec.strings
    .string_chunk_find`), a list parses the table once and set-matches;
    a chunk containing none of the values is skipped having parsed ONLY
    its dict blob (no index stream, no other column's frame). Matching
    chunks filter by integer code membership (``np.isin``) on the
    bit-packed index stream, and only the surviving ROWS of the
    projected columns materialize (Arrow ``take``). This is the
    dictionary-predicate evaluation of the classic columnar engines,
    over the engine's own string frames."""
    from ..codec.strings import string_chunk_find, string_chunk_table

    if not values:
        raise ValueError("IN-list must be non-empty")
    value_set = set(values)
    if len(value_set) == 1:  # early-exit single probe
        (value,) = value_set

        def ranks_of(blob):
            rank = string_chunk_find(blob, value)
            return [rank] if rank >= 0 else []
    else:  # one table parse, set membership
        def ranks_of(blob):
            return [r for r, s in enumerate(string_chunk_table(blob))
                    if s in value_set]

    return _read_chunks(
        blocks, df_schema, columns, _dict_picker(df_schema, col, ranks_of)
    )


def scan_table_string_prefix(
    blocks: DataFrame,
    df_schema,
    col: str,
    prefix: str,
    columns: list[str] | None = None,
) -> DataFrame:
    """``col LIKE 'prefix%'`` resolved at DICTIONARY level: per chunk the
    frequency-ordered dict table parses ONCE, prefix-matching entries
    become a rank set, and chunks whose dictionary holds no matching
    value prune at dict-blob cost — same evaluation strategy as
    :func:`scan_table_string_in`, for the other predicate shape ubiquitous
    over string columns at scale (id namespaces, URL/path prefixes).
    Matching chunks filter by integer code membership; only surviving
    ROWS of the projected columns materialize."""
    from ..codec.strings import string_chunk_table

    if not prefix:
        raise ValueError("prefix must be non-empty")

    def ranks_of(blob):
        return [r for r, s in enumerate(string_chunk_table(blob))
                if s.startswith(prefix)]

    return _read_chunks(
        blocks, df_schema, columns, _dict_picker(df_schema, col, ranks_of)
    )


def table_stats(blocks: DataFrame, df_schema) -> DataFrame:
    """ANALYZE from the manifest alone: per-column row count and min/max
    computed by a Catalyst aggregate over the zone-map arrays — NO frame
    ever decodes (string columns report count only; their zone map is the
    dict probe, not a range). Float extrema come back through the inverse
    of the order-preserving key map. The aggregate input is the manifest
    (one row per chunk), so at 100 TB this is a metadata-sized job."""
    spark = blocks.sparkSession
    z = blocks.select(
        "n_rows",
        F.explode(F.arrays_zip("cols", "kinds", "mins", "maxs")).alias("z"),
    )
    agg = (
        z.groupBy(
            F.col("z.cols").alias("col"), F.col("z.kinds").alias("kind")
        )
        .agg(
            F.sum("n_rows").alias("n"),
            F.min("z.mins").alias("kmin"),
            F.max("z.maxs").alias("kmax"),
        )
    )
    rows = agg.collect()  # one row per column: scalar-sized final result
    order = {c: i for i, c in enumerate(_schema_of(df_schema))}
    out = []
    for r in sorted(rows, key=lambda r: order.get(r["col"], len(order))):
        if r["kind"] in (KIND_INT32, KIND_INT64, KIND_DATE, KIND_BOOL, KIND_TS):
            out.append((r["col"], r["n"], r["kmin"], r["kmax"], None, None))
        elif r["kind"] == KIND_FLOAT64:
            lo = float(_float_from_sort_keys(np.array([r["kmin"]]))[0])
            hi = float(_float_from_sort_keys(np.array([r["kmax"]]))[0])
            out.append((r["col"], r["n"], None, None, lo, hi))
        else:
            out.append((r["col"], r["n"], None, None, None, None))
    return spark.createDataFrame(
        out,
        "col string, n_rows long, min_long long, max_long long, "
        "min_double double, max_double double",
    )


def table_int_stats(blocks: DataFrame, df_schema, col: str) -> DataFrame:
    """COUNT/SUM/MIN/MAX of an int32-family column (int32/date/bool)
    pushed INTO the codec: per chunk the reduction comes from
    :func:`~..codec.aggregate.value_stats` — CONSTANT answers closed
    form, RLE in O(runs), DICT from its table + code histogram — so a
    100 TB stats scan touches O(codec metadata) wherever the codec
    already carries the answer. Nulls follow SQL semantics (the bitmap's
    row count is ``n_rows``; the inner frame holds exactly the non-null
    values). Returns one row: ``(col, n, n_valid, sum_v, min_v, max_v,
    values_decoded)`` — the last is the O(n)-materialization telemetry
    the tests bound."""
    from ..codec.aggregate import value_stats

    if _schema_of(df_schema).get(col) not in (KIND_INT32, KIND_DATE,
                                              KIND_BOOL):
        raise ValueError(
            f"codec stats pushdown needs an int32-family column, got {col!r}"
        )

    def st(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        schema = pa.schema(
            [
                ("n", pa.int64()),
                ("n_valid", pa.int64()),
                ("sum_v", pa.int64()),
                ("min_v", pa.int64()),
                ("max_v", pa.int64()),
                ("values_decoded", pa.int64()),
            ]
        )
        for batch in batches:
            for i in range(batch.num_rows):
                n = batch.column("n_rows")[i].as_py()
                j = _col_index(batch, i, col)
                buf = (b"" if j is None
                       else batch.column("payloads")[i][j].as_buffer())
                if len(buf) == 0:  # pre-drift chunk or all_null frame
                    nv, s, mn, mx, dec = 0, None, None, None, 0
                else:
                    nv, s, mn, mx, dec = value_stats(memoryview(buf))
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([n], pa.int64()),
                        pa.array([nv], pa.int64()),
                        pa.array([s], pa.int64()),
                        pa.array([mn], pa.int64()),
                        pa.array([mx], pa.int64()),
                        pa.array([dec], pa.int64()),
                    ],
                    schema=schema,
                )

    partials = blocks.mapInArrow(
        st,
        "n long, n_valid long, sum_v long, min_v long, max_v long, "
        "values_decoded long",
    )
    out = partials.agg(
        F.sum("n").alias("n"),
        F.sum("n_valid").alias("n_valid"),
        F.sum("sum_v").alias("sum_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
        F.sum("values_decoded").alias("values_decoded"),
    )
    return out.select(F.lit(col).alias("col"), "*")


def table_group_count(blocks: DataFrame, df_schema, col: str) -> DataFrame:
    """GROUP BY ``col`` COUNT(*) pushed into the dictionary encoding:
    per chunk the distinct values come from the dict table
    (:func:`~..codec.strings.string_chunk_table`, read ONCE per chunk)
    and their counts from a ``bincount`` over the bit-packed code stream
    — per-row strings never materialize, the shuffle carries at most
    ``cardinality`` rows per chunk instead of ``n_rows``, and the final
    aggregate is one tiny hash agg on the value. Nulls form their own
    group (SQL GROUP BY semantics)."""
    from ..codec.strings import string_chunk_indices, string_chunk_table

    if _schema_of(df_schema).get(col) != KIND_STRING:
        raise ValueError(f"{col!r} is not a string column")

    def gc(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for i in range(batch.num_rows):
                n = batch.column("n_rows")[i].as_py()
                j = _col_index(batch, i, col)
                buf = (b"" if j is None
                       else batch.column("payloads")[i][j].as_buffer())
                values: list[str | None] = []
                counts: list[int] = []
                if len(buf) == 0:  # pre-drift chunk or all_null frame
                    n_codes = 0
                else:
                    mv = memoryview(buf)
                    table = string_chunk_table(mv)
                    codes = string_chunk_indices(mv)
                    n_codes = codes.size
                    cnt = np.bincount(codes, minlength=len(table))
                    values.extend(table)
                    counts.extend(cnt.tolist())
                # codes cover exactly the non-null rows, so the null
                # group's size needs no bitmap parse at all
                n_null = n - n_codes
                if n_null:
                    values.append(None)
                    counts.append(n_null)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(values, pa.string()),
                        pa.array(np.asarray(counts, np.int64)),
                    ],
                    schema=pa.schema(
                        [("value", pa.string()), ("cnt", pa.int64())]
                    ),
                )

    partials = blocks.mapInArrow(gc, "value string, cnt long")
    return partials.groupBy("value").agg(F.sum("cnt").alias("cnt"))


def table_group_sum(
    blocks: DataFrame, df_schema, group_col: str, value_col: str
) -> DataFrame:
    """GROUP BY ``group_col`` SUM/COUNT of ``value_col`` pushed into the
    encodings: per chunk only TWO frames parse — the group column's dict
    codes and the value column's int frame — and the partial is an
    integer scatter-add over codes (``np.add.at`` on int64, never a
    float bincount), so the shuffle carries at most ``cardinality`` rows
    per chunk and per-row group strings never materialize. SQL
    semantics: a NULL group groups separately; NULL values count in
    ``n`` but not ``n_valid``/``sum_v``."""
    from ..codec.strings import string_chunk_indices, string_chunk_table

    kinds = _schema_of(df_schema)
    if kinds.get(group_col) != KIND_STRING:
        raise ValueError(f"{group_col!r} is not a string column")
    if kinds.get(value_col) not in (KIND_INT32, KIND_INT64):
        raise ValueError(f"{value_col!r} is not an int column")

    def gs(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        for batch in batches:
            for i in range(batch.num_rows):
                n = batch.column("n_rows")[i].as_py()
                jg = _col_index(batch, i, group_col)
                gmv = memoryview(
                    b"" if jg is None
                    else batch.column("payloads")[i][jg].as_buffer()
                )
                if len(gmv) == 0:
                    # pre-drift chunk / all-null group column: null group
                    table: list = []
                    row_codes = np.zeros(n, np.int64)
                    card = 0
                else:
                    table = string_chunk_table(gmv)
                    codes = string_chunk_indices(gmv).astype(np.int64)
                    card = len(table)
                    gvalid = _valid_mask(batch, i, jg)
                    if gvalid is None:
                        row_codes = codes
                    else:
                        row_codes = np.full(n, card, np.int64)  # null grp
                        row_codes[np.flatnonzero(gvalid)] = codes
                jv = _col_index(batch, i, value_col)
                if jv is None:
                    # pre-drift chunk: the value column reads all-NULL
                    vmask = np.zeros(n, bool)
                    vnp = np.zeros(n, np.int64)
                else:
                    vals = _decode_frame(batch, i, jv)
                    vmask = (np.asarray(vals.is_valid())
                             if vals.null_count else np.ones(n, bool))
                    vnp = np.asarray(pc.fill_null(vals, 0).cast(pa.int64()))
                acc = np.zeros(card + 1, np.int64)
                np.add.at(acc, row_codes, np.where(vmask, vnp, 0))
                cnt = np.bincount(row_codes, minlength=card + 1)
                nval = np.zeros(card + 1, np.int64)
                np.add.at(nval, row_codes, vmask.astype(np.int64))
                values = list(table) + [None]
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(values, pa.string()),
                        pa.array(cnt.astype(np.int64)),
                        pa.array(nval),
                        pa.array(acc),
                    ],
                    schema=pa.schema(
                        [("value", pa.string()), ("n", pa.int64()),
                         ("n_valid", pa.int64()), ("sum_v", pa.int64())]
                    ),
                )

    partials = blocks.mapInArrow(
        gs, "value string, n long, n_valid long, sum_v long"
    )
    return (
        partials.groupBy("value")
        .agg(
            F.sum("n").alias("n"),
            F.sum("n_valid").alias("n_valid"),
            F.sum("sum_v").alias("raw_sum"),
        )
        .filter(F.col("n") > 0)
        # SQL SUM over zero non-null values is NULL, not 0
        .select(
            "value", "n", "n_valid",
            F.when(F.col("n_valid") > 0, F.col("raw_sum")).alias("sum_v"),
        )
    )


def merge_table(
    blocks: DataFrame,
    updates: DataFrame,
    order_col: str,
    df_schema,
    chunk_rows: int = 4096,
    touched_only: bool = False,
) -> DataFrame:
    """MERGE (upsert by the order key) with chunk-bounded copy-on-write:
    only chunks whose key range the updates touch are decoded, merged and
    re-encoded; every other block row passes through byte-verbatim.

    Because the chunk layout is a pure function of the data, the merged
    blocks are BIT-IDENTICAL to a from-scratch ``encode_table`` of the
    merged table — the invariant the tests assert and the oracle gate
    exploits. At scale the rewrite cost is O(touched chunks), the
    classic copy-on-write MERGE bound; the untouched side never leaves
    the manifest scan.

    ``touched_only=True`` returns ONLY the re-encoded touched chunks
    (the CoW delta a versioned store persists per commit — see
    ``streaming/table_sink.start_table_upsert_stream``); the caller owns
    carrying the untouched blocks forward."""
    names = list(_schema_of(df_schema))
    chunk_of = (
        (F.col(order_col) - F.pmod(F.col(order_col), F.lit(chunk_rows)))
        / chunk_rows
    ).cast("long")
    upd = updates.select(chunk_of.alias("chunk"), *names)
    touched = upd.select("chunk").distinct()

    if touched_only:
        untouched = None
    else:
        untouched = blocks.join(touched, "chunk", "left_anti")
    old_rows = decode_table(
        blocks.join(touched, "chunk", "left_semi"), df_schema
    ).select(*names)

    # updates win on key collision: src is the leading struct field, so
    # max(struct) picks the update row deterministically
    merged = (
        old_rows.withColumn("__src", F.lit(0))
        .unionByName(upd.select(*names).withColumn("__src", F.lit(1)))
        .groupBy(order_col)
        .agg(
            F.max(
                F.struct("__src", *[c for c in names if c != order_col])
            ).alias("__row")
        )
        .select(
            order_col,
            *[F.col(f"__row.{c}").alias(c) for c in names if c != order_col],
        )
        .select(*names)
    )
    delta = encode_table(merged, order_col, chunk_rows)
    if touched_only:
        return delta
    return untouched.unionByName(delta)
