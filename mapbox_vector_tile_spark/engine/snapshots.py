"""Snapshot commits + time travel for the blocks table.

The Iceberg metadata-layer analog over the engine's direct parquet layout:
every mutation (append of freshly encoded blocks, an equality-delete
sidecar, a compaction rewrite) is a COMMIT that writes an immutable
snapshot manifest and atomically swaps a current-pointer file — data files
themselves are append-only and never edited, so any historical snapshot
remains readable forever (time travel).

Layout under the table root::

    data/s<id>/*.parquet      blocks fragments added by commit <id>
    data/s<id>/_manifest.json per-file row counts and doc-id zone maps
                              (min_doc_id, max_doc_id) of those fragments
    deletes/s<id>/*.parquet   equality-delete sidecars added by commit <id>
    snapshots/v<id>.json      {snapshot_id, parent_id, operation,
                               data_files: [...], delete_files: [...]}
    _current                  text file: id of the live snapshot

Commit = write ``v<id>.json`` (exclusive-create, so two racing writers
cannot both claim an id — the loser gets a conflict error, Iceberg's
optimistic-concurrency contract) then ``os.replace`` the ``_current``
pointer (atomic on POSIX, the metadata-pointer swap). Readers resolve a
snapshot id to explicit file lists and hand Spark exactly those paths —
no directory listing races with concurrent writers, and a 100 TB reader
plans from manifest metadata alone. Each commit writes its data
directory's ``_manifest.json`` before the pointer swap; its per-file
doc-id envelopes let point and range reads (:mod:`.decode`) drop whole
files before Spark plans the scan. Files without one are read in full.

Reference parity: the reference has no table layer (it returns one encoded
tile per call), but its round-trip contract is per-tile immutability —
this module is where that contract lives once tiles become a mutable-by-
commit table. Deletes compose with :mod:`.deletes` (merge-on-read).
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..sources.parquet_direct import write_file_manifest
from .decode import decode_dataframe
from .deletes import decode_with_deletes
from .encode import BLOCKS_SPARK_SCHEMA


def _snap_path(root: str, sid: int) -> str:
    return os.path.join(root, "snapshots", f"v{sid}.json")


def current_snapshot_id(root: str) -> int | None:
    """Id of the live snapshot, or ``None`` for an empty table."""
    try:
        with open(os.path.join(root, "_current")) as fh:
            return int(fh.read().strip())
    except OSError:
        return None


def read_snapshot(root: str, sid: int) -> dict:
    with open(_snap_path(root, sid)) as fh:
        return json.load(fh)


def snapshot_log(root: str) -> list[dict]:
    """All snapshots, oldest first — the table-history surface."""
    d = os.path.join(root, "snapshots")
    if not os.path.isdir(d):
        return []
    sids = sorted(
        int(f[1:-5]) for f in os.listdir(d)
        if f.startswith("v") and f.endswith(".json")
    )
    return [read_snapshot(root, s) for s in sids]


def _commit(root: str, operation: str, new_data: list[str],
            new_deletes: list[str], replace: bool = False,
            meta: dict | None = None) -> int:
    parent = current_snapshot_id(root)
    base = read_snapshot(root, parent) if parent is not None and not replace else {
        "data_files": [], "delete_files": [],
    }
    sid = (parent or 0) + 1
    snap = {
        "snapshot_id": sid,
        "parent_id": parent,
        "operation": operation,
        "data_files": base["data_files"] + new_data,
        "delete_files": base["delete_files"] + new_deletes,
        **(meta or {}),
    }
    os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)
    # exclusive create: a concurrent committer racing to the same id loses
    # here with FileExistsError instead of silently clobbering history
    with open(_snap_path(root, sid), "x") as fh:
        json.dump(snap, fh)
    tmp = os.path.join(root, f"_current.{sid}.tmp")
    with open(tmp, "w") as fh:
        fh.write(str(sid))
    os.replace(tmp, os.path.join(root, "_current"))
    return sid


def _check_blocks_schema(blocks_df: DataFrame) -> None:
    """Every data file of a snapshot table has the blocks schema, so that
    readers can pass it instead of inferring it; a frame with any other
    columns or types is refused before anything is written."""
    want = StructType.fromDDL(BLOCKS_SPARK_SCHEMA).simpleString()
    got = blocks_df.schema.simpleString()
    if got != want:
        raise ValueError(
            f"blocks frame schema {got} differs from the blocks table "
            f"schema {want}"
        )


def _read_data_files(spark: SparkSession, root: str, files: list[str]):
    return spark.read.schema(BLOCKS_SPARK_SCHEMA).parquet(
        *(os.path.join(root, f) for f in files)
    )


def _rel_parquet_files(root: str, subdir: str) -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(os.path.join(root, subdir)):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                out.append(
                    os.path.relpath(os.path.join(dirpath, f), root)
                )
    return sorted(out)


def _file_envelope(path: str) -> tuple[int, dict | None]:
    """Row count and doc-id zone map ``{min_doc_id, max_doc_id}`` of one
    blocks file, from its parquet footer: the min of ``min_doc_id`` and the
    max of ``max_doc_id`` over its row groups. The zone map is ``None`` when
    the file holds no doc id or any non-empty row group lacks a min/max."""
    md = pq.read_metadata(path)
    names = [md.schema.column(i).path for i in range(md.num_columns)]
    i_min, i_max = names.index("min_doc_id"), names.index("max_doc_id")
    lo = hi = None
    for r in range(md.num_row_groups):
        rg = md.row_group(r)
        if not rg.num_rows:
            continue
        smin, smax = rg.column(i_min).statistics, rg.column(i_max).statistics
        if not (smin is not None and smin.has_min_max
                and smax is not None and smax.has_min_max):
            return md.num_rows, None
        lo = smin.min if lo is None else min(lo, smin.min)
        hi = smax.max if hi is None else max(hi, smax.max)
    if lo is None:
        return md.num_rows, None
    return md.num_rows, {"min_doc_id": lo, "max_doc_id": hi}


def _write_data(root: str, subdir: str, blocks_df: DataFrame) -> list[str]:
    """Write ``blocks_df`` to the fresh ``data/<subdir>`` and its
    ``_manifest.json`` (row counts, plus a zone map for each file that has
    one); returns the new files relative to ``root``."""
    out_dir = os.path.join(root, "data", subdir)
    blocks_df.write.mode("error").parquet(out_dir)
    files = _rel_parquet_files(root, f"data/{subdir}")
    row_counts, file_stats = {}, {}
    for f in files:
        key = os.path.relpath(os.path.join(root, f), out_dir)
        row_counts[key], stats = _file_envelope(os.path.join(root, f))
        if stats is not None:
            file_stats[key] = stats
    write_file_manifest(out_dir, row_counts, file_stats)
    return files


def commit_append(
    root: str, blocks_df: DataFrame, meta: dict | None = None
) -> int:
    """Append freshly encoded blocks as a new snapshot; returns its id.

    ``meta`` lands verbatim in the snapshot manifest (e.g. a streaming
    sink's ``batch_id`` for exactly-once replay detection). ``meta`` may
    carry ``"_subdir"`` to override the data directory name — a retried
    writer must use a FRESH directory per attempt so a partial write from
    a crashed attempt (unreferenced by any manifest — invisible to readers)
    can never collide with the retry. The new files' row counts and doc-id
    zone maps, read from their parquet footers, go to the data directory's
    ``_manifest.json`` before the commit.

    ``blocks_df`` must have exactly the blocks schema
    (``encode.BLOCKS_SPARK_SCHEMA``); otherwise ``ValueError`` is raised
    before anything is written."""
    _check_blocks_schema(blocks_df)
    meta = dict(meta or {})
    subdir = meta.pop("_subdir", None) or f"s{(current_snapshot_id(root) or 0) + 1}"
    return _commit(
        root, "append", _write_data(root, subdir, blocks_df), [], meta=meta
    )


def commit_deletes(root: str, deletes_df: DataFrame) -> int:
    """Commit an equality-delete sidecar (merge-on-read, no data rewrite)."""
    sid = (current_snapshot_id(root) or 0) + 1
    out_dir = os.path.join(root, "deletes", f"s{sid}")
    deletes_df.select("doc_id").distinct().write.mode("error").parquet(out_dir)
    return _commit(
        root, "delete", [], _rel_parquet_files(root, f"deletes/s{sid}")
    )


def commit_rewrite(root: str, blocks_df: DataFrame) -> int:
    """Commit a full rewrite (e.g. :func:`..compact.compact_blocks` output,
    or deletes applied for real): the new snapshot references ONLY the
    rewritten files and drops all delete sidecars — the rewrite_data_files
    commit shape. Prior snapshots keep reading the old files.
    ``blocks_df`` is checked against the blocks schema, and the new data
    directory gets its ``_manifest.json``, as in :func:`commit_append`."""
    _check_blocks_schema(blocks_df)
    sid = (current_snapshot_id(root) or 0) + 1
    return _commit(
        root, "rewrite", _write_data(root, f"s{sid}", blocks_df), [],
        replace=True,
    )


def read_blocks_at(
    spark: SparkSession, root: str, snapshot_id: int | None = None
) -> DataFrame:
    """Blocks DataFrame of exactly one snapshot's data files (time travel).

    The files are read with the blocks schema that every commit checked, so
    planning the read starts no Spark job."""
    sid = current_snapshot_id(root) if snapshot_id is None else snapshot_id
    if sid is None:
        raise ValueError(f"table at {root} has no snapshots")
    snap = read_snapshot(root, sid)
    if not snap["data_files"]:
        raise ValueError(f"snapshot {sid} has no data files")
    return _read_data_files(spark, root, snap["data_files"])


def decode_at(
    spark: SparkSession, root: str, snapshot_id: int | None = None, **kw
) -> DataFrame:
    """Decode the table as of a snapshot, applying that snapshot's deletes
    merge-on-read (chunks are never rewritten by a delete commit)."""
    sid = current_snapshot_id(root) if snapshot_id is None else snapshot_id
    blocks = read_blocks_at(spark, root, sid)
    snap = read_snapshot(root, sid)
    if not snap["delete_files"]:
        return decode_dataframe(blocks, **kw)
    dels = spark.read.parquet(
        *(os.path.join(root, f) for f in snap["delete_files"])
    )
    return decode_with_deletes(blocks, dels, **kw)


def incremental_changes(
    spark: SparkSession,
    root: str,
    from_snapshot: int,
    to_snapshot: int | None = None,
    **decode_kw,
):
    """Changes BETWEEN two snapshots: ``(inserted, deleted_ids)``.

    The Iceberg incremental-scan / CDC-read analog: ``inserted`` is the
    decode of only the data files ADDED after ``from_snapshot`` (a consumer
    that already processed ``from_snapshot`` reads new bytes only — the
    scan cost is proportional to the delta, not the table), and
    ``deleted_ids`` is the DataFrame of doc ids removed by delete commits
    in the window (empty DataFrame when none). Rewrite commits replace the
    file set wholesale; incremental reads across one raise instead of
    silently re-emitting the whole table as inserts.
    """
    to_snapshot = current_snapshot_id(root) if to_snapshot is None else to_snapshot
    lo = read_snapshot(root, from_snapshot)
    hi = read_snapshot(root, to_snapshot)
    sids = range(from_snapshot + 1, to_snapshot + 1)
    if any(read_snapshot(root, s)["operation"] == "rewrite" for s in sids):
        raise ValueError(
            "incremental read across a rewrite commit is not change-shaped; "
            "start a fresh full read from the rewrite snapshot instead"
        )
    new_data = [f for f in hi["data_files"] if f not in set(lo["data_files"])]
    inserted = (
        decode_dataframe(_read_data_files(spark, root, new_data), **decode_kw)
        if new_data
        else spark.createDataFrame(
            [], "doc_id string, tokens array<int>, n_tok int"
        )
    )
    new_dels = [
        f for f in hi["delete_files"] if f not in set(lo["delete_files"])
    ]
    deleted_ids = (
        spark.read.parquet(*(os.path.join(root, f) for f in new_dels))
        if new_dels
        else spark.createDataFrame([], "doc_id string")
    )
    return inserted, deleted_ids


_REFS = "_refs.json"


def _read_refs(root: str) -> dict[str, dict]:
    try:
        with open(os.path.join(root, _REFS)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def _write_refs(root: str, refs: dict[str, dict]) -> None:
    tmp = os.path.join(root, f"{_REFS}.tmp")
    with open(tmp, "w") as fh:
        json.dump(refs, fh)
    os.replace(tmp, os.path.join(root, _REFS))  # atomic like _current


def set_ref(
    root: str, name: str, sid: int | None = None, kind: str = "tag"
) -> int:
    """Create or move a named ref (Iceberg branch/tag analog).

    A ``tag`` is an immutable name for a snapshot (release pinning: "the
    corpus train run 7 used"); a ``branch`` is a movable head. Both are
    stored in one atomically swapped ``_refs.json``, so readers never see
    a torn ref table. Retagging an existing tag to a DIFFERENT snapshot
    raises — tags are write-once by contract; branches move freely.
    Returns the snapshot id the ref points at (default: current).
    """
    if kind not in ("tag", "branch"):
        raise ValueError(f"kind must be 'tag' or 'branch', got {kind!r}")
    if sid is None:
        sid = current_snapshot_id(root)
    if sid is None:
        raise ValueError("cannot ref an empty table")
    read_snapshot(root, sid)  # fail fast on dangling target
    refs = _read_refs(root)
    old = refs.get(name)
    if old is not None:
        if old["kind"] == "tag" and (
            kind != "tag" or old["snapshot_id"] != sid
        ):
            raise ValueError(f"tag {name!r} already pins snapshot "
                             f"{old['snapshot_id']} (tags are write-once)")
    refs[name] = {"kind": kind, "snapshot_id": int(sid)}
    _write_refs(root, refs)
    return int(sid)


def resolve_ref(root: str, name: str) -> int:
    """Snapshot id a ref points at; raises on unknown names and on refs
    whose snapshot manifest is gone (a dangling ref is an error, not an
    empty table)."""
    refs = _read_refs(root)
    if name not in refs:
        raise KeyError(f"unknown ref {name!r}")
    sid = int(refs[name]["snapshot_id"])
    read_snapshot(root, sid)
    return sid
