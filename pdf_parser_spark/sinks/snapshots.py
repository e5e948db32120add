"""Snapshot-manifest table layer — the Iceberg-shaped commit log the
north rule's "resumable from Iceberg snapshot checkpoints" maps to,
implemented over plain parquet so it runs in this sandbox and swaps
1:1 for a real Iceberg catalog on a cluster.

An Iceberg table is data files + an immutable metadata log: each
commit writes a new manifest listing the table's files and stats,
and readers pin a snapshot id. This module reproduces exactly that
dataflow:

  <table>/
    batch=<uuid>/part-*.parquet    one directory per committed batch
    _snapshots/v<N>.json           manifest: batch dirs, row counts,
                                   parent snapshot, operation, summary

  commit(spark, df, table, op)  -> snapshot dict (atomic: data lands
                                   first, the manifest rename IS the
                                   commit — readers never see a
                                   half-written batch; an empty append
                                   publishes nothing and returns the
                                   head)
  read(spark, table, snapshot_id=None)
                                -> DataFrame AT a snapshot (time
                                   travel; default = current)
  read_or_none(spark, table)    -> current snapshot, or None when
                                   nothing is committed yet
  snapshots(table)              -> the log, oldest→newest
  rollback(table, snapshot_id)  -> new snapshot whose file set is the
                                   old one (history is never erased —
                                   the Iceberg rollback contract)

Scale notes: a manifest holds batch-directory paths + counts, never
row data — O(commits), driver-side JSON. Readers plan one parquet
scan over the snapshot's directories (partition pruning and column
pruning work unchanged). Writers append new directories only: no
read-modify-write of data, so commits from a resumed job are
idempotent at the batch level. Reference anchor: this replaces the
reference's overwrite-in-place outputs (orchestrate.py) with an
audit-able append log; every job (extract, curate, corpus_profile)
commits its tables here, and their anti-join resume reads the CURRENT
snapshot's url set.

Batch directories are Hive-style (`batch=<uuid>`), so a raw
`spark.read.parquet(table)` or pyarrow read of the directory returns
rows plus a string `batch` column. A raw read is not a snapshot read:
it sees every past version of an overwritten table, and batches whose
commit never published until `remove_orphans` deletes them. Manifests
hold paths relative to the table, so tables written with the earlier
`data/<uuid>` batch layout still read.

A directory that holds parquet files but no `_snapshots/` log is not a
snapshot table: read, read_incremental and commit raise ValueError for
it rather than treat it as empty. A missing or empty directory raises
FileNotFoundError from the readers, which callers take as "nothing
committed yet".
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


class CommitConflictError(RuntimeError):
    """Another writer committed the same snapshot version first.

    Real Iceberg fails the losing compare-and-swap against the catalog;
    here the exclusive hard-link of the manifest is the CAS. Retrying
    commit() writes the frame again as a new batch and chains it onto
    the new current snapshot; the losing batch directory is referenced
    by no manifest, an orphan that `remove_orphans` deletes."""


def _check_local(table: str) -> None:
    # the manifest log uses Path / os.link / os.replace — local FS
    # semantics; on a cluster the layer swaps for a real Iceberg
    # catalog (docs/RUNBOOK.md)
    from ..fsutil import ensure_local_path

    ensure_local_path(table, "sinks/snapshots.py")


def _snap_dir(table: str) -> Path:
    return Path(table) / "_snapshots"


def _load(p: Path) -> dict:
    return json.loads(p.read_text())


def _publish(snap: dict, table: str) -> None:
    """Atomically publish a manifest with conflict detection: write to
    a tmp file, then hard-link it to the final name. os.link fails with
    FileExistsError if the version already exists — the losing writer
    gets CommitConflictError instead of silently clobbering the other
    writer's committed batch (which os.replace would)."""
    d = _snap_dir(table)
    d.mkdir(parents=True, exist_ok=True)
    final = d / f"v{snap['snapshot_id']}.json"
    tmp = d / f".v{snap['snapshot_id']}.{os.getpid()}.json.tmp"
    tmp.write_text(json.dumps(snap, indent=1))
    try:
        os.link(tmp, final)  # the commit point (exclusive CAS)
    except FileExistsError:
        raise CommitConflictError(
            f"snapshot v{snap['snapshot_id']} at {table} was committed by a "
            "concurrent writer; re-read the current snapshot and retry"
        ) from None
    finally:
        tmp.unlink(missing_ok=True)


def _refuse_plain(table: str) -> None:
    if not _snap_dir(table).exists() and any(Path(table).rglob("*.parquet")):
        raise ValueError(
            f"{table} holds parquet files but no _snapshots/ log, so it is not "
            "a snapshot table; move it aside or use a fresh outdir"
        )


def _log(table: str) -> list[dict]:
    """The commit log of a table that has at least one snapshot."""
    log = snapshots(table)
    if not log:
        _refuse_plain(table)
        raise FileNotFoundError(f"no snapshots at {table}")
    return log


def snapshots(table: str) -> list[dict]:
    """Commit log, oldest → newest (empty for a fresh table)."""
    _check_local(table)
    d = _snap_dir(table)
    if not d.exists():
        return []
    versions = sorted(
        (int(p.stem[1:]), p) for p in d.glob("v*.json") if p.stem[1:].isdigit()
    )
    return [_load(p) for _, p in versions]


def current_snapshot(table: str) -> dict | None:
    log = snapshots(table)
    return log[-1] if log else None


def commit(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    operation: str = "append",
    summary: dict | None = None,
) -> dict:
    """Write df as a new immutable batch + manifest. Atomicity: the
    batch directory is fully written before the manifest file is
    moved into place with an atomic rename; a crash before the rename
    leaves an orphan data directory (invisible to every reader) and
    no new snapshot. Concurrent commits race on the manifest version;
    the loser gets CommitConflictError (see _publish), never a silent
    clobber. The batch's row count is observed on the write itself; an
    append that wrote no row removes its batch directory and returns
    the head snapshot unchanged (None for a fresh table)."""
    _check_local(table)
    _refuse_plain(table)
    # the log directory exists before any data lands, so a crash inside
    # a table's first commit leaves an empty (fresh) snapshot table
    _snap_dir(table).mkdir(parents=True, exist_ok=True)
    batch = f"batch={uuid.uuid4().hex}"
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("error").parquet(
        str(Path(table) / batch)
    )
    n_rows = obs.get["rows"]

    parent = current_snapshot(table)
    if n_rows == 0 and operation == "append":
        # an empty append publishes nothing: no batch directory, no
        # manifest, so no-op resumes leave the table as they found it
        shutil.rmtree(Path(table) / batch, ignore_errors=True)
        return parent
    if operation == "append" and parent is not None:
        files = list(parent["batches"]) + [batch]
        total = parent["total_rows"] + n_rows
    else:  # overwrite (or first commit): new file set
        files = [batch]
        total = n_rows
    snap = {
        "snapshot_id": (parent["snapshot_id"] + 1) if parent else 1,
        "parent_id": parent["snapshot_id"] if parent else None,
        "operation": operation,
        "batches": files,
        # the batch THIS commit added — Iceberg's incremental-scan
        # handle: one run's rows without re-reading the whole table
        # (read_incremental)
        "new_batches": [batch],
        "batch_rows": n_rows,
        "total_rows": total,
        "summary": summary or {},
    }
    _publish(snap, table)
    return snap


def read(
    spark: SparkSession, table: str, snapshot_id: int | None = None
) -> DataFrame:
    """DataFrame at a snapshot (time travel); default = current.
    Raises KeyError for an unknown snapshot, FileNotFoundError for an
    empty table and ValueError for a directory that is not a snapshot
    table."""
    log = _log(table)
    if snapshot_id is None:
        snap = log[-1]
    else:
        by_id = {s["snapshot_id"]: s for s in log}
        if snapshot_id not in by_id:
            raise KeyError(f"snapshot {snapshot_id} not in {sorted(by_id)}")
        snap = by_id[snapshot_id]
    paths = [str(Path(table) / b) for b in snap["batches"]]
    return spark.read.parquet(*paths)


def read_or_none(spark: SparkSession, table: str) -> DataFrame | None:
    """The current snapshot, or None for a table with nothing committed
    yet. A corrupt manifest or a directory that is not a snapshot table
    raises, so a resuming job aborts instead of starting over."""
    try:
        return read(spark, table)
    except FileNotFoundError:
        return None


def read_incremental(
    spark: SparkSession, table: str, snapshot_id: int | None = None
) -> DataFrame | None:
    """DataFrame over ONLY the batch a snapshot added (Iceberg
    incremental scan between a snapshot and its parent). Returns None
    for snapshots that added no data (e.g. rollback). Pre-round-4
    manifests without `new_batches` fall back to the full file set of
    a first commit, else None. Raises as read() does."""
    log = _log(table)
    snap = log[-1] if snapshot_id is None else next(
        (s for s in log if s["snapshot_id"] == snapshot_id), None
    )
    if snap is None:
        raise KeyError(f"snapshot {snapshot_id} not in {[s['snapshot_id'] for s in log]}")
    new = snap.get("new_batches")
    if new is None:
        new = snap["batches"] if snap.get("parent_id") is None else []
    if not new:
        return None
    return spark.read.parquet(*(str(Path(table) / b) for b in new))


def rollback(table: str, snapshot_id: int) -> dict:
    """Make the table's CURRENT state an older snapshot's file set by
    committing a new 'rollback' snapshot pointing at it — history
    stays intact (Iceberg semantics: rollback is itself a commit)."""
    log = snapshots(table)
    by_id = {s["snapshot_id"]: s for s in log}
    if snapshot_id not in by_id:
        raise KeyError(f"snapshot {snapshot_id} not in {sorted(by_id)}")
    target, head = by_id[snapshot_id], log[-1]
    snap = {
        "snapshot_id": head["snapshot_id"] + 1,
        "parent_id": head["snapshot_id"],
        "operation": "rollback",
        "batches": list(target["batches"]),
        "new_batches": [],
        "batch_rows": 0,
        "total_rows": target["total_rows"],
        "summary": {"rolled_back_to": snapshot_id},
    }
    _publish(snap, table)
    return snap


def remove_orphans(table: str, min_age_sec: float = 86400.0) -> dict:
    """Iceberg's remove_orphan_files: delete data directories no
    manifest references — crash-before-commit leftovers and losing
    concurrent writers' batches (their CommitConflictError aborts
    AFTER the data write). Unreferenced directories are invisible to
    every READER, but a directory younger than `min_age_sec` may
    belong to a commit in flight (batch written, manifest not yet
    published) — deleting it would corrupt the manifest published a
    moment later, which is exactly why real Iceberg defaults
    older_than to 3 days. Keep the cutoff comfortably above the
    longest batch-write-to-publish gap. Returns {removed_batches,
    skipped_young}."""
    import time as _time

    live = {b for s in snapshots(table) for b in s["batches"]}
    root = Path(table)
    removed = 0
    skipped = 0
    cutoff = _time.time() - min_age_sec
    # batch=<uuid> directories, and data/<uuid> ones of older tables
    for d in [*root.glob("batch=*"), *root.glob("data/*")]:
        if not d.is_dir() or d.relative_to(root).as_posix() in live:
            continue
        try:
            if d.stat().st_mtime > cutoff:
                skipped += 1
                continue
        except OSError:
            continue
        shutil.rmtree(d, ignore_errors=True)
        removed += 1
    return {"removed_batches": removed, "skipped_young": skipped}


def expire_snapshots(table: str, keep_last: int = 2) -> dict:
    """Iceberg's expire_snapshots: drop manifests older than the last
    `keep_last` and DELETE data directories no surviving snapshot
    references. Returns {removed_snapshots, removed_batches}."""
    log = snapshots(table)
    if len(log) <= keep_last:
        return {"removed_snapshots": 0, "removed_batches": 0}
    keep, drop = log[-keep_last:], log[:-keep_last]
    live = {b for s in keep for b in s["batches"]}
    dead = {b for s in drop for b in s["batches"]} - live
    for b in dead:
        shutil.rmtree(Path(table) / b, ignore_errors=True)
    for s in drop:
        (_snap_dir(table) / f"v{s['snapshot_id']}.json").unlink(missing_ok=True)
    return {"removed_snapshots": len(drop), "removed_batches": len(dead)}
