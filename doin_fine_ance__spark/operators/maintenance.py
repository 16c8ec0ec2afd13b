"""Warehouse maintenance: backup/retention (S9) and compaction (S8).

Engine analogs of the reference's ops machinery:

- Backup/restore/retention port ui/backend/services/backup_service.py:
  the pg_dump/pg_restore pair becomes snapshot-export/restore of the
  parquet warehouse (file-level copy — on an object store this is a
  server-side metadata copy, no data moves through the driver), the
  ``schedule.json`` state round-trip is kept as-is, and
  :func:`apply_retention` is the same mtime sweep
  (backup_service.py:74-84) over snapshot directories.
- :func:`compact_table` is the OPTIMIZE/Z-ORDER-adjacent story the
  reference gets from Postgres indexes (init_db.py:79-130): appends
  leave a manifest table's files spread across many small commit dirs;
  compaction rewrites the latest version into few large files and
  commits that as the next version through
  ``SnapshotTable.commit_rewrite``, the way Delta's OPTIMIZE is a
  transaction-log commit, restoring scan efficiency for the
  transaction_id-keyed lookups. Readers of older versions are never
  disturbed, so there is nothing to swap and nothing to repair after a
  crash: an unpublished rewrite is just an unreferenced commit dir.
- :func:`compact_table_versioned` compacts a plain parquet tree into a
  fresh copy for callers that own their own pointer
  (``IvfIndex.compact``).
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import shutil
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SCHEDULE = {"enabled": False, "cron": "0 2 * * *", "retention_days": 7}
SCHEDULE_FILENAME = "schedule.json"
SNAPSHOT_PREFIX = "snapshot_"
# Output file size that compaction and keyed merges aim for: the
# scan-efficient shape Delta's OPTIMIZE targets.
TARGET_FILE_BYTES = 128 * 1024 * 1024
#: a plain parquet leaf dir holding more files than this is fragmented
#: (:func:`compact_table_versioned` rewrites it, ``IvfIndex.compact``
#: skips an index with none)
FRAGMENT_FILES = 2


class BackupError(RuntimeError):
    """Raised when a snapshot/restore operation fails."""


# ---------------------------------------------------------------------------
# Schedule / filesystem state (backup_service.py:38-71)
# ---------------------------------------------------------------------------


def ensure_backup_dir(backup_dir: str) -> Path:
    path = Path(backup_dir)
    path.mkdir(parents=True, exist_ok=True)
    return path


def load_schedule(backup_dir: str) -> dict:
    """Load the backup schedule from disk, falling back to defaults."""
    f = Path(backup_dir) / SCHEDULE_FILENAME
    if not f.exists():
        return dict(DEFAULT_SCHEDULE)
    try:
        return json.loads(f.read_text())
    except (OSError, ValueError):
        return dict(DEFAULT_SCHEDULE)


def save_schedule(backup_dir: str, data: dict) -> None:
    ensure_backup_dir(backup_dir)
    (Path(backup_dir) / SCHEDULE_FILENAME).write_text(json.dumps(data, indent=2))


def save_next_run(backup_dir: str, next_run_iso: str | None) -> None:
    """Update only the next_run field of the persisted schedule."""
    data = load_schedule(backup_dir)
    data["next_run"] = next_run_iso
    save_schedule(backup_dir, data)


# ---------------------------------------------------------------------------
# Snapshot export / restore (pg_dump/pg_restore analog)
# ---------------------------------------------------------------------------


def export_snapshot(
    warehouse_root: str, backup_dir: str, now: dt.datetime | None = None
) -> str:
    """Copy the warehouse tree into a timestamped snapshot directory.

    The pg_dump -Fc analog (backup_service.py:105-137): parquet is
    already compressed and columnar, so a consistent snapshot is a
    recursive copy of the table directories. Returns the snapshot path.
    """
    if not os.path.isdir(warehouse_root):
        raise BackupError(f"warehouse root does not exist: {warehouse_root}")
    ensure_backup_dir(backup_dir)
    stamp = (now or dt.datetime.now()).strftime("%Y%m%dT%H%M%S")
    dest = Path(backup_dir) / f"{SNAPSHOT_PREFIX}{stamp}_{uuid.uuid4().hex[:6]}"
    staging = Path(str(dest) + ".tmp")
    try:
        shutil.copytree(warehouse_root, staging)
    except OSError as e:  # partial copies must not look like snapshots
        shutil.rmtree(staging, ignore_errors=True)
        raise BackupError(f"snapshot copy failed: {e}") from e
    os.rename(staging, dest)
    return str(dest)


def restore_snapshot(snapshot_path: str, warehouse_root: str) -> None:
    """Replace the warehouse with a snapshot (pg_restore -c --if-exists
    analog, backup_service.py:140-155): existing tables are dropped,
    the snapshot is staged alongside and swapped in atomically."""
    if not os.path.isdir(snapshot_path):
        raise BackupError(f"snapshot does not exist: {snapshot_path}")
    staging = f"{warehouse_root}__restore_{uuid.uuid4().hex[:8]}"
    shutil.copytree(snapshot_path, staging)
    backup = f"{warehouse_root}__old_{uuid.uuid4().hex[:8]}"
    if os.path.exists(warehouse_root):
        os.rename(warehouse_root, backup)
    os.rename(staging, warehouse_root)
    if os.path.exists(backup):
        shutil.rmtree(backup)


def apply_retention(backup_dir: str, retention_days: int) -> list[str]:
    """Delete snapshots older than retention_days (mtime sweep, the
    exact semantics of backup_service.py:74-84). Returns deleted paths."""
    path = ensure_backup_dir(backup_dir)
    cutoff = dt.datetime.now().timestamp() - retention_days * 86400
    deleted: list[str] = []
    for entry in path.glob(f"{SNAPSHOT_PREFIX}*"):
        if entry.stat().st_mtime < cutoff:
            try:
                shutil.rmtree(entry) if entry.is_dir() else entry.unlink()
                deleted.append(str(entry))
            except OSError:
                continue  # best-effort, like the reference's warning path
    return deleted


# ---------------------------------------------------------------------------
# Small-file compaction (S8 — the OPTIMIZE analog)
# ---------------------------------------------------------------------------


def output_files(total_bytes: int, target_file_bytes: int = TARGET_FILE_BYTES) -> int:
    """How many files ``total_bytes`` of parquet are rewritten into."""
    return max(1, math.ceil(total_bytes / target_file_bytes))


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    zorder: list[str] | None = None,
) -> int | None:
    """Rewrite a manifest table's latest version into few large files,
    committed as its next version (the OPTIMIZE analog).

    Appends fragment a table across commit dirs, one set of small files
    per commit. Under the table lock the latest version is sized and
    rewritten as ``output_files(size)`` files of ~``target_file_bytes``
    (the scan-efficient shape Delta's OPTIMIZE targets). Nothing is
    committed when the version already holds no more files than that.
    Readers pinned to an older version, and time travel, keep its files
    until commit-time retention removes them.

    ``zorder=[cols]`` additionally clusters the rewrite by the Morton
    code of those columns (``OPTIMIZE ... ZORDER BY`` analog): output
    files are range-partitioned + sorted on the interleaved-bit key,
    so every file carries a tight min/max bounding box over ALL listed
    columns and point/range lookups skip most files (the parquet-lake
    replacement for the reference's btree indexes, init_db.py:79-130).

    Raises ``ValueError`` on a root with no manifest (an external input
    not yet adopted by a commit) and on a partitioned version (only
    ``commit_overwrite`` writes those). Returns the committed version,
    or None when nothing was committed.
    """
    from .snapshot import SnapshotTable

    table = SnapshotTable(path)
    if table.latest_version() == 0:
        raise ValueError(f"compact_table needs a manifest table; {path} has none")

    def rewrite(current: DataFrame) -> DataFrame | None:
        if table.manifest().get("partitioned"):
            raise ValueError(f"compact_table does not rewrite partitioned versions: {path}")
        n_out = output_files(table.size_bytes(), target_file_bytes)
        if len(table.files()) <= n_out:
            return None
        if not zorder:
            return current.coalesce(n_out)
        from .zorder import zorder_key

        return (
            current.withColumn("_z", zorder_key(current, zorder))
            .repartitionByRange(n_out, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
        )

    return table.commit_rewrite(spark, rewrite)


def compact_table_versioned(
    spark: SparkSession,
    src: str,
    dst: str,
) -> dict[str, int]:
    """Build a COMPLETE compacted copy of the plain parquet tree ``src``
    at ``dst``: leaf dirs with more than ``FRAGMENT_FILES`` files are
    rewritten to ``output_files(size)`` files, the other leaves are
    HARD-LINKED file-by-file (O(files), no data copied; falls back to
    a real copy across filesystems). The caller publishes ``dst``
    atomically (``IvfIndex.compact`` republishes ``centroids.json``,
    the same pointer swap rebuild uses), so a concurrent reader sees
    the old complete tree or the new complete tree. On an object store
    the hard link becomes a server-side metadata copy. Returns
    {relative_partition_path: files_after} for REWRITTEN dirs."""
    results: dict[str, int] = {}
    if os.path.exists(dst):
        raise ValueError(f"versioned compaction target already exists: {dst}")
    for cur, _, files in os.walk(src):
        frags = [f for f in files if f.endswith(".parquet")]
        if not frags:
            continue
        rel = os.path.relpath(cur, src)
        out_dir = dst if rel == "." else os.path.join(dst, rel)
        if len(frags) <= FRAGMENT_FILES:
            os.makedirs(out_dir, exist_ok=True)
            for f in frags:
                try:
                    os.link(os.path.join(cur, f), os.path.join(out_dir, f))
                except OSError:  # cross-device: fall back to a copy
                    shutil.copy2(os.path.join(cur, f), os.path.join(out_dir, f))
            continue
        total = sum(os.path.getsize(os.path.join(cur, f)) for f in frags)
        spark.read.parquet(cur).coalesce(output_files(total)).write.mode(
            "overwrite"
        ).parquet(out_dir)
        results[rel] = sum(f.endswith(".parquet") for f in os.listdir(out_dir))
    return results
