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
  reference gets from Postgres indexes (init_db.py:79-130): incremental
  appends leave many small files per partition; compaction rewrites
  each partition to few large files (atomic stage-and-swap), restoring
  scan efficiency for the transaction_id-keyed lookups. At 100 TB this
  runs per-partition (only partitions breaching the small-file
  threshold are rewritten), never whole-table.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import shutil
import uuid
from pathlib import Path

from pyspark.sql import SparkSession

DEFAULT_SCHEDULE = {"enabled": False, "cron": "0 2 * * *", "retention_days": 7}
SCHEDULE_FILENAME = "schedule.json"
SNAPSHOT_PREFIX = "snapshot_"
# Output file size that compaction and keyed merges aim for: the
# scan-efficient shape Delta's OPTIMIZE targets.
TARGET_FILE_BYTES = 128 * 1024 * 1024


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


def _parquet_files(d: str) -> list[str]:
    return [f for f in os.listdir(d) if f.endswith(".parquet")]


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    min_files: int = 2,
    zorder: list[str] | None = None,
) -> dict[str, int]:
    """Rewrite small-file partitions into few large files.

    Walks the table: unpartitioned tables compact in place; HIVE-style
    partition directories (``col=value``) compact independently, and
    only directories with more than ``min_files`` fragments are
    rewritten — untouched partitions keep their files. Staging and
    backup dirs are ``_``-prefixed (invisible to Spark's partition
    discovery), so a concurrent reader sees the old or the new
    complete file set — except in the instant between the two swap
    renames, where the partition is briefly absent; run under the
    table's writer lock / a maintenance window if readers must never
    observe that. File count per rewrite = ceil(bytes /
    target_file_bytes), i.e. ~128 MB output files — the scan-efficient
    shape Delta's OPTIMIZE targets.

    ``zorder=[cols]`` additionally clusters each rewrite by the Morton
    code of those columns (``OPTIMIZE ... ZORDER BY`` analog): output
    files are range-partitioned + sorted on the interleaved-bit key,
    so every file carries a tight min/max bounding box over ALL listed
    columns and point/range lookups skip most files (the parquet-lake
    replacement for the reference's btree indexes, init_db.py:79-130).

    Returns {relative_partition_path: files_after} for rewritten dirs.
    """
    results: dict[str, int] = {}
    leaf_dirs: list[str] = []
    for cur, dirs, files in os.walk(path):
        if "_stage_" in cur or "_old_" in cur:
            continue
        if any(f.endswith(".parquet") for f in files):
            leaf_dirs.append(cur)
    for d in leaf_dirs:
        frags = _parquet_files(d)
        if len(frags) <= min_files:
            continue
        total = sum(os.path.getsize(os.path.join(d, f)) for f in frags)
        n_out = output_files(total, target_file_bytes)
        df = spark.read.parquet(d)
        if zorder:
            from .zorder import zorder_key

            df = (
                df.withColumn("_z", zorder_key(df, zorder))
                .repartitionByRange(n_out, "_z")
                .sortWithinPartitions("_z")
                .drop("_z")
            )
        else:
            df = df.coalesce(n_out)
        # staging/backup live in d's PARENT dir with an underscore
        # prefix: for a hive leaf (parent is inside the table) Spark's
        # partition discovery ignores `_`-prefixed dirs, so a
        # concurrent reader can never pick the half-written stage up
        # as a bogus partition value; for an unpartitioned table
        # (d == path) the parent is outside the table root entirely
        # (ADVICE r7). The swap itself is two renames — a reader
        # listing in exactly that instant can miss the partition, so
        # strict readers compact under the table's writer lock /
        # maintenance window.
        parent = os.path.dirname(d)
        staging = os.path.join(parent, f"_stage_{uuid.uuid4().hex[:8]}")
        df.write.mode("overwrite").parquet(staging)
        token = uuid.uuid4().hex[:8]
        backup = os.path.join(parent, f"_old_{token}")
        # Origin marker BEFORE the first rename (ADVICE r8): if the
        # process dies between the two swap renames, the partition's
        # data survives only in the `_old_` dir, which partition
        # discovery skips — the marker records which destination the
        # backup belongs to so :func:`repair_compaction` can restore
        # it. Written first so no crash point leaves an unattributable
        # backup; a marker with no backup dir is just stale.
        marker = backup + ".origin"
        with open(marker, "w") as f:
            f.write(os.path.relpath(d, path))
        os.rename(d, backup)
        os.rename(staging, d)
        shutil.rmtree(backup)
        os.unlink(marker)
        results[os.path.relpath(d, path)] = len(_parquet_files(d))
    return results


def compact_table_versioned(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    min_files: int = 2,
    zorder: list[str] | None = None,
) -> dict[str, int]:
    """Reader-safe compaction (VERDICT r8 #6): build a COMPLETE
    compacted copy of the table at ``dst`` instead of swapping
    partitions in place — fragmented leaf dirs are rewritten to
    ~``target_file_bytes`` files, already-compact leaves are
    HARD-LINKED file-by-file (O(files), no data copied; falls back to
    a real copy across filesystems). The caller publishes ``dst``
    atomically (``IvfIndex.compact`` republishes ``centroids.json``,
    the same pointer swap rebuild uses), so a concurrent reader sees
    the old complete tree or the new complete tree — never the
    absent-partition instant :func:`compact_table`'s two-rename swap
    has. On an object store the hard link becomes a server-side
    metadata copy. Returns {relative_partition_path: files_after} for
    REWRITTEN dirs (linked dirs are not listed, same contract as
    compact_table)."""
    results: dict[str, int] = {}
    if os.path.exists(dst):
        raise ValueError(f"versioned compaction target already exists: {dst}")
    for cur, dirs, files in os.walk(src):
        dirs[:] = [
            x for x in dirs if not x.startswith(("_stage_", "_old_"))
        ]
        frags = [f for f in files if f.endswith(".parquet")]
        if not frags:
            continue
        rel = os.path.relpath(cur, src)
        out_dir = dst if rel == "." else os.path.join(dst, rel)
        if len(frags) <= min_files:
            os.makedirs(out_dir, exist_ok=True)
            for f in frags:
                try:
                    os.link(os.path.join(cur, f), os.path.join(out_dir, f))
                except OSError:  # cross-device: fall back to a copy
                    shutil.copy2(os.path.join(cur, f), os.path.join(out_dir, f))
            continue
        total = sum(os.path.getsize(os.path.join(cur, f)) for f in frags)
        n_out = output_files(total, target_file_bytes)
        df = spark.read.parquet(cur)
        if zorder:
            from .zorder import zorder_key

            df = (
                df.withColumn("_z", zorder_key(df, zorder))
                .repartitionByRange(n_out, "_z")
                .sortWithinPartitions("_z")
                .drop("_z")
            )
        else:
            df = df.coalesce(n_out)
        df.write.mode("overwrite").parquet(out_dir)
        results[rel] = len(_parquet_files(out_dir))
    return results


def repair_compaction(path: str) -> dict[str, list[str]]:
    """Recover from a :func:`compact_table` crash (ADVICE r8).

    Idempotent sweep over the table tree; call before reads after an
    unclean shutdown (or from a scheduled janitor). Handles every
    crash window of the stage-mark-swap sequence:

    - ``_old_<hex>`` dir whose ``.origin`` destination is MISSING →
      the crash hit between the two swap renames; the backup IS the
      partition — rename it back (``restored``).
    - ``_old_<hex>`` dir whose destination exists → the swap finished
      but cleanup didn't; the backup is superseded — delete it
      (``removed``).
    - stale ``.origin`` markers and ``_stage_`` dirs → the crash hit
      before the swap started (the partition is intact) or after it
      finished; delete (``removed``).

    Returns ``{"restored": [...], "removed": [...]}`` (paths relative
    to ``path``).
    """
    restored: list[str] = []
    removed: list[str] = []
    for cur, dirs, files in os.walk(path, topdown=True):
        # don't descend into backup/staging trees themselves
        dirs[:] = [x for x in dirs if not x.startswith(("_old_", "_stage_"))]
        for name in sorted(os.listdir(cur)):
            full = os.path.join(cur, name)
            if name.startswith("_old_") and os.path.isdir(full):
                marker = full + ".origin"
                dest = None
                if os.path.exists(marker):
                    with open(marker) as f:
                        rel = f.read().strip()
                    if rel and not os.path.isabs(rel) and ".." not in rel.split(os.sep):
                        dest = os.path.join(path, rel)
                if dest is not None and not os.path.exists(dest):
                    os.makedirs(os.path.dirname(dest), exist_ok=True)
                    os.rename(full, dest)
                    os.unlink(marker)
                    restored.append(os.path.relpath(dest, path))
                else:
                    # destination present (swap completed) or marker
                    # missing/invalid with nothing to restore onto:
                    # pre-marker-era backups stay untouched unless
                    # their data is demonstrably superseded
                    if dest is not None or os.path.exists(marker):
                        shutil.rmtree(full)
                        if os.path.exists(marker):
                            os.unlink(marker)
                        removed.append(os.path.relpath(full, path))
            elif name.startswith("_old_") and name.endswith(".origin"):
                # the dir branch above may have consumed this marker
                # already (the listing was snapshotted before repairs)
                if os.path.exists(full) and not os.path.isdir(
                    full[: -len(".origin")]
                ):
                    os.unlink(full)  # marker without its backup: stale
                    removed.append(os.path.relpath(full, path))
            elif name.startswith("_stage_") and os.path.isdir(full):
                # staging is incomplete or superseded in every window
                # (the origin dir is either intact or restored above)
                shutil.rmtree(full)
                removed.append(os.path.relpath(full, path))
    return {"restored": restored, "removed": removed}
