"""Keyed upsert and the table write lock.

The reference upserts three ways (SURVEY §2.1/§2.10): DELETE-then-
append for predictions (classifier_predict.py:149-170), single-row
MERGE-style writes for user overrides (transaction_service.py:78-126),
and insert-only incremental append (fct_validated_trxns.sql). Without
Delta jars in this environment, MERGE is emulated as anti-join + union,
committed as the next version of an ``operators/snapshot.py`` manifest
table: the read of the current version, the merge and the publish all
hold :func:`table_write_lock`, and readers pin whole versions, so a
read that overlaps a merge sees the version before it or the one after.
Insert-only appends are ``SnapshotTable.commit_append(dedup_key=)``.

Scale note: a merge rewrites the table; on a date-partitioned 100 TB
layout you would restrict the rewrite to the partitions holding matched
keys (dynamic partition overwrite).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .maintenance import output_files


class ConcurrentWriteError(RuntimeError):
    """A second writer attempted a read-modify-write on a locked table."""


@contextlib.contextmanager
def table_write_lock(path: str, timeout: float = 0.0, poll: float = 0.05):
    """Single-writer mutual exclusion for one parquet table path.

    The reference gets this guarantee from Postgres transactions
    (ui/backend/services/transaction_service.py:78-126); a manifest
    publish is atomic per rename but NOT per read-modify-write — two
    simultaneous ``merge_keyed`` runs could each read the old version
    and the second commit would silently drop the first's rows. This
    lock makes the second writer wait (``timeout``) or fail loudly.

    Mechanism: ``os.mkdir`` of ``<path>__lock`` (atomic on POSIX
    local/NFS filesystems — the warehouse layout this repo targets in
    the sandbox). An ``owner`` file inside records pid + epoch for
    diagnostics. With ``timeout`` > 0 the acquire polls before giving
    up. On object stores without atomic mkdir (S3) you'd use a table
    format's transaction log instead (Delta/Iceberg subsume this
    whole module).
    """
    lock_dir = f"{path}__lock"
    parent = os.path.dirname(path)
    if parent:
        os.makedirs(parent, exist_ok=True)
    deadline = time.monotonic() + timeout
    while True:
        try:
            os.mkdir(lock_dir)
            break
        except FileExistsError:
            if time.monotonic() >= deadline:
                owner = "?"
                with contextlib.suppress(OSError):
                    with open(os.path.join(lock_dir, "owner")) as f:
                        owner = f.read().strip()
                raise ConcurrentWriteError(
                    f"table {path} is locked by another writer (owner: {owner}); "
                    f"retry after it finishes or remove the stale {lock_dir}"
                ) from None
            time.sleep(poll)
    try:
        with open(os.path.join(lock_dir, "owner"), "w") as f:
            f.write(f"pid={os.getpid()} epoch={time.time():.3f}")
        yield
    finally:
        shutil.rmtree(lock_dir, ignore_errors=True)


def merge_keyed(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str,
    timeout: float = 0.0,
    insert_only: tuple[str, ...] = (),
) -> None:
    """Upsert `updates` into the table at `path` on `key`.

    Equivalent of the reference's DELETE WHERE id = ANY(...) + append
    (classifier_predict.py:149-170): one row per key survives, updates
    win. Columns of the table that `updates` does not carry keep the
    existing row's value (null for a new key), like an ``UPDATE SET``
    of just the given columns. The ``insert_only`` columns of `updates`
    are the values for new keys only: a matched key keeps its existing
    non-null value, like ``INSERT .. ON CONFLICT`` leaving them out of
    its ``DO UPDATE SET``.

    The read of the current version, the merge and the commit hold the
    table lock, so a concurrent merge can never be lost: the second
    writer waits up to ``timeout`` s for the lock, then raises
    :class:`ConcurrentWriteError`. The rows kept from the current
    version are written as ``output_files`` of its bytes, so repeated
    small merges do not fragment the table. ``updates`` built from
    Python rows (a local relation) join them in that one pass; an ``updates``
    computed on the cluster keeps its own partitions, so its work is
    not squeezed into those few tasks.
    """
    from .snapshot import SnapshotTable

    table = SnapshotTable(path)
    local = updates.isLocal()

    def merged(current: DataFrame | None) -> DataFrame:
        if current is None:
            return updates
        keys = updates.select(key)
        new = updates
        # the columns whose matched-row value decides the merged row;
        # the insert-only ones are renamed so both values reach the agg
        old_of = {c: c for c in current.columns if c not in updates.columns}
        old_of.update({c: f"__old_{c}" for c in insert_only})
        if old_of:
            # each column is non-null on at most one side of the union.
            # For local-relation updates this is one single-partition
            # pass (no exchange, so no extra job).
            old = current.join(keys, key, "left_semi").select(
                key, *[F.col(c).alias(o) for c, o in old_of.items()]
            )
            both = updates.unionByName(old, allowMissingColumns=True)

            def value(c: str) -> Column:
                first = F.first(old_of.get(c, c), ignorenulls=True)
                if c in insert_only:
                    first = F.coalesce(first, F.first(c, ignorenulls=True))
                return first.alias(c)

            new = (both.coalesce(1) if local else both).groupBy(key).agg(
                *[value(c) for c in current.columns if c != key]
            )
        kept = current.join(keys, key, "left_anti")
        n = output_files(table.size_bytes())
        new = new.select(*current.columns)
        if local:
            return kept.unionByName(new).coalesce(n)
        return kept.coalesce(n).unionByName(new)

    table.commit_rewrite(spark, merged, timeout=timeout)
