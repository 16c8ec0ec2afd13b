"""Versioned-manifest tables: the one layout of every table the engine writes.

The reference never tears a read because Postgres MVCC versions every
read (ui/backend/services/transaction_service.py leans on it while the
UI writes overrides); Delta/Iceberg get the same from a transaction
log. This module is the smallest honest version of that log:

- every commit writes data files into a FRESH immutable directory
  (``data/<uuid>``), then a manifest ``_manifests/v{N}.json`` listing
  exactly those files (relative to the table root, so a copied or
  restored root reads its own files) and the frame's schema, then
  atomically renames ``_latest.tmp`` → ``_latest`` to publish N;
- readers resolve ``_latest`` → manifest → explicit file list and
  hand that list, with the recorded schema, to
  ``spark.read.schema(S).parquet(*files)``: no schema-inference job,
  and Spark pins those concrete files for the whole query, so a commit
  that lands mid-read changes nothing the reader can observe. Old
  versions stay readable (time travel) until retention deletes them.

A root that holds plain parquet and no manifest (an external input
loaded into ``public`` by something other than the engine, such as the
seed tables) reads as plain parquet. The first commit to one adopts
it: the plain files are the base of that commit, which writes
``data/<uuid>`` and publishes v1 (an append first types the columns
the plain table shares with the appended frame as the frame has them),
and retention deletes the plain files once v1 is old enough, like any
superseded version.

Commits hold ``operators.upsert.table_write_lock``: single writer,
many snapshot readers. At 100 TB you would use Delta/Iceberg outright;
the point here is that the engine's write discipline already matches
that model, and tests/test_snapshot_table.py proves a reader can never
see a half-committed table.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import local_frame
from .upsert import table_write_lock

# A reader pins a version's files when it builds its DataFrame and opens
# them when its query runs, possibly after newer commits. Serving reads
# finish within seconds and a full build within a couple of minutes, so
# each commit deletes the data of versions superseded longer ago than
# this. The clock starts at the superseding commit, not at a count of
# versions: two fast writers would otherwise push out a version that a
# reader still holds.
RETAIN_SUPERSEDED_S = 600.0

# Root entries of the manifest layout; anything else at the root is
# plain parquet (a table not yet adopted, or what its first commit
# superseded).
_LAYOUT = {"_latest", "_latest.tmp", "_manifests", "data"}


class SnapshotCorruptionError(RuntimeError):
    """The manifest chain is unreadable (not merely absent)."""


class SnapshotTable:
    """A parquet table addressed through a versioned manifest.

    Layout::

        <root>/
          _latest              # text file: highest committed version
          _manifests/v{N}.json # {"version", "ts", "dir", "files",
                               #  "partitioned"?, "schema"}; paths
                               #  relative to the root (absolute in
                               #  manifests of older commits)
          data/<uuid>/         # immutable per-commit parquet dirs
    """

    def __init__(self, root: str):
        self.root = os.path.abspath(root)
        self._manifest_dir = os.path.join(self.root, "_manifests")
        self._data_dir = os.path.join(self.root, "data")

    def exists(self) -> bool:
        """True once the table has a published version, or plain
        parquet for its first commit to adopt."""
        return self.latest_version() > 0 or bool(self._plain_data())

    # ------------------------------------------------------------ write

    def commit_overwrite(
        self,
        df: DataFrame,
        timeout: float = 0.0,
        partition_by: str | None = None,
    ) -> int:
        """Commit df as the table's next full-replacement version.

        Returns the committed version number. Readers holding any
        previously published version are unaffected: its files are
        immutable and stay until retention deletes them.

        With ``partition_by`` the commit directory is hive-partitioned
        and the manifest's ``files`` is empty: readers read the
        directory, which is just as immutable, and keep partition
        pruning.
        """
        with table_write_lock(self.root, timeout=timeout):
            return self._commit(df, partition_by)

    def commit_rewrite(
        self,
        spark: SparkSession,
        rewrite: Callable[[DataFrame | None], DataFrame | None],
        timeout: float = 0.0,
    ) -> int | None:
        """Commit ``rewrite(current)`` as the next full-replacement
        version, where ``current`` is the latest version read under the
        table lock (None while the table does not exist). A concurrent
        writer's commit can therefore never be lost: the second writer
        waits up to ``timeout`` for the lock (then raises
        :class:`~.upsert.ConcurrentWriteError`) and rewrites on top of
        the first one's version. Returns the committed version, or None
        when ``rewrite`` returns None: nothing is committed."""
        with table_write_lock(self.root, timeout=timeout):
            current = self.read(spark) if self.exists() else None
            df = rewrite(current)
            return None if df is None else self._commit(df)

    def commit_append(
        self,
        df: DataFrame,
        timeout: float = 0.0,
        dedup_key: str | None = None,
        spark: SparkSession | None = None,
    ) -> int:
        """Commit df as an APPEND version: the new manifest lists the
        previous version's files plus the new commit's. Existing files
        are never touched — readers on the old version see nothing.

        With ``dedup_key`` (and the session to read with), incoming
        rows whose key already exists are dropped first — insert-only
        semantics, with the existing-key read and the publish under
        one table lock so concurrent appenders can't both insert the
        same key.
        """
        spark = spark or df.sparkSession
        with table_write_lock(self.root, timeout=timeout):
            if self.latest_version() == 0 and self._plain_data():
                self._commit(self._adopted_as(spark, df))  # adopt the plain table as v1
            prev: dict | None = None
            if self.latest_version() > 0:
                prev = self.manifest()
                if prev.get("partitioned"):
                    raise ValueError(
                        "commit_append on a partitioned snapshot table is "
                        "not supported — use commit_overwrite per partition"
                    )
                if dedup_key:
                    existing = (
                        self.read(spark)
                        .select(dedup_key)
                        .filter(F.col(dedup_key).isNotNull())
                    )
                    df = df.join(existing, dedup_key, "left_anti")
            body = self._write(df)
            # the manifest schema must describe EVERY file the version
            # lists, not just this append's: union-by-name with the
            # previous version's recorded schema (prev column order
            # first, genuinely-new columns appended; a re-typed column
            # takes the newest type). Catalog views derive their column
            # list from this (ADVICE r7 — commit-dir names are uuids,
            # so no dir listing is temporal). A committed EMPTY table
            # still has a recorded schema, so this unions with it too.
            if prev is not None:
                body["files"] = prev["files"] + body["files"]
                prev_st = self.schema()
                if prev_st is not None:
                    by_name = {f.name: f for f in df.schema.fields}
                    fields = [by_name.pop(f.name, f) for f in prev_st.fields]
                    body["schema"] = StructType(fields + list(by_name.values())).json()
            return self._publish(body)

    def _adopted_as(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        """The plain table, with each column it shares with ``df`` cast
        to df's type and put in df's order. Partition inference types a
        hive partition column from its directory names (a date, say,
        where the appended frame has a string), and the append's schema
        union takes the newest type, so without the cast that type
        would be recorded over files holding the inferred one."""
        plain = self.read(spark)
        shared = [f for f in df.schema.fields if f.name in plain.columns]
        return plain.select(
            *[F.col(f.name).cast(f.dataType) for f in shared],
            *[c for c in plain.columns if c not in df.columns],
        )

    def _commit(self, df: DataFrame, partition_by: str | None = None) -> int:
        """Publish df as the next full-replacement version. Caller holds
        the table lock."""
        return self._publish(self._write(df, partition_by))

    def _write(self, df: DataFrame, partition_by: str | None = None) -> dict:
        """Write df to a fresh commit dir; returns its manifest body."""
        rel = os.path.join("data", uuid.uuid4().hex)
        commit_dir = self._abs(rel)
        body = {"dir": rel, "files": [], "schema": df.schema.json()}
        if partition_by:
            df.write.mode("overwrite").partitionBy(partition_by).parquet(commit_dir)
            body["partitioned"] = True
        else:
            df.write.mode("overwrite").parquet(commit_dir)
            body["files"] = sorted(
                os.path.join(rel, f)
                for f in os.listdir(commit_dir)
                if f.endswith(".parquet")
            )
        return body

    def _publish(self, body: dict) -> int:
        """Write manifest v(N+1), atomically move the ``_latest``
        pointer — the commit point — then apply retention. Caller
        holds the table lock."""
        os.makedirs(self._manifest_dir, exist_ok=True)
        version = self.latest_version() + 1
        manifest = {"version": version, "ts": time.time(), **body}
        mpath = self._manifest_path(version)
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.write("\n")
        os.rename(tmp, mpath)
        # publish: single-file rename is atomic where dir rename
        # may not be — this is the commit point
        ltmp = os.path.join(self.root, "_latest.tmp")
        with open(ltmp, "w") as f:
            f.write(str(version))
        os.rename(ltmp, os.path.join(self.root, "_latest"))
        self._retain()
        return version

    # ------------------------------------------------------------- read

    def latest_version(self) -> int:
        """Highest published version, 0 if the table has no commits."""
        try:
            with open(os.path.join(self.root, "_latest")) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0
        except ValueError as e:
            raise SnapshotCorruptionError(
                f"unreadable _latest pointer in {self.root}"
            ) from e

    def manifest(self, version: int | None = None) -> dict:
        if version is None:
            version = self.latest_version()
        if version <= 0:
            raise FileNotFoundError(f"snapshot table {self.root} has no commits")
        mpath = self._manifest_path(version)
        try:
            with open(mpath) as f:
                return json.load(f)
        except FileNotFoundError:
            raise
        except (json.JSONDecodeError, OSError) as e:
            raise SnapshotCorruptionError(f"unreadable manifest {mpath}") from e

    def schema(self, version: int | None = None) -> StructType | None:
        """The schema the version's commit recorded (None only for
        manifests written before schemas were recorded)."""
        recorded = self.manifest(version).get("schema")
        return StructType.fromJson(json.loads(recorded)) if recorded else None

    def files(self, version: int | None = None) -> list[str]:
        """The absolute paths of the version's parquet files (empty for
        a partitioned version, which is read by its commit dir)."""
        return [self._abs(p) for p in self.manifest(version)["files"]]

    def commit_dirs(self, version: int | None = None) -> list[str]:
        """The commit dirs that hold the version's data: the distinct
        dirs of its files, or its partitioned commit dir if any part
        file was written there. Empty for a committed empty table (AQE
        can coalesce an empty write to zero part files)."""
        m = self.manifest(version)
        if not m.get("partitioned"):
            return sorted({os.path.dirname(p) for p in self.files(version)})
        d = self._abs(m["dir"])
        return [d] if _parquet_under([d]) else []

    def size_bytes(self, version: int | None = None) -> int:
        """Bytes of parquet the version holds (latest by default; the
        plain files while the table is not yet adopted)."""
        if version is None and self.latest_version() == 0:
            files = _parquet_under(self._plain_data())
        else:
            m = self.manifest(version)
            partitioned = m.get("partitioned")
            files = _parquet_under([self._abs(m["dir"])]) if partitioned else self.files(version)
        return sum(os.path.getsize(f) for f in files)

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Read a pinned snapshot (latest by default; older = time travel).

        The scan is bound to the manifest's explicit files (or its
        immutable partitioned commit dir) and typed by the recorded
        schema, so it runs no inference job and concurrent commits
        cannot change what this query reads. A table not yet adopted
        reads as plain parquet, listing only its own entries: an
        adopting commit's ``data/<uuid>`` may already exist before it
        publishes v1, and must not be read alongside the plain files.
        """
        if version is None:
            version = self.latest_version()
            plain = self._plain_data() if version == 0 else []
            if plain:
                return spark.read.option("basePath", self.root).parquet(*plain)
        m = self.manifest(version)
        schema = self.schema(version)
        paths = self.commit_dirs(version) if m.get("partitioned") else self.files(version)
        if paths:
            return (spark.read.schema(schema) if schema else spark.read).parquet(*paths)
        if schema is None:
            raise SnapshotCorruptionError(
                f"manifest v{m['version']} of {self.root} lists no data "
                "and records no schema"
            )
        # a committed EMPTY table: nothing on disk to read, so the
        # recorded schema is the table (ADVICE r6/r7)
        return local_frame(spark, [], schema)

    # ---------------------------------------------------------- maintain

    def _retain(self) -> None:
        """Delete the data of versions superseded more than
        RETAIN_SUPERSEDED_S ago: their manifests, the commit dirs no
        newer version lists, and the plain files an adopting commit
        superseded. Only paths under ``data/`` and plain root entries
        are ever removed, never the root. Caller holds the lock, after
        a publish."""
        cutoff = time.time() - RETAIN_SUPERSEDED_S
        versions = self._versions()
        expired = []
        for v, successor in zip(versions, versions[1:]):
            if self.manifest(successor)["ts"] >= cutoff:
                break
            expired.append(v)
        # the plain files were superseded no later than the oldest
        # manifest on disk
        plain_expired = self.manifest(versions[0])["ts"] < cutoff
        if expired:
            # files reach a later version only through a chain of
            # appends, so a dir some newer version still lists is
            # listed by the oldest one kept
            kept = self._dirs(versions[len(expired)])
            for v in expired:
                for d in self._dirs(v) - kept:
                    if os.path.dirname(d) == self._data_dir:
                        shutil.rmtree(d, ignore_errors=True)
                os.remove(self._manifest_path(v))
        if plain_expired:
            for p in self._plain_entries():
                if os.path.isdir(p):
                    shutil.rmtree(p, ignore_errors=True)
                else:
                    os.remove(p)

    def _dirs(self, version: int) -> set[str]:
        m = self.manifest(version)
        dirs = {os.path.dirname(p) for p in self.files(version)}
        return dirs | {self._abs(m["dir"])} if m.get("dir") else dirs

    def _abs(self, path: str) -> str:
        """A manifest path resolved against the root (``os.path.join``
        keeps an absolute one as it is)."""
        return os.path.join(self.root, path)

    def _versions(self) -> list[int]:
        if not os.path.isdir(self._manifest_dir):
            return []
        return sorted(
            int(f[1:-5])
            for f in os.listdir(self._manifest_dir)
            if f.startswith("v") and f.endswith(".json")
        )

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._manifest_dir, f"v{version:06d}.json")

    def _plain_entries(self) -> list[str]:
        if not os.path.isdir(self.root):
            return []
        return [
            os.path.join(self.root, e)
            for e in sorted(os.listdir(self.root))
            if e not in _LAYOUT
        ]

    def _plain_data(self) -> list[str]:
        """The plain entries Spark would read: part files and ``k=v``
        partition dirs, not ``_SUCCESS`` or ``.crc`` side files."""
        return [
            p for p in self._plain_entries()
            if not os.path.basename(p).startswith(("_", "."))
        ]


def _parquet_under(paths: list[str]) -> list[str]:
    """The parquet files at or below ``paths`` (files or dirs)."""
    found = []
    for p in paths:
        if os.path.isdir(p):
            found += [
                os.path.join(d, f)
                for d, _, fs in os.walk(p)
                for f in fs
                if f.endswith(".parquet")
            ]
        elif p.endswith(".parquet"):
            found.append(p)
    return found
