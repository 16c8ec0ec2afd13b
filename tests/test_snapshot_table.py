"""Snapshot-manifest table (VERDICT r3 next-round #7): a reader must
NEVER observe a half-committed table, even with a writer committing
concurrently; old versions stay readable (time travel) until commit-time
retention deletes them."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from doin_fine_ance__spark.operators.snapshot import SnapshotTable


def _gen_df(spark, gen: int, rows: int):
    # every row of a committed version carries the same gen and a
    # gen-dependent row count — any torn read shows as a mixed-gen
    # result or a count that matches no generation
    return spark.range(rows).select(
        F.col("id"),
        F.lit(gen).alias("gen"),
    )


def test_reader_never_sees_half_committed_table(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    rows_for = lambda gen: 200 + 37 * gen  # noqa: E731
    t.commit_overwrite(_gen_df(spark, 1, rows_for(1)))

    stop = threading.Event()
    writer_err: list[BaseException] = []

    def writer():
        gen = 2
        try:
            while not stop.is_set() and gen <= 12:
                t.commit_overwrite(_gen_df(spark, gen, rows_for(gen)))
                gen += 1
        except BaseException as e:  # noqa: BLE001
            writer_err.append(e)

    th = threading.Thread(target=writer)
    th.start()
    try:
        for _ in range(30):
            df = t.read(spark)
            gens = [r[0] for r in df.select("gen").distinct().collect()]
            assert len(gens) == 1, f"torn read: generations {gens}"
            n = df.count()
            assert n == rows_for(gens[0]), (
                f"gen {gens[0]} read {n} rows, expected {rows_for(gens[0])}"
            )
    finally:
        stop.set()
        th.join()
    assert not writer_err, writer_err


def test_snapshot_pinned_across_concurrent_commit(spark, tmp_path):
    """A DataFrame resolved from version N keeps returning N's data
    even after N+1 commits — the scan is bound to explicit files."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    v1 = t.commit_overwrite(_gen_df(spark, 1, 100))
    pinned = t.read(spark, v1)
    t.commit_overwrite(_gen_df(spark, 2, 999))
    assert pinned.count() == 100
    assert [r[0] for r in pinned.select("gen").distinct().collect()] == [1]
    assert t.read(spark).count() == 999  # fresh resolve sees latest


def test_time_travel_and_vacuum(spark, tmp_path, clock):
    """Old versions read back until a commit past the retention window
    deletes them; the version it just superseded stays."""
    import os

    from doin_fine_ance__spark.operators.snapshot import RETAIN_SUPERSEDED_S

    t = SnapshotTable(str(tmp_path / "tbl"))
    for gen in (1, 2, 3):
        t.commit_overwrite(_gen_df(spark, gen, 10 * gen))
    assert t.read(spark, 2).count() == 20
    clock[0] += RETAIN_SUPERSEDED_S + 1
    assert t.commit_overwrite(_gen_df(spark, 4, 40)) == 4
    with pytest.raises(FileNotFoundError):
        t.manifest(2)
    assert sorted(os.listdir(os.path.join(t.root, "_manifests"))) == [
        "v000003.json", "v000004.json"
    ]
    assert t.read(spark, 3).count() == 30
    assert t.read(spark, 4).count() == 40
    assert t.latest_version() == 4


def test_empty_table_raises_cleanly(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "none"))
    assert t.latest_version() == 0
    with pytest.raises(FileNotFoundError):
        t.read(spark)


def test_empty_overwrite_reads_as_empty_table(spark, tmp_path):
    """ADVICE r6: a committed EMPTY overwrite (AQE can coalesce the
    write to zero part files) is a legitimate table state — read()
    must return a zero-row frame with the committed schema, not raise
    SnapshotCorruptionError."""
    import json
    import os

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    st_schema = StructType(
        [StructField("id", LongType()), StructField("label", StringType())]
    )
    t = SnapshotTable(str(tmp_path / "tbl"))
    v = t.commit_overwrite(spark.createDataFrame([], st_schema))
    got = t.read(spark, v)
    assert got.count() == 0
    assert got.schema == st_schema

    # the exact ADVICE scenario, forced deterministically: a published
    # manifest whose files list is empty
    t2 = SnapshotTable(str(tmp_path / "tbl2"))
    t2.commit_overwrite(_gen_df(spark, 1, 5))
    m2 = {
        "version": 2,
        "ts": 0.0,
        "files": [],
        "schema": st_schema.json(),
    }
    with open(os.path.join(t2.root, "_manifests", "v000002.json"), "w") as f:
        json.dump(m2, f)
    with open(os.path.join(t2.root, "_latest"), "w") as f:
        f.write("2")
    empty = t2.read(spark)
    assert empty.count() == 0 and empty.schema == st_schema
    # legacy manifest (no schema recorded) with no files is still corrupt
    m3 = {"version": 3, "ts": 0.0, "files": []}
    with open(os.path.join(t2.root, "_manifests", "v000003.json"), "w") as f:
        json.dump(m3, f)
    with open(os.path.join(t2.root, "_latest"), "w") as f:
        f.write("3")
    from doin_fine_ance__spark.operators.snapshot import SnapshotCorruptionError

    with pytest.raises(SnapshotCorruptionError):
        t2.read(spark)


def test_empty_partitioned_overwrite_reads_as_empty_table(spark, tmp_path):
    """ADVICE r7: the empty-table schema replay must also cover the
    PARTITIONED branch — a committed empty partitioned overwrite has
    zero part files under its commit dir, so the manifest's recorded
    schema is the only source of truth."""
    from pyspark.sql.types import (
        DateType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    st_schema = StructType(
        [
            StructField("id", LongType()),
            StructField("label", StringType()),
            StructField("day", DateType()),
        ]
    )
    t = SnapshotTable(str(tmp_path / "ptbl"))
    v = t.commit_overwrite(
        spark.createDataFrame([], st_schema), partition_by="day"
    )
    got = t.read(spark, v)
    assert got.count() == 0
    assert got.schema == st_schema


def test_append_after_empty_overwrite_keeps_recorded_schema_union(spark, tmp_path):
    """A committed EMPTY table still has a recorded schema; a later
    append's manifest schema must union with it, not silently forget
    the empty version's columns."""
    t = SnapshotTable(str(tmp_path / "etbl"))
    t.commit_overwrite(spark.createDataFrame([], "id bigint, label string"))
    t.commit_append(spark.createDataFrame([(1,)], "id bigint"))
    import json as _json

    from pyspark.sql.types import StructType

    st = StructType.fromJson(_json.loads(t.manifest()["schema"]))
    assert [f.name for f in st.fields] == ["id", "label"]


def test_commit_deletes_versions_superseded_past_retention(spark, tmp_path, clock):
    import os

    from doin_fine_ance__spark.operators.snapshot import RETAIN_SUPERSEDED_S

    t = SnapshotTable(str(tmp_path / "tbl"))
    start = clock[0]
    dirs = {}
    for gen in (1, 2, 3):  # published at start, +60 s, +120 s
        v = t.commit_overwrite(_gen_df(spark, gen, 10 * gen))
        (dirs[v],) = t.commit_dirs(v)
        clock[0] += 60
    # v1 was superseded at +60 s and is now past retention; v2 was
    # superseded at +120 s and is not
    clock[0] = start + 60 + RETAIN_SUPERSEDED_S + 1
    assert t.commit_overwrite(_gen_df(spark, 4, 40)) == 4
    assert not os.path.exists(dirs[1])
    with pytest.raises(FileNotFoundError):
        t.manifest(1)
    assert all(os.path.isdir(dirs[v]) for v in (2, 3))
    assert [t.read(spark, v).count() for v in (2, 3, 4)] == [20, 30, 40]
    assert sorted(os.listdir(os.path.join(t.root, "data"))) == sorted(
        os.path.basename(t.manifest(v)["dir"]) for v in (2, 3, 4)
    )


def test_adopted_plain_files_follow_the_retention_rule(spark, tmp_path, clock):
    """The first commit to a plain parquet table reads it as the base
    and publishes v1 under data/; the plain files it superseded stay
    readable by pinned readers until retention deletes them."""
    import os

    from doin_fine_ance__spark.operators.snapshot import RETAIN_SUPERSEDED_S
    from doin_fine_ance__spark.operators.upsert import merge_keyed

    root = str(tmp_path / "plain")
    _gen_df(spark, 0, 50).write.parquet(root)
    plain = sorted(os.listdir(root))
    t = SnapshotTable(root)
    assert t.exists() and t.latest_version() == 0
    pinned = t.read(spark)
    assert pinned.count() == 50

    merge_keyed(spark, root, _gen_df(spark, 1, 5), "id")
    assert t.latest_version() == 1
    assert sorted(t.read(spark).groupBy("gen").count().collect()) == [(0, 45), (1, 5)]
    assert os.path.dirname(t.manifest()["files"][0]) == t.manifest()["dir"]
    assert set(plain) <= set(os.listdir(root))  # superseded, not yet expired
    assert pinned.count() == 50

    clock[0] += RETAIN_SUPERSEDED_S + 1
    merge_keyed(spark, root, _gen_df(spark, 2, 1), "id")
    assert sorted(os.listdir(root)) == ["_latest", "_manifests", "data"]
    assert t.read(spark).count() == 50


def test_root_survives_vacuum_after_adoption(spark, tmp_path, clock):
    """Retention after an adopting append deletes the superseded plain
    files and manifests, never the root or a dir a newer version lists."""
    import os

    from doin_fine_ance__spark.operators.snapshot import RETAIN_SUPERSEDED_S

    root = str(tmp_path / "plain")
    _gen_df(spark, 0, 20).write.parquet(root)
    t = SnapshotTable(root)
    t.commit_append(_gen_df(spark, 1, 30).filter("id >= 20"), dedup_key="id")
    assert t.latest_version() == 2  # v1 adopts the plain rows, v2 appends
    for v in (3, 4):
        # past retention, a re-append of existing keys expires v(N-2)
        clock[0] += RETAIN_SUPERSEDED_S + 1
        assert t.commit_append(_gen_df(spark, 2, 30), dedup_key="id") == v
        assert sorted(os.listdir(root)) == ["_latest", "_manifests", "data"]
        with pytest.raises(FileNotFoundError):
            t.manifest(v - 2)
    assert os.path.isdir(root)
    assert sorted(t.read(spark).groupBy("gen").count().collect()) == [(0, 20), (1, 10)]


def test_append_adopts_a_hive_root_with_the_frame_types(spark, tmp_path):
    """Partition inference types a hive root's ``d=2024-01-01`` column
    as a date; an append whose ``d`` is a string adopts the plain rows
    with ``d`` cast to string, so the recorded schema describes every
    file the version lists and the table reads back whole."""
    root = str(tmp_path / "plain")
    spark.createDataFrame([("a", "2024-01-01")], "x string, d string") \
        .write.partitionBy("d").parquet(root)
    t = SnapshotTable(root)
    assert t.read(spark).schema["d"].dataType.typeName() == "date"
    t.commit_append(spark.createDataFrame([("b", "2024-01-02")], "x string, d string"))
    assert t.latest_version() == 2
    assert t.schema().simpleString() == "struct<x:string,d:string>"
    assert sorted(t.read(spark).collect()) == [("a", "2024-01-01"), ("b", "2024-01-02")]


@pytest.mark.parametrize("partitioned", [False, True])
def test_plain_read_ignores_an_unpublished_adopting_commit(spark, tmp_path, partitioned):
    """Between an adopting commit's data write and its publish, the
    table still reads as plain parquet: only the plain entries, never
    the commit dir already sitting under data/ (which, next to plain
    partition dirs, made the whole-root listing fail)."""
    import os
    import shutil

    root = str(tmp_path / "plain")
    w = _gen_df(spark, 0, 20).withColumn("p", F.col("id") % 2).write
    (w.partitionBy("p") if partitioned else w).parquet(root)
    t = SnapshotTable(root)
    plain_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")
    )
    # what an adopting commit leaves before it renames _latest
    staged = os.path.join(root, "data", "0" * 32)
    shutil.copytree(root, staged, ignore=shutil.ignore_patterns("data"))
    assert t.latest_version() == 0
    out = t.read(spark)
    assert out.count() == 20
    assert sorted(out.groupBy("p").count().collect()) == [(0, 10), (1, 10)]
    assert t.size_bytes() == plain_bytes


def test_manifest_paths_are_relative_to_the_root(spark, tmp_path):
    """A copy of a table root reads its own files, also once the source
    is gone; a manifest that records absolute paths still reads."""
    import json
    import os
    import shutil

    src = str(tmp_path / "src")
    t = SnapshotTable(src)
    t.commit_overwrite(_gen_df(spark, 1, 10))
    t.commit_append(_gen_df(spark, 2, 5))
    assert not any(os.path.isabs(p) for p in t.manifest()["files"])

    copy = str(tmp_path / "copy")
    shutil.copytree(src, copy)
    shutil.rmtree(src)
    c = SnapshotTable(copy)
    assert sorted(c.read(spark).groupBy("gen").count().collect()) == [(1, 10), (2, 5)]
    assert all(f.startswith(c.root + os.sep) for f in c.files())

    # a manifest written with absolute paths
    m = c.manifest()
    m["files"] = [os.path.join(c.root, p) for p in m["files"]]
    m["dir"] = os.path.join(c.root, m["dir"])
    with open(os.path.join(c.root, "_manifests", "v000002.json"), "w") as f:
        json.dump(m, f)
    assert c.read(spark).count() == 15
    assert c.size_bytes() == sum(os.path.getsize(f) for f in c.files())
