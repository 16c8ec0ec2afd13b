"""``session.local_frame``: Python-side rows as a JVM local relation.

It must hold the same values as ``spark.createDataFrame(list, schema)``
under either Arrow setting, keep the schema of an empty frame, run no
Spark job to build and collect, and read naive datetimes as UTC. A keyed
merge keeps a bounded file layout.
"""

from __future__ import annotations

import calendar
import datetime as dt
import inspect

import pytest
from pyspark.sql import functions as F

from doin_fine_ance__spark.operators.snapshot import SnapshotTable
from doin_fine_ance__spark.operators.upsert import merge_keyed
from doin_fine_ance__spark.schemas import USER_CATEGORIES
from doin_fine_ance__spark.session import local_frame
from doin_fine_ance__spark.sources import fixtures as FX

ARROW = "spark.sql.execution.arrow.pyspark.enabled"

# every public (spark) -> DataFrame table builder in sources/fixtures.py
BUILDERS = sorted(
    name
    for name, fn in inspect.getmembers(FX, inspect.isfunction)
    if fn.__module__ == FX.__name__
    and not name.startswith("_")
    and list(inspect.signature(fn).parameters) == ["spark"]
)


def _with_conf(spark, key, value, fn):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        return fn()
    finally:
        spark.conf.set(key, old)


def test_every_fixture_builder_is_covered():
    assert len(BUILDERS) == 7, BUILDERS


@pytest.mark.parametrize("arrow", ["true", "false"])
@pytest.mark.parametrize("builder", BUILDERS)
def test_local_frame_equals_list_path(spark, builder, arrow):
    def check():
        df = getattr(FX, builder)(spark)
        rows, schema = df.collect(), df.schema
        assert rows
        local = local_frame(spark, rows, schema)
        listed = spark.createDataFrame(rows, schema)
        assert local.schema == listed.schema == schema
        assert local.collect() == listed.collect() == rows

    _with_conf(spark, ARROW, arrow, check)


def test_empty_rows_keep_schema(spark):
    df = local_frame(spark, [], USER_CATEGORIES)
    assert df.schema == USER_CATEGORIES
    assert df.collect() == []
    ddl = local_frame(spark, [], "_pid long, _offset long")
    assert [(f.name, f.dataType.simpleString()) for f in ddl.schema] == [
        ("_pid", "bigint"),
        ("_offset", "bigint"),
    ]


def test_building_and_collecting_runs_no_job(spark):
    rows = [
        ("TRN-1", "Groceries", None, "n", True, False, "sam", dt.datetime(2024, 3, 1)),
        ("TRN-2", "Gas", "src", None, None, None, None, None),
    ]
    sc = spark.sparkContext
    sc.setJobGroup("local_frame_jobs", "build + collect a local frame", False)
    try:
        got = local_frame(spark, rows, USER_CATEGORIES).collect()
        jobs = len(sc.statusTracker().getJobIdsForGroup("local_frame_jobs"))
    finally:
        sc.setJobGroup(None, None, False)
    assert [tuple(r) for r in got] == rows
    assert jobs == 0


def test_naive_datetime_is_read_as_utc(spark):
    """The instant of a naive datetime is its UTC reading, whatever the
    session time zone says."""
    naive = dt.datetime(2024, 3, 1, 12, 0, 0)

    def epoch():
        df = local_frame(spark, [(naive,)], "t timestamp")
        return df.select(F.unix_timestamp("t").alias("s")).first().s

    for tz in ("UTC", "America/New_York"):
        assert _with_conf(spark, "spark.sql.session.timeZone", tz, epoch) == (
            calendar.timegm(naive.timetuple())
        ), tz


def test_malformed_rows_raise(spark):
    with pytest.raises(ValueError):
        local_frame(spark, [("a", 1, "extra")], "k string, v long")
    with pytest.raises(ValueError):  # null in a non-nullable field
        local_frame(spark, [(None,) * 8], USER_CATEGORIES)


def test_merged_layout_stays_bounded(spark, tmp_path):
    """A keyed merge writes its version as ``output_files`` of the
    current version's bytes (one file per 128 MB), not one file per
    scan split, so single-row merges onto a small table leave every
    version in one file instead of cycling through 4-9."""
    path = str(tmp_path / "t")
    schema = "k string, v long"
    merge_keyed(spark, path, local_frame(spark, [(f"k{i:03d}", i) for i in range(300)], schema), "k")
    table = SnapshotTable(path)
    files, updates = {}, {}
    for w in range(1, 41):
        # odd writes update an existing key, even writes insert a new one
        key = f"k{(w * 37) % 300:03d}" if w % 2 else f"new{w}"
        updates[key] = -w
        merge_keyed(spark, path, local_frame(spark, [(key, -w)], schema), "k")
        files[w] = len(table.manifest()["files"])
    assert max(files[w] for w in range(31, 41)) <= max(files[w] for w in range(1, 11)), files
    assert max(files.values()) <= 1, files
    out = table.read(spark)
    assert out.count() == out.select("k").distinct().count() == 320
    assert {r.k: r.v for r in out.filter("v < 0").collect()} == updates


def test_merge_under_a_root_with_url_escaped_characters(spark, tmp_path):
    """Spark reports file paths as URIs, percent-encoding a space, ``#``
    or ``%``; the merge sizes the current version from the manifest's
    plain paths, so such a warehouse root merges like any other."""
    path = str(tmp_path / "ware house #1 %20" / "t")
    schema = "k string, v long"
    merge_keyed(spark, path, local_frame(spark, [(f"k{i}", i) for i in range(10)], schema), "k")
    merge_keyed(spark, path, local_frame(spark, [("k3", -3), ("new", -1)], schema), "k")
    out = SnapshotTable(path).read(spark)
    assert out.count() == 11
    assert {r.k: r.v for r in out.filter("v < 0").collect()} == {"k3": -3, "new": -1}


def test_cluster_computed_updates_keep_their_partitions(spark, tmp_path):
    """Only the rows kept from the current version are bounded to
    ``output_files``; an update computed on the cluster is written by
    its own tasks, not squeezed into that one."""
    path = str(tmp_path / "t")
    merge_keyed(spark, path, local_frame(spark, [(f"k{i}", i) for i in range(300)], "k string, v long"), "k")
    updates = spark.range(0, 400, numPartitions=4).selectExpr("concat('k', id) AS k", "-id AS v")
    merge_keyed(spark, path, updates, "k")
    table = SnapshotTable(path)
    assert len(table.manifest()["files"]) == 1 + 4
    out = table.read(spark)
    assert out.count() == out.select("k").distinct().count() == 400
    assert out.filter("v > 0").count() == 0
