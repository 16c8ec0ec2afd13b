"""``session.local_frame``: Python-side rows as a JVM local relation.

It must hold the same values as ``spark.createDataFrame(list, schema)``
under either Arrow setting, keep the schema of an empty frame, run no
Spark job to build and collect, and read naive datetimes as UTC. A keyed
merge whose update side is such a frame keeps a bounded file layout.
"""

from __future__ import annotations

import calendar
import datetime as dt
import glob
import inspect
import os

import pytest
from pyspark.sql import functions as F

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
    """With a local-relation update side the anti-join broadcasts and
    the merge keeps the scan's file splits instead of a shuffle's. The
    scan packs small files into at most default-parallelism splits, and
    a one-row update adds one file, so the count cycles within that
    bound (4-5 files on 4 cores, 6-9 on 8) instead of growing by one per
    write."""
    path = str(tmp_path / "t")
    schema = "k string, v long"
    merge_keyed(spark, path, local_frame(spark, [(f"k{i:03d}", i) for i in range(300)], schema), "k")
    files, updates = {}, {}
    for w in range(1, 41):
        # odd writes update an existing key, even writes insert a new one
        key = f"k{(w * 37) % 300:03d}" if w % 2 else f"new{w}"
        updates[key] = -w
        merge_keyed(spark, path, local_frame(spark, [(key, -w)], schema), "k")
        files[w] = len(glob.glob(os.path.join(path, "*.parquet")))
    bound = spark.sparkContext.defaultParallelism + 1
    assert max(files[w] for w in range(31, 41)) <= max(files[w] for w in range(1, 11)), files
    assert max(files.values()) <= bound, files
    out = spark.read.parquet(path)
    assert out.count() == out.select("k").distinct().count() == 320
    assert {r.k: r.v for r in out.filter("v < 0").collect()} == updates
