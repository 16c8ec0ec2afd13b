"""The warehouse's one table layout (VERDICT r4 #5 / r5 #5): builds
commit versioned manifests, reads pin the published version — a serving
read concurrent with a full-refresh build must return the complete
PRE-build snapshot, never a torn or post-build table."""

from __future__ import annotations

import hashlib
import os
import threading

import pytest
from pyspark.sql import functions as F

from doin_fine_ance__spark.plans.build import Warehouse, build, register_sql_catalog
from doin_fine_ance__spark.sources import fixtures as FX


@pytest.fixture()
def snap_wh(spark, tmp_path):
    root = str(tmp_path / "wh")
    FX.write_warehouse_inputs(spark, root)
    wh = Warehouse(spark, root)
    build(wh, full_refresh=True)
    return wh


def _shrink_inputs(spark, root: str) -> None:
    """Rewrite the raw simplefin input with one account dropped, so a
    rebuild visibly changes every downstream mart."""
    raw = FX.raw_simplefin(spark).filter(F.col("account_id") != "ACT-A")
    raw.write.mode("overwrite").parquet(f"{root}/public/simplefin")


# (rows, sha256 of the newline-joined sorted row reprs, first 16 hex
# digits) per model of a full-refresh build over the fixture inputs,
# captured from the stage-and-swap layout the manifest layout replaced
SWAP_BUILD_ROWS = {
    "stg_simplefin": (11, "7afbc7eda6a11f99"),
    "stg_historic_trxns": (7, "4e6e551ab0160def"),
    "int_trxns": (18, "1cbf8415237af605"),
    "int_trxns_features": (18, "c0f50c9c8ca1007f"),
    "fct_trxns_categorized": (3, "831a2d827fef24bd"),
    "stg_user_validated_categories": (4, "d12d7dbc5089c542"),
    "fct_validated_trxns": (7, "a6b0cfad06e13017"),
    "fct_trxns_uncategorized": (12, "c48bda684605ee23"),
    "fct_trxns_with_predictions": (12, "ec04b1edf3fd40f1"),
}


@pytest.mark.slow
def test_snapshot_build_matches_swap_build(snap_wh):
    """Same model outputs as the swap layout built from the same inputs."""
    got = {}
    for table in SWAP_BUILD_ROWS:
        rows = sorted(
            map(repr, snap_wh.read("analytics", table).drop("_month").collect())
        )
        got[table] = (len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16])
    assert got == SWAP_BUILD_ROWS
    # and the layout really is manifest-addressed
    assert os.path.exists(
        os.path.join(snap_wh.path("analytics", "fct_validated_trxns"), "_latest")
    )


def test_serving_read_concurrent_with_full_refresh_is_pinned(spark, snap_wh):
    """The r5 'Done' criterion: a reader holding the pre-build version
    sees it bit-for-bit after a full-refresh build commits a new one.
    Covers both manifest shapes: file-list (fct_validated_trxns) and
    partitioned commit-dir (fct_trxns_categorized)."""
    validated_before = snap_wh.read("analytics", "fct_validated_trxns")
    uncategorized_before = snap_wh.read("analytics", "fct_trxns_uncategorized")
    want_validated = sorted(map(repr, validated_before.collect()))
    want_uncategorized = sorted(map(repr, uncategorized_before.collect()))

    _shrink_inputs(spark, snap_wh.root)
    build(snap_wh, full_refresh=True)

    # the pre-build DataFrames still resolve to the old version's files
    assert sorted(map(repr, validated_before.collect())) == want_validated
    assert sorted(map(repr, uncategorized_before.collect())) == want_uncategorized
    # while a fresh read sees the rebuilt tables
    after = sorted(map(repr, snap_wh.read("analytics", "fct_validated_trxns").collect()))
    assert after != want_validated
    after_unc = sorted(
        map(repr, snap_wh.read("analytics", "fct_trxns_uncategorized").collect())
    )
    assert len(after_unc) < len(want_uncategorized)  # ACT-A rows gone


@pytest.mark.slow
def test_reader_thread_never_sees_torn_table_during_rebuilds(spark, snap_wh):
    """A reader loop racing two full-refresh builds must only ever see
    a complete committed version (one of the two row multisets)."""
    before = sorted(map(repr, snap_wh.read("analytics", "fct_validated_trxns").collect()))
    _shrink_inputs(spark, snap_wh.root)
    build(snap_wh, full_refresh=True)
    after = sorted(map(repr, snap_wh.read("analytics", "fct_validated_trxns").collect()))
    assert before != after

    seen: list[list[str]] = []
    errors: list[Exception] = []
    stop = threading.Event()

    def reader():
        try:
            while not stop.is_set():
                seen.append(
                    sorted(
                        map(
                            repr,
                            snap_wh.read(
                                "analytics", "fct_validated_trxns"
                            ).collect(),
                        )
                    )
                )
        except Exception as e:  # surface in the main thread
            errors.append(e)

    t = threading.Thread(target=reader)
    t.start()
    try:
        for _ in range(2):  # rebuild back and forth under the reader
            FX.raw_simplefin(spark).write.mode("overwrite").parquet(
                f"{snap_wh.root}/public/simplefin"
            )
            build(snap_wh, full_refresh=True)
            _shrink_inputs(spark, snap_wh.root)
            build(snap_wh, full_refresh=True)
    finally:
        stop.set()
        t.join(timeout=120)
    assert not errors, errors
    assert seen  # the reader actually ran
    allowed = {tuple(before), tuple(after)}
    assert all(tuple(s) in allowed for s in seen)


def test_incremental_append_commits_new_version(spark, snap_wh):
    """The insert-only incremental path in snapshot mode: a new
    manifest version whose file list extends the old one; existing
    keys are never duplicated."""
    from doin_fine_ance__spark.operators.snapshot import SnapshotTable

    st = SnapshotTable(snap_wh.path("analytics", "fct_validated_trxns"))
    v1 = st.latest_version()
    ids_before = {
        r.transaction_id
        for r in snap_wh.read("analytics", "fct_validated_trxns").collect()
    }

    # a new user validation appears → incremental build appends it
    import datetime as dt

    uncategorized = snap_wh.read("analytics", "fct_trxns_uncategorized")
    pick = uncategorized.select("transaction_id").first()
    extra = spark.createDataFrame(
        [
            (
                pick.transaction_id, "Custom Category", None, None,
                True, False, "sam", dt.datetime(2024, 4, 1, 12, 0, 0),
            )
        ],
        FX.user_categories(spark).schema,
    )
    FX.user_categories(spark).unionByName(extra).write.mode("overwrite").parquet(
        f"{snap_wh.root}/public/user_categories"
    )
    build(snap_wh, full_refresh=False)

    v2 = st.latest_version()
    assert v2 > v1
    rows = snap_wh.read("analytics", "fct_validated_trxns").collect()
    ids_after = [r.transaction_id for r in rows]
    assert len(ids_after) == len(set(ids_after))  # no dup keys
    assert set(ids_after) == ids_before | {pick.transaction_id}
    # old files are still listed first (append, not rewrite)
    m1, m2 = st.manifest(v1), st.manifest(v2)
    assert m2["files"][: len(m1["files"])] == m1["files"]


def test_register_sql_catalog_on_snapshot_warehouse(spark, snap_wh):
    registered = register_sql_catalog(snap_wh)
    assert "analytics.fct_validated_trxns" in registered
    n_sql = spark.sql(
        "SELECT count(*) AS c FROM analytics.fct_validated_trxns"
    ).first()["c"]
    assert n_sql == snap_wh.read("analytics", "fct_validated_trxns").count()
    # partitioned mart keeps pruning through the catalog
    n_cat = spark.sql(
        "SELECT count(*) AS c FROM analytics.fct_trxns_categorized"
    ).first()["c"]
    assert n_cat == snap_wh.read("analytics", "fct_trxns_categorized").count()


@pytest.mark.slow
def test_rebuild_past_retention_drops_old_versions_keeps_current(spark, snap_wh, clock):
    """Retention through the warehouse: a rebuild committed past the
    retention window deletes the versions superseded before it, keeps
    the one it just superseded, and the current version reads back;
    plain-parquet inputs are never committed or deleted."""
    import glob

    from doin_fine_ance__spark.operators.snapshot import (
        RETAIN_SUPERSEDED_S,
        SnapshotTable,
    )

    expected = sorted(map(repr, snap_wh.read("analytics", "fct_validated_trxns").collect()))
    _shrink_inputs(spark, snap_wh.root)
    build(snap_wh, full_refresh=True)
    clock[0] += RETAIN_SUPERSEDED_S + 1
    FX.raw_simplefin(spark).write.mode("overwrite").parquet(
        f"{snap_wh.root}/public/simplefin"
    )
    build(snap_wh, full_refresh=True)

    table_root = snap_wh.path("analytics", "fct_validated_trxns")
    st = SnapshotTable(table_root)
    latest = st.latest_version()
    assert latest >= 3
    # the current version reads bit-identically to the first build of
    # the same inputs
    after = sorted(map(repr, snap_wh.read("analytics", "fct_validated_trxns").collect()))
    assert after == expected
    # exactly the live version's and its predecessor's commit dirs remain
    assert sorted(os.listdir(os.path.join(table_root, "_manifests"))) == [
        f"v{v:06d}.json" for v in (latest - 1, latest)
    ]
    live_dirs = set(st.commit_dirs(latest)) | set(st.commit_dirs(latest - 1))
    assert set(glob.glob(f"{table_root}/data/*")) == live_dirs
    # plain-parquet (non-manifest) inputs: never committed, never deleted
    simplefin = snap_wh.path("public", "simplefin")
    assert SnapshotTable(simplefin).latest_version() == 0
    assert snap_wh.read("public", "simplefin").count() == FX.raw_simplefin(spark).count()


def test_catalog_view_over_append_manifest_unions_by_name(spark, tmp_path):
    """ADVICE r6: the catalog view over an append manifest's commit
    dirs must union BY NAME — a later commit written with a different
    column order must not misalign (or error out of) the union."""
    from doin_fine_ance__spark.operators.snapshot import SnapshotTable

    root = str(tmp_path / "wh2")
    tdir = os.path.join(root, "analytics", "applog")
    os.makedirs(os.path.dirname(tdir), exist_ok=True)
    st = SnapshotTable(tdir)
    st.commit_overwrite(
        spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, label string")
    )
    # second commit arrives with the columns REVERSED
    st.commit_append(
        spark.createDataFrame([("c", 3)], "label string, id bigint")
    )
    wh = Warehouse(spark, root)
    assert "analytics.applog" in register_sql_catalog(wh)
    got = {
        (r["id"], r["label"])
        for r in spark.sql("SELECT id, label FROM analytics.applog").collect()
    }
    assert got == {(1, "a"), (2, "b"), (3, "c")}


@pytest.mark.slow
def test_rebuild_repoints_registered_catalog_entry_past_retention(spark, snap_wh, clock):
    """VERDICT r7 #8 contract: a REGISTERED snapshot table always
    serves the latest published version — each rebuild commit itself
    re-points the catalog entry, so a rebuild whose retention deletes
    the commit dirs the entry first bound to leaves catalog reads
    working."""
    from doin_fine_ance__spark.operators.snapshot import (
        RETAIN_SUPERSEDED_S,
        SnapshotTable,
    )

    register_sql_catalog(snap_wh)
    st = SnapshotTable(snap_wh.path("analytics", "fct_validated_trxns"))
    first_dirs = st.commit_dirs()
    assert first_dirs
    _shrink_inputs(spark, snap_wh.root)
    build(snap_wh, full_refresh=True)
    clock[0] += RETAIN_SUPERSEDED_S + 1
    build(snap_wh, full_refresh=True)
    # the pre-rebuild version really was dropped
    assert not any(os.path.exists(d) for d in first_dirs)
    n_sql = spark.sql(
        "SELECT count(*) AS c FROM analytics.fct_validated_trxns"
    ).first()["c"]
    assert n_sql == snap_wh.read("analytics", "fct_validated_trxns").count()


def test_catalog_view_append_schema_evolution_nullfills(spark, tmp_path):
    """ADVICE r7: commit-dir names are uuid hex — no dir listing is
    temporal. The view's column list must come from the manifest's
    recorded schema (the union-by-name of every version's columns),
    and commits that predate a column NULL-fill it at its recorded
    type."""
    from doin_fine_ance__spark.operators.snapshot import SnapshotTable

    root = str(tmp_path / "wh3")
    tdir = os.path.join(root, "analytics", "evolving")
    os.makedirs(os.path.dirname(tdir), exist_ok=True)
    st = SnapshotTable(tdir)
    st.commit_overwrite(
        spark.createDataFrame([(1, "a")], "id bigint, label string")
    )
    # later appends ADD a column, then DROP one from their own frame
    st.commit_append(
        spark.createDataFrame(
            [(2, "b", 9.5)], "id bigint, label string, score double"
        )
    )
    st.commit_append(spark.createDataFrame([(3,)], "id bigint"))
    # the manifest schema is the running union-by-name
    import json as _json

    from pyspark.sql.types import StructType

    mschema = StructType.fromJson(_json.loads(st.manifest()["schema"]))
    assert [f.name for f in mschema.fields] == ["id", "label", "score"]
    wh = Warehouse(spark, root)
    assert "analytics.evolving" in register_sql_catalog(wh)
    got = {
        (r["id"], r["label"], r["score"])
        for r in spark.sql(
            "SELECT id, label, score FROM analytics.evolving"
        ).collect()
    }
    assert got == {(1, "a", None), (2, "b", 9.5), (3, None, None)}


def test_register_empty_partitioned_snapshot_table(spark, tmp_path):
    """ADVICE r7 companion: registering a committed EMPTY partitioned
    table must produce a typed zero-row relation, not fail parquet
    schema inference on a dir with no data files."""
    from doin_fine_ance__spark.operators.snapshot import SnapshotTable

    root = str(tmp_path / "wh4")
    tdir = os.path.join(root, "analytics", "emptypart")
    os.makedirs(os.path.dirname(tdir), exist_ok=True)
    SnapshotTable(tdir).commit_overwrite(
        spark.createDataFrame([], "id bigint, label string, day date"),
        partition_by="day",
    )
    wh = Warehouse(spark, root)
    assert "analytics.emptypart" in register_sql_catalog(wh)
    df = spark.sql("SELECT id, label, day FROM analytics.emptypart")
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["id", "label", "day"]


def test_catalog_view_casts_retyped_columns_to_manifest_type(spark, tmp_path):
    """ADVICE r8: commit_append supports re-typing ("a re-typed column
    takes the newest type"), so an old commit dir holds the column at
    its OLD parquet type. The catalog view must CAST present columns
    to the manifest's recorded type too — otherwise UNION ALL's
    implicit coercion decides the view type (string ∪ bigint → string,
    diverging from the recorded bigint)."""
    import json as _json

    from pyspark.sql.types import StructType

    from doin_fine_ance__spark.operators.snapshot import SnapshotTable

    root = str(tmp_path / "wh5")
    tdir = os.path.join(root, "analytics", "retyped")
    os.makedirs(os.path.dirname(tdir), exist_ok=True)
    st = SnapshotTable(tdir)
    st.commit_overwrite(
        spark.createDataFrame([(1, "10")], "id bigint, val string")
    )
    st.commit_append(
        spark.createDataFrame([(2, 20)], "id bigint, val bigint")
    )
    mschema = StructType.fromJson(_json.loads(st.manifest()["schema"]))
    assert dict((f.name, f.dataType.simpleString()) for f in mschema.fields) == {
        "id": "bigint",
        "val": "bigint",
    }
    wh = Warehouse(spark, root)
    assert "analytics.retyped" in register_sql_catalog(wh)
    df = spark.sql("SELECT id, val FROM analytics.retyped")
    # the view serves the RECORDED type, not the union-coerced one
    assert df.schema["val"].dataType.simpleString() == "bigint"
    assert {(r["id"], r["val"]) for r in df.collect()} == {(1, 10), (2, 20)}
