"""Serving-layer semantics: view modes, search, sorts, pagination,
override upsert, category catalog, connection health."""

from __future__ import annotations

import datetime as dt

import pytest

from doin_fine_ance__spark.plans.build import Warehouse, build
from doin_fine_ance__spark.serving import (
    ReservedCategoryError,
    categorize_transaction,
    connection_health,
    create_category,
    distinct_validated_categories,
    get_active_category_names,
    get_transactions_filtered,
    list_validated_transactions,
    transaction_overlay,
)
from doin_fine_ance__spark.serving.categories import ensure_default_categories
from doin_fine_ance__spark.serving.transactions import bulk_categorize
from doin_fine_ance__spark.sources import fixtures as FX


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("warehouse"))
    FX.write_warehouse_inputs(spark, root)
    w = Warehouse(spark, root)
    build(w, full_refresh=True)
    return w


@pytest.fixture(scope="module")
def overlay(spark, wh):
    return transaction_overlay(
        wh.read("analytics", "fct_trxns_with_predictions"),
        wh.read("public", "user_categories"),
    ).cache()


def test_view_mode_unvalidated_predicted(overlay):
    page = get_transactions_filtered(overlay, view_mode="unvalidated_predicted")
    rows = page.rows
    assert page.total_count == len(rows) > 0
    for r in rows:
        assert not r["validated"]
        assert r["predicted_master_category"] not in (None, "UNCERTAIN")


def test_view_mode_unvalidated_unpredicted(overlay):
    rows = get_transactions_filtered(
        overlay, view_mode="unvalidated_unpredicted"
    ).rows
    assert rows
    for r in rows:
        assert r["predicted_master_category"] in (None, "UNCERTAIN")


def test_low_confidence_exclusion(overlay):
    base = get_transactions_filtered(overlay, view_mode="unvalidated_predicted")
    excl = get_transactions_filtered(
        overlay, view_mode="unvalidated_predicted", exclude_low_confidence=True
    )
    # TRN-011 (0.20) drops below the 0.35 threshold
    assert excl.total_count < base.total_count
    for r in excl.rows:
        conf = r["prediction_confidence"]
        assert conf is None or float(conf) >= 0.35


def test_description_search_ilike(overlay):
    page = get_transactions_filtered(overlay, description_search="metro")
    rows = page.rows
    assert rows and all("METRO" in r["description"].upper() for r in rows)


def test_sort_allowlist_falls_back(overlay):
    page = get_transactions_filtered(overlay, sort_by="evil; DROP TABLE", limit=5)
    dates = [r["transacted_date"] for r in page.rows]
    non_null = [d for d in dates if d is not None]
    assert non_null == sorted(non_null, reverse=True)  # default transacted_date DESC


def test_pagination_disjoint_and_ordered(overlay):
    p1 = get_transactions_filtered(overlay, limit=3, offset=0).rows
    p2 = get_transactions_filtered(overlay, limit=3, offset=3).rows
    ids1 = {r["transaction_id"] for r in p1}
    ids2 = {r["transaction_id"] for r in p2}
    assert ids1.isdisjoint(ids2)


def test_categorize_upsert_roundtrip(spark, wh):
    path = wh.path("public", "user_categories")
    before = wh.read("public", "user_categories").count()
    categorize_transaction(
        spark, path, "TRN-002", "Transportation", validated=True,
        now=dt.datetime(2024, 3, 10, 10, 0, 0),
    )
    after = wh.read("public", "user_categories")
    assert after.count() == before + 1
    # update the same id: no row growth, category changes
    categorize_transaction(
        spark, path, "TRN-002", "Fun!™", notes="actually fun",
        now=dt.datetime(2024, 3, 11, 10, 0, 0),
    )
    final = wh.read("public", "user_categories")
    assert final.count() == before + 1
    row = final.filter("transaction_id = 'TRN-002'").collect()[0]
    assert row.master_category == "Fun!™"
    assert row.notes == "actually fun"
    assert row.validated  # preserved from the first write


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        fn()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None, False)


def test_override_writes_job_counts(spark, tmp_path):
    """Override writes build their update side as a local relation,
    resolve the existing row inside the merge (no separate collect),
    and read the manifest table with its recorded schema. The single
    write pays one schema-inference job, because its table starts as
    plain parquet; the bulk write runs on the manifest it published.
    A separate existing-row collect and an inferring merge read cost
    4 and 3 jobs; the list-built update, 7 and 5."""
    path = str(tmp_path / "user_categories")
    FX.user_categories(spark).write.parquet(path)
    single = _jobs(spark, "categorize_existing", lambda: categorize_transaction(
        spark, path, "TRN-030", "Groceries", notes="job pin",
        now=dt.datetime(2024, 3, 12, 10, 0, 0),
    ))
    bulk = _jobs(spark, "bulk_categorize", lambda: bulk_categorize(
        spark, path,
        [{"transaction_id": "TRN-031", "master_category": "Gas"},
         {"transaction_id": "TRN-NEW", "master_category": "Gas"}],
        now=dt.datetime(2024, 3, 12, 11, 0, 0),
    ))
    assert (single, bulk) == (3, 2)


def test_list_routes_job_counts(spark, tmp_path):
    """Each list request collects its page and total in one action: a
    window pass (its exchange and its result stage, 2 jobs) over the
    warm cached overlay, the same at offset 0, mid-list and past the
    end. The validated list also reads its mart and the overrides
    table: 4 jobs while that table is the seeded plain parquet (one
    schema-inference job), 3 once an override write has committed it
    as a manifest table. With a separate count() action the list cost
    3 jobs (4 past the end) and the validated list 6 and 5."""
    from doin_fine_ance__spark.serving.http_api import ServingApp

    root = str(tmp_path / "wh")
    FX.write_warehouse_inputs(spark, root)
    build(Warehouse(spark, root), full_refresh=True)
    app = ServingApp(spark, root)

    def validated(group):
        return _jobs(spark, group, lambda: app.route(
            "GET", "/api/validated", {"limit": ["2"], "offset": ["2"]}, {}
        ))

    assert validated("validated_plain_overrides") == 4
    ids = [t["transaction_id"] for t in
           app.route("GET", "/api/transactions", {}, {})["transactions"]]
    app.route("POST", f"/api/transactions/{ids[0]}/categorize", {},
              {"master_category": "Groceries"})
    assert validated("validated_manifest_overrides") == 3
    app.route("GET", "/api/transactions", {}, {})  # warm the overlay cache
    counts = {
        offset: _jobs(spark, f"list_offset_{offset}", lambda o=offset: app.route(
            "GET", "/api/transactions", {"limit": ["3"], "offset": [str(o)]}, {}
        ))
        for offset in (0, 3, 10_000)
    }
    assert counts == {0: 2, 3: 2, 10_000: 2}


def test_overlay_follows_commits_made_outside_the_app(spark, tmp_path):
    """A commit that never reaches the app's own write handlers (a
    build or predict rewriting the marts, another server process's
    override write) shows on the app's next read, as it does on a
    fresh app's."""
    from pyspark.sql import functions as F

    from doin_fine_ance__spark.serving.http_api import ServingApp

    root = str(tmp_path / "wh")
    FX.write_warehouse_inputs(spark, root)
    w = Warehouse(spark, root)
    build(w, full_refresh=True)
    app = ServingApp(spark, root)
    first = app.route("GET", "/api/transactions", {"limit": ["100"]}, {})
    total = first["total_count"]
    dropped = first["transactions"][0]["transaction_id"]

    marts = w.read("analytics", "fct_trxns_with_predictions")
    w.write(marts.filter(F.col("transaction_id") != dropped),
            "analytics", "fct_trxns_with_predictions")
    fresh = ServingApp(spark, root).route("GET", "/api/transactions", {}, {})
    assert fresh["total_count"] == total - 1
    assert app.route("GET", "/api/transactions", {}, {})["total_count"] == total - 1

    target = first["transactions"][1]["transaction_id"]
    ServingApp(spark, root).route(
        "POST", f"/api/transactions/{target}/categorize", {},
        {"master_category": "Rent"})
    got = app.route("GET", f"/api/transactions/{target}", {}, {})
    assert (got["master_category"], got["validated"]) == ("Rent", True)


@pytest.fixture(scope="module")
def built_root(spark, tmp_path_factory):
    """A built fixture warehouse that tests copy before writing to it
    (manifests record paths relative to the table root)."""
    root = str(tmp_path_factory.mktemp("built") / "wh")
    FX.write_warehouse_inputs(spark, root)
    build(Warehouse(spark, root), full_refresh=True)
    return root


def _app_over_copy(spark, built_root, tmp_path):
    import shutil

    from doin_fine_ance__spark.serving.http_api import ServingApp

    root = str(tmp_path / "wh")
    shutil.copytree(built_root, root)
    return ServingApp(spark, root)


HEALTH = "/api/control-center/connection-health"
PREDICTED = "/api/transactions/categories/list"


def test_memoized_routes_run_no_jobs_until_an_input_moves(spark, built_root, tmp_path):
    """Connection health and predicted categories read no user-written
    table: a repeated call returns the memoized rows without a Spark
    job, and an override write (which moves only the overrides table)
    leaves predicted categories memoized."""
    app = _app_over_copy(spark, built_root, tmp_path)
    health = app.route("GET", HEALTH, {}, {})
    predicted = app.route("GET", PREDICTED, {}, {})
    assert health and predicted
    assert _jobs(spark, "health_again", lambda: app.route("GET", HEALTH, {}, {})) == 0
    assert _jobs(spark, "predicted_again", lambda: app.route("GET", PREDICTED, {}, {})) == 0
    tid = app.route("GET", "/api/transactions", {}, {})["transactions"][0]["transaction_id"]
    app.route("POST", f"/api/transactions/{tid}/categorize", {}, {"master_category": "Rent"})
    after_write = []
    assert _jobs(spark, "predicted_after_write", lambda: after_write.append(
        app.route("GET", PREDICTED, {}, {}))) == 0
    assert after_write == [predicted]


def test_health_follows_a_landing_append(spark, built_root, tmp_path):
    """An ingest commits a landing version, so the same app's next
    health call shows the new account."""
    from doin_fine_ance__spark.schemas import RAW_SIMPLEFIN
    from doin_fine_ance__spark.session import local_frame
    from doin_fine_ance__spark.sources.simplefin import append_to_landing

    app = _app_over_copy(spark, built_root, tmp_path)
    before = app.route("GET", HEALTH, {}, {})
    assert "New Card Co" not in {r["institution_name"] for r in before}
    row = ("TRN-900", "ACT-NEW", "Rewards Card", "card.example", "New Card Co", None,
           1709200000, "2024-02-29T00:00:00", 1709200000, "2024-02-29", "NEW CARD ROW",
           False, "2024-03-01T06:00:00", "2024-03-01", None)
    append_to_landing(local_frame(spark, [row], RAW_SIMPLEFIN),
                      app.wh.path("public", "simplefin"))
    after = app.route("GET", HEALTH, {}, {})
    assert len(after) == len(before) + 1
    new = [r for r in after if r["institution_name"] == "New Card Co"]
    assert [(r["account_name"], r["transaction_count"]) for r in new] == [("Rewards Card", 1)]


def test_predicted_categories_follow_a_mart_commit(spark, built_root, tmp_path):
    """A build or predict commits the marts outside the app; the same
    app's next categories call shows a new predicted category, as a
    fresh app's does."""
    from pyspark.sql import functions as F

    from doin_fine_ance__spark.serving.http_api import ServingApp

    app = _app_over_copy(spark, built_root, tmp_path)
    before = app.route("GET", PREDICTED, {}, {})
    assert "Pets" not in before
    marts = app.wh.read("analytics", "fct_trxns_with_predictions")
    first = marts.orderBy("transaction_id").first()["transaction_id"]
    app.wh.write(marts.withColumn("predicted_master_category", F.when(
        F.col("transaction_id") == first, F.lit("Pets")
    ).otherwise(F.col("predicted_master_category"))),
        "analytics", "fct_trxns_with_predictions")
    fresh = ServingApp(spark, app.wh.root).route("GET", PREDICTED, {}, {})
    assert "Pets" in fresh
    assert app.route("GET", PREDICTED, {}, {}) == fresh


def test_concurrent_cold_overlay_reads_build_once(spark, built_root, tmp_path, monkeypatch):
    """Two requests that miss the cold overlay at once share one build:
    the second waits for the first's entry instead of building (and
    caching) its own and then releasing a value the first still uses."""
    import threading
    import time

    from doin_fine_ance__spark.serving import http_api, transactions

    app = _app_over_copy(spark, built_root, tmp_path)
    builds, released = [], []
    build_overlay = transactions.transaction_overlay

    def slow_build(*args):
        builds.append(1)
        time.sleep(0.5)  # both requests arrive inside the build
        return build_overlay(*args)

    monkeypatch.setattr(transactions, "transaction_overlay", slow_build)
    monkeypatch.setattr(http_api, "_release", released.append)
    start = threading.Barrier(2)
    got = []

    def read():
        start.wait()
        got.append(app.overlay())

    threads = [threading.Thread(target=read) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(builds) == 1 and released == []
    assert got[0] is got[1]


def test_catalog_follows_an_external_reload(spark, built_root, tmp_path):
    """public.categories is loaded from outside the engine as plain
    parquet, which publishes no version: the same app shows a reloaded
    catalog on its next request."""
    from doin_fine_ance__spark.schemas import CATEGORIES
    from doin_fine_ance__spark.session import local_frame

    app = _app_over_copy(spark, built_root, tmp_path)
    path = app.wh.path("public", "categories")

    def load(name):
        catalog = local_frame(spark, [(name, False, True, None)], CATEGORIES)
        catalog.write.mode("overwrite").parquet(path)

    load("Pets")
    assert "Pets" in app.route("GET", "/api/categories", {}, {})
    load("Llamas")
    after = app.route("GET", "/api/categories", {}, {})
    assert "Llamas" in after and "Pets" not in after


def test_serving_reads_survive_concurrent_writes(spark, tmp_path):
    """One thread reads lists through the route table while another
    posts override writes: every read sees one whole version of the
    overrides table, so none fails, and the writes are read back."""
    import threading

    from doin_fine_ance__spark.serving.http_api import ServingApp

    root = str(tmp_path / "wh")
    FX.write_warehouse_inputs(spark, root)
    build(Warehouse(spark, root), full_refresh=True)
    app = ServingApp(spark, root)
    ids = [t["transaction_id"] for t in
           app.route("GET", "/api/transactions", {"limit": ["100"]}, {})["transactions"]]
    written: dict[str, str] = {}
    errors: list[BaseException] = []
    reads = [0]
    done = threading.Event()

    def reader():
        try:
            while not done.is_set():
                app.route("GET", "/api/transactions", {"limit": ["20"]}, {})
                app.route("GET", "/api/validated", {}, {})
                reads[0] += 1
        except BaseException as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    t = threading.Thread(target=reader)
    t.start()
    try:
        for i in range(20):
            txn_id, category = ids[i % len(ids)], f"Category {i}"
            app.route("POST", f"/api/transactions/{txn_id}/categorize", {},
                      {"master_category": category})
            written[txn_id] = category
    finally:
        done.set()
        t.join(timeout=120)
    assert not errors, errors
    assert reads[0] > 0
    for txn_id, category in written.items():
        got = app.route("GET", f"/api/transactions/{txn_id}", {}, {})
        assert (got["master_category"], got["validated"]) == (category, True)


def test_validated_listing_and_filters(spark, wh):
    val = wh.read("analytics", "fct_validated_trxns")
    uc = wh.read("public", "user_categories")
    page = list_validated_transactions(val, uc, category="Groceries")
    rows = page.rows
    assert rows and all(r["master_category"] == "Groceries" for r in rows)
    # exclude_from_forecast overlay: TRN-033 flagged true in fixtures
    all_rows = list_validated_transactions(val, uc, limit=100).rows
    flags = {r["transaction_id"]: r["exclude_from_forecast"] for r in all_rows}
    assert flags.get("TRN-033") is True
    cats = [r.master_category for r in distinct_validated_categories(val).collect()]
    assert cats == sorted(cats)


def test_category_catalog_semantics(spark):
    catalog = ensure_default_categories(spark, None, now=dt.datetime(2024, 1, 1))
    assert len(get_active_category_names(catalog)) == 19
    with pytest.raises(ReservedCategoryError):
        create_category(spark, catalog, "uncertain")
    grown = create_category(spark, catalog, "Pets", now=dt.datetime(2024, 1, 2))
    assert "Pets" in get_active_category_names(grown)
    # re-adding existing is a no-op reactivation, not a duplicate
    again = create_category(spark, grown, "Pets")
    assert again.filter("name = 'Pets'").count() == 1


def test_connection_health_rollup(spark, wh):
    from pyspark.sql.functions import col

    raw = (
        wh.read("public", "simplefin")
        .withColumn("import_timestamp", col("import_timestamp").cast("timestamp"))
        .withColumn("transacted_date", col("transacted_date").cast("date"))
    )
    health = connection_health(raw).collect()
    assert health
    keys = [(r.institution_name, r.account_name) for r in health]
    # normalized: 'Savings Account (1234)' collapses into 'Savings Account'
    names = {k[1] for k in keys}
    assert "Savings Account (1234)" not in names
    assert "Savings Account" in names


def _reference_page(overlay, limit, offset):
    """The reference's two queries, inline: COUNT(*) of the filtered
    set and its offset page under the list's default order."""
    from pyspark.sql import functions as F

    from doin_fine_ance__spark.operators.pagination import paginate

    order = [F.col("transacted_date").desc_nulls_last(), F.col("transaction_id").asc()]
    page = paginate(overlay, order, limit=limit, offset=offset).collect()
    return overlay.count(), [r["transaction_id"] for r in page]


def test_list_page_matches_count_and_offset_reference(overlay):
    got = get_transactions_filtered(overlay, limit=10, offset=3)
    total, ids = _reference_page(overlay, limit=10, offset=3)
    assert got.total_count == total
    assert [r["transaction_id"] for r in got.rows] == ids
    assert all("__total" not in r and "__rn" not in r for r in got.rows)


def test_list_page_past_the_end_still_returns_total(overlay):
    # the rn==1 sentinel carries the total; no second count() job
    got = get_transactions_filtered(overlay, limit=10, offset=10_000)
    total, ids = _reference_page(overlay, limit=10, offset=10_000)
    assert got.total_count == total > 0
    assert got.rows == [] == ids


def test_collect_page_with_total_edges(spark):
    from pyspark.sql import functions as F

    from doin_fine_ance__spark.operators.pagination import (
        collect_page_with_total,
    )

    df = spark.range(25).select(F.col("id"))
    order = [F.col("id").asc()]
    # first page: sentinel row is also a page row — no duplication
    total, page = collect_page_with_total(df, order, limit=10, offset=0)
    assert total == 25
    assert [r["id"] for r in page] == list(range(10))
    # past the end: total still exact, page empty
    total, page = collect_page_with_total(df, order, limit=10, offset=100)
    assert (total, page) == (25, [])
    # empty input: zero total without any fallback
    total, page = collect_page_with_total(
        df.filter(F.col("id") < 0), order, limit=10, offset=0
    )
    assert (total, page) == (0, [])
    # helper columns never leak
    total, page = collect_page_with_total(df, order, limit=3, offset=20)
    assert [r["id"] for r in page] == [20, 21, 22]
    assert all(set(r) == {"id"} for r in page)
