"""SimpleFIN ingest invariants — ports of the reference's own tests
(dagster/tests/test_simplefin_retry.py) plus the windowing/dedup logic."""

from __future__ import annotations

import datetime as dt

from doin_fine_ance__spark.schemas import NUMERICAL_FEATURES, TEXT_FEATURE
from doin_fine_ance__spark.sources.simplefin import (
    RetryPolicy,
    append_to_landing,
    extract_simplefin,
    request_windows,
)

NOW = dt.datetime(2024, 3, 1, 12, 0, 0)


def _payload(window_idx: int) -> dict:
    """Two accounts; the same transaction id appears in EVERY window
    (overlapping windows re-serve rows) plus one unique row per window."""
    return {
        "accounts": [
            {
                "id": "ACT-1",
                "name": "Checking",
                "org": {"name": "Example Bank", "domain": "bank.example"},
                "transactions": [
                    {"id": "TRN-REPEAT", "amount": "-10.00", "posted": 1709200000,
                     "transacted_at": 1709100000, "description": "REPEATED ROW"},
                    {"id": f"TRN-W{window_idx}", "amount": "-1.50",
                     "posted": 1709200000 + window_idx,
                     "transacted_at": 1709100000 + window_idx,
                     "description": f"WINDOW {window_idx} ROW",
                     "extra": {"k": window_idx}},
                ],
            },
            {"id": "ACT-2", "name": "Savings", "org": {"name": "Example Bank"},
             "transactions": []},
        ]
    }


# --- retry policy (reference test_simplefin_retry.py:5-31) ---------------


def test_retry_policy_totals_and_backoff():
    p = RetryPolicy()
    assert p.total == 5
    assert p.backoff_factor > 0
    assert [p.backoff_seconds(i) for i in range(4)] == [0.0, 1.0, 2.0, 4.0]


def test_retries_transient_not_auth():
    p = RetryPolicy()
    for status in (429, 500, 502, 503, 504):
        assert p.should_retry(status, attempt=0), status
    for status in (402, 403):
        assert not p.should_retry(status, attempt=0), status
    assert not p.should_retry(429, attempt=5)  # budget exhausted


# --- feature-list invariants (reference test_common.py:5-54) -------------


def test_feature_contract_invariants():
    assert TEXT_FEATURE == "combined_text"
    assert len(NUMERICAL_FEATURES) == 14
    assert len(set(NUMERICAL_FEATURES)) == len(NUMERICAL_FEATURES)
    assert sum(1 for f in NUMERICAL_FEATURES if f.startswith("has_")) == 9


# --- windowing + extraction ----------------------------------------------


def test_request_windows_cover_lookback_in_45day_chunks():
    ws = request_windows(NOW)
    assert len(ws) == 5  # ceil(200/45)
    assert ws[0][0] == NOW - dt.timedelta(days=200)
    assert ws[-1][1] == NOW
    for s, e in ws:
        assert (e - s).days <= 45
    # contiguous, no gaps
    for (s1, e1), (s2, e2) in zip(ws, ws[1:]):
        assert e1 == s2


def test_extract_dedups_across_windows(spark):
    calls = []

    def fetch(start, end):
        calls.append((start, end))
        return _payload(len(calls))

    df = extract_simplefin(spark, fetch, now=NOW)
    rows = df.collect()
    assert len(calls) == 5
    ids = [r.transaction_id for r in rows]
    # TRN-REPEAT served 5 times but landed once; one unique row per window
    assert ids.count("TRN-REPEAT") == 1
    assert len(ids) == 6
    by_id = {r.transaction_id: r for r in rows}
    assert by_id["TRN-W1"].extra == '{"k": 1}'  # dict extra JSON-encoded
    assert by_id["TRN-REPEAT"].import_timestamp == NOW.isoformat()
    assert str(by_id["TRN-REPEAT"].amount) == "-10.00"


def test_window_params_flags():
    """P10 (simplefin_api.py:111-113 TODOs): pending=1 and
    balances-only=1 are sent only when asked; date bounds are epoch
    seconds exactly as simplefin_api.py:145-148 builds them."""
    from doin_fine_ance__spark.sources.simplefin import window_params

    s, e = NOW - dt.timedelta(days=45), NOW
    base = window_params(s, e)
    assert base == {"start-date": int(s.timestamp()), "end-date": int(e.timestamp())}
    assert window_params(s, e, include_pending=True)["pending"] == 1
    assert window_params(s, e, balances_only=True)["balances-only"] == 1
    assert "pending" not in base and "balances-only" not in base


def _payload_with_pending() -> dict:
    p = _payload(1)
    p["accounts"][0]["transactions"].append(
        {"id": "TRN-PEND", "amount": "-3.00", "posted": 1709200009,
         "transacted_at": 1709100009, "description": "CARD HOLD", "pending": True}
    )
    return p


def test_extract_pending_flag(spark):
    """Default mirrors the API (no pending rows); include_pending=True
    sends pending=1 and keeps pending transactions."""
    sent = []

    def fetch(start, end, params):
        sent.append(params)
        return _payload_with_pending()

    df = extract_simplefin(spark, fetch, now=NOW)
    assert all("pending" not in p for p in sent)
    assert "TRN-PEND" not in [r.transaction_id for r in df.collect()]

    sent.clear()
    df2 = extract_simplefin(spark, fetch, now=NOW, include_pending=True)
    assert all(p["pending"] == 1 for p in sent)
    pend = [r for r in df2.collect() if r.transaction_id == "TRN-PEND"]
    assert len(pend) == 1 and pend[0].pending is True


def test_extract_balances_only(spark):
    """balances-only=1: one request, one row per account, RAW_BALANCES
    shape with quantized balances."""
    sent = []

    def fetch(start, end, params):
        sent.append(params)
        p = _payload(1)
        p["accounts"][0].update({"balance": "1234.5", "available-balance": "1200",
                                 "balance-date": 1709250000})
        p["accounts"][1].update({"balance": "-5", "balance-date": 1709250000})
        for a in p["accounts"]:
            a.pop("transactions")
        return p

    df = extract_simplefin(spark, fetch, now=NOW, balances_only=True)
    assert len(sent) == 1 and sent[0]["balances-only"] == 1
    rows = {r.account_id: r for r in df.collect()}
    assert set(rows) == {"ACT-1", "ACT-2"}
    assert str(rows["ACT-1"].balance) == "1234.50"
    assert str(rows["ACT-1"].available_balance) == "1200.00"
    assert rows["ACT-2"].available_balance is None
    assert rows["ACT-1"].balance_date == 1709250000
    assert rows["ACT-1"].import_date == NOW.date().isoformat()


def test_append_to_landing_commits_versions(spark, tmp_path):
    from doin_fine_ance__spark.operators.snapshot import SnapshotTable

    df = extract_simplefin(spark, lambda s, e: _payload(1), now=NOW)
    path = str(tmp_path / "landing")
    table = SnapshotTable(path)
    # raw zone is append-only: duplicates land, one version per append
    versions = []
    for _ in range(2):
        append_to_landing(df, path)
        versions.append(table.latest_version())
    assert versions == [1, 2]
    back = table.read(spark)
    assert back.count() == 2 * df.count()
    assert back.schema == df.schema


def test_append_to_landing_adopts_a_hive_partitioned_root(spark, tmp_path):
    """A landing root written as plain parquet partitioned by
    import_date reads that column back as a date (partition inference).
    The first append adopts it with the column cast back to the string
    RAW_SIMPLEFIN declares, so the old and new files read together
    under one recorded schema."""
    from pyspark.sql.types import DateType

    from doin_fine_ance__spark.operators.snapshot import SnapshotTable
    from doin_fine_ance__spark.schemas import RAW_SIMPLEFIN

    path = str(tmp_path / "landing")
    old = extract_simplefin(spark, lambda s, e: _payload(1), now=NOW - dt.timedelta(days=1))
    old.write.partitionBy("import_date").parquet(path)
    assert spark.read.parquet(path).schema["import_date"].dataType == DateType()
    new = extract_simplefin(spark, lambda s, e: _payload(2), now=NOW)
    append_to_landing(new, path)

    table = SnapshotTable(path)
    assert table.latest_version() == 2  # v1 adopts, v2 appends
    assert table.schema() == RAW_SIMPLEFIN
    back = table.read(spark)
    assert back.schema == RAW_SIMPLEFIN
    want = sorted(map(repr, old.unionByName(new).collect()))
    assert sorted(map(repr, back.collect())) == want
    dates = {r.import_date for r in back.select("import_date").distinct().collect()}
    assert dates == {(NOW - dt.timedelta(days=1)).date().isoformat(), NOW.date().isoformat()}
