"""Concurrent-writer guard on the parquet warehouse
(VERDICT r2 next-round #5).

The reference inherits read-modify-write atomicity from Postgres
transactions (ui/backend/services/transaction_service.py:78-126); a
manifest commit needs the explicit table lock of ``operators/upsert.py``
— one writer wins, the other raises ``ConcurrentWriteError`` (or waits,
with a timeout) instead of silently interleaving.
"""

from __future__ import annotations

import threading

import pytest

from doin_fine_ance__spark.operators.snapshot import SnapshotTable
from doin_fine_ance__spark.operators.upsert import (
    ConcurrentWriteError,
    merge_keyed,
    table_write_lock,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, ["transaction_id", "category"])


def test_second_writer_raises_while_lock_held(spark, tmp_path):
    path = str(tmp_path / "tbl")
    merge_keyed(spark, path, _df(spark, [(1, "a")]), "transaction_id")
    with table_write_lock(path):
        with pytest.raises(ConcurrentWriteError) as ei:
            merge_keyed(spark, path, _df(spark, [(2, "b")]), "transaction_id")
        assert "pid=" in str(ei.value)
        with pytest.raises(ConcurrentWriteError):
            SnapshotTable(path).commit_overwrite(_df(spark, [(3, "c")]))
        with pytest.raises(ConcurrentWriteError):
            SnapshotTable(path).commit_append(_df(spark, [(4, "d")]),
                                              dedup_key="transaction_id")
    # lock released → writes succeed again and no update was lost
    merge_keyed(spark, path, _df(spark, [(2, "b")]), "transaction_id")
    got = {tuple(r) for r in SnapshotTable(path).read(spark).collect()}
    assert got == {(1, "a"), (2, "b")}


def test_two_threads_one_wins_one_raises(spark, tmp_path):
    path = str(tmp_path / "tbl")
    merge_keyed(spark, path, _df(spark, [(1, "a")]), "transaction_id")

    in_lock = threading.Event()
    release = threading.Event()
    errors: list[Exception] = []

    def holder():
        # winner: holds the table lock across its read-modify-write
        # window while the loser attempts to start one
        with table_write_lock(path):
            in_lock.set()
            release.wait(timeout=30)
        merge_keyed(spark, path, _df(spark, [(2, "winner")]),
                    "transaction_id")

    t = threading.Thread(target=holder)
    t.start()
    try:
        assert in_lock.wait(timeout=30)
        try:
            merge_keyed(spark, path, _df(spark, [(3, "loser")]),
                        "transaction_id")
        except ConcurrentWriteError as e:
            errors.append(e)
    finally:
        release.set()
        t.join(timeout=60)
    assert len(errors) == 1, "second writer should have raised"
    got = {tuple(r) for r in SnapshotTable(path).read(spark).collect()}
    assert got == {(1, "a"), (2, "winner")}


def test_timeout_waits_for_release(spark, tmp_path):
    path = str(tmp_path / "tbl")

    def hold_briefly():
        with table_write_lock(path):
            threading.Event().wait(0.5)

    t = threading.Thread(target=hold_briefly)
    t.start()
    threading.Event().wait(0.1)  # ensure the holder acquired first
    # timeout larger than the hold → this writer queues, then wins
    merge_keyed(spark, path, _df(spark, [(1, "queued")]),
                "transaction_id", timeout=30.0)
    t.join(timeout=30)
    got = {tuple(r) for r in SnapshotTable(path).read(spark).collect()}
    assert got == {(1, "queued")}


def test_lock_cleaned_up_after_failure(spark, tmp_path):
    path = str(tmp_path / "tbl")
    with pytest.raises(Exception):
        with table_write_lock(path):
            raise RuntimeError("writer crashed mid-merge")
    # lock dir must be gone — next writer proceeds
    merge_keyed(spark, path, _df(spark, [(1, "a")]), "transaction_id")
    assert SnapshotTable(path).read(spark).count() == 1


def test_concurrent_categorize_requests_serialize(spark, tmp_path):
    """Two simultaneous HTTP-style override writes: the serving path
    polls the table lock (timeout=10 s), so both requests succeed
    serialized — like Postgres row locks — and both rows land."""
    import datetime as dt

    from doin_fine_ance__spark.serving.transactions import (
        categorize_transaction,
    )

    path = str(tmp_path / "user_categories")
    now = dt.datetime(2026, 8, 14, 12, 0, 0)
    errors: list[BaseException] = []

    def write(txn_id, cat):
        try:
            categorize_transaction(
                spark, path, txn_id, cat, updated_by="t", now=now
            )
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    threads = [
        threading.Thread(target=write, args=(f"TRN-{i}", "Groceries"))
        for i in range(3)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors
    rows = SnapshotTable(path).read(spark).collect()
    assert {r.transaction_id for r in rows} == {"TRN-0", "TRN-1", "TRN-2"}
    assert all(r.master_category == "Groceries" for r in rows)


def _interleave(name_a: str):
    """A wrapper factory forcing one order on two writers: the thread
    named ``name_a`` reaches the wrapped commit entry, then waits there
    until the other writer has committed."""
    a_waiting, b_done = threading.Event(), threading.Event()

    def wrap(real):
        def interleaved(*args, **kwargs):
            if threading.current_thread().name == name_a:
                a_waiting.set()
                assert b_done.wait(timeout=120)
            return real(*args, **kwargs)

        return interleaved

    return wrap, a_waiting, b_done


def _run_interleaved(a_waiting, b_done, write_a, write_b) -> None:
    errors: list[BaseException] = []

    def a():
        try:
            write_a()
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    t = threading.Thread(target=a, name="writer-a")
    t.start()
    try:
        assert a_waiting.wait(timeout=120), "writer A never reached the commit"
        write_b()
    finally:
        b_done.set()
        t.join(timeout=120)
    assert not errors, errors


def test_interleaved_override_writes_keep_both_fields(spark, tmp_path, monkeypatch):
    """A validate write and a notes write on one id: A has built its
    update when B commits, then A commits. Both fields must survive —
    A's keep-existing fields resolve against B's version, not against
    a row A read before it took the lock."""
    import datetime as dt

    from doin_fine_ance__spark.operators import upsert
    from doin_fine_ance__spark.plans.build import Warehouse
    from doin_fine_ance__spark.serving.transactions import categorize_transaction

    wh = Warehouse(spark, str(tmp_path))
    path = wh.path("public", "user_categories")
    now = dt.datetime(2026, 8, 14, 12, 0, 0)
    categorize_transaction(spark, path, "TRN-1", "Groceries", updated_by="t", now=now)
    wrap, a_waiting, b_done = _interleave("writer-a")
    monkeypatch.setattr(upsert, "merge_keyed", wrap(upsert.merge_keyed))
    _run_interleaved(
        a_waiting, b_done,
        lambda: categorize_transaction(spark, path, "TRN-1", "Groceries",
                                       validated=True, updated_by="a", now=now),
        lambda: categorize_transaction(spark, path, "TRN-1", "Groceries",
                                       notes="from b", updated_by="b", now=now),
    )
    rows = wh.read("public", "user_categories").collect()
    assert [(r.transaction_id, r.validated, r.notes, r.updated_by) for r in rows] == [
        ("TRN-1", True, "from b", "a")
    ]


def test_field_write_keeps_a_category_committed_while_it_waits(spark, tmp_path, monkeypatch):
    """A validate PUT reads the transaction, then is held inside the
    merge until a categorize to "Rent" commits. Its category is only
    the fallback for a transaction without an override, so the
    merge keeps "Rent" and sets the flag."""
    from doin_fine_ance__spark.operators import upsert
    from doin_fine_ance__spark.plans.build import Warehouse, build
    from doin_fine_ance__spark.serving.http_api import ServingApp
    from doin_fine_ance__spark.sources import fixtures as FX

    root = str(tmp_path / "wh")
    FX.write_warehouse_inputs(spark, root)
    build(Warehouse(spark, root), full_refresh=True)
    app = ServingApp(spark, root)
    listed = app.route("GET", "/api/transactions", {"limit": ["1"]}, {})["transactions"]
    txn = listed[0]["transaction_id"]
    assert listed[0]["master_category"] != "Rent"
    wrap, a_waiting, b_done = _interleave("writer-a")
    monkeypatch.setattr(upsert, "merge_keyed", wrap(upsert.merge_keyed))
    _run_interleaved(
        a_waiting, b_done,
        lambda: app.route("PUT", f"/api/transactions/{txn}/validate", {},
                          {"validated": True}),
        lambda: app.route("POST", f"/api/transactions/{txn}/categorize", {},
                          {"master_category": "Rent", "validated": False}),
    )
    got = app.route("GET", f"/api/transactions/{txn}", {}, {})
    assert (got["master_category"], got["validated"]) == ("Rent", True)


def test_interleaved_model_records_keep_both_rows(spark, tmp_path, monkeypatch):
    """Two registry records, forced to interleave the same way: the
    later commit's base must include the earlier one's row, and the
    flags follow commit order."""
    import datetime as dt

    from doin_fine_ance__spark.ml.registry import record_model

    path = str(tmp_path / "model_registry")
    ts = dt.datetime(2026, 8, 14, 12, 0, 0)
    record_model(spark, path, "v0", "trained", ts, file_path="/m/v0")
    wrap, a_waiting, b_done = _interleave("writer-a")
    monkeypatch.setattr(SnapshotTable, "commit_rewrite", wrap(SnapshotTable.commit_rewrite))
    _run_interleaved(
        a_waiting, b_done,
        lambda: record_model(spark, path, "vA", "trained", ts, file_path="/m/vA"),
        lambda: record_model(spark, path, "vB", "skipped", ts),
    )
    flags = {
        r.model_version: (r.is_latest, r.is_active)
        for r in SnapshotTable(path).read(spark).collect()
    }
    assert flags == {
        "v0": (False, False),
        "vB": (False, False),
        "vA": (True, True),
    }


def test_overlapping_model_records_wait_for_the_lock(spark, tmp_path, monkeypatch):
    """A record that starts while another holds the registry lock waits
    for it instead of failing, and its base includes the other's row."""
    import datetime as dt
    import time

    from doin_fine_ance__spark.ml.registry import record_model
    from doin_fine_ance__spark.operators import snapshot

    path = str(tmp_path / "model_registry")
    ts = dt.datetime(2026, 8, 14, 12, 0, 0)
    record_model(spark, path, "v0", "trained", ts, file_path="/m/v0")
    a_locked, b_trying = threading.Event(), threading.Event()
    real_lock, real_commit = snapshot.table_write_lock, SnapshotTable._commit

    def lock(*args, **kwargs):
        if threading.current_thread().name != "writer-a":
            b_trying.set()
        return real_lock(*args, **kwargs)

    def commit(self, *args, **kwargs):
        if threading.current_thread().name == "writer-a":
            a_locked.set()
            assert b_trying.wait(timeout=120)
            time.sleep(0.5)  # B is now polling the held lock
        return real_commit(self, *args, **kwargs)

    monkeypatch.setattr(snapshot, "table_write_lock", lock)
    monkeypatch.setattr(SnapshotTable, "_commit", commit)
    _run_interleaved(
        a_locked, b_trying,
        lambda: record_model(spark, path, "vA", "trained", ts, file_path="/m/vA"),
        lambda: record_model(spark, path, "vB", "skipped", ts),
    )
    flags = {
        r.model_version: (r.is_latest, r.is_active)
        for r in SnapshotTable(path).read(spark).collect()
    }
    assert flags == {
        "v0": (False, False),
        "vA": (False, True),
        "vB": (True, False),
    }


def test_concurrent_field_writes_on_one_id_all_land(spark, tmp_path):
    """More writers than cores, each setting a different field of one
    override row at once: every write resolves its kept fields under
    the table lock, so no field is lost to a concurrent writer."""
    import datetime as dt
    import sys

    from doin_fine_ance__spark.serving.transactions import categorize_transaction

    path = str(tmp_path / "user_categories")
    now = dt.datetime(2026, 8, 14, 12, 0, 0)
    categorize_transaction(spark, path, "TRN-1", "Groceries", updated_by="t", now=now)
    fields = {"source_category": "src", "notes": "n", "validated": True,
              "exclude_from_forecast": True}
    writes = [("TRN-1", {k: v}) for k, v in fields.items()] + [("TRN-2", {"notes": "other"})]
    errors: list[BaseException] = []

    def write(txn_id, kw):
        try:
            categorize_transaction(spark, path, txn_id, "Groceries", updated_by="t",
                                   now=now, **kw)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=write, args=w) for w in writes]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    rows = {r.transaction_id: r for r in SnapshotTable(path).read(spark).collect()}
    assert {k: getattr(rows["TRN-1"], k) for k in fields} == fields
    assert rows["TRN-2"].notes == "other"
