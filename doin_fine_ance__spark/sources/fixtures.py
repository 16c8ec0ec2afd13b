"""Deterministic finance-domain fixtures (FIXTURES.md A1-A9).

Hand-built rows (no RNG) engineered to exercise every staging
semantic: duplicated transaction_ids across import batches (W1),
reconnection duplicates across account_ids vs legitimate same-day
duplicates within one account (W4/W5), mask-suffix account names (F5),
exclusion-pattern hits (P4), disjunctive mapping matches (J1/J2),
exact-duplicate historic rows (W2), keyword/feature coverage (F4),
validated/unvalidated overrides (J3), stale + orphan predictions (W3).
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession

from .. import schemas
from ..session import local_frame


def _d(s: str) -> Decimal:
    return Decimal(s)


def raw_simplefin(spark: SparkSession) -> DataFrame:
    """public.simplefin landing rows (FIXTURES.md A1)."""
    base_posted = 1706745600  # 2024-02-01 00:00:00 UTC

    def row(
        tid,
        aid,
        aname,
        amount,
        desc,
        tdate,
        import_ts,
        inst="Example Bank",
        pending=False,
    ):
        return (
            tid,
            aid,
            aname,
            "www.example-bank.com",
            inst,
            _d(amount) if amount is not None else None,
            base_posted,
            f"{tdate}T00:00:00",
            base_posted,
            tdate,
            desc,
            pending,
            import_ts,
            import_ts[:10],
            None,
        )

    rows = [
        # W1: same transaction_id in two import batches — later wins.
        row("TRN-001", "ACT-A", "Checking", "-12.50", "STARBUCKS COFFEE #123",
            "2024-02-01", "2024-02-02T06:00:00"),
        row("TRN-001", "ACT-A", "Checking", "-12.50", "STARBUCKS COFFEE #123",
            "2024-02-01", "2024-02-03T06:00:00"),
        # Legitimate same-day duplicates WITHIN one account: distinct ids,
        # identical (inst, name, date, amount, desc) — must BOTH survive.
        row("TRN-002", "ACT-A", "Checking", "-4.00", "MUNI METRO FARE",
            "2024-02-05", "2024-02-06T06:00:00"),
        row("TRN-003", "ACT-A", "Checking", "-4.00", "MUNI METRO FARE",
            "2024-02-05", "2024-02-06T06:00:00"),
        # Reconnection duplicate ACROSS account ids: same logical txn under
        # ACT-B (old) and ACT-B2 (new, later import; name has mask suffix).
        # Only the ACT-B2 row survives.
        row("TRN-010", "ACT-B", "Savings Account", "-100.00", "ANNUAL MEMBERSHIP FEE",
            "2024-02-10", "2024-02-11T06:00:00"),
        row("TRN-011", "ACT-B2", "Savings Account (1234)", "-100.00", "ANNUAL MEMBERSHIP FEE",
            "2024-02-10", "2024-02-12T06:00:00"),
        # Exclusion-pattern hits (case-insensitive): dropped pre-dedup.
        row("TRN-020", "ACT-A", "Checking", "-500.00", "Online Transfer to Savings",
            "2024-02-07", "2024-02-08T06:00:00"),
        row("TRN-021", "ACT-A", "Checking", "-250.00", "AUTOPAY PAYMENT - THANK YOU",
            "2024-02-08", "2024-02-09T06:00:00"),
        # Keyword coverage rows.
        row("TRN-030", "ACT-A", "Checking", "-85.20", "SAFEWAY STORE 1234",
            "2024-02-12", "2024-02-13T06:00:00"),
        row("TRN-031", "ACT-A", "Checking", "-42.00", "SHELL GAS STATION",
            "2024-02-13", "2024-02-14T06:00:00"),
        row("TRN-032", "ACT-C", "Credit Card", "-650.00", "UNITED AIRLINES TICKET",
            "2024-02-14", "2024-02-15T06:00:00", inst="Example Card Co"),
        row("TRN-033", "ACT-C", "Credit Card", "-120.00", "HOTEL CALIFORNIA RESORT",
            "2024-02-15", "2024-02-16T06:00:00", inst="Example Card Co"),
        row("TRN-034", "ACT-C", "Credit Card", "2.15", "INTEREST PAYMENT",
            "2024-02-16", "2024-02-17T06:00:00", inst="Example Card Co"),
        # NULL institution (null-safe join paths) + NULL amount (ML filter).
        row("TRN-040", "ACT-D", "Brokerage", None, "DIVIDEND REINVEST",
            "2024-02-18", "2024-02-19T06:00:00", inst=None),
        # Mapped-by-specific-account-id row (disjunctive ON second arm).
        row("TRN-050", "ACT-E", "Checking", "-9.99", "NETFLIX.COM",
            "2024-02-19", "2024-02-20T06:00:00"),
    ]
    return local_frame(spark, rows, schemas.RAW_SIMPLEFIN)


def seed_account_mapping_simplefin(spark: SparkSession) -> DataFrame:
    """A3: one name mapped generically AND specifically (disjunctive ON)."""
    rows = [
        ("Checking", None, "Junior Checking"),
        ("Checking", "ACT-E", "Student Checking"),
        ("Savings Account", "", "Rainy Day Savings"),
        ("Credit Card", None, "Blue Cash Preferred"),
    ]
    return local_frame(spark, rows, schemas.SEED_ACCOUNT_MAPPING_SIMPLEFIN)


def seed_transaction_exclusions(spark: SparkSession) -> DataFrame:
    rows = [("%Transfer%",), ("%AUTOPAY PAYMENT%",), ("%Payment Thank You%",)]
    return local_frame(spark, rows, schemas.SEED_TRANSACTION_EXCLUSIONS)


def raw_historic(spark: SparkSession) -> DataFrame:
    """A2: historic CSV rows incl. exact duplicates and format edge cases."""
    rows = [
        ("2023-01-05", "WHOLE FOODS MARKET", _d("-55.25"), "Old Checking",
         "Groceries", None, "Groceries", "01/15/2023"),
        # exact duplicates (same name+amount+date+desc) → W2 disambiguation
        ("2023-01-10", "COFFEE SHOP", _d("-5.00"), "Old Checking",
         None, None, None, "01/15/2023"),
        ("2023-01-10", "COFFEE SHOP", _d("-5.00"), "Old Checking",
         None, None, None, "01/15/2023"),
        # mapping disambiguated by additional detail
        ("2023-02-01", "PAYCHECK", _d("3200.00"), "Shared Account",
         "Income", "Checking", "Income", "02/10/2023"),
        ("2023-02-02", "RENT PAYMENT", _d("-1800.00"), "Shared Account",
         "Rent", "Savings", "Rent", "02/10/2023"),
        # unmapped account (coalesce fallback), empty input_date guard
        ("2023-03-01", "MYSTERY SHOP", _d("-20.00"), "Unknown Account",
         None, None, None, ""),
        # NULL transaction_date
        (None, "UNDATED ROW", _d("-1.00"), "Old Checking", None, None, None, None),
    ]
    return local_frame(spark, rows, schemas.RAW_HISTORIC)


def seed_account_mapping_historic(spark: SparkSession) -> DataFrame:
    rows = [
        ("Old Checking", None, "Legacy Checking", "Sam"),
        ("Shared Account", "Checking", "Joint Checking", "Sam"),
        ("Shared Account", "Savings", "Joint Savings", "Alex"),
    ]
    return local_frame(spark, rows, schemas.SEED_ACCOUNT_MAPPING_HISTORIC)


def user_categories(spark: SparkSession) -> DataFrame:
    """A6: overrides — validated, unvalidated, and orphan ids."""
    ts = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        ("TRN-030", "Groceries", "shopping", "weekly run", True, False, "sam", ts),
        ("TRN-031", "Gas", None, None, True, False, "sam", ts),
        ("TRN-032", "Flight", None, None, False, False, "sam", ts),  # NOT validated
        ("TRN-033", "Fun!™", None, "vacation", True, True, "alex", ts),
        ("TRN-999", "Miscellaneous", None, "orphan id", True, False, "sam", ts),
    ]
    return local_frame(spark, rows, schemas.USER_CATEGORIES)


def predicted_transactions(spark: SparkSession) -> DataFrame:
    """A7 (key columns): stale + fresh predictions per id, UNCERTAIN rows."""
    t1 = dt.datetime(2024, 2, 20, 8, 0, 0)
    t2 = dt.datetime(2024, 2, 21, 8, 0, 0)
    rows = [
        ("TRN-002", "Transportation", Decimal("0.820000"), "20240220_080000", t1),
        ("TRN-002", "Transportation", Decimal("0.910000"), "20240221_080000", t2),
        ("TRN-003", "UNCERTAIN", Decimal("0.050000"), "20240221_080000", t2),
        ("TRN-011", "Fees & Charges", Decimal("0.200000"), "20240221_080000", t2),
        ("TRN-050", "Shopping", Decimal("0.450000"), "20240221_080000", t2),
    ]
    return local_frame(spark, rows, schemas.PREDICTIONS)


def write_warehouse_inputs(spark: SparkSession, root: str) -> None:
    """Materialize all fixture inputs under a warehouse root dir."""
    import os

    os.makedirs(os.path.join(root, "public"), exist_ok=True)
    os.makedirs(os.path.join(root, "analytics"), exist_ok=True)
    raw_simplefin(spark).write.mode("overwrite").parquet(f"{root}/public/simplefin")
    raw_historic(spark).write.mode("overwrite").parquet(
        f"{root}/public/historic_transactions"
    )
    seed_account_mapping_simplefin(spark).write.mode("overwrite").parquet(
        f"{root}/public/seed_account_mapping_simplefin"
    )
    seed_account_mapping_historic(spark).write.mode("overwrite").parquet(
        f"{root}/public/seed_account_mapping_historic"
    )
    seed_transaction_exclusions(spark).write.mode("overwrite").parquet(
        f"{root}/public/seed_transaction_exclusions"
    )
    user_categories(spark).write.mode("overwrite").parquet(
        f"{root}/public/user_categories"
    )
    predicted_transactions(spark).write.mode("overwrite").parquet(
        f"{root}/analytics/predicted_transactions"
    )
