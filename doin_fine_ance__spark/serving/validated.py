"""Validated-transactions list endpoint semantics.

Spark twin of ui/backend/api/validated_transactions.py:40-188: the
7-column sort allow-list, equality/ILIKE filters, the NULL-id guard,
exclude_from_forecast overlay, and Postgres *default* null ordering
(the reference does NOT force NULLS LAST here — so ASC puts nulls
last, DESC puts nulls first, and we must mirror that).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from ..functions.pg import ilike, pg_asc, pg_desc
from ..operators.pagination import Page, collect_page_with_total

# validated_transactions.py:66-71.
_ALLOWED_SORTS = {
    "transacted_date",
    "amount",
    "account_name",
    "master_category",
    "description",
    "institution_name",
    "transaction_id",
}


def list_validated_transactions(
    fct_validated_trxns: DataFrame,
    user_categories: DataFrame,
    limit: int = 100,
    offset: int = 0,
    sort_by: str | None = None,
    sort_order: str = "desc",
    category: str | None = None,
    account_name_filter: str | None = None,
    description_search: str | None = None,
) -> Page:
    """Filtered, sorted page + total in one action
    (validated_transactions.py:40-128)."""
    limit = min(limit, 10000)  # validated_transactions.py:55 cap
    v = fct_validated_trxns.alias("v")
    uc = user_categories.alias("uc")
    base = v.join(
        uc, col("v.transaction_id") == col("uc.transaction_id"), "left"
    ).select(
        col("v.transaction_id").alias("transaction_id"),
        col("v.account_id").alias("account_id"),
        col("v.account_name").alias("account_name"),
        col("v.institution_name").alias("institution_name"),
        col("v.amount").alias("amount"),
        col("v.transacted_date").alias("transacted_date"),
        col("v.description").alias("description"),
        col("v.master_category").alias("master_category"),
        col("v.source_category").alias("source_category"),
        col("v.user_notes").alias("user_notes"),
        F.coalesce(col("uc.exclude_from_forecast"), lit(False)).alias(
            "exclude_from_forecast"
        ),
    )

    filtered = base.filter(col("transaction_id").isNotNull())
    if category:
        filtered = filtered.filter(col("master_category") == category)
    if account_name_filter:
        filtered = filtered.filter(ilike(col("account_name"), f"%{account_name_filter}%"))
    if description_search:
        filtered = filtered.filter(ilike(col("description"), f"%{description_search}%"))

    sort_col = sort_by if sort_by in _ALLOWED_SORTS else "transacted_date"
    # Postgres DEFAULT null placement (no NULLS LAST in the reference SQL).
    direction = pg_asc(sort_col) if sort_order.lower() == "asc" else pg_desc(sort_col)
    order = [direction, col("transaction_id").asc()]

    return collect_page_with_total(filtered, order, limit, offset)


def distinct_validated_categories(fct_validated_trxns: DataFrame) -> DataFrame:
    """DISTINCT master_category ORDER BY (validated_transactions.py:179-188)."""
    return (
        fct_validated_trxns.filter(col("master_category").isNotNull())
        .select("master_category")
        .distinct()
        .orderBy(pg_asc("master_category"))
    )
