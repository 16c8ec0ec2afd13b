"""Interactive transactions query surface.

Spark twin of ui/backend/services/transaction_service.py: one shared
overlay projection (the ``_TRANSACTION_SELECT`` of the reference,
lines 14-35) + a filter/sort/pagination compiler
(get_transactions_filtered, lines 137-215) + the override upsert
(categorize_transaction, lines 78-126).

Serving reads hit *materialized* marts (the reference re-runs a
5-view-deep chain in Postgres per request — its acknowledged debt,
TODO.md:12). ``get_transactions_filtered`` serves the reference's
COUNT(*) + page as one action through ``collect_page_with_total``: a
window ``count(*) OVER ()`` rides the page's ``row_number`` exchange,
and an ``__rn == 1`` sentinel row carries the total even when the
requested page is past the end. The action runs 2 Spark jobs, the
window's exchange and then the result stage.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit
from pyspark.sql.types import StructType

from ..functions.pg import ilike
from ..operators.pagination import Page, collect_page_with_total
from ..schemas import LOW_CONFIDENCE_THRESHOLD, USER_CATEGORIES
from ..session import local_frame

# transaction_service.py:196-199 — sort allow-list.
_ALLOWED_SORTS = {"transacted_date", "prediction_confidence"}


def transaction_overlay(
    fct_trxns_with_predictions: DataFrame, user_categories: DataFrame
) -> DataFrame:
    """The shared SELECT: marts LEFT JOIN overrides, COALESCE precedence
    (transaction_service.py:14-35)."""
    t = fct_trxns_with_predictions.alias("t")
    uc = user_categories.alias("uc")
    return t.join(
        uc, col("t.transaction_id") == col("uc.transaction_id"), "left"
    ).select(
        col("t.transaction_id").alias("transaction_id"),
        col("t.account_id").alias("account_id"),
        col("t.account_name").alias("account_name"),
        col("t.institution_name").alias("institution_name"),
        col("t.amount").alias("amount"),
        col("t.transacted_date").alias("transacted_date"),
        col("t.description").alias("description"),
        F.coalesce(col("uc.master_category"), col("t.master_category")).alias(
            "master_category"
        ),
        col("t.predicted_master_category").alias("predicted_master_category"),
        col("t.prediction_confidence").alias("prediction_confidence"),
        col("t.model_version").alias("model_version"),
        col("uc.notes").alias("notes"),
        F.coalesce(col("uc.validated"), lit(False)).alias("validated"),
        F.coalesce(col("uc.exclude_from_forecast"), lit(False)).alias(
            "exclude_from_forecast"
        ),
    )


def _view_mode_predicate(view_mode: str | None) -> Column:
    """View-mode WHERE builder (transaction_service.py:167-182)."""
    if view_mode == "unvalidated_predicted":
        return (
            (col("validated") == False)  # noqa: E712
            & col("predicted_master_category").isNotNull()
            & (col("predicted_master_category") != "UNCERTAIN")
        )
    if view_mode == "unvalidated_unpredicted":
        return (col("validated") == False) & (  # noqa: E712
            col("predicted_master_category").isNull()
            | (col("predicted_master_category") == "UNCERTAIN")
        )
    if view_mode == "validated":
        return col("validated") == True  # noqa: E712
    return lit(True)


def get_transactions_filtered(
    overlay: DataFrame,
    limit: int = 100,
    offset: int = 0,
    view_mode: str | None = None,
    description_search: str | None = None,
    exclude_low_confidence: bool = False,
    low_confidence_threshold: float = LOW_CONFIDENCE_THRESHOLD,
    sort_by: str | None = None,
    sort_order: str = "desc",
) -> Page:
    """Filter/sort/page compiler (transaction_service.py:137-215).

    Reproduces the reference exactly: allow-listed sort columns with
    ``NULLS LAST`` in both directions, ILIKE search, low-confidence
    exclusion only in predicted mode, COUNT(*) + page (here one action
    of 2 Spark jobs).
    A transaction_id tiebreak makes pagination total-ordered (Postgres
    leaves ties unspecified; an engine serving pages must not).
    """
    limit = min(limit, 1000)  # api/transactions.py:40 cap
    filtered = overlay.filter(_view_mode_predicate(view_mode))
    if description_search:
        filtered = filtered.filter(
            ilike(col("description"), f"%{description_search}%")
        )
    if exclude_low_confidence and view_mode == "unvalidated_predicted":
        filtered = filtered.filter(
            col("prediction_confidence").isNull()
            | (col("prediction_confidence") >= low_confidence_threshold)
        )

    sort_col = sort_by if sort_by in _ALLOWED_SORTS else "transacted_date"
    direction = (
        col(sort_col).asc_nulls_last()
        if sort_order.lower() == "asc"
        else col(sort_col).desc_nulls_last()  # reference forces NULLS LAST
    )
    order = [direction, col("transaction_id").asc()]

    return collect_page_with_total(filtered, order, limit=limit, offset=offset)


def get_transaction_by_id(overlay: DataFrame, transaction_id: str) -> DataFrame:
    return overlay.filter(col("transaction_id") == transaction_id)


def bulk_categorize(
    spark: SparkSession,
    user_categories_path: str,
    assignments: list[dict],
    updated_by: str = "system",
    now: dt.datetime | None = None,
) -> int:
    """Bulk override writes (transaction_service.py:301-341's loop).

    The reference loops single-row ORM upserts; here all assignments
    land in ONE keyed merge — same semantics, one table rewrite instead
    of N.
    """
    from ..operators.upsert import merge_keyed

    if not assignments:
        return 0
    now = now or dt.datetime.utcnow()
    rows = [
        (
            a["transaction_id"],
            a["master_category"],
            a.get("source_category"),
            a.get("notes"),
            a.get("validated", False),
            a.get("exclude_from_forecast", False),
            updated_by,
            now,
        )
        for a in assignments
    ]
    update = local_frame(spark, rows, USER_CATEGORIES)
    # brief lock-wait: concurrent HTTP override writes serialize like
    # Postgres row locks instead of failing the request
    merge_keyed(spark, user_categories_path, update, "transaction_id", timeout=10.0)
    return len(rows)


def distinct_predicted_categories(transactions: DataFrame) -> DataFrame:
    """DISTINCT predicted categories excluding the reserved UNCERTAIN
    (category_service.py:25-31 / validated_transactions.py:179-188).
    ``transactions`` is the predictions mart or the overlay, which
    left-joins overrides to it on a unique key and so holds the same
    predicted categories."""
    return (
        transactions.filter(
            col("predicted_master_category").isNotNull()
            & (col("predicted_master_category") != "UNCERTAIN")
        )
        .select("predicted_master_category")
        .distinct()
        .orderBy(col("predicted_master_category").asc_nulls_last())
    )


def categorize_transaction(
    spark: SparkSession,
    user_categories_path: str,
    transaction_id: str,
    master_category: str,
    source_category: str | None = None,
    notes: str | None = None,
    validated: bool | None = None,
    exclude_from_forecast: bool | None = None,
    updated_by: str = "system",
    now: dt.datetime | None = None,
    keep_category: bool = False,
) -> None:
    """Create-or-update one user override row, keyed on transaction_id
    (transaction_service.py:78-126). None-valued optional fields keep
    the existing value on update and are null on insert, which every
    reader takes as false (the overlay coalesces the two flags).

    The update carries only the given fields, and ``merge_keyed`` joins
    the rest from the version it reads under the table lock, so two
    concurrent writes to one id (a validate PUT and a notes PUT) both
    land instead of the later one restoring the earlier one's base.
    With ``keep_category``, ``master_category`` is the category of a
    new override only: an existing override keeps its own, read under
    the same lock, so a field write never reverts a concurrent
    categorize.
    """
    from ..operators.snapshot import SnapshotTable
    from ..operators.upsert import merge_keyed

    if not SnapshotTable(user_categories_path).exists():
        # a partial update cannot create the table: commit its typed
        # empty shape first (a no-op merge if another writer got there)
        empty = local_frame(spark, [], USER_CATEGORIES)
        merge_keyed(spark, user_categories_path, empty, "transaction_id", timeout=10.0)
    given = {
        "transaction_id": transaction_id,
        "master_category": master_category,
        "source_category": source_category,
        "notes": notes,
        "validated": validated,
        "exclude_from_forecast": exclude_from_forecast,
        "updated_by": updated_by,
        "updated_at": now or dt.datetime.utcnow(),
    }
    fields = [f for f in USER_CATEGORIES.fields if given[f.name] is not None]
    update = local_frame(
        spark, [tuple(given[f.name] for f in fields)], StructType(fields)
    )
    # brief lock-wait: concurrent HTTP override writes serialize like
    # Postgres row locks instead of failing the request
    merge_keyed(
        spark, user_categories_path, update, "transaction_id", timeout=10.0,
        insert_only=("master_category",) if keep_category else (),
    )
