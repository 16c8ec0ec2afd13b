"""Sorted pagination (LIMIT/OFFSET) and a page with its exact total.

The reference serves two paginated list endpoints with allow-listed
sort columns and COUNT(*)+page queries (SURVEY.md §2.6,
transaction_service.py:196-213, validated_transactions.py:107-128).
Spark DataFrames have ``limit`` but no offset, so offset pagination is
``row_number`` over the *total* sort order (caller must make it total —
include a unique key as final tiebreak) filtered to
``(offset, offset+limit]``. :func:`collect_page_with_total` serves the
reference's two queries as one action: the total rides the same window.
That action runs 2 Spark jobs, the window's exchange and then the
result stage.

Scale note: the window is un-partitioned, so every row of the filtered
frame is sorted on one reducer. That is correct, and cheap only because
serving frames are one household's marts and pages are capped (the
reference caps at 1k/10k rows); a frame too large for one task needs a
partitioned sort and a different total, not this operator.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


class Page(NamedTuple):
    """One collected page (rows as dicts) and the exact total of the
    frame it was cut from."""

    total_count: int
    rows: list[dict]


def paginate(
    df: DataFrame, order: Sequence[Column], limit: int, offset: int = 0
) -> DataFrame:
    """Return one page of `df` under a total `order`."""
    if offset == 0:
        return df.orderBy(*order).limit(limit)
    w = Window.orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") > offset) & (F.col("__rn") <= offset + limit))
        .drop("__rn")
    )


def collect_page_with_total(
    df: DataFrame,
    order: Sequence[Column],
    limit: int,
    offset: int = 0,
) -> Page:
    """One page + the exact total of `df` under a total `order`, in one
    action of 2 Spark jobs: the window's exchange, then the result stage.

    An unbounded ``count(*) OVER ()`` rides the ``row_number`` window's
    exchange, so the total costs no second scan of `df` and no third
    job. The filter also keeps the ``__rn == 1`` row as a total-bearing
    sentinel, so a page requested past the end still returns the total;
    an empty input collects nothing and is total=0 by definition.

    Returns the :class:`Page` with helper columns stripped.
    """
    w = Window.orderBy(*order)
    wt = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    rn, tc = "__rn", "__total"
    in_page = (F.col(rn) > offset) & (F.col(rn) <= offset + limit)
    rows = (
        df.withColumn(rn, F.row_number().over(w))
        .withColumn(tc, F.count(F.lit(1)).over(wt))
        .filter(in_page | (F.col(rn) == 1))
        .collect()
    )
    if not rows:
        return Page(0, [])
    page = [
        {k: v for k, v in r.asDict().items() if k not in (rn, tc)}
        for r in rows
        if offset < r[rn] <= offset + limit
    ]
    return Page(int(rows[0][tc]), page)
