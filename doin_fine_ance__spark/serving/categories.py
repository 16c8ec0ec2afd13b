"""Category catalog semantics (services/category_service.py).

The catalog is a tiny dimension table; the semantics that matter:
'UNCERTAIN' is reserved (add_category raises, sync skips —
category_service.py:57,109-110), re-adding an inactive category
reactivates it, and the active-names list feeds dropdowns sorted.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from ..schemas import CATEGORIES, DEFAULT_CATEGORIES
from ..session import local_frame


class ReservedCategoryError(ValueError):
    pass


def ensure_default_categories(
    spark: SparkSession, catalog: DataFrame | None, now: dt.datetime | None = None
) -> DataFrame:
    """Insert missing defaults (category_service.py:44-50)."""
    now = now or dt.datetime.utcnow()
    defaults = local_frame(
        spark, [(n, True, True, now) for n in DEFAULT_CATEGORIES], CATEGORIES
    )
    if catalog is None:
        return defaults
    missing = defaults.join(catalog.select("name"), "name", "left_anti")
    return catalog.unionByName(missing)


def create_category(
    spark: SparkSession,
    catalog: DataFrame,
    name: str,
    now: dt.datetime | None = None,
) -> DataFrame:
    """Add (or reactivate) a category (category_service.py:104-143)."""
    cleaned = name.strip()
    if not cleaned:
        raise ValueError("category name must be non-empty")
    if cleaned.upper() == "UNCERTAIN":
        raise ReservedCategoryError("UNCERTAIN is reserved and cannot be added")
    now = now or dt.datetime.utcnow()
    existing = catalog.filter(col("name") == cleaned)
    if existing.limit(1).count() > 0:
        # reactivate if inactive
        return catalog.withColumn(
            "is_active",
            F.when(col("name") == cleaned, lit(True)).otherwise(col("is_active")),
        )
    new_row = local_frame(
        spark, [(cleaned, cleaned in DEFAULT_CATEGORIES, True, now)], CATEGORIES
    )
    return catalog.unionByName(new_row)


def get_active_category_names(catalog: DataFrame) -> list[str]:
    """Sorted active names for dropdowns (category_service.py:91-101)."""
    return [
        r.name
        for r in catalog.filter(col("is_active") == True)  # noqa: E712
        .select("name")
        .orderBy(col("name").asc())
        .collect()
    ]
