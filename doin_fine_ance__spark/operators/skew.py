"""Skew-aware join (key salting) and under-partitioned input fan-out.

AQE's skew-join handles most runtime skew (enabled by the session
factory), but pathological hot keys in a shuffle join — one merchant
with 10% of all transactions, one null-ish account id — still serialize
a reducer. Salting splits each hot key into `salt_buckets` synthetic
sub-keys: the big side scatters uniformly, the small side replicates
per salt, the join result is identical.

Use when a key histogram shows a handful of keys owning a double-digit
share of rows; otherwise the replication cost isn't worth it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition a DataFrame up to default parallelism before a
    CPU-bound map stage.

    A small corpus arrives as one parquet file → one scan partition →
    an expensive pandas UDF pinned to a single core. At real scale the
    scan already has ≥ parallelism partitions and this is a no-op (no
    shuffle inserted), so the branch only pays its round-robin
    exchange when the input genuinely under-partitions the cluster.
    """
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
        n = df.rdd.getNumPartitions()
    except Exception:
        # Spark Connect exposes neither sparkContext nor .rdd; there the
        # scan's partitioning is opaque, so leave the plan unchanged.
        return df
    return df.repartition(target) if n < target else df


def shuffle_width(spark) -> int | None:
    """The session's ``spark.sql.shuffle.partitions`` as an int, or None
    when the setting is not a number (e.g. ``"auto"``) and the planner
    should keep its own choice. The one place the engine reads it."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return None


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join `big ⨝ small` on `key` with salted shuffle keys.

    big rows get a deterministic-per-row salt (hash of all columns, so
    re-runs shuffle identically); small rows are exploded once per salt
    value. Output columns = big's + small's (minus the duplicate key).

    Only ``inner`` and ``left`` are supported: they are row-identical
    to the unsalted join because every big row carries exactly one salt
    value. Under ``right``/``full`` an UNMATCHED small row would be
    emitted once per salt bucket (the small side is exploded
    `salt_buckets`×), duplicating output — so those modes raise.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left', got {how!r}: outer "
            "modes would emit each unmatched small-side row once per salt "
            "bucket (small side is replicated). Join unsalted, or dedup "
            "unmatched rows explicitly."
        )
    big_salted = big.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[col(c) for c in big.columns]), lit(salt_buckets)).cast("int"),
    )
    small_salted = small.withColumn(
        "_salt", F.explode(F.array([lit(i) for i in range(salt_buckets)]))
    )
    out = big_salted.join(small_salted, [key, "_salt"], how)
    return out.drop("_salt")
