"""Corpus selection for training mixes: budgeted greedy selection,
deterministic global shuffle order, weighted domain mixing.

These are the operators that turn a cleaned corpus into a training
set: pick the best documents under a token budget, fix a reproducible
sample order, and rebalance sources to target weights. All three are
engine-portable-deterministic (md5-derived randomness, integer-exact
arithmetic) so a SQL oracle reproduces them bit-for-bit.

Scale design:

- The global cumulative sum / rank that budget selection and shuffle
  ranking need is NOT computed with a single-partition window (the
  classic ``Window.orderBy(...)`` trap — one task materializes the
  whole table). :func:`global_running_sum` range-partitions by the
  order key, computes per-partition running sums with a partition-
  local window, and adds each partition's exclusive prefix offset —
  the offsets are one tiny driver-side collect of <#partitions> rows,
  then a broadcast join. Two shuffles total (range exchange + window
  hash), every stage full-width.
- Domain mixing is map-only: a per-row uniform draw derived from
  md5(doc_id) compared against a broadcast weight table. No shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, col, lit

from ..operators.checkpoint import materialize
from ..operators.skew import shuffle_width
from ..session import local_frame


def global_running_sum(
    df: DataFrame,
    weight_col: str,
    order_cols: list,
    out_col: str = "running_total",
    num_partitions: int | None = None,
) -> DataFrame:
    """Inclusive running sum of ``weight_col`` in the total order given
    by ``order_cols`` — distributed two-pass prefix sum.

    ``order_cols`` must define a TOTAL order (include a unique
    tiebreaker); otherwise rows with equal keys may straddle a range
    boundary and the within/offset split becomes ambiguous.

    Pass 1 range-partitions on the order key (partition i holds keys
    ≤ partition i+1's) and computes partition-local running sums with
    an ordinary window. Pass 2 collects the per-partition totals —
    bounded by the partition count, never the data — prefix-sums them
    on the driver, and broadcast-joins the exclusive offsets back.
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = shuffle_width(spark) or 32
    ranged = df.repartitionByRange(num_partitions, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.withColumn("_local_cum", F.sum(weight_col).over(w))
    # The per-partition totals materialize `local` once; checkpoint so
    # the main branch below reuses it instead of recomputing the
    # upstream plan (Spark reuses exchanges, not subplans). Reliable
    # when the session has a checkpoint directory, local otherwise.
    local = materialize(local)
    totals = (
        local.groupBy("_pid").agg(F.max("_local_cum").alias("_total")).collect()
    )
    by_pid = {r["_pid"]: r["_total"] for r in totals}
    offsets, acc = [], 0
    for pid in sorted(by_pid):
        offsets.append((pid, acc))
        acc += by_pid[pid]
    if not offsets:
        return df.withColumn(out_col, lit(0).cast("bigint")).limit(0)
    off_df = local_frame(spark, offsets, "_pid long, _offset long")
    return (
        local.join(broadcast(off_df), "_pid")
        .withColumn(out_col, (col("_local_cum") + col("_offset")).cast("bigint"))
        .drop("_pid", "_local_cum", "_offset")
    )


def budget_select(
    docs: DataFrame,
    weight_col: str,
    budget: int,
    order_cols: list,
    cum_col: str = "cum_weight",
) -> DataFrame:
    """Greedy selection in priority order until the budget is spent.

    Keeps the prefix of ``docs`` (in ``order_cols`` order) whose
    inclusive running ``weight_col`` stays ≤ ``budget`` — the
    token-budget corpus-selection step of a training-data pipeline
    (rank by quality, take the best N tokens' worth).
    """
    with_cum = global_running_sum(docs, weight_col, order_cols, out_col=cum_col)
    return with_cum.filter(col(cum_col) <= budget)


def shuffle_rank(
    docs: DataFrame,
    id_col: str = "doc_id",
    seed: int = 42,
    rank_col: str = "shuffle_rank",
) -> DataFrame:
    """Deterministic global shuffle order for training-example serving.

    Every row gets a reproducible pseudo-random sort key
    (md5 of ``id:seed``) and its 1-based global rank under that key —
    the rank IS the training order, stable across runs, engines, and
    partitionings (reshuffle = bump the seed). Rank assignment rides
    the same two-pass prefix machinery as budget selection (weight 1),
    so no single-partition window exists at any scale.
    """
    keyed = docs.withColumn(
        "_shuffle_key", F.md5(F.concat(col(id_col).cast("string"), lit(f":{seed}")))
    ).withColumn("_one", lit(1))
    ranked = global_running_sum(
        keyed, "_one", [col("_shuffle_key"), col(id_col)], out_col=rank_col
    )
    return ranked.drop("_one")


def domain_mix(
    docs: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    default_weight: float = 1.0,
    seed: str = "mix",
) -> DataFrame:
    """Weighted per-source downsampling to a target domain mix.

    Each row draws a deterministic uniform u ∈ [0,1) from the first 8
    md5 hex chars of ``id:seed`` (u = that 32-bit int / 2^32 — a
    single exact IEEE division, engine-portable) and survives iff
    u < weight(source). Map-only — no shuffle at any scale; the weight
    table rides into the plan as a literal CASE. Expected output
    fraction per source is exactly its weight; membership is stable
    across runs so downstream incremental stages see a consistent
    corpus.
    """
    u = (
        F.conv(
            F.substring(F.md5(F.concat(col(id_col).cast("string"), lit(f":{seed}"))), 1, 8),
            16,
            10,
        ).cast("double")
        / lit(float(1 << 32))
    )
    w = lit(float(default_weight))
    for src, frac in sorted(weights.items()):
        w = F.when(col(source_col) == src, float(frac)).otherwise(w)
    return docs.withColumn("sample_u", u).filter(col("sample_u") < w)


def temperature_mix(
    docs: DataFrame,
    alpha: float = 0.5,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "temp",
) -> DataFrame:
    """Temperature-scaled source rebalancing (the multilingual-corpus
    standard: target per-source counts m_i ∝ n_i^alpha), no-upsampling
    variant: the largest feasible scale keeps the SMALLEST source at
    100% and downsamples larger sources toward flat —
    keep_rate_i = (n_min / n_i)^(1 - alpha). alpha=1 keeps everything;
    alpha=0 flattens every source to n_min (in expectation).

    Scale shape: one tiny aggregate over the source column (broadcast
    back), plus the same map-only deterministic md5 draw as
    :func:`domain_mix` — no data-sized shuffle. With alpha=0.5 the
    rate is sqrt(n_min/n_i): IEEE requires sqrt and division to be
    correctly rounded, so Spark and a SQL oracle compute BIT-IDENTICAL
    rates (general pow carries last-ulp libm variance across engines —
    fine in production, not oracle-exact; see the registered
    t_temperature_mix query).
    """
    counts = docs.groupBy(source_col).agg(F.count("*").alias("_n"))
    nmin = counts.agg(F.min("_n").alias("_nmin"))
    exponent = 1.0 - alpha
    base = col("_nmin").cast("double") / col("_n").cast("double")
    rate = F.sqrt(base) if abs(exponent - 0.5) < 1e-12 else F.pow(base, lit(exponent))
    rates = counts.join(broadcast(nmin)).select(
        source_col, rate.alias("keep_rate")
    )
    u = (
        F.conv(
            F.substring(F.md5(F.concat(col(id_col).cast("string"), lit(f":{seed}"))), 1, 8),
            16,
            10,
        ).cast("double")
        / lit(float(1 << 32))
    )
    return (
        docs.join(broadcast(rates), source_col)
        .withColumn("sample_u", u)
        .filter(col("sample_u") < col("keep_rate"))
    )


def token_shards(
    docs: DataFrame,
    weight_col: str,
    target: int,
    order_cols: list,
    shard_col: str = "shard",
) -> DataFrame:
    """Assign documents to contiguous token-balanced output shards:
    shard = exclusive_prefix_sum(weight) DIV target in the given total
    order — the writer-side step that turns a selected corpus into N
    training files of ~equal token count (every shard except the last
    holds >= target - max_doc + 1 and < target + max_doc tokens).

    Integer-exact end to end (bigint prefix sums, integral division),
    so a SQL oracle reproduces it bit-for-bit; the prefix sum is the
    same two-pass distributed machinery as budget_select — no
    single-partition window at any scale.
    """
    with_cum = global_running_sum(docs, weight_col, order_cols, out_col="_cum_w")
    return with_cum.withColumn(
        shard_col,
        F.expr(f"CAST((_cum_w - {weight_col}) DIV {int(target)} AS BIGINT)"),
    ).drop("_cum_w")
