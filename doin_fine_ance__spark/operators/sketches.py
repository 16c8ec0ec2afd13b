"""Count-min sketch: fixed-memory frequency estimation.

A 100 TB token/URL/entity stream cannot hold an exact frequency table
per executor, but many pipeline decisions only need approximate counts
with a one-sided error guarantee: heavy-hitter token lists for
vocabulary pruning, hot-URL throttling, skew detection before a join.
The count-min sketch (Cormode & Muthukrishnan 2005) gives
``exact <= estimate <= exact + eps * N`` with probability
``1 - delta`` using ``depth = ceil(ln 1/delta)`` rows of
``width = ceil(e / eps)`` counters — a few KB regardless of stream
size.

Engine-exactness: bucket hashing is md5-based (stable across engines
and partitionings — NOT Spark's ``hash()``, which is engine-private),
and cells are integer sums, so the sketch an oracle computes from
exact counts equals the sketch the engine computes from the raw
stream — summation into a cell is associative.

Scale shape: building the sketch is one partial-agg shuffle of at most
``depth * width`` cells (map-side combine collapses each task's stream
to cell counts before anything moves); estimation broadcasts the tiny
cell table. Nothing is ever collected to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit


def cms_bucket(j, token, width: int):
    """md5-derived bucket for sketch row ``j`` — identical in DuckDB as
    ``CAST(('0x' || substr(md5(j || ':' || token), 1, 8)) AS UBIGINT)
    % width`` (parity pinned in tests). NULL-parity too (ADVICE r9):
    ``F.concat`` null-propagates exactly like SQL ``||``, so a NULL
    token yields a NULL bucket in BOTH engines — it can never silently
    collide into the bucket of ``str(j)`` the way ``concat_ws`` (which
    skips NULLs) allowed."""
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(j.cast("string"), lit(":"), token.cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint"),
        lit(width),
    )


def cms_build(
    df: DataFrame,
    token_col: str = "token",
    count_col: str | None = None,
    depth: int = 4,
    width: int = 256,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Build the sketch cells ``(j int, bucket bigint, cell bigint)``
    from a raw item stream (``count_col=None`` — each row counts 1) or
    a pre-aggregated ``(token, count)`` table. Both yield identical
    cells. ``partition_cols`` keeps one PARTIAL sketch per partition
    value (e.g. per day) — the rollup shape: persist partials, merge
    later with :func:`cms_merge` instead of rescanning history.
    NULL tokens are dropped up front (ADVICE r9): they have no
    meaningful identity to count, and the null-propagating bucket hash
    would otherwise emit a junk NULL-bucket cell."""
    parts = list(partition_cols or [])
    rows = df.filter(col(token_col).isNotNull()).select(
        *parts,
        col(token_col).alias("_tok"),
        (lit(1) if count_col is None else col(count_col)).cast("bigint").alias("_c"),
    )
    ex = rows.select(
        *parts, "_tok", "_c", F.explode(F.sequence(lit(0), lit(depth - 1))).alias("j")
    )
    return (
        ex.select(
            *parts, "j", cms_bucket(col("j"), col("_tok"), width).alias("bucket"), "_c"
        )
        .groupBy(*parts, "j", "bucket")
        .agg(F.sum("_c").alias("cell"))
    )


def cms_merge(partials: DataFrame) -> DataFrame:
    """Merge partial sketches (any union of ``cms_build`` outputs,
    extra partition columns welcome) into one cell table. Count-min
    cells are plain sums, so merge-of-partials == build-over-the-whole
    EXACTLY (pinned in tests and driver-hashed by
    ``a_cms_rollup_merge``) — the property that lets a pipeline keep
    per-day sketch parquet and answer over any date range without
    rescanning raw history."""
    return partials.groupBy("j", "bucket").agg(F.sum("cell").alias("cell"))


def cms_estimate(
    tokens: DataFrame,
    cells: DataFrame,
    token_col: str = "token",
    depth: int = 4,
    width: int = 256,
    out_col: str = "cms_estimate",
) -> DataFrame:
    """Point-query the sketch: for each row of ``tokens`` append the
    count-min estimate ``min_j cell[j][bucket_j(token)]``. The cell
    table is at most ``depth * width`` rows — always broadcast.

    Empty buckets count as 0 (ADVICE r9: the previous inner join
    dropped probe rows whose cell was never touched — a token absent
    from the stream vanished from the output instead of estimating 0,
    and partially-empty probes over-estimated by taking min over only
    the non-empty cells). Every input row survives: out-of-stream
    tokens estimate 0, and NULL tokens estimate 0 (their bucket is
    NULL, so every probe misses — see :func:`cms_bucket`).

    ``tokens`` rows must be unique: the regroup keys on all candidate
    columns, so duplicate rows collapse to one output row
    (``.distinct()`` first if unsure) — same contract as
    :func:`bloom_hits`. Internal probe columns are ``__cms_``-prefixed
    and a candidate column with those names raises rather than
    corrupting the probe."""
    for reserved in ("__cms_j", "__cms_bucket", "cell", out_col):
        if reserved in tokens.columns:
            raise ValueError(
                f"cms_estimate: candidate column {reserved!r} collides "
                "with an internal probe column — rename it first"
            )
    keys = tokens.select(
        "*", F.explode(F.sequence(lit(0), lit(depth - 1))).alias("__cms_j")
    ).withColumn("__cms_bucket", cms_bucket(col("__cms_j"), col(token_col), width))
    group_cols = tokens.columns
    cells = cells.select(
        col("j").alias("__cms_j"), col("bucket").alias("__cms_bucket"), "cell"
    )
    return (
        keys.join(F.broadcast(cells), ["__cms_j", "__cms_bucket"], "left")
        .groupBy(*group_cols)
        .agg(F.min(F.coalesce(col("cell"), lit(0))).alias(out_col))
    )


# --------------------------------------------------------------- bloom
#
# Bloom pre-screen: distributed membership against a compact bitset.
# Decontamination/blocklist joins at 100 TB shouldn't shuffle the full
# candidate stream against the reference set; a Bloom filter of the
# reference (a few KB-MB) broadcasts everywhere and eliminates the
# overwhelming majority of non-members map-side, with the exact check
# running only on survivors. One-sided by construction: a member is
# NEVER screened out; false positives only cost extra exact checks.
#
# The bit array is n_words x 62-bit words (62, not 64: DuckDB raises
# on 1<<63 and bit 62 would be the sign bit — staying below keeps the
# mask arithmetic identical in both engines' signed BIGINT).

_BLOOM_BITS_PER_WORD = 62


def bloom_build(
    items: DataFrame,
    item_col: str = "item",
    n_words: int = 256,
    k: int = 3,
) -> DataFrame:
    """OR-fold the reference set into ``(word bigint, bits bigint)``
    (at most ``n_words`` rows — broadcast-sized at any reference-set
    cardinality). md5 position hashes, so the identical filter can be
    rebuilt in SQL. NULL items are dropped (ADVICE r9): a NULL has no
    membership identity and must not set bits — the null-propagating
    position hash (see :func:`cms_bucket`) backs the same behavior on the
    probe side."""
    m = n_words * _BLOOM_BITS_PER_WORD
    ex = (
        items.filter(col(item_col).isNotNull())
        .select(col(item_col).alias("_it"))
        .select("_it", F.explode(F.sequence(lit(0), lit(k - 1))).alias("j"))
    )
    pos = F.pmod(
        F.conv(F.substring(F.md5(F.concat(col("j").cast("string"), lit(":"),
                                          col("_it").cast("string"))), 1, 8), 16, 10)
        .cast("bigint"),
        lit(m),
    )
    return (
        ex.select(pos.alias("pos"))
        .select(
            F.expr(f"pos div {_BLOOM_BITS_PER_WORD}").alias("word"),
            F.expr(f"shiftleft(1L, cast(pos % {_BLOOM_BITS_PER_WORD} as int))")
            .alias("mask"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )


def bloom_hits(
    candidates: DataFrame,
    words: DataFrame,
    item_col: str = "item",
    n_words: int = 256,
    k: int = 3,
    out_col: str = "bloom_hit",
) -> DataFrame:
    """Append ``out_col`` (boolean): true iff all ``k`` of the item's
    bits are set — the candidate survives the pre-screen. The word
    table is broadcast; the probe is map-side except the k-way
    all-bits-set regroup on the candidate's own key. ``candidates``
    rows must be unique (the regroup counts k probe rows per input
    row; duplicates would collapse and miscount — ``.distinct()``
    first if unsure). A NULL item never passes: its position hash
    null-propagates, every word lookup misses, and the hit flag comes
    out false — matching :func:`bloom_build` dropping NULLs. Internal
    probe columns are ``__bloom_``-prefixed (ADVICE r9) and a
    candidate column with those names raises rather than corrupting
    the probe."""
    for reserved in ("__bloom_j", "__bloom_pos", "__bloom_word",
                     "__bloom_mask", "__bloom_set", "bits", out_col):
        if reserved in candidates.columns:
            raise ValueError(
                f"bloom_hits: candidate column {reserved!r} collides "
                "with an internal probe column — rename it first"
            )
    m = n_words * _BLOOM_BITS_PER_WORD
    group_cols = candidates.columns
    keys = candidates.select(
        "*", F.explode(F.sequence(lit(0), lit(k - 1))).alias("__bloom_j")
    ).withColumn(
        "__bloom_pos",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(col("__bloom_j").cast("string"), lit(":"),
                                   col(item_col).cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint"),
            lit(m),
        ),
    ).withColumn(
        "__bloom_word", F.expr(f"__bloom_pos div {_BLOOM_BITS_PER_WORD}")
    ).withColumn(
        "__bloom_mask",
        F.expr(f"shiftleft(1L, cast(__bloom_pos % {_BLOOM_BITS_PER_WORD} as int))"),
    )
    words = words.select(col("word").alias("__bloom_word"), "bits")
    probed = keys.join(F.broadcast(words), "__bloom_word", "left").withColumn(
        "__bloom_set",
        (F.coalesce(col("bits"), lit(0)).bitwiseAND(col("__bloom_mask")) != 0),
    )
    return (
        probed.groupBy(*group_cols)
        .agg((F.sum(F.when(col("__bloom_set"), 1).otherwise(0)) == k).alias(out_col))
    )


# ----------------------------------------------------------------- hll
#
# Mergeable distinct-count rollups via Spark's built-in Apache
# DataSketches HLL (hll_sketch_agg / hll_union_agg — JVM-side,
# sketch binaries never touch Python). Same rollup contract as
# cms_build/cms_merge: persist one partial sketch per partition,
# union later. Sketch bytes are engine-specific, so there is no SQL
# oracle — accuracy is floored in pytest against exact counts, the
# HLL_ERROR evidence pattern.


def hll_partials(
    df: DataFrame,
    item_col: str,
    partition_cols: list[str],
    lg_k: int = 12,
) -> DataFrame:
    """One HLL sketch (binary) per partition value — the persistable
    daily/ hourly rollup unit."""
    return df.groupBy(*partition_cols).agg(
        F.expr(f"hll_sketch_agg({item_col}, {lg_k})").alias("hll")
    )


def hll_merge_estimate(
    partials: DataFrame,
    group_cols: list[str] | None = None,
    out_col: str = "approx_distinct",
) -> DataFrame:
    """Union partial sketches (optionally regrouped on a coarser key,
    e.g. day -> month) and estimate the merged distinct count. Merging
    sketches is lossless relative to sketching the union — the
    estimate equals what one pass over the raw history would give."""
    gb = partials.groupBy(*group_cols) if group_cols else partials.groupBy()
    return gb.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(hll))").alias(out_col)
    )
