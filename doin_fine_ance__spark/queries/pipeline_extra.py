"""Round-9 pipeline additions: overlapping chunking, fixed-point
PageRank, and count-min heavy hitters.

Three operations a training-data pipeline reaches for that the
registry didn't cover yet:

- ``t_chunk_overlap`` — split documents into overlapping token
  windows (RAG retrieval chunks / context-budget shards;
  llm/corpus.py::chunk_documents).
- ``g_pagerank_nation_trade`` — weighted PageRank over the TPC-H
  customer-nation -> supplier-nation trade graph, in deterministic
  integer fixed-point (crawl pipelines rank hosts the same way to
  prioritize fetching; operators/graph.py::pagerank_fixed_point).
- ``a_heavy_hitters_cms`` — count-min-sketch estimates next to exact
  counts for the top document tokens, making the sketch's one-sided
  error driver-visible (operators/sketches.py).

All three keep arithmetic integral (or defer to md5/text), the
module-wide rule that makes results hash-exact across engines and
partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from ..llm.corpus import chunk_documents, word_tokens
from ..operators.graph import pagerank_fixed_point
from ..operators.sketches import cms_bucket, cms_build, cms_merge
from ..sources.testdata import load_table
from . import query

_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"

_CHUNK_W, _CHUNK_S = 32, 24


@query(
    "t_chunk_overlap",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), base AS (
      SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) >= 1
    ), ex AS (
      SELECT doc_id, t,
             unnest(range(0, (n - 1) // {_CHUNK_S} + 1)) AS chunk_id
      FROM base
    )
    SELECT doc_id,
           CAST(chunk_id AS INT) AS chunk_id,
           CAST(chunk_id * {_CHUNK_S} AS BIGINT) AS start_tok,
           CAST(len(t[chunk_id * {_CHUNK_S} + 1 : chunk_id * {_CHUNK_S} + {_CHUNK_W}]) AS INT)
             AS n_chunk_tokens,
           md5(array_to_string(
             t[chunk_id * {_CHUNK_S} + 1 : chunk_id * {_CHUNK_S} + {_CHUNK_W}], ' '))
             AS chunk_md5
    FROM ex ORDER BY doc_id, chunk_id
    """,
)
def t_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunks per document (window 32,
    stride 24 — 8-token overlap). Emits md5(chunk_text), not the text,
    to keep driver rows slim; the operator itself returns the text.

    Scale: map-only (tokenize + sequence-explode + slice inside one
    codegen span); the single Exchange in the plan is the final
    orderBy, which exists only for oracle comparison.
    """
    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    ch = chunk_documents(d, window=_CHUNK_W, stride=_CHUNK_S)
    return ch.select(
        "doc_id",
        "chunk_id",
        "start_tok",
        "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_id")


def _pagerank_oracle(iterations: int, damping_pct: int, scale: int, ppm: int) -> str:
    """Unrolled fixed-point PageRank CTE chain (one pair of CTEs per
    iteration — contributions, then the damped update). Mirrors
    operators/graph.py::pagerank_fixed_point term for term; all
    arithmetic integral, so the engines agree bit-for-bit."""
    base = (100 - damping_pct) * scale // 100
    parts = [
        f"""
    WITH edges AS (
      SELECT c.c_nationkey AS u, s.s_nationkey AS v, COUNT(*) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2
    ), tot AS (
      SELECT u, SUM(w) AS wtot FROM edges GROUP BY u
    ), p AS (
      SELECT e.u, e.v, (e.w * {ppm}) // t.wtot AS share
      FROM edges e JOIN tot t USING (u)
    ), nodes AS (
      SELECT DISTINCT u AS node FROM edges
      UNION SELECT DISTINCT v FROM edges
    ), it0 AS (
      SELECT node, CAST({scale} AS BIGINT) AS rank_fp FROM nodes
    )"""
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f""", c{k} AS (
      SELECT p.v, SUM((r.rank_fp * p.share) // {ppm}) AS inc
      FROM p JOIN it{k - 1} r ON r.node = p.u GROUP BY p.v
    ), it{k} AS (
      SELECT n.node,
             CAST({base} + ({damping_pct} * COALESCE(c.inc, 0)) // 100 AS BIGINT)
               AS rank_fp
      FROM nodes n LEFT JOIN c{k} c ON c.v = n.node
    )"""
        )
    parts.append(
        f"""
    SELECT nn.n_name, r.rank_fp
    FROM it{iterations} r JOIN nation nn ON nn.n_nationkey = r.node
    ORDER BY rank_fp DESC, n_name"""
    )
    return "".join(parts)


@query("g_pagerank_nation_trade", oracle=_pagerank_oracle(5, 85, 10**9, 10**6))
def g_pagerank_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the customer-nation -> supplier-nation
    trade graph, 5 iterations, integer fixed-point (units of 1e-9).

    The heavy distributed work is the edge aggregation (a TPC-H
    Q7-shaped join chain; nation/supplier broadcast, lineitem-orders-
    customer shuffle on their keys with partial-agg count). The
    iteration then runs on the aggregated <= 625-edge graph — AQE
    broadcasts every rank join. At web scale the same operator runs
    with hosts as nodes; integer arithmetic keeps it bit-identical
    under any partitioning.
    """
    li = load_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_suppkey"])
    o = load_table(spark, sf_dir, "orders", ["o_orderkey", "o_custkey"])
    c = load_table(spark, sf_dir, "customer", ["c_custkey", "c_nationkey"])
    s = load_table(spark, sf_dir, "supplier", ["s_suppkey", "s_nationkey"])
    n = load_table(spark, sf_dir, "nation", ["n_nationkey", "n_name"])
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .select(
            c["c_nationkey"].alias("src"),
            s["s_nationkey"].alias("dst"),
            lit(1).alias("weight"),
        )
    )
    ranks = pagerank_fixed_point(edges, iterations=5, damping_pct=85)
    return (
        ranks.join(F.broadcast(n), ranks["node"] == n["n_nationkey"])
        .select("n_name", "rank_fp")
        .orderBy(F.desc("rank_fp"), "n_name")
    )


_CMS_D, _CMS_W, _CMS_TOPK = 4, 256, 20

_CMS_BUCKET = (
    "CAST(('0x' || substr(md5(CAST({j} AS VARCHAR) || ':' || {tok}), 1, 8))"
    " AS UBIGINT) % " + str(_CMS_W)
)


@query(
    "a_heavy_hitters_cms",
    oracle=f"""
    WITH words AS (
      SELECT unnest({_TOKS}) AS token FROM documents
    ), exact AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_count
      FROM words GROUP BY token
    ), js AS (
      SELECT unnest(range(0, {_CMS_D})) AS j
    ), cells AS (
      SELECT j, {_CMS_BUCKET.format(j='j', tok='token')} AS bucket,
             SUM(exact_count) AS cell
      FROM exact CROSS JOIN js GROUP BY 1, 2
    ), top AS (
      SELECT token, exact_count FROM exact
      ORDER BY exact_count DESC, token LIMIT {_CMS_TOPK}
    ), est AS (
      SELECT t.token, t.exact_count, MIN(c.cell) AS cms_estimate
      FROM top t CROSS JOIN js
      JOIN cells c
        ON c.j = js.j
       AND c.bucket = {_CMS_BUCKET.format(j='js.j', tok='t.token')}
      GROUP BY 1, 2
    )
    SELECT token, exact_count,
           CAST(cms_estimate AS BIGINT) AS cms_estimate,
           CAST(cms_estimate - exact_count AS BIGINT) AS overestimate
    FROM est ORDER BY exact_count DESC, token
    """,
)
def a_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 document tokens with exact count, count-min estimate
    (depth 4 x width 256, md5 buckets), and the sketch's overestimate.

    The engine builds the sketch from the RAW token stream (the
    production path — fixed memory, one partial-agg shuffle of <= 1024
    cells); the oracle builds it from exact counts. Identical cells —
    summation into a cell is associative — so the driver hash-checks
    both the estimates and the one-sided error itself
    (overestimate >= 0 is a theorem; its magnitude is data).
    """
    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    words = d.select(F.explode(word_tokens(col("text"))).alias("token"))
    exact = words.groupBy("token").agg(F.count("*").cast("bigint").alias("exact_count"))
    # r12 optimization (guide §2.3 "aggregate before you shuffle"): the
    # sketch cells are built from the per-token EXACT counts instead of
    # the raw token stream — provably identical cells (summation into a
    # cell is associative; cms_build documents count_col equivalence) —
    # so the tokenize+explode pass runs ONCE and its aggregation is
    # shared with the exact/top-k branch via ReusedExchange, and the
    # 4-way bucket-hash explode runs over distinct tokens, not every
    # token occurrence. At 100 TB this is exactly the rollup shape
    # a_cms_rollup_merge persists (cells from pre-aggregated counts).
    cells = cms_build(exact, "token", count_col="exact_count",
                      depth=_CMS_D, width=_CMS_W)
    top = exact.orderBy(F.desc("exact_count"), "token").limit(_CMS_TOPK)
    keys = top.select(
        "*", F.explode(F.sequence(lit(0), lit(_CMS_D - 1))).alias("j")
    ).withColumn("bucket", cms_bucket(col("j"), col("token"), _CMS_W))
    return (
        keys.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("token", "exact_count")
        .agg(F.min("cell").alias("cms_estimate"))
        .select(
            "token",
            "exact_count",
            "cms_estimate",
            (col("cms_estimate") - col("exact_count")).alias("overestimate"),
        )
        .orderBy(F.desc("exact_count"), "token")
    )


_BLOOM_NW, _BLOOM_K = 256, 3
_BLOOM_M = _BLOOM_NW * 62

# md5 position hash for bloom bit j of gram column {g} (DuckDB side)
_BPOS = (
    "CAST(('0x' || substr(md5(CAST({j} AS VARCHAR) || ':' || {g}), 1, 8))"
    f" AS UBIGINT) % {_BLOOM_M}"
)


@query(
    "d_bloom_prescreen",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS w FROM documents
    ), grams_l AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN list_transform(range(1, len(w) - 1),
                                      i -> md5(array_to_string(list_slice(w, i, i + 2), ' ')))
                  ELSE [] END AS gl
      FROM toks
    ), grams_all AS (
      SELECT doc_id, unnest(gl) AS g FROM grams_l
    ), grams AS (
      SELECT DISTINCT doc_id, g FROM grams_all
    ), bench AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0
    ), js AS (
      SELECT unnest(range(0, {_BLOOM_K})) AS j
    ), posed AS (
      SELECT {_BPOS.format(j='j', g='g')} AS pos
      FROM bench CROSS JOIN js
    ), words AS (
      SELECT CAST(pos // 62 AS BIGINT) AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % 62 AS INT)) AS bits
      FROM posed GROUP BY 1
    ), cand AS (
      SELECT doc_id, g FROM grams WHERE doc_id % 97 <> 0
    ), cand_pos AS (
      SELECT c.doc_id, c.g, {_BPOS.format(j='js.j', g='c.g')} AS pos
      FROM cand c CROSS JOIN js
    ), probe AS (
      SELECT p.doc_id, p.g,
             ((COALESCE(w.bits, 0) & (CAST(1 AS BIGINT) << CAST(p.pos % 62 AS INT))) <> 0)
               AS is_set
      FROM cand_pos p
      LEFT JOIN words w ON w.word = CAST(p.pos // 62 AS BIGINT)
    ), per_gram AS (
      SELECT doc_id, g,
             (SUM(CASE WHEN is_set THEN 1 ELSE 0 END) = {_BLOOM_K}) AS bloom_hit
      FROM probe GROUP BY 1, 2
    ), flagged AS (
      SELECT pg.doc_id, pg.bloom_hit, (b.g IS NOT NULL) AS exact_hit
      FROM per_gram pg LEFT JOIN bench b ON b.g = pg.g
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS prescreen_hits,
           CAST(SUM(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT) AS exact_hits,
           CAST(SUM(CASE WHEN bloom_hit AND NOT exact_hit THEN 1 ELSE 0 END) AS BIGINT)
             AS bloom_false_positives
    FROM flagged GROUP BY 1 ORDER BY doc_id
    """,
)
def d_bloom_prescreen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination pre-screen, with its error visible.

    Builds a 256x62-bit Bloom filter (k=3) of the benchmark split's
    3-gram md5s and probes every training doc's grams against it,
    reporting per doc: distinct grams, pre-screen survivors, exact
    contaminated grams, and the filter's false positives. One-sidedness
    (exact_hits <= prescreen_hits, members never screened out) is part
    of the hashed output, so the driver checks the Bloom THEOREM, not
    just the arithmetic.

    Scale: the filter is ~2 KB regardless of benchmark size and
    broadcasts; the 100 TB training side is probed map-side (the only
    candidate-sized shuffles key on (doc, gram) and doc — uniform md5
    keys, skew-free). The exact join that a real pipeline would run
    AFTER this pre-screen touches only the survivors.
    """
    from ..llm.corpus import ngram_hashes
    from ..operators.sketches import bloom_build, bloom_hits

    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    grams = ngram_hashes(d, 3).distinct()
    bench = (
        grams.filter(col("doc_id") % 97 == 0).select("ngram_hash").distinct()
    )
    words = bloom_build(bench, "ngram_hash", n_words=_BLOOM_NW, k=_BLOOM_K)
    cand = grams.filter(col("doc_id") % 97 != 0)
    marked = bloom_hits(cand, words, "ngram_hash", n_words=_BLOOM_NW, k=_BLOOM_K)
    flagged = marked.join(
        bench.withColumn("_exact", lit(True)), "ngram_hash", "left"
    ).select(
        "doc_id",
        "bloom_hit",
        F.coalesce(col("_exact"), lit(False)).alias("exact_hit"),
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum(F.when(col("bloom_hit"), 1).otherwise(0))
            .cast("bigint")
            .alias("prescreen_hits"),
            F.sum(F.when(col("exact_hit"), 1).otherwise(0))
            .cast("bigint")
            .alias("exact_hits"),
            F.sum(F.when(col("bloom_hit") & ~col("exact_hit"), 1).otherwise(0))
            .cast("bigint")
            .alias("bloom_false_positives"),
        )
        .orderBy("doc_id")
    )


_RU_D, _RU_W, _RU_TOPK = 4, 512, 10

_RU_BUCKET = (
    "CAST(('0x' || substr(md5(CAST({j} AS VARCHAR) || ':' || CAST({u} AS VARCHAR)), 1, 8))"
    f" AS UBIGINT) % {_RU_W}"
)


@query(
    "a_cms_rollup_merge",
    oracle=f"""
    WITH exact AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_count
      FROM events GROUP BY user_id
    ), js AS (
      SELECT unnest(range(0, {_RU_D})) AS j
    ), cells AS (
      SELECT j, {_RU_BUCKET.format(j='j', u='user_id')} AS bucket,
             SUM(exact_count) AS cell
      FROM exact CROSS JOIN js GROUP BY 1, 2
    ), top AS (
      SELECT user_id, exact_count FROM exact
      ORDER BY exact_count DESC, user_id LIMIT {_RU_TOPK}
    ), est AS (
      SELECT t.user_id, t.exact_count, MIN(c.cell) AS cms_estimate
      FROM top t CROSS JOIN js
      JOIN cells c
        ON c.j = js.j
       AND c.bucket = {_RU_BUCKET.format(j='js.j', u='t.user_id')}
      GROUP BY 1, 2
    )
    SELECT user_id, exact_count,
           CAST(cms_estimate AS BIGINT) AS cms_estimate,
           CAST(cms_estimate - exact_count AS BIGINT) AS overestimate
    FROM est ORDER BY exact_count DESC, user_id
    """,
)
def a_cms_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch rollup: per-DAY count-min partials over the event stream,
    merged, then probed for the top-10 users by activity.

    The engine takes the production rollup path — one partial cell
    table per event day (the unit a pipeline persists), merged with
    ``cms_merge`` — while the oracle builds one sketch over the whole
    stream. The driver hash-matching both proves merge-of-partials ==
    build-over-the-whole exactly, which is what lets 100 TB of history
    answer heavy-hitter queries from a few KB of daily sketch parquet
    instead of a rescan.
    """
    ev = load_table(spark, sf_dir, "events", ["ts", "user_id"]).select(
        F.to_date("ts").alias("day"), "user_id"
    )
    # r12 optimization (guide §2.3): aggregate per (day, user) ONCE and
    # feed both branches from it — the daily partial sketches are built
    # from the pre-aggregated counts (identical cells; associative sums,
    # the equivalence cms_build documents for count_col) and the exact
    # per-user counts are the same aggregation rolled up. One scan +
    # one (day, user) shuffle shared via ReusedExchange replaces two
    # scans of the event stream, and the 4-way bucket-hash explode runs
    # over distinct (day, user) rows, not every event.
    per_du = ev.groupBy("day", "user_id").agg(
        F.count("*").cast("bigint").alias("n")
    )
    daily = cms_build(
        per_du, "user_id", count_col="n",
        depth=_RU_D, width=_RU_W, partition_cols=["day"]
    )
    cells = cms_merge(daily)
    exact = per_du.groupBy("user_id").agg(
        F.sum("n").cast("bigint").alias("exact_count")
    )
    top = exact.orderBy(F.desc("exact_count"), "user_id").limit(_RU_TOPK)
    keys = top.select(
        "*", F.explode(F.sequence(lit(0), lit(_RU_D - 1))).alias("j")
    ).withColumn("bucket", cms_bucket(col("j"), col("user_id"), _RU_W))
    return (
        keys.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("user_id", "exact_count")
        .agg(F.min("cell").alias("cms_estimate"))
        .select(
            "user_id",
            "exact_count",
            "cms_estimate",
            (col("cms_estimate") - col("exact_count")).alias("overestimate"),
        )
        .orderBy(F.desc("exact_count"), "user_id")
    )
