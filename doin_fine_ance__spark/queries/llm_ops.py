"""Beyond-reference LLM-data-pipeline operators (north star).

Dedup, similarity search, and text analysis over the ``documents`` and
``embeddings`` tables — the operators a 100 TB training-data pipeline
needs. SQL-expressible ones carry DuckDB oracles; the LSH/sketch
variants are registered rows-only where the oracle SQL would have to
re-implement the sketch.

Scale design notes:
- exact dedup = hash groupBy on the content key (one shuffle).
- near-dup (MinHash/SimHash) = per-doc signature (map-only, JVM or
  Arrow-vectorized) → band/bucket groupBy → pair join within buckets —
  never an O(n²) cross join.
- ANN = brute-force cosine for correctness baseline; bucketed-LSH
  variant keeps the candidate set per query bounded at scale.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from ..llm.ann import ann_topk_ivf, ann_topk_ivfpq, ann_topk_lsh, plane_matrix
from ..llm.corpus import word_tokens
from ..llm.dedup import (
    PERM_COEFFS,
    containment_prefix_pairs,
    default_cell_cap,
    exact_collapse,
    incremental_candidate_pairs,
    minhash_containment_pairs,
    minhash_near_dup_star_edges,
    minhash_near_dups,
    minhash_signatures,
    simhash64,
    simhash_near_dups,
    token_set,
    verified_forest_edges,
    verify_pairs,
)
from ..operators.checkpoint import materialize, ordered
from ..operators.skew import fan_out
from ..sources.testdata import load_table
from . import query


# Materialize-before-sort for kernel-heavy finals (see
# operators.checkpoint.ordered for the full rationale: the range
# partitioner's sampling job re-runs everything between the last
# Exchange and the sort — for the codec queries, the entire
# mapInPandas decode/feature chain).
_ordered = ordered


# DuckDB CTE mirroring llm.dedup.exact_collapse: group documents by md5
# of the whitespace-normalized lowered text (the exact normalization the
# minhash shingler uses, so group members share signatures AND verify
# token sets), rep = per-group MIN(doc_id), has_tokens marks groups
# whose verify token set is non-empty (empty docs share signatures but
# pair at Jaccard 0/0 = NULL, so star edges must skip them). ec_reps
# re-materializes the representative documents for the mh-pipeline CTE.
_EXACT_COLLAPSE_CTE = """
    ec_grp AS (
      SELECT doc_id,
             md5(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g')) AS gk,
             length(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) > 0 AS has_tokens
      FROM documents
    ), ec_groups AS (
      SELECT gk, MIN(doc_id) AS rep_id, COUNT(*) AS grp_size,
             MIN(has_tokens) AS has_tokens
      FROM ec_grp GROUP BY gk
    ), ec_reps AS (
      SELECT d.doc_id, d.text
      FROM documents d JOIN ec_groups g ON d.doc_id = g.rep_id
    )"""


def _minhash_pairs_cte(
    threshold: float,
    k: int = 64,
    bands: int = 16,
    n: int = 5,
    measure: str = "jaccard",
    source: str = "documents",
) -> str:
    """Generate the DuckDB CTE chain computing the EXACT MinHash-LSH
    pipeline of :func:`doin_fine_ance__spark.llm.dedup.minhash_near_dups`.

    Same shingling (char n-grams of whitespace-normalized lowered
    text), same 32-bit md5-derived shingle hash, same fixed permutation
    coefficients (PERM_COEFFS), same band hashing, same exact token-
    Jaccard verification — so the oracle matches by construction, not
    by hoping LSH recall is 1. Yields a chain ending in
    ``mh_pairs(id_a, id_b, <measure>)`` where measure is ``jaccard``
    (intersection/union) or ``containment`` (intersection/min-size,
    mirroring :func:`llm.dedup.minhash_containment_pairs`).
    """
    p = (1 << 31) - 1
    r = k // bands
    mins = ",\n             ".join(
        f"MIN((CAST({a} AS UBIGINT) * h + CAST({b} AS UBIGINT)) % {p}) AS s{i}"
        for i, (a, b) in enumerate(PERM_COEFFS[:k])
    )
    band_selects = "\n      UNION ALL\n      ".join(
        "SELECT doc_id, {bi} AS band, md5(concat_ws('|', {cols})) AS band_hash FROM mh_sigs".format(
            bi=bi, cols=", ".join(f"s{bi * r + j}" for j in range(r))
        )
        for bi in range(bands)
    )
    if measure == "containment":
        jac = (
            "CAST(length(list_intersect(ta.tokens, tb.tokens)) AS DOUBLE)"
            " / least(length(ta.tokens), length(tb.tokens))"
        )
    else:
        jac = (
            "CAST(length(list_intersect(ta.tokens, tb.tokens)) AS DOUBLE)"
            " / (length(ta.tokens) + length(tb.tokens)"
            " - length(list_intersect(ta.tokens, tb.tokens)))"
        )
    return f"""
    mh_norm AS (
      SELECT doc_id, regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g') AS t
      FROM {source}
    ), mh_shingles AS (
      SELECT doc_id,
             unnest(CASE WHEN length(t) < {n} THEN [t]
                    ELSE list_distinct(list_transform(range(1, length(t) - {n - 2}),
                                                      i -> substr(t, i, {n}))) END) AS s
      FROM mh_norm
    ), mh_hashed AS (
      SELECT doc_id, CAST('0x' || substr(md5(s), 1, 8) AS UBIGINT) AS h
      FROM mh_shingles
    ), mh_sigs AS (
      SELECT doc_id,
             {mins}
      FROM mh_hashed GROUP BY doc_id
    ), mh_bands AS (
      {band_selects}
    ), mh_cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM mh_bands a JOIN mh_bands b
        ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    ), mh_toks AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS tokens
      FROM {source}
    ), mh_pairs AS (
      SELECT c.id_a, c.id_b, {jac} AS {measure}
      FROM mh_cands c
      JOIN mh_toks ta ON c.id_a = ta.doc_id
      JOIN mh_toks tb ON c.id_b = tb.doc_id
      WHERE {jac} >= {threshold}
    )"""


def _simhash_fp_cte() -> str:
    """DuckDB CTE chain recomputing llm.dedup._simhash64_udf exactly.

    Per whitespace token (multiplicity kept — repeats vote repeatedly):
    64-bit hash = first 16 md5 hex chars; per bit, sum of ±1 votes;
    fingerprint bit set iff the vote sum is positive; wrapped to signed
    int64 like the Spark LongType output. Empty-token docs → 0. Ends in
    ``sh_fp(doc_id, simhash)``.
    """
    votes = ",\n             ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS c{i}"
        for i in range(64)
    )
    acc = " + ".join(f"CASE WHEN c{i} > 0 THEN CAST({1 << i} AS HUGEINT) ELSE 0 END" for i in range(64))
    return f"""
    sh_toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS tok
      FROM documents
    ), sh_hashed AS (
      SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 16) AS UBIGINT) AS h
      FROM sh_toks
    ), sh_votes AS (
      SELECT doc_id,
             {votes}
      FROM sh_hashed GROUP BY doc_id
    ), sh_unsigned AS (
      SELECT doc_id, ({acc}) AS u FROM sh_votes
    ), sh_fp AS (
      SELECT d.doc_id,
             COALESCE(CAST(CASE WHEN u >= CAST({1 << 63} AS HUGEINT)
                                THEN u - CAST({1 << 64} AS HUGEINT)
                                ELSE u END AS BIGINT), 0) AS simhash
      FROM documents d LEFT JOIN sh_unsigned s ON d.doc_id = s.doc_id
    )"""


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "t_token_count",
    oracle="""
    SELECT doc_id,
           length(text) AS n_chars_measured,
           CAST(length(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS INT)
             AS n_tokens
    FROM documents
    """,
)
def t_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting over documents (map-only, codegen)."""
    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    tokens = F.filter(F.split(col("text"), r"\s+"), lambda x: x != "")
    return d.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars_measured"),
        F.size(tokens).cast("int").alias("n_tokens"),
    )


@query(
    "t_quality_score",
    oracle="""
    SELECT doc_id,
           CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1) AS punct_ratio,
           CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1) AS digit_ratio,
           CAST(length(list_filter(string_split_regex(lower(text), '\\s+'),
                x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], x))) AS DOUBLE)
             / greatest(length(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')), 1)
             AS stopword_ratio,
           CASE WHEN length(text) BETWEEN 20 AND 100000 THEN 1 ELSE 0 END AS length_ok
    FROM documents
    """,
)
def t_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality signals: punctuation/digit/stopword ratios + length gate.

    The classic pre-training quality heuristics (C4/Gopher-style),
    all as JVM built-ins — ratios are single IEEE divisions of integer
    counts so they hash-match the oracle exactly.
    """
    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    n = F.greatest(F.length("text"), lit(1))
    tokens = F.filter(F.split(col("text"), r"\s+"), lambda x: x != "")
    stop = F.array([lit(w) for w in ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]])
    lower_tokens = word_tokens(col("text"))
    n_stop = F.size(F.filter(lower_tokens, lambda x: F.array_contains(stop, x)))
    return d.select(
        "doc_id",
        (F.length(F.regexp_replace("text", r"[^.!?,;:]", "")).cast("double") / n).alias("punct_ratio"),
        (F.length(F.regexp_replace("text", r"[^0-9]", "")).cast("double") / n).alias("digit_ratio"),
        (n_stop.cast("double") / F.greatest(F.size(tokens), lit(1))).alias("stopword_ratio"),
        F.when(F.length("text").between(20, 100000), 1).otherwise(0).alias("length_ok"),
    )


@query(
    "t_lang_id_heuristic",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang,
             length(list_filter(string_split_regex(lower(text), '\\s+'),
               x -> list_contains(['the','and','of','to','is'], x))) AS en_hits,
             length(list_filter(string_split_regex(lower(text), '\\s+'),
               x -> list_contains(['le','la','et','de','est'], x))) AS fr_hits,
             length(list_filter(string_split_regex(lower(text), '\\s+'),
               x -> list_contains(['der','die','und','das','ist'], x))) AS de_hits
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN en_hits >= fr_hits AND en_hits >= de_hits AND en_hits > 0 THEN 'en'
                WHEN fr_hits >= de_hits AND fr_hits > 0 THEN 'fr'
                WHEN de_hits > 0 THEN 'de'
                ELSE 'unknown' END AS detected_lang
    FROM scored
    """,
)
def t_lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID (deterministic n-gram-free heuristic)."""
    d = load_table(spark, sf_dir, "documents", ["doc_id", "text", "lang"])
    lower_tokens = word_tokens(col("text"))

    def hits(words: list[str]) -> F.Column:
        arr = F.array([lit(w) for w in words])
        return F.size(F.filter(lower_tokens, lambda x: F.array_contains(arr, x)))

    scored = d.select(
        "doc_id",
        "lang",
        hits(["the", "and", "of", "to", "is"]).alias("en_hits"),
        hits(["le", "la", "et", "de", "est"]).alias("fr_hits"),
        hits(["der", "die", "und", "das", "ist"]).alias("de_hits"),
    )
    return scored.select(
        "doc_id",
        "lang",
        F.when(
            (col("en_hits") >= col("fr_hits"))
            & (col("en_hits") >= col("de_hits"))
            & (col("en_hits") > 0),
            "en",
        )
        .when((col("fr_hits") >= col("de_hits")) & (col("fr_hits") > 0), "fr")
        .when(col("de_hits") > 0, "de")
        .otherwise("unknown")
        .alias("detected_lang"),
    )


@query(
    "t_doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM documents
    """,
)
def t_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content fingerprint (lower + whitespace-collapse + md5)."""
    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    normalized = F.regexp_replace(F.trim(F.lower(col("text"))), r"\s+", " ")
    return d.select("doc_id", F.md5(normalized).alias("fingerprint"))


@query(
    "t_winnowing_fingerprints",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(t) - 3, 0) + 1),
               i -> CAST(CAST(('0x' || substr(md5(array_to_string(t[i:i+3], ' ')), 1, 8)) AS UBIGINT) AS BIGINT)) AS h
      FROM toks
    ), wins AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(h) - 4, 0) + 1),
               i -> list_min(h[i:i+4]))) AS fps
      FROM grams
    )
    SELECT doc_id, unnest(fps) AS fingerprint FROM wins
    """,
)
def t_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing: rolling k-gram hashes → window minima.

    The document-fingerprinting algorithm (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): hash every 4-token gram, keep the minimum of each
    5-hash window — guarantees any shared run of ≥8 tokens yields a
    shared fingerprint, with output ~1/5 the gram count. Everything is
    JVM built-ins (md5-prefix gram hashes, slice+array_min windows);
    complements t_doc_fingerprint (whole-doc hash) with substring-level
    overlap detection.
    """
    from pyspark.sql import Window

    d = fan_out(load_table(spark, sf_dir, "documents", ["doc_id", "text"]))
    toks = d.select("doc_id", word_tokens(col("text")).alias("t"))
    # One ROW per gram position (posexplode), hash computed per row —
    # NOT per-doc nested arrays: Catalyst inlines computed arrays into
    # their explode, re-evaluating every gram hash once per output row
    # (measured 66s for 500 docs); row-wise + window min is linear.
    # The gram hashing runs pre-shuffle, so fan the scan out first.
    grams = (
        toks.filter(F.size("t") >= 4)
        .select(
            "doc_id",
            F.size("t").alias("n"),
            "t",
            F.posexplode(F.sequence(lit(1), F.size("t") - 3)).alias("_p", "i"),
        )
        .select(
            "doc_id",
            "n",
            "i",
            F.conv(
                F.substring(F.md5(F.concat_ws(" ", F.slice(col("t"), col("i"), 4))), 1, 8),
                16,
                10,
            ).cast("bigint").alias("h"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, 4)
    wins = grams.select(
        "doc_id",
        "i",
        "n",
        F.min("h").over(w).alias("fingerprint"),
    ).filter(col("i") <= col("n") - 3 - 4)  # complete 5-hash windows only
    return wins.select("doc_id", "fingerprint").distinct()


_BPE_PAT = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+|\s+"


@query(
    "t_token_count_bpe",
    oracle=f"""
    SELECT doc_id,
           CAST(length(regexp_extract_all(text, '{_BPE_PAT.replace("'", "''")}')) AS INT)
             AS n_bpe_tokens,
           CAST(length(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS INT)
             AS n_ws_tokens
    FROM documents
    """,
)
def t_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (GPT-2-style pre-tokenizer regex).

    Contractions / letter-runs / digit-runs / punctuation-runs /
    whitespace, per the published GPT-2 pre-tokenizer pattern
    (simplified to ASCII classes so Java regex and RE2 agree). The
    ratio n_bpe/n_ws is the standard tokens-per-word budget estimate
    for LLM corpus sizing. Map-only, whole-stage codegen.
    """
    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    ws = F.filter(F.split(col("text"), r"\s+"), lambda x: x != "")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(col("text"), lit(_BPE_PAT), lit(0))).cast("int").alias("n_bpe_tokens"),
        F.size(ws).cast("int").alias("n_ws_tokens"),
    )


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "d_exact_dedup",
    oracle="""
    SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS content_key,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS dup_count
    FROM documents
    GROUP BY 1
    """,
)
def d_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized content, keep min doc_id.

    One shuffle on the content hash; the 100 TB path is identical
    (content hash is uniformly distributed → no skew).
    """
    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    key = F.md5(F.regexp_replace(F.trim(F.lower(col("text"))), r"\s+", " "))
    return (
        d.select(key.alias("content_key"), "doc_id")
        .groupBy("content_key")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("dup_count"))
    )


@query(
    "d_ngram_jaccard_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS tokens,
             lower(text)[1:16] AS block_key
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(length(list_intersect(a.tokens, b.tokens)) AS DOUBLE)
             / (length(a.tokens) + length(b.tokens) - length(list_intersect(a.tokens, b.tokens)))
             AS jaccard
    FROM toks a JOIN toks b
      ON a.block_key = b.block_key AND a.doc_id < b.doc_id
    WHERE CAST(length(list_intersect(a.tokens, b.tokens)) AS DOUBLE)
             / (length(a.tokens) + length(b.tokens) - length(list_intersect(a.tokens, b.tokens))) >= 0.5
    """,
)
def d_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs: token-set Jaccard within prefix blocks.

    Blocking on a 16-char prefix keeps the pair join linear-ish (the
    scale analog of LSH banding: only same-bucket docs are compared);
    Jaccard = |∩| / |∪| via array_intersect sizes, all JVM built-ins.
    """
    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    toks = d.select(
        "doc_id",
        F.array_distinct(word_tokens(col("text"))).alias("tokens"),
        F.substring(F.lower(col("text")), 1, 16).alias("block_key"),
    )
    a = toks.alias("a")
    b = toks.alias("b")
    inter = F.size(F.array_intersect(col("a.tokens"), col("b.tokens")))
    union = F.size(col("a.tokens")) + F.size(col("b.tokens")) - inter
    jac = inter.cast("double") / union
    return (
        a.join(
            b,
            (col("a.block_key") == col("b.block_key")) & (col("a.doc_id") < col("b.doc_id")),
        )
        .select(
            col("a.doc_id").alias("doc_a"),
            col("b.doc_id").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(col("jaccard") >= 0.5)
    )


@query(
    "d_dup_clusters",
    oracle="WITH RECURSIVE "
    + _minhash_pairs_cte(0.5)
    + """,
    sym AS (
      SELECT id_a AS node, id_b AS nbr FROM mh_pairs
      UNION
      SELECT id_b AS node, id_a AS nbr FROM mh_pairs
    ), reach(node, lab) AS (
      SELECT node, node FROM sym
      UNION
      SELECT r.node, s.nbr FROM reach r JOIN sym s ON r.lab = s.node
    )
    SELECT node AS doc_id, MIN(lab) AS keeper_id FROM reach GROUP BY node
    """,
)
def d_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → clusters: connected components over the near-dup graph.

    The keep-one-per-cluster step after any pairwise dedup. Spark side
    is iterative min-label propagation (operators/graph.py, one
    shuffle-join per round, lineage checkpointed); the oracle is a
    DuckDB recursive-CTE transitive closure — both converge to the
    same deterministic fixpoint (smallest doc_id per component), so
    this iterative algorithm is hash-checked, not just rows-counted.

    Edge set: MinHash-LSH band candidates verified at exact token-
    Jaccard ≥ 0.5 — the skew-safe production path (bucket sizes are
    bounded by signature collisions, never by a shared text prefix;
    cf. d_ngram_jaccard_pairs, whose 16-char-prefix blocking is kept
    only as an independent oracle probe). The oracle recomputes the
    SAME signatures/bands in SQL from the fixed PERM_COEFFS, so the
    match is by construction, not by LSH recall luck.

    Oracle scale bound: the recursive CTE is the one oracle in the
    registry that cannot follow the engine up the scale ladder — at
    the sf1 rehearsal's 14.1 M-edge pair graph (101x sf0.1: replica
    cliques grow quadratically) it runs for hours while the Spark
    side finishes in ~13 s (partition-local contraction + pointer
    doubling scales with edges, SQL transitive closure with
    paths). Hash-verified at sf0.001/0.01; rows-only beyond.

    Scale contract (r12, closing the r11 sf10 finding): the edge set
    fed to connected components is no longer the full verified pair
    graph — it is (a) exact-duplicate collapse first (the order every
    production corpus pipeline uses; llm.dedup.exact_collapse), whose
    groups contribute grp_size-1 rep→member star edges, then (b)
    per-LSH-bucket verified SPANNING FORESTS over the representatives
    (llm.dedup.verified_forest_edges): within each band bucket a local
    union-find verifies a pair's exact token Jaccard only when its
    endpoints are not already connected, emitting ≤ bucket_size - 1
    edges. Both steps preserve components exactly (group members share
    signatures AND token sets, so candidate/verify decisions are
    group-invariant; every full-graph edge lies inside some bucket,
    where local union-find computes that bucket's exact verified
    connectivity) — and THIS oracle still pins the composition: the
    recursive CTE computes the transitive closure of the FULL pair
    graph, so a green hash proves forest-vs-full equality on real
    data, not just on the emitted edges. Measured effect: the r11
    sf10 rehearsal's full verified graph was ~1.4 B edges (quadratic
    in the planted near-dup cliques; the pairwise verify join OOMed a
    24 g single JVM and the bench skipped this row) — the forest path
    ships token arrays once per band instead of twice per pair,
    verifies m-1 (not m²/2) pairs per clique, and the row runs
    un-skipped at sf10.
    """
    from ..operators.graph import dedup_keepers

    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    membership, reps = exact_collapse(d)
    stars = membership.filter(
        (col("doc_id") != col("rep_id")) & col("has_tokens")
    ).select(col("rep_id").alias("id_a"), col("doc_id").alias("id_b"))
    forest = verified_forest_edges(reps, threshold=0.5).select("id_a", "id_b")
    return dedup_keepers(forest.unionByName(stars), "id_a", "id_b")


@query(
    "d_neardup_star_edges",
    oracle="WITH "
    + _EXACT_COLLAPSE_CTE
    + ", "
    + _minhash_pairs_cte(0.7, source="ec_reps")
    + """
    SELECT id_a, id_b, jaccard FROM mh_pairs
    UNION ALL
    SELECT g.rep_id AS id_a, m.doc_id AS id_b, CAST(1 AS DOUBLE) AS jaccard
    FROM ec_grp m JOIN ec_groups g ON m.gk = g.gk
    WHERE m.doc_id <> g.rep_id AND g.has_tokens
    """,
)
def d_neardup_star_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-representative (star-edge) near-dup output mode.

    Exact-dedup-first composition as a deterministic EDGE emitter: per
    exact-duplicate group one rep→member star edge per member (Jaccard
    exactly 1.0 — identical token sets), plus the verified MinHash-LSH
    pairs over the representatives only. Connected components over
    this edge set equal components over the full verified pair graph
    (see llm.dedup.minhash_near_dup_star_edges for the invariance
    argument), so downstream clustering loses nothing. Same threshold
    (0.7) as d_minhash_lsh_neardups, making the two directly
    comparable: on exact-replica corpora (the common production case)
    this output is linear where the sibling's is quadratic.

    Honest scale note: on the synthetic rehearsal corpus the planted
    cliques are NEAR-duplicates with distinct texts (exact groups max
    out at 2 members), so the rep-level pair term here remains
    quadratic in those cliques — the fully-linear clustering contract
    is d_dup_clusters' verified-forest path, whose edges are
    order-dependent and therefore not SQL-pinnable edge-by-edge; THIS
    query is the deterministic, oracle-exact edge mode. Oracle
    recomputes the identical composition in SQL: group by md5 of
    normalized text, reps = per-group min doc_id, the exact
    mh-pipeline CTE re-pointed at the reps, UNION ALL the star edges
    of token-bearing groups.
    """
    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    return minhash_near_dup_star_edges(d, threshold=0.7)


@query(
    "t_top_tokens",
    oracle="""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS tok
      FROM documents
    )
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
    FROM toks GROUP BY tok
    ORDER BY n DESC, tok LIMIT 100
    """,
)
def t_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-100 tokens by frequency.

    The vocabulary-stats pass every tokenizer/BPE training run starts
    with. One shuffle with map-side partial aggregation (Zipfian skew
    lands on the combiners, not the reduce); the final top-k is a
    TakeOrderedAndProject, never a global sort.
    """
    d = load_table(spark, sf_dir, "documents", ["text"])
    toks = word_tokens(col("text"))
    return (
        d.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(col("n").desc(), "tok")
        .limit(100)
    )


@query(
    "t_bigram_familiarity",
    oracle="""
    WITH norm AS (
      SELECT doc_id, regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id, unnest(list_transform(range(1, length(t)), i -> substr(t, i, 2))) AS g
      FROM norm WHERE length(t) >= 2
    ), vocab AS (
      SELECT g, COUNT(*) AS c FROM grams GROUP BY g
    ), scored AS (
      SELECT gr.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(v.c) AS BIGINT) AS familiarity_sum
      FROM grams gr JOIN vocab v ON gr.g = v.g
      GROUP BY gr.doc_id
    )
    SELECT doc_id, n_bigrams, familiarity_sum,
           CAST(familiarity_sum AS DOUBLE) / n_bigrams AS familiarity
    FROM scored ORDER BY doc_id
    """,
)
def t_bigram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-bigram familiarity: a CCNet-style LM-fluency proxy.

    CCNet ranks documents by language-model perplexity; the cheap
    engine-exact analog is the average CORPUS frequency of a
    document's character bigrams — fluent text reuses common bigrams,
    gibberish doesn't. Log-likelihood is deliberately avoided: ln()
    is not bit-identical across engines, while this score is an
    integer sum and one IEEE division, so it hash-matches the oracle.

    Scale shape: bigram counting happens map-side (one Arrow pass per
    batch, counts per doc — the stream that shuffles is the distinct
    (doc, bigram) set, ~3x smaller than raw bigrams); the vocabulary is
    tiny (≤ |charset|², a few thousand rows at any corpus size) — one
    partial-agg shuffle, then BROADCAST to score; per-doc aggregation
    is the only data-sized shuffle.
    """
    import pandas as pd

    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    norm = F.regexp_replace(F.lower(F.coalesce(col("text"), lit(""))), r"\s+", " ")
    base = fan_out(d).select("doc_id", norm.alias("t")).filter(F.length("t") >= 2)

    def gram_counts(pdfs):
        # Per-doc bigram COUNTS in one Arrow batch pass — a map-side
        # combine done where bigram slicing is cheapest. The JVM
        # alternative (explode(transform(sequence, substr))) runs the
        # higher-order lambda interpreted per character AND executes
        # twice (vocab branch + scoring branch, Spark reuses exchanges
        # not subplans): measured 4.8s vs 1.8s at sf0.1. Counts are
        # exact because each input row is one whole document.
        from collections import Counter

        for pdf in pdfs:
            ids: list = []
            gs: list = []
            cs: list = []
            for did, t in zip(pdf["doc_id"], pdf["t"]):
                cnt = Counter(t[i : i + 2] for i in range(len(t) - 1))
                ids.extend([did] * len(cnt))
                gs.extend(cnt.keys())
                cs.extend(cnt.values())
            yield pd.DataFrame({"doc_id": ids, "g": gs, "cnt": cs})

    dg = base.mapInPandas(gram_counts, "doc_id long, g string, cnt long")
    # dg feeds BOTH the vocab build and the scoring join; materialize it
    # once (463k rows at sf0.1 vs the 1.48M-row raw bigram stream).
    dg = materialize(dg)
    vocab = dg.groupBy("g").agg(F.sum("cnt").alias("c"))
    return (
        dg.join(F.broadcast(vocab), "g")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_bigrams"),
            F.sum(col("cnt") * col("c")).cast("bigint").alias("familiarity_sum"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "familiarity_sum",
            (col("familiarity_sum").cast("double") / col("n_bigrams")).alias("familiarity"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Embedding similarity search
# ---------------------------------------------------------------------------


# --- sketch-based near-dup & ANN (rows-only: the minhash permutations,
# --- simhash bit math, and hyperplane signs are not reasonably
# --- SQL-expressible; pytest cross-checks them against exact baselines)


@query(
    "d_minhash_lsh_neardups",
    oracle="WITH "
    + _minhash_pairs_cte(0.7)
    + """
    SELECT id_a, id_b, jaccard FROM mh_pairs
    """,
)
def d_minhash_lsh_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64)+LSH(16 bands) near-dup pairs, exact-Jaccard verified.

    shingle→minhash→band→bucket-join→verify; no O(n²) stage (see
    doin_fine_ance__spark.llm.dedup). Hash-checked against a SQL
    re-computation of the identical signatures/bands (md5-derived
    shingle hashes + fixed PERM_COEFFS make the sketch engine-
    independent); recall vs the exact-Jaccard baseline is additionally
    asserted in tests/test_llm_ops.py.
    """
    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    return minhash_near_dups(d, threshold=0.7)


@query(
    "d_minhash_containment",
    oracle="WITH "
    + _minhash_pairs_cte(0.9, measure="containment")
    + """
    SELECT id_a, id_b, containment FROM mh_pairs
    ORDER BY id_a, id_b
    """,
)
def d_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-inclusion pairs: containment ≥ 0.9 over LSH buckets.

    The quote/boilerplate/nested-document case exact-Jaccard dedup
    under-scores: a short doc whose token set sits inside a long doc
    has tiny Jaccard but containment ≈ 1. Same banded candidate
    generation as d_minhash_lsh_neardups (one shuffle, no O(n²)
    stage), verify-side measure swapped to |A∩B| / min(|A|,|B|) —
    see llm/dedup.py::minhash_containment_pairs for the recall caveat
    (unbiased containment LSH needs size-partitioned banding, LSH
    Ensemble, Zhu et al. VLDB 2016). Oracle recomputes the identical
    signatures/bands/measure in SQL.
    """
    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    # plain orderBy, NOT materialize-before-sort: this query's OUTPUT is
    # the pair set itself — quadratic in planted near-dup cliques at the
    # skew rehearsal (millions of rows) — and eagerly checkpointing it
    # costs more than the range sampler's re-scan of the shuffle-backed
    # verify join (measured at sf1-skew: 55.0 s materialized vs 36.9 s
    # plain; sf0.1 was noise-level 2.02 vs 1.90). The materialize idiom
    # stays reserved for kernel-heavy, REDUCED outputs (see
    # operators.checkpoint.ordered).
    return minhash_containment_pairs(d, threshold=0.9).orderBy("id_a", "id_b")


@query(
    "d_containment_prefix",
    oracle="""
    WITH cp_words AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS w
      FROM documents
    ), cp_toks AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN list_distinct(list_transform(range(1, len(w) - 1),
                       i -> md5(array_to_string(list_slice(w, i, i + 2), ' '))))
                  ELSE [] END AS tokens
      FROM cp_words
    ), cp_flat AS (
      SELECT doc_id, unnest(tokens) AS tok FROM cp_toks
    ), cp_df AS (
      SELECT tok, count(*) AS dfr FROM cp_flat GROUP BY tok
    ), cp_sz AS (
      SELECT doc_id, count(*) AS sz FROM cp_flat GROUP BY doc_id
    ), cp_rank AS (
      SELECT f.doc_id, f.tok, s.sz,
             row_number() OVER (PARTITION BY f.doc_id ORDER BY d.dfr, f.tok) AS rn
      FROM cp_flat f JOIN cp_df d USING (tok) JOIN cp_sz s USING (doc_id)
    ), cp_prefix AS (
      SELECT doc_id AS id_p, tok, sz AS sz_p
      FROM cp_rank
      WHERE rn <= sz - ((sz * 900 + 999) // 1000) + 1
    ), cp_index AS (
      SELECT f.doc_id AS id_x, f.tok, s.sz AS sz_x
      FROM cp_flat f JOIN cp_sz s USING (doc_id)
    ), cp_cands AS (
      SELECT DISTINCT least(id_p, id_x) AS id_a, greatest(id_p, id_x) AS id_b
      FROM cp_prefix p JOIN cp_index x USING (tok)
      WHERE sz_p < sz_x
    )
    SELECT id_a, id_b, containment FROM (
      SELECT c.id_a, c.id_b,
             CAST(length(list_intersect(ta.tokens, tb.tokens)) AS DOUBLE)
               / least(length(ta.tokens), length(tb.tokens)) AS containment
      FROM cp_cands c
      JOIN cp_toks ta ON ta.doc_id = c.id_a
      JOIN cp_toks tb ON tb.doc_id = c.id_b
    ) WHERE containment >= 0.9
    ORDER BY id_a, id_b
    """,
)
def d_containment_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT PROPER 3-gram containment-join pairs (≥ 0.9, strictly
    smaller set inside a larger one) via df-ordered prefix filtering —
    the recall-1.0 complement to d_minhash_containment (VERDICT r9
    #4: Jaccard-banded candidates are biased against short-inside-long
    inclusions; this operator cannot miss one).

    Token identity is the word-3-gram md5 (the d_bloom_prescreen gram
    idiom): the raw corpus draws from a ~31-word vocabulary, so
    UNIGRAM containment ≥ 0.9 holds for over half of all pairs —
    degenerate — while 3-gram sequences are distinctive (25 pairs at
    sf0.01) and are the measure n-gram-overlap dedup actually uses.
    Proper mode (|A| < |B|) is both the quote-detection semantics and
    the scale guardrail: equal-size near-duplicate CLIQUES (the
    sf1-skew boilerplate plant, whose members differ only in an id
    token) have inherently quadratic pair counts (measured 12.7M
    unrestricted at sf1-skew) and belong to exact/MinHash dedup, run
    before a containment join in a real pipeline — see
    llm/dedup.py::containment_prefix_pairs. Every pair at the
    driver's scale factors is a proper inclusion, so proper mode
    keeps all of them.

    See llm/dedup.py::containment_prefix_pairs for the pigeonhole
    theorem and scale shape. The oracle mirrors the prefix structure
    (so it scales past all-pairs), but output equality does NOT ride
    on identical candidate sets: recall is 1.0 under ANY valid prefix
    choice and the exact verify kills false positives, so both engines
    land on the same verified pairs even where df tie-breaks differ.
    Recall evidence vs the banded operator across doc-length ratios:
    CONTAINMENT_QUALITY_r10.json (tools/containment_quality.py).
    """
    # fan out BEFORE projecting the gram expression: the per-gram hash
    # transform is the expensive map stage, and a projection stays on
    # the scan side of a later repartition — repartitioning first puts
    # the hash work on every core
    d = fan_out(load_table(spark, sf_dir, "documents", ["doc_id", "text"]))
    toks = word_tokens(col("text"))
    # Gram identity is xxhash64 of the 3-gram text (was md5 hex): the
    # gram key is a pure intermediate — the output (id_a, id_b,
    # containment) is invariant under any injective re-keying of the
    # gram sets — so ship an 8-byte long through the df-count, window,
    # prefix-probe and verify shuffles instead of a 32-char string
    # (guide §2.3 "narrower types"). The oracle keeps md5 grams and
    # still matches: containment is computed on set sizes and
    # intersections, not on the key bytes.
    grams = F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(lit(1), F.size(toks) - 2),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i, 3))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    g = d.select("doc_id", grams.alias("grams"))
    return _ordered(
        containment_prefix_pairs(g, threshold=0.9, tokens_col="grams", proper=True),
        "id_a",
        "id_b",
    )


@query(
    "d_incremental_neardups",
    oracle="WITH "
    + _minhash_pairs_cte(0.7)
    + """
    SELECT id_a, id_b, jaccard FROM mh_pairs
    WHERE id_a % 10 = 0 OR id_b % 10 = 0
    """,
)
def d_incremental_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-dedup join shape, driver-verifiable (L6's oracle row).

    Stateless restaging of :func:`llm.dedup.incremental_near_dups`:
    "new batch" = ``doc_id % 10 = 0``, store = the whole corpus. The
    asymmetric banded join (new × bucket-pruned store, never
    store × store) must produce exactly the band-collision pairs with
    at least one new side — which is what the oracle computes from the
    full mh_pairs CTE — then the same exact-Jaccard verify applies.
    Proves the either-side-new contract (a new doc with a LOWER id
    than a stored doc still pairs) against SQL, not just pytest.
    """
    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    sigs_all = minhash_signatures(d)
    sigs_new = minhash_signatures(d.filter(col("doc_id") % 10 == 0))
    cands = incremental_candidate_pairs(sigs_new, sigs_all)
    toks = d.select(col("doc_id"), token_set(col("text")).alias("tokens"))
    return verify_pairs(cands, toks, "jaccard", 0.7)


@query(
    "d_simhash_neardups",
    oracle="WITH "
    + _simhash_fp_cte()
    + """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sh_fp a JOIN sh_fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def d_simhash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dup pairs (Hamming ≤ 3) via 16-bit chunk buckets.

    The pigeonhole bucketing is EXACT (≤3 differing bits of 64 ⇒ at
    least one of the 4 16-bit chunks identical), so the oracle can be
    the brute-force all-pairs Hamming filter over the identical
    fingerprints — recomputed in SQL from the same md5 token hashes —
    and match the bucketed Spark plan row-for-row.
    """
    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    return simhash_near_dups(d, max_hamming=3)


@query(
    "t_simhash_fingerprints",
    oracle="WITH " + _simhash_fp_cte() + "\n    SELECT doc_id, simhash FROM sh_fp",
)
def t_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 64-bit SimHash fingerprint (Arrow-vectorized pandas UDF),
    hash-checked against a SQL recomputation of the same bit votes."""
    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    return simhash64(d)


def _lsh_oracle_sql(dim: int = 64, n_planes: int = 4, multiprobe: int = 2, k: int = 10) -> str:
    """DuckDB oracle replaying ann_topk_lsh with quantized planes+vectors.

    Plane literals are generated from the same seeded gaussians
    (llm.ann.plane_matrix(quantize=True)); every dot is an exact
    integer, so sign bits, bucket ids, probes, and cosines reproduce
    bit-for-bit. Zero-norm vectors are not scored, as in ann_topk_lsh.
    """
    P = plane_matrix(dim, n_planes, quantize=True)
    plane_lits = [
        "list_value(" + ", ".join(str(int(v)) for v in row) + ")" for row in P
    ]
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(q, {pl}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, pl in enumerate(plane_lits)
    )
    cosine = (
        "list_dot_product(b.q, qb.q)"
        " / (sqrt(list_dot_product(b.q, b.q)) * sqrt(list_dot_product(qb.q, qb.q)))"
    )
    probes = ", ".join(["qb.bucket"] + [f"xor(qb.bucket, {1 << j})" for j in range(multiprobe)])
    return f"""
    WITH quant AS (
      SELECT vec_id, list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS q
      FROM embeddings
    ), bucketed AS (
      SELECT vec_id, q, CAST({bucket} AS INT) AS bucket FROM quant
    ), qb AS (
      SELECT q, bucket FROM bucketed WHERE vec_id = 0
    )
    SELECT b.vec_id, b.bucket, {cosine} AS cosine
    FROM bucketed b, qb
    WHERE b.vec_id <> 0 AND b.bucket IN ({probes})
      AND sqrt(list_dot_product(b.q, b.q)) > 0
    ORDER BY cosine DESC, b.vec_id ASC
    LIMIT {k}
    """


@query("s_cosine_topk_lsh", oracle=_lsh_oracle_sql())
def s_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN top-k (scale path of s_cosine_topk_bruteforce).

    Probes the query's hyperplane bucket + 2 single-bit flips instead
    of scanning the corpus. Quantized vectors AND quantized planes make
    every dot an exact integer, so the oracle replays the identical
    bucketing/probing/scoring in SQL (plane literals generated from the
    same seeded gaussians); recall vs brute force asserted in pytest.
    """
    e = load_table(spark, sf_dir, "embeddings")
    quant = e.select("vec_id", _quantize(col("embedding")).alias("q"))
    qrow = quant.filter(col("vec_id") == 0).select("q").first()
    qvec = [float(x) for x in qrow[0]]
    return ann_topk_lsh(
        quant.filter(col("vec_id") != 0), qvec, k=10, n_planes=4, multiprobe=2,
        vec_col="q", quantize_planes=True,
    ).select("vec_id", "bucket", "cosine")


_IVF_COSINE = (
    "list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


@query(
    "s_cosine_topk_ivf",
    oracle="""
    WITH corpus AS (
      SELECT vec_id, list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS q
      FROM embeddings WHERE vec_id <> 0
    ), qv AS (
      SELECT list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS q
      FROM embeddings WHERE vec_id = 0
    ), samp AS (
      SELECT vec_id, q, row_number() OVER (ORDER BY vec_id) AS rn
      FROM corpus ORDER BY vec_id LIMIT 128
    ), cents AS (
      SELECT CAST((rn - 1) / 8 AS INT) AS list_id, q AS c
      FROM samp WHERE (rn - 1) % 8 = 0
    ), probes AS (
      SELECT c.list_id
      FROM cents c, qv
      ORDER BY {qc} DESC, c.list_id ASC
      LIMIT 4
    ), assigned AS (
      SELECT vec_id, q, list_id FROM (
        SELECT v.vec_id, v.q, c.list_id,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {vc} DESC, c.list_id ASC) AS rnk
        FROM corpus v CROSS JOIN cents c
      ) WHERE rnk = 1
    )
    SELECT a.vec_id, a.list_id, {vq} AS cosine
    FROM assigned a JOIN probes p ON a.list_id = p.list_id, qv
    WHERE sqrt(list_dot_product(a.q, a.q)) > 0
    ORDER BY cosine DESC, a.vec_id ASC
    LIMIT 10
    """.format(
        qc=_IVF_COSINE.format(a="c.c", b="qv.q"),
        vc=_IVF_COSINE.format(a="v.q", b="c.c"),
        vq=_IVF_COSINE.format(a="a.q", b="qv.q"),
    ),
)
def s_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN top-k (data-adaptive scale path, see llm/ann.py).

    Assign→probe: the corpus is bucketed into 16 centroid cells once
    (at 100 TB, written partitionBy(list_id)); a query scores only its
    4 nearest cells. Fully deterministic (stride-sampled centroids,
    quantized integer-valued dot products), so the oracle replays the
    identical sample→probe→assign→score pipeline in SQL and the driver
    hash-checks it; recall vs brute force is additionally asserted in
    pytest.
    """
    e = load_table(spark, sf_dir, "embeddings")
    quant = e.select("vec_id", _quantize(col("embedding")).alias("q"))
    qrow = quant.filter(col("vec_id") == 0).select("q").first()
    qvec = [float(x) for x in qrow[0]]
    return ann_topk_ivf(
        quant.filter(col("vec_id") != 0), qvec, k=10, n_centroids=16, nprobe=4,
        vec_col="q",
    ).select("vec_id", "list_id", "cosine")


@query(
    "s_cosine_topk_ivfpq",
    oracle="""
    WITH corpus AS (
      SELECT vec_id, list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS q
      FROM embeddings WHERE vec_id <> 0
    ), qv AS (
      SELECT list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS q
      FROM embeddings WHERE vec_id = 0
    ), samp AS (
      SELECT vec_id, q, row_number() OVER (ORDER BY vec_id) AS rn
      FROM corpus ORDER BY vec_id LIMIT 128
    ), cents AS (
      SELECT CAST((rn - 1) / 8 AS INT) AS list_id, q AS c
      FROM samp WHERE (rn - 1) % 8 = 0
    ), books AS (
      -- PQ codebook init state (pq_iters=0): the first 8 sampled rows
      SELECT CAST(rn - 1 AS INT) AS code, q FROM samp WHERE rn <= 8
    ), probes AS (
      SELECT c.list_id
      FROM cents c, qv
      ORDER BY {qc} DESC, c.list_id ASC
      LIMIT 4
    ), assigned AS (
      SELECT vec_id, q, list_id FROM (
        SELECT v.vec_id, v.q, c.list_id,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {vc} DESC, c.list_id ASC) AS rnk
        FROM corpus v CROSS JOIN cents c
      ) WHERE rnk = 1
    ), probed AS (
      SELECT a.vec_id, a.q FROM assigned a JOIN probes p ON a.list_id = p.list_id
    ), enc0 AS (
      -- block-0 code: argmin |c|^2 - 2 x.c over the 8 codebook rows
      SELECT vec_id, code FROM (
        SELECT p.vec_id, b.code,
               row_number() OVER (PARTITION BY p.vec_id ORDER BY
                 list_dot_product(b.q[1:32], b.q[1:32])
                 - 2 * list_dot_product(p.q[1:32], b.q[1:32]) ASC,
                 b.code ASC) AS rnk
        FROM probed p CROSS JOIN books b
      ) WHERE rnk = 1
    ), enc1 AS (
      SELECT vec_id, code FROM (
        SELECT p.vec_id, b.code,
               row_number() OVER (PARTITION BY p.vec_id ORDER BY
                 list_dot_product(b.q[33:64], b.q[33:64])
                 - 2 * list_dot_product(p.q[33:64], b.q[33:64]) ASC,
                 b.code ASC) AS rnk
        FROM probed p CROSS JOIN books b
      ) WHERE rnk = 1
    ), adc AS (
      -- ADC: score = sum over blocks of q_block . codebook[code]_block
      SELECT p.vec_id,
             list_dot_product(qv.q[1:32], b0.q[1:32])
             + list_dot_product(qv.q[33:64], b1.q[33:64]) AS score
      FROM probed p
      JOIN enc0 e0 ON e0.vec_id = p.vec_id
      JOIN enc1 e1 ON e1.vec_id = p.vec_id
      JOIN books b0 ON b0.code = e0.code
      JOIN books b1 ON b1.code = e1.code, qv
    ), cand AS (
      SELECT vec_id FROM adc ORDER BY score DESC, vec_id ASC LIMIT 100
    )
    SELECT p.vec_id, CAST(list_dot_product(p.q, qv.q) AS DOUBLE) AS score
    FROM probed p JOIN cand c ON p.vec_id = c.vec_id, qv
    ORDER BY score DESC, p.vec_id ASC
    LIMIT 10
    """.format(
        qc=_IVF_COSINE.format(a="c.c", b="qv.q"),
        vc=_IVF_COSINE.format(a="v.q", b="c.c"),
    ),
)
def s_cosine_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN top-k (VERDICT r8 #1 — the FAISS IVFPQ composite,
    llm/ann.py::ann_topk_ivfpq): IVF cells prune WHICH vectors a query
    touches (4 of 16 cells probed, a partition-pruned read at scale),
    PQ codes compress WHAT gets scored (64 floats → 2 codes; ADC = 2
    table lookups per candidate), and an exact rerank over the top
    10×k ADC candidates restores fine order.

    Fully deterministic and SQL-replayable: stride-sampled centroids,
    init-state codebooks (``pq_iters=0`` — the first 8 sampled rows'
    subvector halves), and quantized integer-valued vectors make every
    distance, code and score an exact integer, so the oracle replays
    sample→probe→assign→encode→ADC→rerank bit-for-bit. Production
    recall (trained codebooks, residual encoding, 8×256 geometry) is
    measured on the persisted IvfIndex PQ path in PQ_RECALL_r09.json.
    """
    e = load_table(spark, sf_dir, "embeddings")
    quant = e.select("vec_id", _quantize(col("embedding")).alias("q"))
    qrow = quant.filter(col("vec_id") == 0).select("q").first()
    qvec = [float(x) for x in qrow[0]]
    return ann_topk_ivfpq(
        quant.filter(col("vec_id") != 0),
        qvec,
        k=10,
        n_centroids=16,
        nprobe=4,
        pq_m=2,
        pq_k=8,
        pq_iters=0,
        pq_sample=128,
        rerank_factor=10,
        vec_col="q",
    ).select("vec_id", "score")


@query(
    "d_embedding_cosine_neardups",
    oracle="""
    WITH quant AS (
      SELECT vec_id, list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS q
      FROM embeddings
    ), blocked AS (
      SELECT vec_id, q,
             CAST(CASE WHEN q[1] >= 0 THEN 8 ELSE 0 END
                + CASE WHEN q[2] >= 0 THEN 4 ELSE 0 END
                + CASE WHEN q[3] >= 0 THEN 2 ELSE 0 END
                + CASE WHEN q[4] >= 0 THEN 1 ELSE 0 END AS INT) AS block_key
      FROM quant
    ), pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             list_dot_product(a.q, b.q)
               / (sqrt(list_dot_product(a.q, a.q)) * sqrt(list_dot_product(b.q, b.q)))
               AS cosine
      FROM blocked a JOIN blocked b
        ON a.block_key = b.block_key AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, cosine FROM pairs WHERE cosine >= 0.35
    """,
)
def d_embedding_cosine_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by sign-bit buckets.

    The dedup analog of hyperplane LSH with axis-aligned planes: only
    vectors agreeing on the signs of the first 4 components are
    compared, so the pair join is per-bucket (≈n²/16 worst case here;
    more planes at scale) instead of a full cross join. Quantized
    integer dot products keep cosine bit-identical to the oracle.
    Threshold 0.35 reflects this synthetic corpus (gaussian vectors
    have no planted near-identical pairs); production near-dup would
    use ≥0.95 with the same plan shape.
    """
    e = load_table(spark, sf_dir, "embeddings")
    quant = e.select("vec_id", _quantize(col("embedding")).alias("q"))
    bit = lambda i, w: F.when(F.element_at(col("q"), i) >= 0, w).otherwise(0)  # noqa: E731
    blocked = quant.select(
        "vec_id",
        "q",
        (bit(1, 8) + bit(2, 4) + bit(3, 2) + bit(4, 1)).cast("int").alias("block_key"),
    )

    # Pair scoring runs INSIDE each block group (applyInPandas): the
    # shuffle moves each vector once (O(n)), never materializing the
    # O(n²/blocks) pair rows through an exchange — a self-join variant
    # ships both 64-dim arrays per candidate pair and is ~5x slower at
    # sf0.1. numpy's Gram matrix does the multiply-adds vectorized;
    # products and partial sums of the quantized integer-valued doubles
    # are integers < 2^53, so every summation order gives the same
    # double and cosine stays bit-identical to the oracle.
    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        A = np.stack(pdf["q"].to_numpy()[order])
        G = A @ A.T
        norms = np.sqrt(np.diag(G))
        C = G / np.outer(norms, norms)
        iu = np.triu_indices(len(ids), k=1)
        cos = C[iu]
        mask = cos >= 0.35
        return pd.DataFrame(
            {
                "vec_a": ids[iu[0]][mask],
                "vec_b": ids[iu[1]][mask],
                "cosine": cos[mask],
            }
        )

    return blocked.groupBy("block_key").applyInPandas(
        block_pairs, "vec_a long, vec_b long, cosine double"
    )


@query(
    "mm_media_features",
    oracle="""
    SELECT doc_id AS media_id,
           'text' AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS content_sha,
           CAST(CAST(('0x' || substr(sha256(text),  1, 16)) AS UBIGINT) % 2147483648 AS BIGINT) AS feat_0,
           CAST(CAST(('0x' || substr(sha256(text), 17, 16)) AS UBIGINT) % 2147483648 AS BIGINT) AS feat_1,
           CAST(CAST(('0x' || substr(sha256(text), 33, 16)) AS UBIGINT) % 2147483648 AS BIGINT) AS feat_2,
           CAST(CAST(('0x' || substr(sha256(text), 49, 16)) AS UBIGINT) % 2147483648 AS BIGINT) AS feat_3
    FROM documents
    """,
)
def mm_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode/feature pipeline, oracle-checked end-to-end.

    Documents' UTF-8 bytes stand in for media payloads (the container
    has no codecs — llm/multimodal.py stubs the decode kernel with a
    deterministic sha256-derived feature vector). What the oracle
    proves: binary content survives the Arrow mapInPandas round-trip
    bit-exact (content_sha), and the batch kernel's features are the
    pure function of the bytes it claims to be. Swap the stub for a
    real decoder and the plumbing — schema, repartition, batch shape —
    is unchanged.
    """
    from ..llm.multimodal import extract_media_features

    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    media = d.select(
        col("doc_id").alias("media_id"),
        lit("text").alias("media_type"),
        lit("text/plain").alias("mime"),
        lit(None).cast("int").alias("width"),
        lit(None).cast("int").alias("height"),
        lit(None).cast("bigint").alias("duration_ms"),
        F.encode(col("text"), "UTF-8").alias("content"),
    )
    return extract_media_features(media).select(
        "media_id", "media_type", "n_bytes", "content_sha",
        "feat_0", "feat_1", "feat_2", "feat_3",
    )


@query(
    "mm_audio_features",
    oracle="""
    WITH base AS (
      SELECT doc_id, repeat(md5(CAST(doc_id AS VARCHAR)), 10) AS hx
      FROM documents
    ), samp AS (
      SELECT doc_id,
             list_transform(range(1, 321),
               i -> ((ascii(substr(hx, CAST(i AS INT), 1)) * i) % 65536) - 32768) AS s
      FROM base
    ), agg AS (
      SELECT doc_id,
             CAST(length(s) AS BIGINT) AS n_samples,
             CAST(list_sum(list_transform(s, x -> CAST(x * x AS BIGINT))) AS BIGINT) AS sum_sq,
             CAST(list_max(list_transform(s, x -> abs(x))) AS BIGINT) AS peak,
             CAST(list_sum(list_transform(range(2, 321),
               i -> CASE WHEN (s[CAST(i AS INT)] < 0) <> (s[CAST(i AS INT) - 1] < 0)
                    THEN 1 ELSE 0 END)) AS BIGINT) AS zero_crossings
      FROM samp
    )
    SELECT doc_id AS media_id,
           'audio/wav' AS mime,
           16000 AS sample_rate,
           n_samples,
           n_samples * 1000 // 16000 AS duration_ms,
           sqrt(CAST(sum_sq AS DOUBLE) / n_samples) AS rms,
           peak,
           zero_crossings
    FROM agg ORDER BY media_id
    """,
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio pipeline end-to-end: synthesize → WAV-encode → decode → features.

    Each document deterministically synthesizes a 320-sample PCM16
    clip (samples derived from the md5 hex of its id — ASCII-exact in
    any engine), which is encoded through the REAL RIFF/WAVE codec
    (llm/multimodal.py::encode_wav), shipped as an opaque binary
    column, then decoded back and reduced to signal features
    (RMS/peak/zero-crossings) by extract_audio_features. The oracle
    recomputes the features analytically from the same sample
    definition — so a hash match proves the encode→binary→decode
    round-trip is bit-exact AND the feature math is right, not that
    two copies of the same code agree.
    """
    import numpy as np

    from ..llm.multimodal import encode_wav, extract_audio_features

    d = load_table(spark, sf_dir, "documents", ["doc_id"]).select(
        "doc_id", F.repeat(F.md5(col("doc_id").cast("string")), 10).alias("hx")
    )

    def synth(batches):
        for pdf in batches:
            content = []
            for hx in pdf["hx"]:
                b = np.frombuffer(hx.encode("ascii"), dtype=np.uint8).astype(np.int64)
                i = np.arange(1, b.size + 1, dtype=np.int64)
                content.append(encode_wav(((b * i) % 65536 - 32768).astype(np.int16), 16000))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "mime": "audio/wav",
                    "content": content,
                }
            )

    media = d.mapInPandas(synth, "media_id long, mime string, content binary")
    return _ordered(
        extract_audio_features(media).select(
            "media_id", "mime", "sample_rate", "n_samples",
            "duration_ms", "rms", "peak", "zero_crossings",
        ),
        "media_id",
    )


@query(
    "mm_flac_roundtrip",
    oracle="""
    WITH base AS (
      SELECT doc_id, 600 + (doc_id % 257) AS n
      FROM documents
    ), samp AS (
      SELECT doc_id, n,
             list_transform(range(1, CAST(n + 1 AS INT)),
               i -> ((doc_id * 31 + CAST(i AS BIGINT) * i * 7) % 16384) - 8192) AS s
      FROM base
    ), agg AS (
      SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
             CAST(list_sum(list_transform(s, x -> x * x)) AS BIGINT) AS sum_sq,
             CAST(list_max(list_transform(s, x -> abs(x))) AS BIGINT) AS peak,
             CAST(list_sum(list_transform(range(2, CAST(n + 1 AS INT)),
               i -> CASE WHEN (s[CAST(i AS INT)] < 0) <> (s[CAST(i AS INT) - 1] < 0)
                    THEN 1 ELSE 0 END)) AS BIGINT) AS zero_crossings
      FROM samp
    )
    SELECT doc_id AS media_id,
           'audio/flac' AS mime,
           16000 AS sample_rate,
           n_samples,
           n_samples * 1000 // 16000 AS duration_ms,
           sqrt(CAST(sum_sq AS DOUBLE) / n_samples) AS rms,
           peak,
           zero_crossings
    FROM agg ORDER BY media_id
    """,
)
def mm_flac_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-audio pipeline end-to-end: synthesize → FLAC-encode →
    decode → features (VERDICT r11 #2: the audio registry no longer
    rejects everything but PCM16).

    Each document synthesizes a deterministic variable-length PCM16
    clip (600 + doc_id % 257 samples of a quadratic-congruential
    waveform — arithmetic-exact in any engine), encodes it through the
    REAL from-scratch FLAC encoder (llm/flac.py, block_size=256 so
    clips span multiple frames including a short tail frame), ships
    the compressed bytes as an opaque binary column, then decodes via
    the audio codec registry (audio/flac → full FLAC decode: FIXED/LPC
    subframes, Rice partitions, CRC-8/16 + STREAMINFO MD5 verified)
    and reduces to signal features. The oracle recomputes the features
    analytically from the same waveform definition — valid for
    ARBITRARY signals precisely because FLAC is lossless (no DC-only
    fixture caveat like the lossy-JPEG rows; the r11 lesson applied at
    design time): any coefficient/residual/CRC bug shifts samples and
    breaks the hash. All pixels-equivalent work stays in mapInPandas
    on executors; only 8-byte features reach the shuffle.
    """
    import numpy as np

    from ..llm.flac import encode_flac
    from ..llm.multimodal import extract_audio_features

    # id-only fan-out BEFORE the encode kernel: a small parquet arrives
    # as one scan partition and would pin ~4 ms/clip of FLAC encoding
    # to a single core
    d = fan_out(load_table(spark, sf_dir, "documents", ["doc_id"]))

    def synth(batches):
        for pdf in batches:
            content = []
            for doc_id in pdf["doc_id"]:
                n = 600 + int(doc_id) % 257
                i = np.arange(1, n + 1, dtype=np.int64)
                s = (int(doc_id) * 31 + i * i * 7) % 16384 - 8192
                content.append(
                    encode_flac(s.astype(np.int32), 16000, block_size=256)
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "mime": "audio/flac",
                    "content": content,
                }
            )

    media = d.mapInPandas(synth, "media_id long, mime string, content binary")
    # deliberately NOT pre_partitioned: the width-pinned media_id
    # exchange spreads the FLAC decode full-width and breaks the
    # Python operator chain (see extract_audio_features docstring —
    # the ~7.5 MB of clip bytes are cheap to ship; chaining the two
    # kernels in one stage measured ~2.5 s slower at sf0.1)
    return _ordered(
        extract_audio_features(media).select(
            "media_id", "mime", "sample_rate", "n_samples",
            "duration_ms", "rms", "peak", "zero_crossings",
        ),
        "media_id",
    )


def _quantize(vec) -> F.Column:
    """float32 array → integer-valued doubles (×1000, round away-from-zero).

    Integer-valued doubles make dot products *exact* (every partial sum
    is an integer far below 2^53), so cosine scores are bit-identical
    across engines and accumulation orders — the float-parity trick the
    oracle comparison needs, and also a stability win on a real cluster
    where partition order is nondeterministic.
    """
    return F.transform(vec, lambda x: F.round(x.cast("double") * 1000, 0))


@query(
    "s_cosine_topk_bruteforce",
    oracle="""
    WITH quant AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS q
      FROM embeddings
    ), qv AS (
      SELECT q AS qvec FROM quant WHERE vec_id = 0
    ), scored AS (
      SELECT e.vec_id, e.label,
             list_dot_product(e.q, qv.qvec)
               / (sqrt(list_dot_product(e.q, e.q))
                  * sqrt(list_dot_product(qv.qvec, qv.qvec))) AS cosine
      FROM quant e CROSS JOIN qv
      WHERE e.vec_id <> 0
    )
    SELECT vec_id, label, cosine
    FROM scored
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """,
)
def s_cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k vs a query vector (correctness baseline).

    Dot products via ``zip_with`` + ``aggregate`` stay in the JVM; the
    query vector is a broadcast single row. Scale path: the LSH-bucketed
    variant bounds the candidate set instead of scanning all vectors.
    """
    e = load_table(spark, sf_dir, "embeddings")
    quant = e.select("vec_id", "label", _quantize(col("embedding")).alias("q"))
    qv = quant.filter(col("vec_id") == 0).select(col("q").alias("qvec"))
    dot = lambda x, y: F.aggregate(  # noqa: E731
        F.zip_with(x, y, lambda a, b: a * b), lit(0.0), lambda acc, v: acc + v
    )
    return (
        quant.filter(col("vec_id") != 0)
        .join(F.broadcast(qv))
        .select(
            "vec_id",
            "label",
            (
                dot(col("q"), col("qvec"))
                / (F.sqrt(dot(col("q"), col("q"))) * F.sqrt(dot(col("qvec"), col("qvec"))))
            ).alias("cosine"),
        )
        .orderBy(col("cosine").desc(), col("vec_id").asc())
        .limit(10)
    )


@query(
    "mm_video_frame_sample",
    oracle="""
    WITH base AS (
      SELECT doc_id, repeat(md5(CAST(doc_id AS VARCHAR)), 2) AS hx,
             3 + doc_id % 5 AS n_frames
      FROM documents
    ), frames AS (
      SELECT doc_id, CAST(k AS INT) AS frame_idx, hx
      FROM base, unnest(range(0, n_frames, 2)) AS u(k)
    )
    SELECT doc_id * 1000000 + frame_idx AS media_id,
           CAST(list_sum(list_transform(range(1, 49),
                i -> (ascii(substr(hx, CAST(i AS INT), 1)) * (frame_idx + 1)) % 256))
                AS BIGINT) AS px_sum,
           CAST(48 AS BIGINT) AS n_px
    FROM frames ORDER BY media_id
    """,
)
def mm_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video pipeline end-to-end: synthesize → container-encode →
    distributed frame sampling → per-frame decode + pixel features.

    Each document deterministically synthesizes a tiny video: 3-7
    frames of 4x4 RGB whose pixel bytes derive from the md5 hex of the
    doc id (pixel i of frame k = (ascii(hex_i) * (k+1)) % 256), packed
    through the REAL raw-BMP container codec
    (llm/multimodal.py::encode_raw_bmp_video). sample_video_frames
    takes every 2nd frame (every_ms=80 against frame_ms=40); each
    sampled frame is BMP-decoded back to pixels and reduced to an
    integer pixel sum. The oracle recomputes the sums analytically
    from the same definition, so a hash match proves the container
    round-trip, the sampling stride, the frame-id arithmetic
    (video_id*1e6+idx) AND the BMP pixel fidelity — the video twin of
    mm_audio_features.
    """
    import numpy as np

    from ..llm.multimodal import MEDIA_SCHEMA, decode_bmp, encode_raw_bmp_video, sample_video_frames

    d = load_table(spark, sf_dir, "documents", ["doc_id"]).select(
        "doc_id", F.repeat(F.md5(col("doc_id").cast("string")), 2).alias("hx")
    )

    def synth(batches):
        for pdf in batches:
            rows = []
            for did, hx in zip(pdf["doc_id"], pdf["hx"]):
                b = np.frombuffer(hx[:48].encode("ascii"), dtype=np.uint8).astype(np.int64)
                n_frames = 3 + int(did) % 5
                frames = [
                    ((b * (k + 1)) % 256).astype(np.uint8).reshape(4, 4, 3)
                    for k in range(n_frames)
                ]
                rows.append(
                    (int(did), "video", "video/x-raw-bmp", 4, 4, 40,
                     encode_raw_bmp_video(frames, 40))
                )
            yield pd.DataFrame(rows, columns=MEDIA_SCHEMA.fieldNames())

    media = d.mapInPandas(synth, MEDIA_SCHEMA)
    # synth already distributed the payload off the id-only fan-out;
    # a second media_id exchange would re-ship the opaque bytes
    sampled = sample_video_frames(media, every_ms=80, pre_partitioned=True)

    def feat(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = decode_bmp(r.content).astype(np.int64)
                rows.append((r.media_id, int(arr.sum()), int(arr.size)))
            yield pd.DataFrame(rows, columns=["media_id", "px_sum", "n_px"])

    return _ordered(
        sampled.mapInPandas(feat, "media_id long, px_sum long, n_px long"),
        "media_id",
    )


@query(
    "mm_mjpeg_frame_sample",
    oracle="""
    WITH mj_base AS (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx,
             3 + CAST(doc_id % 5 AS INT) AS n_frames
      FROM documents
    ), mj_frames AS (
      SELECT doc_id, CAST(k AS INT) AS frame_idx, hx
      FROM mj_base, unnest(range(0, n_frames, 2)) AS u(k)
    )
    SELECT doc_id * 1000000 + frame_idx AS media_id,
           frame_idx,
           (ascii(substr(hx, frame_idx + 1, 1)) * 7) % 256 AS px
    FROM mj_frames ORDER BY media_id
    """,
)
def mm_mjpeg_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED video pipeline end-to-end (VERDICT r10 #5): synthesize
    → MJPEG-in-AVI encode (every frame a real baseline JPEG from
    llm/jpeg.py) → distributed frame sampling → per-frame JPEG decode →
    exact pixel readback.

    Each document synthesizes a 3-7 frame video of 16×16 UNIFORM RGB
    frames (frame k's value = (ascii(md5_hex[k]) * 7) % 256) muxed into
    a real RIFF/AVI MJPEG container (llm/multimodal.py::
    encode_mjpeg_avi — avih/strh/strf headers, movi '00dc' JPEG chunks,
    idx1 keyframe index). sample_video_frames takes every 2nd frame
    (every_ms=80 against frame_ms=40) and emits them with mime
    image/jpeg via the registry's frame-mime contract; each sampled
    frame is then JPEG-DECODED back to pixels. Uniform frames are
    DC-only so the lossy round-trip is bit-exact at quality 85 (same
    analysis as mm_jpeg_roundtrip), and the oracle recomputes every
    sampled pixel analytically — a hash match proves the AVI mux/demux,
    the sampling stride on a variable frame count, the frame-id
    arithmetic AND the per-frame entropy-coded JPEG fidelity. The
    reference has no media path at all (north-star surface); the raw
    twin is mm_video_frame_sample.
    """
    import numpy as np

    from ..llm.jpeg import decode_jpeg
    from ..llm.multimodal import MEDIA_SCHEMA, encode_mjpeg_avi, sample_video_frames

    d = fan_out(
        load_table(spark, sf_dir, "documents", ["doc_id"]).select(
            "doc_id", F.md5(col("doc_id").cast("string")).alias("hx")
        )
    )

    def synth(batches):
        for pdf in batches:
            rows = []
            for did, hx in zip(pdf["doc_id"], pdf["hx"]):
                n_frames = 3 + int(did) % 5
                frames = [
                    np.full((16, 16, 3), (ord(hx[k]) * 7) % 256, dtype=np.uint8)
                    for k in range(n_frames)
                ]
                rows.append(
                    (int(did), "video", "video/x-msvideo", 16, 16,
                     40 * n_frames, encode_mjpeg_avi(frames, 40))
                )
            yield pd.DataFrame(rows, columns=MEDIA_SCHEMA.fieldNames())

    media = d.mapInPandas(synth, MEDIA_SCHEMA)
    # synth already distributed the payload off the id-only fan-out;
    # a second media_id exchange would re-ship the opaque bytes
    sampled = sample_video_frames(media, every_ms=80, pre_partitioned=True)

    def feat(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                if r.mime != "image/jpeg":
                    raise AssertionError(
                        f"MJPEG frames must surface as image/jpeg, got {r.mime}"
                    )
                px = int(decode_jpeg(r.content)[8, 8, 0])
                rows.append((int(r.media_id), int(r.media_id % 1_000_000), px))
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "px"])

    return _ordered(
        sampled.mapInPandas(feat, "media_id long, frame_idx int, px int"),
        "media_id",
    )


@query(
    "mm_image_resize",
    oracle="""
    WITH base AS (
      SELECT doc_id, repeat(md5(CAST(doc_id AS VARCHAR)), 2) AS hx
      FROM documents
    )
    SELECT doc_id AS media_id,
           2 AS width, 2 AS height,
           CAST(list_sum(list_transform(
                [1,2,3, 7,8,9, 25,26,27, 31,32,33],
                i -> (ascii(substr(hx, CAST(i AS INT), 1)) * 3) % 256))
                AS BIGINT) AS px_sum,
           CAST(12 AS BIGINT) AS n_px
    FROM base ORDER BY media_id
    """,
)
def mm_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image pipeline end-to-end: synthesize → BMP-encode → distributed
    nearest-neighbor resize → decode + pixel features.

    Each document synthesizes a 4x4 RGB image (pixel byte i =
    (ascii(md5_hex_i) * 3) % 256), BMP-encodes it, and runs
    llm/multimodal.py::resize_images down to 2x2. Nearest-neighbor
    index math is deterministic (yi = arange(2)*4//2 = [0,2], same for
    xi), so the resized image keeps exactly the pixels at rows/cols
    {0,2} — the oracle sums those byte positions analytically. A hash
    match proves BOTH BMP codec directions (resize decodes, resizes,
    re-encodes; the feature stage decodes again) and the index math.
    """
    import numpy as np

    from ..llm.multimodal import MEDIA_SCHEMA, decode_bmp, encode_bmp, resize_images

    d = load_table(spark, sf_dir, "documents", ["doc_id"]).select(
        "doc_id", F.repeat(F.md5(col("doc_id").cast("string")), 2).alias("hx")
    )

    def synth(batches):
        for pdf in batches:
            rows = []
            for did, hx in zip(pdf["doc_id"], pdf["hx"]):
                b = np.frombuffer(hx[:48].encode("ascii"), dtype=np.uint8).astype(np.int64)
                img = ((b * 3) % 256).astype(np.uint8).reshape(4, 4, 3)
                rows.append((int(did), "image", "image/bmp", 4, 4, 0, encode_bmp(img)))
            yield pd.DataFrame(rows, columns=MEDIA_SCHEMA.fieldNames())

    media = d.mapInPandas(synth, MEDIA_SCHEMA)
    small = resize_images(media, 2, 2, pre_partitioned=True)

    def feat(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = decode_bmp(r.content).astype(np.int64)
                rows.append((r.media_id, int(r.width), int(r.height), int(arr.sum()), int(arr.size)))
            yield pd.DataFrame(rows, columns=["media_id", "width", "height", "px_sum", "n_px"])

    return _ordered(
        small.mapInPandas(
            feat, "media_id long, width int, height int, px_sum long, n_px long"
        ),
        "media_id",
    )


@query(
    "t_bm25_more_like_this",
    oracle="""
    WITH bm_toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                x -> x <> '')) AS term
      FROM documents
    ), bm_tf AS (
      SELECT doc_id, term, count(*) AS tf FROM bm_toks GROUP BY 1, 2
    ), bm_dl AS (
      SELECT doc_id, sum(tf) AS dl FROM bm_tf GROUP BY 1
    ), bm_stats AS (
      SELECT (SELECT count(*) FROM documents) AS n,
             ((SELECT sum(dl) FROM bm_dl) * 1000000)
               // (SELECT count(*) FROM bm_dl) AS avgdl_fp
    ), bm_q AS (
      SELECT DISTINCT term FROM bm_toks WHERE doc_id = 0
    ), bm_df AS (
      SELECT term, count(DISTINCT doc_id) AS dfreq
      FROM bm_tf
      WHERE term IN (SELECT term FROM bm_q)
      GROUP BY 1
    ), bm_ln_n1 AS (        -- ln_fp(2N + 2): same stages as _ln_fp_int
      SELECT 2 * n + 2 AS y FROM bm_stats
    ), bm_ln_n2 AS (
      SELECT y, length(bin(y)) - 1 AS e FROM bm_ln_n1
    ), bm_ln_n3 AS (
      SELECT e, (y * 1000000) // CAST(pow(2, e) AS BIGINT) AS m FROM bm_ln_n2
    ), bm_ln_n4 AS (
      SELECT e, ((m - 1000000) * 1000000) // (m + 1000000) AS z FROM bm_ln_n3
    ), bm_ln_n5 AS (
      SELECT e, z, (z * z) // 1000000 AS z2 FROM bm_ln_n4
    ), bm_ln_n AS (
      SELECT e * 693147 + 2 * (z + ((z * z2) // 1000000) // 3
               + ((((z * z2) // 1000000) * z2) // 1000000) // 5) AS ln_2n2
      FROM bm_ln_n5
    ), bm_idf1 AS (         -- ln_fp(2·df + 1) per query term
      SELECT term, 2 * dfreq + 1 AS y FROM bm_df
    ), bm_idf2 AS (
      SELECT term, y, length(bin(y)) - 1 AS e FROM bm_idf1
    ), bm_idf3 AS (
      SELECT term, e, (y * 1000000) // CAST(pow(2, e) AS BIGINT) AS m FROM bm_idf2
    ), bm_idf4 AS (
      SELECT term, e, ((m - 1000000) * 1000000) // (m + 1000000) AS z FROM bm_idf3
    ), bm_idf5 AS (
      SELECT term, e, z, (z * z) // 1000000 AS z2 FROM bm_idf4
    ), bm_idf AS (
      SELECT term,
             (SELECT ln_2n2 FROM bm_ln_n)
               - (e * 693147 + 2 * (z + ((z * z2) // 1000000) // 3
                  + ((((z * z2) // 1000000) * z2) // 1000000) // 5)) AS idf_fp
      FROM bm_idf5
    ), bm_scored AS (
      SELECT t.doc_id,
             SUM((d.idf_fp
                  * ((((t.tf * 220 * 1000000) // 100) * 1000000)
                     // (t.tf * 1000000
                         + (120 * (25 * 1000000
                            + 75 * ((l.dl * 1000000 * 1000000)
                                    // s.avgdl_fp))) // 10000)))
                 // 1000) AS score_fp
      FROM bm_tf t
      JOIN bm_q q USING (term)
      JOIN bm_idf d USING (term)
      JOIN bm_dl l ON l.doc_id = t.doc_id
      CROSS JOIN bm_stats s
      GROUP BY 1
    )
    SELECT doc_id, CAST(score_fp AS BIGINT) AS score_fp
    FROM bm_scored ORDER BY score_fp DESC, doc_id LIMIT 10
    """,
)
def t_bm25_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval, driver-hashed: top-10 "more-like-this" for
    document 0 by integer fixed-point BM25 (llm/retrieval.py::
    bm25_topk_fp — r12: integer-LOG idf ln_fp(2N+2) − ln_fp(2df+1),
    algebraically real BM25's "+1" probabilistic idf within 1.6e-4
    ln-units, + div-rounded k1/b saturation; every quantity integral,
    so the whole inverted-index retrieval replays bit-for-bit in SQL —
    the oracle's CTE chain evaluates the same bit-length + atanh-series
    stages; real float BM25 is the sibling bm25_topk, pytest-verified
    against a textbook reference).

    The shape a decontamination/curation pipeline runs at 100 TB: one
    partial-agg shuffle to per-(doc, term) tf, broadcast query terms,
    one per-doc sum, TakeOrderedAndProject for the top-k — no
    quadratic stage, no driver data movement beyond the one-row query
    fetch and the k results.
    """
    from ..llm.retrieval import bm25_topk_fp

    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    qtext = d.filter(col("doc_id") == 0).first()["text"]
    return bm25_topk_fp(d, qtext, k=10).orderBy(F.desc("score_fp"), "doc_id")


@query(
    "mm_jpeg_roundtrip",
    oracle="""
    WITH jr_hx AS (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents
    )
    SELECT doc_id AS media_id,
           (ascii(substr(hx, 1, 1)) * 7) % 256 AS b00,
           (ascii(substr(hx, 2, 1)) * 7) % 256 AS b01,
           (ascii(substr(hx, 3, 1)) * 7) % 256 AS b10,
           (ascii(substr(hx, 4, 1)) * 7) % 256 AS b11
    FROM jr_hx ORDER BY media_id
    """,
)
def mm_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real lossy JPEG, driver-hashed EXACTLY: synthesize → JPEG
    encode (4:2:0 + restart markers) → opaque binary → decode →
    per-block pixel readback.

    The trick that makes a LOSSY codec hash-exact: an image whose 8×8
    blocks are each CONSTANT has only DC coefficients, and at quality
    85 the scaled Annex-K DC step is 5, so the dequantized DC's pixel
    error is < 5/16 < 0.5 and the final round recovers every block
    value bit-exactly (llm/jpeg.py; pinned by
    tests/test_jpeg.py::test_uniform_images_decode_exactly). With all
    three RGB channels equal, chroma is uniformly 128 — so 4:2:0
    box-averaging is exact too. The 32×32 image is FOUR 16×16 MCUs at
    4:2:0, so restart_interval=1 emits three RSTn markers INSIDE the
    entropy stream — the driver hash exercises actual restart resync
    and DC-predictor reset, not merely DRI-marker parsing (ADVICE r10:
    a 16×16 image was a single MCU, so no RST ever landed). The
    oracle recomputes the four block values analytically from the
    md5-ascii recipe; a hash match therefore proves the full
    Huffman/DCT/quant/upsample pipeline reproduces the pixels, with
    real entropy-coded bytes crossing the Arrow boundary in between.
    """
    import numpy as np

    from ..llm.jpeg import decode_jpeg, encode_jpeg

    d = fan_out(
        load_table(spark, sf_dir, "documents", ["doc_id"]).select(
            "doc_id", F.md5(col("doc_id").cast("string")).alias("hx")
        )
    )

    def roundtrip(batches):
        for pdf in batches:
            rows = []
            for did, hx in zip(pdf["doc_id"], pdf["hx"]):
                v = [(ord(hx[k]) * 7) % 256 for k in range(4)]
                img = np.zeros((32, 32, 3), dtype=np.uint8)
                img[:16, :16] = v[0]
                img[:16, 16:] = v[1]
                img[16:, :16] = v[2]
                img[16:, 16:] = v[3]
                data = encode_jpeg(
                    img, quality=85, subsampling="420", restart_interval=1
                )
                n_rst = sum(
                    data.count(bytes([0xFF, 0xD0 + i])) for i in range(8)
                )
                if n_rst < 3:  # 4 MCUs, DRI=1 → exactly 3 mid-stream RSTn
                    raise AssertionError(
                        f"expected >=3 RST markers in stream, got {n_rst}"
                    )
                dec = decode_jpeg(data)
                rows.append(
                    (
                        int(did),
                        int(dec[8, 8, 0]),
                        int(dec[8, 24, 1]),
                        int(dec[24, 8, 2]),
                        int(dec[24, 24, 0]),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "b00", "b01", "b10", "b11"]
            )

    return _ordered(
        d.mapInPandas(
            roundtrip,
            "media_id long, b00 int, b01 int, b10 int, b11 int",
        ),
        "media_id",
    )


@query(
    "mm_jpeg_progressive",
    oracle="""
    WITH jp_hx AS (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents
    )
    SELECT doc_id AS media_id,
           (ascii(substr(hx, 1, 1)) * 7) % 256 AS b00,
           (ascii(substr(hx, 2, 1)) * 7) % 256 AS b01,
           (ascii(substr(hx, 3, 1)) * 7) % 256 AS b10,
           (ascii(substr(hx, 4, 1)) * 7) % 256 AS b11
    FROM jp_hx ORDER BY media_id
    """,
)
def mm_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROGRESSIVE JPEG (SOF2) decode, driver-hashed exactly
    (VERDICT r10 #6): synthesize → progressive encode (spectral
    selection + successive approximation, the libjpeg-shaped default
    scan script) → opaque binary → multi-scan decode → per-quadrant
    pixel readback.

    Same block-constant-image analysis as mm_jpeg_roundtrip (32×32,
    four uniform 16×16 quadrants, 4:2:0, quality 85 → DC-only, exact),
    but the bytes crossing the Arrow boundary are a REAL SOF2 stream:
    ten scans, DC first at Al=1 then refined, luma AC split into two
    spectral bands at Al=2 and refined twice, chroma AC at Al=1 then
    refined — so a hash match proves the whole Annex-G reconstruction
    (coefficient accumulation across scans, bit-plane ORs, EOB-run
    bookkeeping) lands on the identical pixels the oracle computes
    analytically. A large fraction of web-crawl JPEGs are progressive;
    this closes the codec registry's biggest real-ingest hole
    (llm/jpeg.py::encode_jpeg_progressive/_decode_progressive).
    """
    import numpy as np

    from ..llm.jpeg import decode_jpeg, encode_jpeg_progressive

    d = fan_out(
        load_table(spark, sf_dir, "documents", ["doc_id"]).select(
            "doc_id", F.md5(col("doc_id").cast("string")).alias("hx")
        )
    )

    def roundtrip(batches):
        for pdf in batches:
            rows = []
            for did, hx in zip(pdf["doc_id"], pdf["hx"]):
                v = [(ord(hx[k]) * 7) % 256 for k in range(4)]
                img = np.zeros((32, 32, 3), dtype=np.uint8)
                img[:16, :16] = v[0]
                img[:16, 16:] = v[1]
                img[16:, :16] = v[2]
                img[16:, 16:] = v[3]
                data = encode_jpeg_progressive(
                    img, quality=85, subsampling="420"
                )
                if b"\xff\xc2" not in data:  # must be a real SOF2 stream
                    raise AssertionError("expected a progressive (SOF2) stream")
                dec = decode_jpeg(data)
                rows.append(
                    (
                        int(did),
                        int(dec[8, 8, 0]),
                        int(dec[8, 24, 1]),
                        int(dec[24, 8, 2]),
                        int(dec[24, 24, 0]),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "b00", "b01", "b10", "b11"]
            )

    return _ordered(
        d.mapInPandas(
            roundtrip,
            "media_id long, b00 int, b01 int, b10 int, b11 int",
        ),
        "media_id",
    )


def _ahash_cte() -> str:
    """DuckDB CTE chain recomputing the synthesized-image aHash of
    mm_image_neardups analytically: per doc, 64 gray pixel values from
    the md5-ascii recipe (planted near-dup: doc_id % 8 == 1 reuses
    doc_id - 1's image with pixel 0 bumped by one), mean-threshold
    bits, MSB-first bit packing (pixel p → bit 63-p, matching
    image_ahash64's bit_vals), HUGEINT-accumulated and wrapped to
    signed int64 like the Spark LongType. Ends in ``ah(doc_id, ahash)``.
    """
    acc = " + ".join(
        f"CASE WHEN v[{p + 1}] >= m THEN CAST({1 << (63 - p)} AS HUGEINT)"
        " ELSE 0 END"
        for p in range(64)
    )
    return f"""
    ah_base AS (
      SELECT doc_id,
             CASE WHEN doc_id % 8 = 1 THEN doc_id - 1 ELSE doc_id END AS base_id
      FROM documents
    ), ah_hx AS (
      SELECT doc_id, repeat(md5(CAST(base_id AS VARCHAR)), 2) AS hx
      FROM ah_base
    ), ah_px AS (
      SELECT doc_id,
             list_transform(range(1, 65),
               p -> CASE WHEN p = 1 AND doc_id % 8 = 1
                         THEN ((ascii(substr(hx, CAST(p AS INT), 1)) * p) % 256 + 1) % 256
                         ELSE (ascii(substr(hx, CAST(p AS INT), 1)) * p) % 256
                    END) AS v
      FROM ah_hx
    ), ah_mean AS (
      SELECT doc_id, v, CAST(list_sum(v) AS DOUBLE) / 64.0 AS m FROM ah_px
    ), ah_unsigned AS (
      SELECT doc_id, ({acc}) AS u FROM ah_mean
    ), ah AS (
      SELECT doc_id,
             CAST(CASE WHEN u >= CAST({1 << 63} AS HUGEINT)
                       THEN u - CAST({1 << 64} AS HUGEINT)
                       ELSE u END AS BIGINT) AS ahash
      FROM ah_unsigned
    )"""


@query(
    "mm_image_neardups",
    oracle="WITH "
    + _ahash_cte()
    + """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS hamming
    FROM ah a JOIN ah b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.ahash, b.ahash)) <= 6
    ORDER BY id_a, id_b
    """,
)
def mm_image_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup end-to-end, driver-hashed (VERDICT r9
    #5): synthesize → PNG-encode → decode → aHash → pigeonhole-bucketed
    near-dup pairs.

    Each document deterministically synthesizes an 8×8 gray RGB image
    (pixel p = (ascii(md5_hex_p) * (p+1)) % 256 — ASCII-exact in any
    engine); every doc with ``doc_id % 8 == 1`` replicates its
    predecessor's image with pixel 0 bumped by one (a planted
    near-duplicate: the aHash differs only where the ±1 luma crosses
    the 64-cell mean, Hamming ≈ 0-2). Images ship through the REAL
    stdlib PNG codec (llm/multimodal.py::encode_png — zlib + filter
    round-trip), are decoded back inside image_ahash64's mapInPandas
    kernel, and pair via image_neardup_pairs' eight-8-bit-chunk
    pigeonhole buckets (exact recall at Hamming ≤ 7 — a theorem, so
    the all-pairs SQL oracle matches the banded engine path exactly).
    A hash match proves the PNG encode→binary→decode round-trip, the
    integer-luma/resize/mean-threshold hash math, and the bucketed
    pair generation in one driver row — closing L34's
    pytest-only gap.
    """
    import numpy as np

    from ..llm.multimodal import MEDIA_SCHEMA, encode_png, image_neardup_pairs

    d = load_table(spark, sf_dir, "documents", ["doc_id"]).select(
        "doc_id",
        F.repeat(
            F.md5(
                F.when(col("doc_id") % 8 == 1, col("doc_id") - 1)
                .otherwise(col("doc_id"))
                .cast("string")
            ),
            2,
        ).alias("hx"),
    )

    def synth(batches):
        for pdf in batches:
            rows = []
            for did, hx in zip(pdf["doc_id"], pdf["hx"]):
                b = np.frombuffer(hx.encode("ascii"), dtype=np.uint8).astype(
                    np.int64
                )
                v = (b * np.arange(1, 65, dtype=np.int64)) % 256
                if did % 8 == 1:
                    v[0] = (v[0] + 1) % 256
                img = (
                    v.astype(np.uint8).reshape(8, 8)[:, :, None].repeat(3, axis=2)
                )
                rows.append(
                    (int(did), "image", "image/png", 8, 8, 0, encode_png(img))
                )
            yield pd.DataFrame(rows, columns=MEDIA_SCHEMA.fieldNames())

    media = fan_out(d).mapInPandas(synth, MEDIA_SCHEMA)
    return _ordered(
        image_neardup_pairs(media, max_hamming=6).select(
            col("id_a").cast("long"),
            col("id_b").cast("long"),
            col("hamming").cast("int"),
        ),
        "id_a",
        "id_b",
    )


@query(
    "d_semantic_dedup",
    oracle="""
    WITH quant AS (
      SELECT vec_id, list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS q
      FROM embeddings
    ), samp AS (
      SELECT vec_id, q, row_number() OVER (ORDER BY vec_id) AS rn
      FROM quant ORDER BY vec_id LIMIT 128
    ), cents AS (
      SELECT CAST((rn - 1) / 8 AS INT) AS list_id, q AS c
      FROM samp WHERE (rn - 1) % 8 = 0
    ), assigned AS (
      SELECT vec_id, q, list_id FROM (
        SELECT v.vec_id, v.q, c.list_id,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {vc} DESC, c.list_id ASC) AS rnk
        FROM quant v CROSS JOIN cents c
      ) WHERE rnk = 1
    ), counts AS (
      SELECT list_id, count(*) AS cnt FROM assigned GROUP BY list_id
    ), salted AS (
      SELECT a.vec_id, a.q, a.list_id,
             CASE WHEN c.cnt > {cap}
                  THEN CAST(('0x' || substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 8))
                            AS UBIGINT)
                       % ((c.cnt + {cap} - 1) // {cap})
                  ELSE 0 END AS sub
      FROM assigned a JOIN counts c USING (list_id)
    ), dropped AS (
      SELECT DISTINCT a.vec_id
      FROM salted a JOIN salted b
        ON a.list_id = b.list_id AND a.sub = b.sub
       AND b.vec_id < a.vec_id AND {ab} >= 0.35
    )
    SELECT a.vec_id, a.list_id, (d.vec_id IS NULL) AS keep
    FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
    ORDER BY a.vec_id
    """.format(
        vc=_IVF_COSINE.format(a="v.q", b="c.c"),
        ab=_IVF_COSINE.format(a="a.q", b="b.q"),
        cap=default_cell_cap(),
    ),
)
def d_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings, drop all but
    one of each within-cluster semantic-duplicate group.

    The embedding-space analog of MinHash dedup — catches paraphrases
    and re-encodings that share no tokens. Corpus is bucketed into 16
    stride-sampled centroid cells (the deterministic IVF assignment of
    s_cosine_topk_ivf, bit-identical across engines on quantized
    integer dot products); inside each cell every vector with a
    LOWER-id neighbor at cosine ≥ 0.35 is marked dropped (greedy
    keep-first — deterministic, no transitive closure). Pairwise work
    is per-CELL Gram matrices in applyInPandas, never corpus-wide; at
    100 TB the cell count scales with the corpus (SemDeDup uses ~10k
    clusters) so each Gram stays bounded — exactly this code with a
    bigger centroid list — and the hot-cell cap (llm/dedup.py::
    semantic_dedup, VERDICT r9 #1) salts any cell a skewed
    distribution pushes past the memory-derived default_cell_cap()
    (16,384 rows for a 2 GiB task Gram budget) into bounded sub-cells,
    so one mega-cell can never OOM a task with a corpus-sized Gram.
    The salting is declarative (no driver collect) and md5-keyed, and
    the oracle models it in SQL — so the query stays hash-exact even
    at scale factors where the cap DOES trigger (sf1-skew's hot cell
    exceeds it). The capped path is additionally pinned by
    tests/test_llm_ops.py with a planted mega-cell at the production
    constant. Threshold 0.35 reflects the synthetic gaussian corpus
    (cf. d_embedding_cosine_neardups).
    """
    from ..llm.ann import ivf_assign
    from ..llm.dedup import semantic_dedup

    e = load_table(spark, sf_dir, "embeddings")
    quant = e.select("vec_id", _quantize(col("embedding")).alias("q"))
    sample = quant.orderBy("vec_id").limit(128).collect()
    centroids = [[float(x) for x in r.q] for r in sample[::8]][:16]
    assigned = ivf_assign(quant, centroids, vec_col="q")
    out = semantic_dedup(assigned, threshold=0.35)
    # plain orderBy measured FASTER than materialize-before-sort here
    # (2.07 vs 2.60 s min-of-3): the per-cell kernel sits below the
    # cell groupBy exchange, whose map output the range sampler
    # reuses — only cheap post-shuffle work re-runs, while an eager
    # localCheckpoint pays its fixed block-write + job cost.
    return out.orderBy("vec_id")


@query(
    "t_main_text_extract",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(text, '\\s+', ' ', 'g')) AS main_text
    FROM documents
    ORDER BY doc_id
    """,
)
def t_main_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate extraction (sources/warc.py::extract_main_text —
    the jusText/Arc90-style block text-density classifier) behind a
    driver-checkable oracle (VERDICT r8 #3).

    The fixture synthesizes a realistic page around each document's
    text deterministically IN the engine: head+title, a kill-tag
    script, a link-only <nav>, the document body as a <p>, and a
    <footer> with a link. A correct classifier must drop every
    boilerplate block (title fragment too short, nav links at density
    1.0, footer section) and keep exactly the body paragraph — so the
    extracted text equals the whitespace-normalized document text,
    which IS SQL-expressible, giving the stdlib classifier a
    hash-exact cross-engine gate rather than pytest-only coverage.
    min_good_chars=25 clears the corpus floor (shortest document is
    44 chars at every shipped SF, incl. sf1/sf1-skew).
    """
    from ..sources.warc import extract_main_text

    # fan out before the pandas-UDF classifier: the single-file scan
    # arrives in 1-2 partitions, pinning the per-row Python HTML parse
    # to as many cores (guide §2.5 input skew / §4 Python boundary); at
    # real scale the scan is already wide and this is a no-op
    d = fan_out(load_table(spark, sf_dir, "documents", ["doc_id", "text"]))
    html = F.concat(
        lit(
            "<html><head><title>t</title><script>var x=1;</script></head>"
            "<body><nav><a href='/'>home</a> <a href='/about'>about</a> "
            "<a href='/blog'>blog</a></nav><p>"
        ),
        col("text"),
        lit(
            "</p><footer>copyright 2026 <a href='/terms'>terms</a>"
            "</footer></body></html>"
        ),
    )
    return _ordered(
        d.select(
            "doc_id",
            extract_main_text(html, min_good_chars=25).alias("main_text"),
        ),
        "doc_id",
    )
