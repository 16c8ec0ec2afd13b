"""Lexical retrieval over the corpus: BM25 scoring, inverted-index shaped.

Training-data pipelines use lexical retrieval constantly: benchmark
decontamination beyond exact n-grams (find near-verbatim test items),
"more-like-this" curation (expand a seed set of high-quality docs),
and retrieval-based dedup candidate generation (Dolma, RefinedWeb use
BM25-family filters). This module gives that capability two layers,
following the repo's pattern for float-heavy algorithms (ml/, L18/L22):

- :func:`bm25_topk` — REAL BM25 (Robertson/Spärck Jones probabilistic
  idf, k1/b length normalization), float64, verified in pytest against
  a pure-Python textbook implementation. `ln` is not bit-identical
  across engines, so this layer has no SQL oracle — like k-means and
  the quality scorer.
- :func:`bm25_topk_fp` — integer FIXED-POINT variant (the PageRank
  treatment): rational idf surrogate ``((N - df) * SCALE) div (df + 1)``
  and div-rounded length normalization, every quantity integral, so
  the score reproduces bit-for-bit in any engine and a DuckDB oracle
  hash-checks the whole retrieval (`t_bm25_more_like_this`). Ranking
  quality tracks BM25 (both idfs are monotone-decreasing in df, both
  tf saturations are the same k1/b form); the docstring constant
  choices are pinned by tests comparing the two rankings.

Scale shape (both layers): tokenize (map) → per-(doc, term) tf
(ONE partial-agg shuffle on (doc, term)) → join the BROADCAST query
term table (a query has dozens of terms) → per-doc score sum (one
shuffle on doc) → top-k via TakeOrderedAndProject. Corpus statistics
(N, avgdl, df) are one extra aggregate over the same token stream.
Nothing is ever quadratic; the only corpus-sized shuffles key on
(doc, term) and doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from ..operators.checkpoint import materialize
from ..session import local_frame
from .corpus import word_tokens

SCALE = 1_000_000
# round(ln(2) * SCALE) — the one published constant the integer ln needs
LN2_FP = 693_147


def _ln_fp_int(y: int) -> int:
    """Integer fixed-point natural log: round-ish(ln(y) * SCALE), exact
    integer arithmetic only — the reference implementation of the
    expression bm25_topk_fp evaluates in Spark SQL and the driver
    oracle evaluates in DuckDB (both engines reproduce these bits).

    Argument reduction y = m·2^e with m ∈ [1, 2) (e = bit_length - 1,
    exact; m in fixed point), then ln m = 2·artanh((m-1)/(m+1)) via
    the odd atanh series through z⁵ — z ≤ 1/3 there, so the truncation
    error is ≤ 2·z⁷/7 ≈ 1.3e-4; measured max |error| vs math.log is
    156 SCALE-units (1.6e-4 ln-units) over 1 ≤ y ≤ 1e12. Replaces the
    r11 rational idf surrogate whose SHAPE (hyperbolic N/df vs
    logarithmic) was the measured ranking-fidelity floor
    (BM25_AGREEMENT_r11.json: min score-recall@10 = 0.68).
    """
    if y < 1:
        raise ValueError("ln_fp domain is y >= 1")
    e = y.bit_length() - 1
    m = (y * SCALE) // (1 << e)
    z = ((m - SCALE) * SCALE) // (m + SCALE)
    z2 = (z * z) // SCALE
    t3 = ((z * z2) // SCALE) // 3
    t5 = ((((z * z2) // SCALE) * z2) // SCALE) // 5
    return e * LN2_FP + 2 * (z + t3 + t5)


def _doc_terms(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, term, tf, doclen) — the inverted-index building block."""
    toks = docs.select(
        col(id_col).alias("_doc"), F.explode(word_tokens(col(text_col))).alias("_term")
    )
    tf = toks.groupBy("_doc", "_term").agg(F.count("*").alias("_tf"))
    dl = tf.groupBy("_doc").agg(F.sum("_tf").alias("_dl"))
    return tf.join(dl, "_doc")


def _query_terms(query: str) -> list[str]:
    """Distinct lowercased whitespace terms, first-seen order."""
    return list(dict.fromkeys(w for w in query.lower().split() if w))


def bm25_topk(
    docs: DataFrame,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k docs for ``query`` by BM25 (float64). Returns
    (id, score) ordered by score desc, id asc. Textbook formula:
    ``sum_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))`` with
    ``idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))``; terms absent from
    the corpus contribute 0. Pytest-verified against a pure-Python
    reference — no SQL oracle (ln is not cross-engine bit-stable).
    """
    terms = _query_terms(query)
    if not terms:
        raise ValueError("query has no terms")
    spark = docs.sparkSession
    # Materialize the inverted index once: three consumers walk dt —
    # the corpus-stats aggregate below (an eager .first()), the df
    # table's broadcast-build subtree, and the scored main branch —
    # and each would otherwise re-run the tokenize + (doc,term) tf +
    # per-doc dl chain, the only corpus-sized work in the query
    # (guide §2.4: duplicated subtrees). dt is the aggregated
    # (doc, term, tf, dl) index — the bytes the retrieval must hold
    # anyway, orders of magnitude below the raw token stream.
    dt = materialize(_doc_terms(docs, id_col, text_col))
    n_docs = docs.count()
    avgdl = (
        dt.groupBy("_doc").agg(F.first("_dl").alias("_dl")).agg(F.avg("_dl")).first()[0]
    )
    if avgdl is None:  # empty corpus / all-empty documents
        raise ValueError("corpus has no tokens (empty or all-empty documents)")
    qt = local_frame(spark, [(t,) for t in terms], "_term string")
    df_tab = (
        dt.join(F.broadcast(qt), "_term", "left_semi")
        .groupBy("_term")
        .agg(F.countDistinct("_doc").alias("_df"))
    )
    idf = F.log(
        lit(1.0)
        + (lit(float(n_docs)) - col("_df") + lit(0.5)) / (col("_df") + lit(0.5))
    )
    scored = (
        dt.join(F.broadcast(qt), "_term")
        .join(F.broadcast(df_tab), "_term")
        .select(
            "_doc",
            (
                idf
                * (col("_tf") * lit(k1 + 1.0))
                / (
                    col("_tf")
                    + lit(k1)
                    * (lit(1.0 - b) + lit(b) * col("_dl") / lit(float(avgdl)))
                )
            ).alias("_s"),
        )
        .groupBy("_doc")
        .agg(F.sum("_s").alias("score"))
    )
    return (
        scored.select(col("_doc").alias(id_col), "score")
        .orderBy(F.desc("score"), id_col)
        .limit(k)
    )


def bm25_topk_fp(
    docs: DataFrame,
    query: str,
    k: int = 10,
    k1_pct: int = 120,
    b_pct: int = 75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k docs for ``query`` by integer fixed-point BM25 — the
    engine-exact variant (the PageRank treatment: every quantity
    integral, floor division, bit-identical under any partitioning and
    replayable by a SQL oracle).

    Differences from real BM25, both documented and pinned by tests:
    the idf is the INTEGER LOG (r12, closing BM25_AGREEMENT_r11's
    idf-shape gap) ``idf_fp = ln_fp(2N + 2) - ln_fp(2·df + 1)`` at
    SCALE = 1e6 — algebraically ln((N - df + 0.5)/(df + 0.5) + 1),
    exactly real BM25's "+1" probabilistic idf, evaluated by
    :func:`_ln_fp_int`'s bit-length + atanh-series arithmetic that
    reproduces bit-for-bit in any engine (max |error| 1.6e-4 ln-units
    — three orders below the ln-shape gap the r11 rational surrogate
    had). At df = N the true idf is ~1/(2N) and the ±1.6e-4
    approximation may dip a few SCALE-units negative — the same mild
    ubiquitous-term penalty classic Robertson idf has, and harmless
    to top-k. The tf saturation uses integer percent parameters
    (``k1_pct=120`` ≙ k1=1.2, ``b_pct=75`` ≙ b=0.75), computed as its
    own bounded fixed-point factor BEFORE multiplying by idf so the
    per-term product stays in int64 (the PageRank overflow lesson,
    ADVICE r9):

    ``denom_fp = tf * SCALE + (k1_pct * ((100 - b_pct) * SCALE
    + b_pct * ((dl * SCALE²) div avgdl_fp))) div 10000`` with
    ``avgdl_fp = (total_tokens * SCALE) div N`` (fixed-point avgdl —
    the r11 integer floor was a systematic length-normalization shift)
    ``sat_fp   = (tf * (100 + k1_pct) * SCALE div 100) * SCALE
    div denom_fp``           — bounded by (1 + k1) * SCALE ≈ 2.2e6
    ``score_fp = sum_t (idf_fp * sat_fp) div 1000``

    The per-term divisor is 1000 (NOT SCALE): dividing by SCALE
    quantized scores to small integers, and on a near-uniform-df
    corpus the resulting ties made the ranking degenerate to doc-id
    order (measured in BM25_AGREEMENT_r11.json — overlap@10 vs float
    BM25 collapsed at sf1 before the change). Keeping three more
    digits costs nothing in int64.

    Overflow precondition: ``idf_fp ≤ ln(2N+2)·1e6`` (≤ 9e7 for any
    N < 2^63) and ``sat_fp ≤ 2.2e6``, so the per-term product stays
    under ``2e14`` for any corpus; docs under ~4M tokens keep the
    saturation intermediates in range (``tf · 2.2 · SCALE² < 2^63``
    and ``dl · SCALE² < 2^63`` ⇔ dl < 9.2e6); the summed score needs
    ``n_query_terms · 2e11 < 2^63`` — all comfortably past web scale.
    Returns (id, score_fp long) ordered by score_fp desc, id asc,
    limit k.
    """
    terms = _query_terms(query)
    if not terms:
        raise ValueError("query has no terms")
    spark = docs.sparkSession
    # Materialized for the same three-consumer reason as bm25_topk:
    # the eager avgdl/N aggregate, the df broadcast subtree, and the
    # scored branch each re-ran the tokenize + tf + dl chain.
    dt = materialize(_doc_terms(docs, id_col, text_col))
    n_docs = docs.count()
    qt = local_frame(spark, [(t,) for t in terms], "_term string")
    trow = (
        dt.groupBy("_doc")
        .agg(F.first("_dl").alias("_dl"))
        .agg(F.sum("_dl").alias("_tot"), F.count("*").alias("_n"))
        .first()
    )
    if trow["_tot"] is None or int(trow["_n"]) == 0:
        raise ValueError("corpus has no tokens (empty or all-empty documents)")
    # avgdl in fixed point (r12): the r11 integer floor of avgdl was a
    # systematic ~1/avgdl relative shift in the b length-normalization —
    # after the idf fix it was the REMAINING fp-vs-float divergence on
    # near-tied corpora (BM25_AGREEMENT r12 interim: min recall 0.72
    # with floored avgdl). (tot·SCALE) div n keeps six digits.
    avgdl_fp = (int(trow["_tot"]) * SCALE) // int(trow["_n"])
    # avgdl_fp >= SCALE whenever the corpus has tokens (every counted
    # doc has _dl >= 1), so the `div {avgdl_fp}` below can never divide
    # by zero; assert rather than silently embedding a 0 in SQL.
    assert avgdl_fp >= SCALE, "avgdl_fp must be >= SCALE"
    df_tab = (
        dt.join(F.broadcast(qt), "_term", "left_semi")
        .groupBy("_term")
        .agg(F.countDistinct("_doc").alias("_df"))
    )
    # div 10000, not 100: (100-b_pct)·SCALE + b_pct·r·SCALE carries ONE
    # factor of 100 from the b percentages and k1_pct contributes the
    # other — r11 shipped div 100, which left the length-normalization
    # term 100x too large, drowned the leading `tf +` and made sat_fp
    # near-LINEAR in tf (no BM25 saturation); the r11 agreement study
    # measured the damage but misattributed it to idf shape. Found by
    # per-term decomposition against float BM25 (r12).
    sat = (
        f"(((_tf * (100 + {k1_pct}) * {SCALE}) div 100) * {SCALE})"
        f" div (_tf * {SCALE} + ({k1_pct} * ((100 - {b_pct}) * {SCALE}"
        f" + {b_pct} * ((_dl * {SCALE} * {SCALE}) div {avgdl_fp}))) div 10000)"
    )
    # integer-log idf, stepwise (each column is one _ln_fp_int stage;
    # the Spark SQL below and the driver oracle's DuckDB CTE chain
    # compute the identical integers)
    ln_2n2 = _ln_fp_int(2 * n_docs + 2)
    df_tab = (
        df_tab.withColumn("_y", F.expr("2 * _df + 1"))
        .withColumn("_e", F.expr("length(bin(_y)) - 1"))
        .withColumn(
            "_m", F.expr(f"(_y * {SCALE}) div cast(pow(2, _e) as bigint)")
        )
        .withColumn("_z", F.expr(f"((_m - {SCALE}) * {SCALE}) div (_m + {SCALE})"))
        .withColumn("_z2", F.expr(f"(_z * _z) div {SCALE}"))
        .withColumn(
            "_idf",
            F.expr(
                f"{ln_2n2} - (_e * {LN2_FP} + 2 * (_z"
                f" + ((_z * _z2) div {SCALE}) div 3"
                f" + ((((_z * _z2) div {SCALE}) * _z2) div {SCALE}) div 5))"
            ),
        )
        .select("_term", "_idf")
    )
    scored = (
        dt.join(F.broadcast(qt), "_term")
        .join(F.broadcast(df_tab), "_term")
        .select(
            "_doc",
            F.expr(f"(_idf * ({sat})) div 1000").alias("_s"),
        )
        .groupBy("_doc")
        .agg(F.sum("_s").cast("bigint").alias("score_fp"))
    )
    return (
        scored.select(col("_doc").alias(id_col), "score_fp")
        .orderBy(F.desc("score_fp"), id_col)
        .limit(k)
    )
