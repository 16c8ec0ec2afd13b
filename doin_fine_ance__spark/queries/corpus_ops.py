"""Corpus-preparation queries: quality filter, PII scrub,
decontamination, sequence packing (llm/corpus.py operators).

The last mile of a training-data pipeline after dedup: drop
degenerate-repetition docs (Gopher/C4 heuristics), scrub PII, remove
benchmark contamination, and pack what's left into fixed token
budgets. Every query is oracle-backed — the operators were designed
so all arithmetic is integers or a single integer division, making
results engine-exact (see llm/corpus.py module docstring).

Benchmark split for the decontamination probe: ``doc_id % 97 = 0`` is
the "benchmark" set, everything else is training data — a
deterministic stand-in for a real eval-set manifest. 3-gram overlap
is used at test scale (the synthetic vocabulary is small; real
pipelines use 8-13 grams — the operator takes ``n``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from ..llm.corpus import (
    EMAIL_RE,
    PHONE_RE,
    decontaminate,
    pack_sequences,
    redact_pii,
    repetition_stats,
    stratified_sample,
    word_tokens,
)
from ..sources.testdata import load_table
from . import query

_TOKS = (
    "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
)


@query(
    "t_repetition_filter",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS w FROM documents
    ), words AS (
      SELECT doc_id, unnest(w) AS word FROM toks
    ), wc AS (
      SELECT doc_id, word, COUNT(*) AS n FROM words GROUP BY 1, 2
    ), stats AS (
      SELECT doc_id,
             CAST(SUM(n) AS BIGINT) AS n_words,
             CAST(MAX(n) AS BIGINT) AS max_word_n,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(SUM(length(word) * n) AS BIGINT) AS char_mass
      FROM wc GROUP BY 1
    )
    SELECT doc_id,
           n_words,
           CAST(max_word_n AS DOUBLE) / CAST(n_words AS DOUBLE) AS max_word_frac,
           CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE) AS distinct_word_frac,
           CAST(char_mass AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_word_len,
           (CAST(max_word_n AS DOUBLE) / CAST(n_words AS DOUBLE) <= 0.10
            AND CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.5
            AND CAST(char_mass AS DOUBLE) / CAST(n_words AS DOUBLE) >= 3.0
            AND CAST(char_mass AS DOUBLE) / CAST(n_words AS DOUBLE) <= 10.0) AS keep
    FROM stats ORDER BY doc_id
    """,
)
def t_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality signals + keep verdict per doc."""
    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    return repetition_stats(d).orderBy("doc_id")


@query(
    "t_pii_redaction",
    oracle=f"""
    SELECT doc_id,
           CAST(length(regexp_extract_all(text, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(length(regexp_extract_all(text, '{PHONE_RE}')) AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                              '{PHONE_RE}', '<PHONE>', 'g')) AS clean_hash
    FROM documents ORDER BY doc_id
    """,
)
def t_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub probe: per-doc email/phone counts + redacted-text hash.

    The hash pins the EXACT redacted output across engines (the
    testdata contains no PII, so counts are 0 and hash == md5(text) —
    planted-PII behavior is pinned in tests/test_corpus_ops.py).
    """
    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    r = redact_pii(d)
    return r.select(
        "doc_id", "n_emails", "n_phones", F.md5(col("redacted")).alias("clean_hash")
    ).orderBy("doc_id")


@query(
    "d_decontaminate",
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
    ), grams AS (
      SELECT doc_id, unnest(gl) AS ngram_hash FROM grams_l
    ), bench AS (
      SELECT DISTINCT ngram_hash FROM grams WHERE doc_id % 97 = 0
    )
    SELECT g.doc_id, CAST(COUNT(DISTINCT g.ngram_hash) AS BIGINT) AS n_shared
    FROM grams g JOIN bench b USING (ngram_hash)
    WHERE g.doc_id % 97 <> 0
    GROUP BY 1 ORDER BY doc_id
    """,
)
def d_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing a 3-gram with
    the ``doc_id % 97 = 0`` benchmark split, with shared-gram counts."""
    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    train = d.filter(col("doc_id") % 97 != 0)
    bench = d.filter(col("doc_id") % 97 == 0)
    return decontaminate(train, bench, n=3).orderBy("doc_id")


@query(
    "t_sequence_packing",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
             CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT) % 4
                  AS INT) AS shard,
             md5(CAST(doc_id AS VARCHAR)) AS _ord
      FROM documents
    )
    SELECT doc_id, shard,
           CAST(floor(COALESCE(SUM(n_tokens) OVER (
                  PARTITION BY shard ORDER BY _ord
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512)
                AS BIGINT) AS pack_id,
           n_tokens
    FROM base ORDER BY doc_id
    """,
)
def t_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard + greedy 512-token packing per document."""
    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    return pack_sequences(d, budget=512, n_shards=4).orderBy("doc_id")


@query(
    "t_stratified_sample",
    oracle="""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) WHERE rn <= 20 ORDER BY doc_id
    """,
)
def t_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible eval-set draw: 20 docs per language by md5 rank."""
    d = load_table(spark, sf_dir, "documents", ["doc_id", "text", "lang", "source"])
    return stratified_sample(d, ["lang"], 20).select("doc_id", "lang", "source").orderBy(
        "doc_id"
    )


_STOPLIST = "['the','a','an','and','or','of','to','in','is','it']"


@query(
    "t_token_budget_select",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS w FROM documents
    ), scored AS (
      SELECT doc_id,
             CAST(length(w) AS BIGINT) AS n_tokens,
             CAST(length(list_filter(w, x -> list_contains({_STOPLIST}, x))) AS DOUBLE)
               / greatest(length(w), 1) AS score
      FROM toks
    ), cum AS (
      SELECT doc_id, n_tokens, score,
             CAST(SUM(n_tokens) OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS cum_tokens
      FROM scored
    )
    SELECT doc_id, n_tokens, score, cum_tokens
    FROM cum WHERE cum_tokens <= 10000 ORDER BY doc_id
    """,
)
def t_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: best documents first, stop at 10k tokens.

    Rank by stopword ratio (an English-prose quality proxy; any score
    works) and greedily keep documents while the cumulative token
    count fits the budget — the data-selection step that turns a
    cleaned corpus into a right-sized training mix. The cumulative sum
    is llm/selection.py's two-pass distributed prefix sum (range
    partition → local window → driver offsets); the oracle is the
    equivalent single-window SQL, which is exactly the plan shape the
    Spark side exists to avoid at scale.
    """
    from ..llm.selection import budget_select

    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    toks = word_tokens(col("text"))
    stop = F.array([F.lit(w) for w in
                    ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop, x)))
    scored = d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        (n_stop.cast("double") / F.greatest(F.size(toks), F.lit(1))).alias("score"),
    )
    sel = budget_select(
        scored, "n_tokens", 10_000,
        [col("score").desc(), col("doc_id")], cum_col="cum_tokens",
    )
    return sel.select("doc_id", "n_tokens", "score", "cum_tokens").orderBy("doc_id")


@query(
    "t_shuffle_order",
    oracle="""
    SELECT doc_id,
           CAST(row_number() OVER (
             ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id
           ) AS BIGINT) AS shuffle_rank
    FROM documents ORDER BY doc_id
    """,
)
def t_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle (seeded md5 rank).

    Reproducible example order without a single-partition
    row_number(): the rank is the distributed prefix COUNT in
    md5(id:seed) order (llm/selection.py). Bump the seed to reshuffle
    between epochs; same seed → same order on any cluster layout.
    """
    from ..llm.selection import shuffle_rank

    d = load_table(spark, sf_dir, "documents", ["doc_id"])
    return shuffle_rank(d, seed=42).select("doc_id", "shuffle_rank").orderBy("doc_id")


@query(
    "t_domain_mix",
    oracle="""
    WITH drawn AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8)) AS UBIGINT)
               / 4294967296.0 AS sample_u,
             CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.75
                         WHEN 'src2' THEN 0.5 WHEN 'src3' THEN 0.25
                         ELSE 0.1 END AS w
      FROM documents
    )
    SELECT doc_id, source, sample_u FROM drawn
    WHERE sample_u < w ORDER BY doc_id
    """,
)
def t_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted domain mixing: downsample each source to a target rate.

    The training-mix rebalancer (keep all of src0, 75% of src1, …,
    10% of the long tail). Map-only and shuffle-free at any scale;
    membership is a deterministic per-doc uniform draw (md5-derived),
    so reruns and incremental extensions select the same documents.
    """
    from ..llm.selection import domain_mix

    d = load_table(spark, sf_dir, "documents", ["doc_id", "source"])
    mixed = domain_mix(
        d, {"src0": 1.0, "src1": 0.75, "src2": 0.5, "src3": 0.25},
        default_weight=0.1, seed="mix",
    )
    return mixed.select("doc_id", "source", "sample_u").orderBy("doc_id")


@query(
    "d_segment_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'),
                         x -> x <> '') AS ts
      FROM documents
    ), chunks AS (
      SELECT doc_id, CAST(s AS INT) // 10 AS chunk_idx,
             array_to_string(list_slice(ts, CAST(s AS INT) + 1, CAST(s AS INT) + 10), ' ') AS chunk
      FROM toks, unnest(range(0, len(ts), 10)) AS u(s)
    ), seen AS (
      SELECT chunk, COUNT(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY chunk
    ), marked AS (
      SELECT c.doc_id, c.chunk_idx, c.chunk, (s.n_docs > 3) AS dropped
      FROM chunks c JOIN seen s ON c.chunk = s.chunk
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           md5(coalesce(string_agg(CASE WHEN dropped THEN NULL ELSE chunk END,
                                   ' ' ORDER BY chunk_idx), '')) AS cleaned_md5
    FROM marked GROUP BY doc_id ORDER BY doc_id
    """,
)
def d_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact segment-level (C4 three-sentence-span / RefinedWeb
    exact-substring analog) boilerplate removal: 10-token segments
    occurring in >3 distinct docs are cut from every doc.

    Complements doc-level dedup (d_exact_dedup, d_minhash_*): those
    drop whole documents, this strips REPEATED SPANS inside otherwise
    unique documents. cleaned_md5 fingerprints the rebuilt text, so
    the oracle match proves segmentation, counting, and reassembly
    order, not just counts. See llm/corpus.py::segment_dedup for the
    scale shape (two shuffles, no global sort).
    """
    from ..llm.corpus import segment_dedup

    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    return segment_dedup(d, "doc_id", "text", seg_tokens=10, max_docs=3).orderBy("doc_id")


@query(
    "d_duplicate_spans",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'),
                         x -> x <> '') AS ts
      FROM documents
    ), wins AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ts) - 8 + 2),
                                   i -> md5(array_to_string(list_slice(ts, i, i + 7), ' ')))) AS wkey
      FROM toks WHERE len(ts) >= 8
    ), freq AS (
      SELECT wkey, COUNT(DISTINCT doc_id) AS n_docs FROM wins GROUP BY wkey
    )
    SELECT w.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
           CAST(SUM(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_ratio
    FROM wins w JOIN freq f USING (wkey)
    GROUP BY w.doc_id ORDER BY w.doc_id
    """,
)
def d_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window duplicated-span stats (Lee et al.
    2022 exact-substring dedup, measurement pass): every 8-token
    window at every position, windows present in ≥2 distinct docs are
    duplicated spans; per-doc (n_windows, n_dup_windows, dup_ratio).

    Complements d_segment_dedup (non-overlapping cut at fixed
    alignment — misses shared spans at different offsets) and the
    doc-level passes. Two narrow shuffles (window-hash freq, per-doc
    rollup); only md5 keys shuffle, never window text. See
    llm/corpus.py::duplicate_spans.
    """
    from ..llm.corpus import duplicate_spans

    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    return duplicate_spans(d, "doc_id", "text", k=8, min_docs=2).orderBy("doc_id")


@query(
    "d_span_scrub",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'),
                         x -> x <> '') AS ts
      FROM documents
    ), base AS (
      SELECT doc_id, ts FROM toks WHERE len(ts) > 0
    ), wins AS (
      SELECT doc_id, i - 1 AS pos,
             md5(array_to_string(list_slice(ts, i, i + 7), ' ')) AS wkey
      FROM base, unnest(range(1, len(ts) - 8 + 2)) AS u(i)
      WHERE len(ts) >= 8
    ), freq AS (
      SELECT wkey FROM wins GROUP BY wkey HAVING COUNT(DISTINCT doc_id) >= 2
    ), covered AS (
      SELECT DISTINCT w.doc_id, CAST(p AS BIGINT) AS tokpos
      FROM wins w JOIN freq f USING (wkey), unnest(range(w.pos, w.pos + 8)) AS c(p)
    ), tokens AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS tokpos, ts[i] AS tok
      FROM base, unnest(range(1, len(ts) + 1)) AS t(i)
    ), kept AS (
      SELECT t.doc_id, t.tokpos, t.tok
      FROM tokens t ANTI JOIN covered c USING (doc_id, tokpos)
    ), rebuilt AS (
      SELECT doc_id,
             string_agg(tok, ' ' ORDER BY tokpos) AS _rebuilt,
             CAST(COUNT(*) AS BIGINT) AS _n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(len(b.ts) AS BIGINT) AS n_tokens,
           CAST(len(b.ts) - coalesce(r._n_kept, 0) AS BIGINT) AS n_removed,
           md5(coalesce(r._rebuilt, '')) AS cleaned_md5
    FROM base b LEFT JOIN rebuilt r USING (doc_id)
    ORDER BY b.doc_id
    """,
)
def d_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span surgery (Lee et al. 2022 removal half): every token
    covered by a cross-doc duplicated 8-token window is cut; per-doc
    (n_tokens, n_removed, md5 of the rebuilt text). The fingerprint
    proves windowing, coverage union, and reassembly order against an
    independent SQL recomputation — see
    llm/corpus.py::remove_duplicate_spans for the scale shape.
    """
    from ..llm.corpus import remove_duplicate_spans

    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    return remove_duplicate_spans(d, "doc_id", "text", k=8, min_docs=2).orderBy("doc_id")


@query(
    "t_temperature_mix",
    oracle="""
    WITH counts AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang
    ), rates AS (
      SELECT lang,
             SQRT(CAST((SELECT MIN(n) FROM counts) AS DOUBLE) / CAST(n AS DOUBLE))
               AS keep_rate
      FROM counts
    ), drawn AS (
      SELECT d.doc_id, d.lang,
             CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':temp'), 1, 8)) AS UBIGINT)
               / 4294967296.0 AS sample_u,
             r.keep_rate
      FROM documents d JOIN rates r USING (lang)
    )
    SELECT doc_id, lang, sample_u, keep_rate FROM drawn
    WHERE sample_u < keep_rate ORDER BY doc_id
    """,
)
def t_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source rebalancing (round 7): target counts
    ∝ n_i^alpha at alpha=0.5, no upsampling — the smallest LANGUAGE
    keeps 100%, larger languages downsample by sqrt(n_min/n_i) (the
    testdata's lang column is the naturally skewed one: en outweighs
    fr ~3.4x, so the op visibly rebalances; source is uniform).

    The multilingual-corpus mixing standard (contrast t_domain_mix's
    hand-set weights: here the weights come FROM the data). alpha=0.5
    is the oracle-exact setting — IEEE requires sqrt and division to
    be correctly rounded, so both engines compute bit-identical keep
    rates; general alpha uses pow (last-ulp libm variance, fine in
    production, not hash-comparable). One tiny per-source aggregate
    broadcast back; the draw is the map-only md5 uniform.
    """
    from ..llm.selection import temperature_mix

    d = load_table(spark, sf_dir, "documents", ["doc_id", "lang"])
    mixed = temperature_mix(d, alpha=0.5, source_col="lang", seed="temp")
    return mixed.select("doc_id", "lang", "sample_u", "keep_rate").orderBy("doc_id")


@query(
    "t_token_shards",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, CAST(length({_TOKS}) AS BIGINT) AS n_tokens FROM documents
    ), cum AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cw
      FROM toks
    )
    SELECT doc_id, n_tokens, CAST((cw - n_tokens) // 2000 AS BIGINT) AS shard
    FROM cum ORDER BY doc_id
    """,
)
def t_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced contiguous shard assignment (round 7): the
    writer-side step that splits a corpus into training files of
    ~2000 tokens each (shard = exclusive prefix token count DIV
    target, in doc_id order).

    Integer-exact end to end; the prefix sum is llm/selection.py's
    two-pass distributed machinery (range partition → local window →
    driver offsets), never a single-partition window — the oracle's
    global-window SQL is exactly the plan the Spark side avoids at
    scale.
    """
    from ..llm.selection import token_shards

    d = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    toks = word_tokens(col("text"))
    weighted = d.select("doc_id", F.size(toks).cast("bigint").alias("n_tokens"))
    sharded = token_shards(weighted, "n_tokens", 2000, [col("doc_id")])
    return sharded.select("doc_id", "n_tokens", "shard").orderBy("doc_id")
