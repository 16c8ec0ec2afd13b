"""Corpus-preparation operators: quality filtering, PII redaction,
benchmark decontamination, and sequence packing.

These are the steps between "deduplicated documents" and "training
shards" in a large-scale LLM data pipeline, re-expressed Spark-first:

- :func:`repetition_stats` — Gopher-style repetition/quality signals
  (Rae et al. 2021, "Scaling Language Models: ... Gopher", table A1;
  also the C4 heuristics of Raffel et al. 2020). Explode → two-level
  aggregate; partial aggregation keeps the shuffle narrow.
- :func:`redact_pii` — map-only regex redaction (emails, phone
  numbers), the standard pre-training scrub. Pure JVM
  ``regexp_replace``/``regexp_count`` — no Python in the path.
- :func:`decontaminate` — flag training docs sharing any word n-gram
  with an evaluation/benchmark set (the public n-gram-overlap
  decontamination recipe used for GPT-3/PaLM/Llama evals). N-gram
  hashes are md5 of the space-joined window, so the same fingerprints
  reproduce in any engine; the benchmark side is aggregated DISTINCT
  before the semi-join.
- :func:`pack_sequences` — deterministic sharding + greedy contiguous
  packing of documents into fixed token budgets (sequence packing for
  training). One window per shard, never a global single-partition
  sort: shard assignment is md5-based (engine-stable) and each
  shard's cumulative sum is independent, so the operator scales out
  by adding shards.

All arithmetic is integer or single-division-of-integers, so results
are bit-identical across engines and accumulation orders — every
operator here is SQL-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from ..operators.checkpoint import materialize
from ..operators.skew import fan_out

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\d{3}[-.]\d{3}[-.]\d{4}"


def word_tokens(text_col):
    """Lowercased whitespace tokens, empties dropped (both engines
    agree on this tokenization: split on \\s+, filter ''). The one word
    tokenizer of the dedup, curation and query code; NULL text stays
    NULL, so callers that need an empty array coalesce first."""
    return F.filter(F.split(F.lower(text_col), r"\s+"), lambda w: w != "")


def repetition_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_word_frac: float = 0.10,
    min_distinct_frac: float = 0.5,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
) -> DataFrame:
    """Per-document repetition/quality signals + keep verdict.

    Signals (integer ratios → engine-exact doubles):
    - ``max_word_frac``: occurrences of the most frequent word / total
      words — high means degenerate repetition;
    - ``distinct_word_frac``: distinct words / total words;
    - ``mean_word_len``: character mass / total words (Gopher keeps
      documents with mean word length in [3, 10]).

    Shape: explode → count per (doc, word) → roll up per doc. Both
    aggregations get map-side partial combine; the (doc, word) key is
    high-cardinality and unskewed by construction.
    """
    words = docs.select(col(id_col), F.explode(word_tokens(col(text_col))).alias("word"))
    wc = words.groupBy(id_col, "word").agg(F.count("*").alias("n"))
    stats = wc.groupBy(id_col).agg(
        F.sum("n").alias("n_words"),
        F.max("n").alias("max_word_n"),
        F.count("*").alias("n_distinct"),
        F.sum(F.length("word") * col("n")).alias("char_mass"),
    )
    mwf = col("max_word_n").cast("double") / col("n_words")
    dwf = col("n_distinct").cast("double") / col("n_words")
    mwl = col("char_mass").cast("double") / col("n_words")
    return stats.select(
        col(id_col),
        col("n_words"),
        mwf.alias("max_word_frac"),
        dwf.alias("distinct_word_frac"),
        mwl.alias("mean_word_len"),
        (
            (mwf <= lit(max_word_frac))
            & (dwf >= lit(min_distinct_frac))
            & (mwl >= lit(min_mean_word_len))
            & (mwl <= lit(max_mean_word_len))
        ).alias("keep"),
    )


def redact_pii(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Email/phone redaction with per-doc counts (map-only, JVM regex).

    Returns (id, n_emails, n_phones, redacted) — counts as BIGINT and
    the scrubbed text with ``<EMAIL>``/``<PHONE>`` placeholders. The
    patterns avoid constructs where Java regex and RE2 diverge, so a
    SQL engine reproduces the identical redaction.
    """
    redacted = F.regexp_replace(
        F.regexp_replace(col(text_col), EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return docs.select(
        col(id_col),
        F.regexp_count(col(text_col), F.lit(EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(col(text_col), F.lit(PHONE_RE)).cast("bigint").alias("n_phones"),
        redacted.alias("redacted"),
    )


def ngram_hashes(
    docs: DataFrame, n: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, ngram_hash) — md5 of each space-joined word n-gram.

    JVM higher-order transform over token positions (no Python); a doc
    shorter than n words contributes nothing. Higher-order lambdas run
    interpreted (~18 µs/gram measured), so the map stage is fanned out
    to all cores when the scan under-partitions — the same treatment
    as the signature UDFs.
    """
    docs = fan_out(docs)
    toks = word_tokens(col(text_col))
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(lit(1), F.size(toks) - (n - 1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, n))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select(col(id_col), F.explode(grams).alias("ngram_hash"))


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Training docs sharing ≥1 word n-gram with the benchmark set.

    Returns (id, n_shared) with n_shared = count of DISTINCT
    contaminated n-grams in the doc. The benchmark n-gram set is
    deduplicated then BROADCAST: eval suites are tiny next to a
    training corpus, so the train side — the 100 TB side — is never
    shuffled. (If a benchmark ever outgrew broadcast, drop the hint
    and the hash join key is uniform md5, so the shuffle variant is
    skew-free too.)
    """
    bench_grams = ngram_hashes(benchmark, n, id_col, text_col).select("ngram_hash").distinct()
    train_grams = ngram_hashes(train, n, id_col, text_col)
    return (
        train_grams.join(F.broadcast(bench_grams), "ngram_hash")
        .groupBy(id_col)
        .agg(F.count_distinct("ngram_hash").alias("n_shared"))
    )


def stratified_sample(
    docs: DataFrame,
    strata: list[str],
    n_per_stratum: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic stratified sample: top-n per stratum by md5(id).

    ``rand()``-based sampling is irreproducible across runs/engines;
    ranking on the md5 of the id gives a uniform, engine-stable
    pseudorandom draw — the reproducible way to cut eval sets out of a
    training corpus. One window shuffle partitioned by the strata;
    no stratum ever concentrates on one task unless the data does.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*strata).orderBy(F.md5(col(id_col).cast("string")), id_col)
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(col("_rn") <= n_per_stratum)
        .drop("_rn")
    )


def pack_sequences(
    docs: DataFrame,
    budget: int = 2048,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Assign each document a (shard, pack_id) for fixed-budget packing.

    - ``shard`` = first 4 hex chars of md5(doc_id) mod n_shards — an
      engine-stable pseudorandom shuffle of the corpus;
    - within a shard, documents are ordered by their full md5 (a
      deterministic permutation) and packed greedily: ``pack_id`` =
      exclusive-prefix-sum(tokens) ÷ budget. A document straddling a
      boundary belongs to the pack where it starts (the standard
      concat-then-chunk approximation of sequence packing).

    The window partitions by shard, so parallelism = n_shards and no
    global sort exists; at 100 TB raise n_shards to O(cluster cores) —
    shard sizes stay balanced because md5 is uniform.
    """
    toks = word_tokens(col(text_col))
    key = F.md5(col(id_col).cast("string"))
    base = docs.select(
        col(id_col),
        F.size(toks).cast("bigint").alias("n_tokens"),
        (F.conv(F.substring(key, 1, 4), 16, 10).cast("bigint") % n_shards)
        .cast("int")
        .alias("shard"),
        key.alias("_ord"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("_ord")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = F.coalesce(F.sum("n_tokens").over(w), lit(0).cast("bigint"))
    return base.select(
        col(id_col),
        "shard",
        F.floor(prior / lit(budget)).cast("bigint").alias("pack_id"),
        "n_tokens",
    )


def segment_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 10,
    max_docs: int = 3,
    emit_text: bool = False,
) -> DataFrame:
    """Exact segment-level dedup: C4's "remove any three-sentence span
    occurring more than once" (Raffel et al. 2020 §2.2) / RefinedWeb's
    exact-substring pass, expressed at token-segment granularity.

    Documents are cut into consecutive ``seg_tokens``-token segments;
    a segment that occurs in more than ``max_docs`` DISTINCT documents
    is boilerplate (headers, licence blocks, injected templates) and
    is dropped from every document that contains it. Returns one row
    per non-empty document: ``(id, n_chunks, n_dropped, cleaned_md5)``
    where cleaned_md5 fingerprints the surviving text (md5 of the
    space-joined kept segments in document order; md5('') when
    everything was boilerplate). With ``emit_text=True`` the last
    column is instead the rebuilt text itself (``cleaned_text``,
    lowercased + whitespace-normalized by the tokenization) for
    pipeline stages that consume the scrubbed corpus rather than
    fingerprint it.

    Scale shape: tokenize + segment are map-only (the per-doc
    higher-order slice runs over ~len/seg_tokens elements, not per
    character); segment frequencies are ONE partial-agg shuffle keyed
    on the segment; the mark join shuffles on the same key; the final
    per-doc rebuild aggregates bounded arrays (a document's own
    segments). Nothing is quadratic and no driver-side state exists,
    unlike suffix-array exact-substring dedup which needs a global
    sort — at 100 TB this is the practical form.
    """
    toks = F.filter(
        F.split(F.lower(F.coalesce(col(text_col), lit(""))), r"\s+"),
        lambda x: x != "",
    )
    base = docs.select(col(id_col), toks.alias("ts")).filter(F.size("ts") > 0)
    chunks = base.select(
        col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(lit(0), F.size("ts") - 1, lit(seg_tokens)),
                lambda s: F.array_join(F.slice("ts", s + 1, seg_tokens), " "),
            )
        ).alias("chunk_idx", "chunk"),
    )
    # chunks feeds BOTH the frequency build and the mark join; Spark
    # reuses exchanges, not subplans, so materialize the segmentation
    # once (the stream is ~len/seg_tokens rows, 10x smaller than the
    # token stream).
    chunks = materialize(chunks)
    seen = chunks.groupBy("chunk").agg(F.count_distinct(col(id_col)).alias("n_docs"))
    marked = chunks.join(seen, "chunk").withColumn("dropped", col("n_docs") > max_docs)
    kept_struct = F.when(~col("dropped"), F.struct("chunk_idx", "chunk"))
    rebuilt = F.array_join(
        F.transform(
            # collect_list skips the NULLs (dropped segments);
            # array_sort orders by chunk_idx (unique per doc)
            F.array_sort(F.collect_list(kept_struct)),
            lambda x: x["chunk"],
        ),
        " ",
    )
    out = rebuilt.alias("cleaned_text") if emit_text else F.md5(rebuilt).alias("cleaned_md5")
    return marked.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.sum(F.when(col("dropped"), 1).otherwise(0)).cast("bigint").alias("n_dropped"),
        out,
    )


def duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Sliding k-token duplicated-span statistics per document.
    Precondition: ``id_col`` is unique per row. With a repeated id the
    per-row ``n_windows`` joins a per-id aggregate, so each such row's
    ``n_dup_windows`` sums the duplicated windows of every row of the
    id and ``dup_ratio`` can exceed 1.0; deduplicate ids first.

    The overlapping-window counterpart of :func:`segment_dedup`: Lee
    et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better") remove every ≥50-token span that appears more than once
    in the corpus; the first step is knowing, per document, how much
    of it is such duplicated material. Every position i of a document
    yields the window tokens[i : i+k] (ALL positions — unlike the
    non-overlapping segment cut, a shared span is found at any
    alignment); a window whose md5 occurs in ≥ ``min_docs`` DISTINCT
    documents is a duplicated span.

    Returns one row per document with ≥1 window (≥ k tokens):
    ``(id, n_windows, n_dup_windows, dup_ratio)`` where dup_ratio =
    n_dup_windows / n_windows — the fraction of the document covered
    by cross-document boilerplate, the per-doc signal a pipeline
    thresholds on before paying for span surgery.

    Scale shape (restructured in r13 — guide §2.3 "shuffle keys and
    metadata instead of payloads"): windowing is map-only
    (~len(tokens) rows per doc, k-fold smaller than exploding every
    window's tokens because only the hash leaves the executor); window
    frequencies are ONE partial-agg shuffle on the window hash; the
    mark join reuses that exchange (identical subtree — ReuseExchange,
    so the tokenize+hash pass runs once with NO eager checkpoint); and
    the per-doc rollup shuffles ONLY the duplicated-window rows —
    ``n_windows`` is ``len(tokens) - k + 1`` by construction, so the
    clean windows (the overwhelming majority of a real corpus) never
    re-shuffle to the doc side. Previously every window row crossed
    the doc-id exchange a second time. Nothing quadratic, no driver
    state. The window key is xxhash64 of the window text (an 8-byte
    shuffle key; the key is a pure intermediate — every output is a
    count or ratio, invariant under injective re-keying, so a SQL
    oracle hashing windows with md5 still matches; collision exposure
    documented at ``dedup.XXHASH64_EXACT_SAFE_DISTINCT``).
    """
    toks = word_tokens(F.coalesce(col(text_col), lit("")))
    # fan out BEFORE projecting the window-hash transform: a small
    # parquet scan arrives in 1-2 partitions and the per-window hash
    # over every token position is the expensive map stage — without
    # the round-robin exchange it runs on 1-2 of the cluster's cores
    # (no-op whenever the scan is already >= cluster width)
    base = fan_out(docs).select(col(id_col), toks.alias("ts")).filter(
        F.size("ts") >= k
    )
    wins = base.select(
        col(id_col),
        F.explode(
            F.transform(
                F.sequence(lit(0), F.size("ts") - k),
                lambda s: F.xxhash64(F.array_join(F.slice("ts", s + 1, k), " ")),
            )
        ).alias("wkey"),
    )
    # Duplicated keys only: the join against wins reuses the freq
    # build's exchange (identical wkey exchange subtree on both sides),
    # and everything downstream carries only the dup rows.
    dup_keys = (
        wins.groupBy("wkey")
        .agg(F.count_distinct(col(id_col)).alias("n_docs"))
        .filter(col("n_docs") >= min_docs)
        .select("wkey")
    )
    dup_counts = (
        wins.join(dup_keys, "wkey")
        .groupBy(id_col)
        .agg(F.count("*").cast("bigint").alias("_n_dup"))
    )
    n_windows = (F.size("ts") - (k - 1)).cast("bigint")
    return (
        base.select(col(id_col), n_windows.alias("n_windows"))
        .join(dup_counts, id_col, "left")
        .select(
            col(id_col),
            col("n_windows"),
            F.coalesce(col("_n_dup"), lit(0).cast("bigint")).alias("n_dup_windows"),
            (
                F.coalesce(col("_n_dup"), lit(0)).cast("double")
                / col("n_windows").cast("double")
            ).alias("dup_ratio"),
        )
    )


def remove_duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
    emit_text: bool = False,
) -> DataFrame:
    """Span surgery: cut every cross-document duplicated k-token span.
    Precondition: ``id_col`` is unique per row. With a repeated id,
    every row sharing it is cut at the duplicated positions of all of
    them, and a span shared only by those rows counts as one document's
    and is kept; deduplicate ids first.

    The removal half of Lee et al. 2022 (:func:`duplicate_spans` is
    the measurement half): a token position is REMOVED when any
    duplicated window covers it — i.e. the union of [i, i+k) over
    every window i whose md5 occurs in ≥ ``min_docs`` distinct
    documents. Overlapping duplicated windows merge naturally (the
    covered-position set is a DISTINCT, not an interval algebra).

    Returns one row per non-empty document:
    ``(id, n_tokens, n_removed, cleaned_md5|cleaned_text)`` — md5 of
    the space-joined surviving tokens in document order (md5('') when
    everything was duplicated); docs shorter than one window have no
    windows, lose nothing, and pass through whole. The rebuilt text is
    lowercased/whitespace-normalized by the tokenization, same
    convention as :func:`segment_dedup`.

    Scale shape (restructured in r13 — guide §2.3 "shuffle keys and
    metadata instead of payloads" / §8's transferable rule): window
    hashing is map-only; window frequencies are ONE partial-agg
    shuffle on the hash, whose exchange the duplicated-key mark join
    REUSES (identical subtree); only DUPLICATED windows' (doc, pos)
    rows — a handful of bytes each, nowhere near the token stream for
    a mostly-clean corpus — shuffle to the doc side, where the span
    surgery runs as pure JVM array math against the document's own
    token array: covered = union of [pos, pos+k) (array_distinct ∘
    flatten ∘ sequence), kept positions = array_except(0..n-1,
    covered) (hash-based, order-preserving), rebuilt text =
    element_at-gather + array_join. The token stream itself never
    crosses an exchange — previously every token position was
    posexploded, anti-joined against covered positions, and
    collect_list-reassembled through a full doc-id shuffle, plus two
    eager localCheckpoints; all of that is gone. The tokenize runs
    once per consumer branch (window build; rebuild) — deliberately
    NOT persisted: re-tokenizing is a map-only pass, while caching the
    tokenized corpus is memory linear in corpus size (measured at
    sf0.1: the columnar cache build of array<string> costs more than
    the second tokenize). No global sort, no driver state. Window keys
    are xxhash64 longs (pure intermediates — collision exposure
    documented at ``dedup.XXHASH64_EXACT_SAFE_DISTINCT``).
    """
    toks = word_tokens(F.coalesce(col(text_col), lit("")))
    # fan out before tokenizing (same rationale as duplicate_spans:
    # the tokenize + per-window hash map must not be pinned to the
    # 1-2 partitions a small scan arrives in)
    base = fan_out(docs).select(col(id_col), toks.alias("ts")).filter(
        F.size("ts") > 0
    )
    # xxhash64 window keys (8-byte shuffle key, pure intermediate —
    # same argument as duplicate_spans; the OUTPUT md5 fingerprint of
    # the rebuilt text below is untouched)
    wins = base.filter(F.size("ts") >= k).select(
        col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(lit(0), F.size("ts") - k),
                lambda s: F.xxhash64(F.array_join(F.slice("ts", s + 1, k), " ")),
            )
        ).alias("pos", "wkey"),
    )
    dup_keys = (
        wins.groupBy("wkey")
        .agg(F.count_distinct(col(id_col)).alias("n_docs"))
        .filter(col("n_docs") >= min_docs)
        .select("wkey")
    )
    # per-doc list of duplicated window start positions — the ONLY
    # rows that cross the doc-id exchange
    dup_pos = (
        wins.join(dup_keys, "wkey")
        .groupBy(id_col)
        .agg(F.collect_list("pos").alias("_dps"))
    )
    # covered token positions = union of [p, p+k) over duplicated
    # windows; kept = ordered complement (array_except preserves the
    # ascending order of its first argument); rebuild gathers the
    # surviving tokens from the doc's own array — empty array (fully
    # duplicated doc) rebuilds to '' exactly like the old LEFT-join
    # path.
    covered = F.array_distinct(
        F.flatten(
            F.transform(col("_dps"), lambda p: F.sequence(p, p + (k - 1)))
        )
    )
    all_pos = F.sequence(lit(0), F.size("ts") - 1)
    kept_pos = F.when(col("_dps").isNull(), all_pos).otherwise(
        F.array_except(all_pos, covered)
    )
    rebuilt = F.array_join(
        F.transform(kept_pos, lambda p: F.element_at("ts", p + 1)), " "
    )
    out_col = (
        rebuilt.alias("cleaned_text")
        if emit_text
        else F.md5(rebuilt).alias("cleaned_md5")
    )
    return (
        base.join(dup_pos, id_col, "left")
        .select(
            col(id_col),
            F.size("ts").cast("bigint").alias("n_tokens"),
            (F.size("ts") - F.size(kept_pos)).cast("bigint").alias("n_removed"),
            out_col,
        )
    )


def chunk_documents(
    docs: DataFrame,
    window: int = 32,
    stride: int = 24,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Overlapping token-window chunking (RAG / context-window sharding).

    Splits each document's whitespace tokens into windows of
    ``window`` tokens starting every ``stride`` tokens (overlap =
    ``window - stride``), the standard shape for retrieval chunking
    and for sharding long documents across a model's context budget.
    Chunk ``k`` covers tokens ``[k*stride, min(k*stride + window, n))``;
    a document with ``n >= 1`` tokens yields ``(n-1) div stride + 1``
    chunks, so every token lands in at least one chunk and only the
    final chunk may be short. Zero-token documents yield no chunks.

    Returns ``(id_col, chunk_id int, start_tok bigint,
    n_chunk_tokens int, chunk_text string)``.

    Scale shape: map-only — tokenize, per-row ``sequence`` explode,
    ``slice`` — all JVM built-ins inside one whole-stage-codegen span;
    no shuffle at any corpus size. Output grows by roughly
    ``window/stride``x the input token mass; downstream writers should
    partition by a hash of (id, chunk_id), never by document, so one
    long document cannot skew a partition.
    """
    if window < 1 or stride < 1 or stride > window:
        raise ValueError("require 1 <= stride <= window")
    base = (
        docs.select(col(id_col), word_tokens(col(text_col)).alias("t"))
        .withColumn("n", F.size("t"))
        .filter(col("n") >= 1)
    )
    ex = base.select(
        col(id_col),
        "t",
        F.explode(F.expr(f"sequence(0, int((n - 1) div {stride}))")).alias("chunk_id"),
    )
    return ex.select(
        col(id_col),
        col("chunk_id"),
        (col("chunk_id") * stride).cast("bigint").alias("start_tok"),
        F.size(F.slice(col("t"), col("chunk_id") * stride + 1, window))
        .alias("n_chunk_tokens"),
        F.concat_ws(
            " ", F.slice(col("t"), col("chunk_id") * stride + 1, window)
        ).alias("chunk_text"),
    )
