"""Distributed BPE tokenizer training — learn the vocabulary FROM the
corpus, the step a training-data pipeline runs between corpus prep and
tokenization (Sennrich et al. 2016, "Neural Machine Translation of
Rare Words with Subword Units"; the GPT-2/Llama tokenizers are this
algorithm at scale).

Scale shape — the key structural fact standard BPE trainers exploit:
merges operate on the WORD-FREQUENCY TABLE, not the corpus. One
corpus-sized shuffle builds ``(word, count)`` (Zipf makes the distinct
vocabulary orders of magnitude smaller than the token stream); every
merge iteration then runs on that small table:

  1. pair counts: explode each distinct word's adjacent symbol pairs,
     weight by word count — partial-agg shuffle over the word table;
  2. best pairs: top-M by (count desc, pair asc) —
     ``TakeOrderedAndProject``, M small rows to the driver;
  3. batch selection (driver-side, free): the longest sorted prefix of
     pairwise symbol-disjoint pairs that PROVABLY equals the
     sequential merge sequence (rule and proof at
     :func:`_select_merge_batch`);
  4. apply: ONE map-only Arrow pass rewriting symbol arrays with the
     whole batch in order, lineage truncated per round (the
     connected-components discipline).

Batching is the scheduling fix for vocab-scale training: one
driver round-trip per MERGE (the r4/r5 shape) makes a 32k vocab
~64k scheduling-bound jobs; one round-trip per BATCH cuts jobs by
the mean batch width (empirically ~5-30× on natural text, where the
top of the pair distribution is wide and mostly disjoint) while the
merge sequence stays bit-identical — correctness never rides on the
batch width, only speed does.

At 100 TB the word table is still millions of rows, not trillions —
iterations cost seconds each, and the number of iterations is the
vocab size you asked for divided by the achieved batch width,
independent of corpus size. Words are space-split and end-of-word is
marked with the customary ``</w>`` sentinel so merges never cross
word boundaries.

``apply_bpe`` encodes a corpus with a learned merge list: merges are
ranked, each word greedily applies the lowest-rank applicable merge
until none applies (exact BPE inference), memoized per distinct word
inside each Arrow batch. Map-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit, pandas_udf

from ..operators.checkpoint import materialize

EOW = "</w>"


def word_counts(
    docs: DataFrame, text_col: str = "text", lowercase: bool = True
) -> DataFrame:
    """Corpus → (word, count) — the ONE corpus-sized shuffle."""
    t = F.coalesce(col(text_col), lit(""))
    if lowercase:
        t = F.lower(t)
    words = F.filter(F.split(t, r"\s+"), lambda w: w != "")
    return (
        docs.select(F.explode(words).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("count"))
    )


def _initial_symbols(words: DataFrame) -> DataFrame:
    """(word, count) → (symbols array<string>, count): characters plus
    the end-of-word sentinel on the final character."""
    n = F.length("word")
    # one symbol per character; the end-of-word sentinel rides on the
    # last one so merges never cross word boundaries
    chars = F.transform(
        F.sequence(lit(1), n),
        lambda i: F.when(i == n, F.concat(F.substring(col("word"), i, 1), lit(EOW))).otherwise(
            F.substring(col("word"), i, 1)
        ),
    )
    return words.select(chars.alias("symbols"), "count")


def _select_merge_batch(
    top: list, vocab: set[str], max_batch: int
) -> list[tuple[str, str]]:
    """Select a batch of merges from the sorted top-M pair counts that
    is PROVABLY identical to what sequential BPE (recounting after
    every merge) would pick, under the (count desc, pair asc) tiebreak.

    Rule: walk the sorted list, greedily keeping pairs whose symbols
    are disjoint from every previously kept pair's AND whose merged
    string collides with no existing symbol (``vocab``) nor another
    kept pair's merged string; STOP at the first pair that violates
    either (its count is ``C_stop``); finally truncate the kept prefix
    so every pair after the first has count strictly greater than
    ``C_stop`` (when the walk exhausted a full fetch of M rows,
    ``C_stop`` is the last fetched count — unfetched pairs may tie it;
    when the walk exhausted the ENTIRE pair table, ``C_stop`` is 0).

    Why this equals the sequential sequence — for the i-th kept pair,
    every competitor at sequential step i is beaten strictly:

    - *kept pairs are mutually undisturbed*: applying a merge (a, b)
      only destroys occurrences of pairs sharing a or b, and the kept
      pairs are pairwise symbol-disjoint, so each kept pair's count is
      unchanged when its turn comes; sorted order = sequential order.
    - *unselected old pairs* only lose count (a merge never adds
      occurrences of a pair unless the merged STRING equals one of the
      pair's symbols — excluded by the vocab guard; every non-initial
      symbol was created by this driver, so ``vocab`` is exact), and
      they start ≤ C_stop < count(i).
    - *new pairs* contain a merged symbol: each occurrence of
      (x, ab) was an occurrence of (x, a) before the batch — and
      (x, a) shares the symbol a with a kept pair, so it was
      unselected, so count(x, ab) ≤ count(x, a) ≤ C_stop < count(i).
      The distinct-merged-strings guard stops two kept merges from
      funnelling occurrences into ONE new pair key; a pair of two
      merged symbols (ab, cd) needs a prior (b, c) occurrence — also
      unselected, also ≤ C_stop. Strictness matters: at equal count a
      new pair can win the lexicographic tiebreak (e.g. merged "ac"
      sorts before plain "b").

    The first pair needs no guard — it is the sequential argmax by
    construction (a batch degrades to width 1, never to wrong).
    """
    if not top:
        return []
    first = (top[0]["a"], top[0]["b"])
    used = {first[0], first[1]}
    concats = {first[0] + first[1]}
    cand: list[tuple[str, str, int]] = []
    c_stop = 0
    if first[0] + first[1] not in vocab:
        exhausted_fetch = True
        for row in top[1:]:
            a, b, n = row["a"], row["b"], row["n"]
            concat = a + b
            if (
                a in used
                or b in used
                or concat in vocab
                or concat in concats
                or len(cand) + 1 >= max_batch
            ):
                c_stop = n
                exhausted_fetch = False
                break
            cand.append((a, b, n))
            used.add(a)
            used.add(b)
            concats.add(concat)
        if exhausted_fetch and len(top) >= _TOP_FETCH:
            # a full fetch means pairs below the cut may tie the last
            # count; treat the last fetched count as the stop bound
            c_stop = top[-1]["n"]
    batch = [first]
    for a, b, n in cand:
        if n > c_stop:
            batch.append((a, b))
        else:
            break
    return batch


#: rows fetched to the driver per iteration: enough to find a wide
#: disjoint prefix, still a trivially small TakeOrderedAndProject
_TOP_FETCH = 512


def bpe_train(
    docs: DataFrame,
    num_merges: int,
    text_col: str = "text",
    max_batch: int = 64,
    _stats: dict | None = None,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from a corpus. Returns the
    ordered merge list [(left, right), ...] — deterministic: max pair
    count, ties to the lexicographically smallest pair; bit-identical
    to single-merge sequential training for any ``max_batch`` (see
    :func:`_select_merge_batch` for the proof). ``max_batch=1``
    recovers the one-merge-per-job shape. ``_stats`` (test seam)
    records ``pair_count_jobs`` vs ``merges`` so the scheduling win is
    assertable. The symbol table is re-checkpointed after every batch
    by :func:`materialize`: reliable when the session has a checkpoint
    directory, local otherwise."""
    wc = word_counts(docs, text_col)
    table = materialize(_initial_symbols(wc))
    # exact symbol vocabulary, maintained driver-side: initial symbols
    # from one tiny job (≤ charset × 2 rows), every later symbol is a
    # merge this driver performed
    vocab: set[str] = {
        r["s"] for r in table.select(F.explode("symbols").alias("s")).distinct().collect()
    }
    merges: list[tuple[str, str]] = []
    jobs = 0
    while len(merges) < num_merges:
        pairs = table.select(
            F.explode(
                F.zip_with(
                    F.slice("symbols", 1, F.size("symbols") - 1),
                    F.slice("symbols", 2, F.size("symbols") - 1),
                    lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                )
            ).alias("p"),
            "count",
        )
        top = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("count").alias("n"))
            .orderBy(col("n").desc(), col("a"), col("b"))
            .limit(_TOP_FETCH)
            .collect()
        )
        jobs += 1
        if not top:
            break  # every word is a single symbol: nothing left to merge
        batch = _select_merge_batch(
            top, vocab, min(max_batch, num_merges - len(merges))
        )
        merges.extend(batch)
        vocab.update(a + b for a, b in batch)
        table = materialize(
            table.select(
                _merge_batch_udf(batch)(col("symbols")).alias("symbols"), "count"
            )
        )
    if _stats is not None:
        _stats["pair_count_jobs"] = jobs
        _stats["merges"] = len(merges)
    return merges


def _merge_batch_udf(batch: list[tuple[str, str]]):
    """Pandas UDF applying an ordered merge batch to symbol arrays in
    one Arrow pass — each merge scans fully before the next, exactly
    the sequential semantics.

    Factory (not a loop-local closure) so each iteration's UDF binds
    its own batch by value — immune to late-binding even if execution
    were deferred."""
    pairs = list(batch)

    @pandas_udf("array<string>")
    def _apply(sym_col):
        import pandas as pd

        out = []
        for syms in sym_col:
            s = list(syms)
            for a, b in pairs:
                if a not in s:
                    continue
                i, res = 0, []
                while i < len(s):
                    if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                        res.append(a + b)
                        i += 2
                    else:
                        res.append(s[i])
                        i += 1
                s = res
            out.append(s)
        return pd.Series(out)

    return _apply


def apply_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """Encode a corpus with a learned merge list → (id, tokens
    array<string>, n_tokens). Exact BPE inference: each word greedily
    applies the lowest-rank applicable merge until none applies;
    per-batch memoization over distinct words (Zipf again). Map-only."""
    rank = {pair: i for i, pair in enumerate(merges)}

    @pandas_udf("array<string>")
    def _encode(texts):
        import pandas as pd

        cache: dict[str, list[str]] = {}

        def enc_word(w: str) -> list[str]:
            got = cache.get(w)
            if got is not None:
                return got
            s = list(w[:-1]) + [w[-1] + EOW] if w else []
            while len(s) > 1:
                cand = [
                    (rank[(s[i], s[i + 1])], i)
                    for i in range(len(s) - 1)
                    if (s[i], s[i + 1]) in rank
                ]
                if not cand:
                    break
                r, i = min(cand)
                a, b = merges[r]
                out = []
                j = 0
                while j < len(s):
                    if j + 1 < len(s) and s[j] == a and s[j + 1] == b:
                        out.append(a + b)
                        j += 2
                    else:
                        out.append(s[j])
                        j += 1
                s = out
            cache[w] = s
            return s

        res = []
        for t in texts:
            t = (t or "")
            if lowercase:
                t = t.lower()
            toks: list[str] = []
            for w in t.split():
                toks.extend(enc_word(w))
            res.append(toks)
        return pd.Series(res)

    return docs.select(
        col(id_col),
        _encode(col(text_col)).alias("tokens"),
    ).withColumn("n_tokens", F.size("tokens").cast("bigint"))


def make_training_examples(
    tokens: DataFrame,
    seq_len: int,
    n_shards: int = 8,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    eos: str = "<eos>",
) -> DataFrame:
    """Tokenized docs → fixed-length training examples (GPT-style
    concat-then-chunk): documents are shuffled deterministically into
    shards (md5, the pack_sequences permutation), each shard's token
    streams are concatenated with one ``eos`` after every document,
    and the stream is cut into consecutive ``seq_len`` windows; the
    final partial window of each shard is dropped (standard practice).
    Returns ``(shard, example_id, tokens)`` with every row exactly
    ``seq_len`` tokens.

    Scale shape — no shard-sized group ever materializes: per-DOC
    start offsets come from a prefix-sum window over doc-level rows
    (partitioned by shard, parallelism = n_shards, same discipline as
    pack_sequences); then tokens posexplode to absolute positions and
    examples assemble by ``(shard, position ÷ seq_len)`` — each group
    is exactly seq_len tokens, so the assembly shuffle is uniform by
    construction. The token-level explode is the honest cost of
    materializing training data; everything else is doc-level.
    """
    from pyspark.sql import Window

    key = F.md5(col(id_col).cast("string"))
    with_eos = F.concat(col(tokens_col), F.array(lit(eos)))
    base = tokens.select(
        col(id_col),
        with_eos.alias("_t"),
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
    start = F.coalesce(F.sum(F.size("_t")).over(w), lit(0).cast("bigint"))
    # the offset MUST resolve before the explode: in a single select
    # Spark plans the Generate under the Window, making the prefix sum
    # run over token rows instead of document rows
    offsets = base.select("shard", start.alias("_start"), "_t")
    placed = offsets.select(
        "shard",
        "_start",
        F.posexplode("_t").alias("_pos", "_tok"),
    ).select(
        "shard",
        ((col("_start") + col("_pos")) / seq_len).cast("bigint").alias("example_id"),
        (col("_start") + col("_pos")).alias("_abs"),
        "_tok",
    )
    assembled = placed.groupBy("shard", "example_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_abs", "_tok"))),
            lambda x: x["_tok"],
        ).alias("tokens")
    )
    return assembled.filter(F.size("tokens") == seq_len)
