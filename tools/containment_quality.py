"""Measure containment-detection recall across doc-length ratios
(VERDICT r9 #4).

`minhash_containment_pairs` (llm/dedup.py) generates candidates with
JACCARD-tuned banding and only swaps the verify-side measure — the
docstring honestly warns that a tiny doc embedded in a huge one may
never share a band (pair Jaccard ≈ length ratio, far below the
banding's S-curve knee). This tool measures that bias instead of
leaving it a caveat, and measures `containment_prefix_pairs` (the
exact df-ordered prefix-filter join, recall 1.0 by pigeonhole theorem)
next to it on the same corpus.

Corpus: realistic-vocabulary base docs (the tools/lsh_corpus.py
shape — >=10k-word vocab, Zipf draws) plus planted SHORT-inside-LONG
inclusions: each planted doc is a contiguous slice of a base doc at a
target length ratio (0.05 … 0.9), with ~5% of its distinct words
replaced by fresh vocabulary so containment lands ≈0.95 — above the
0.9 threshold but not degenerate. Token-set containment of the pair
is computed exactly and pairs below threshold are excluded from
ground truth, so recall numerators/denominators are honest.

Usage::

    python tools/containment_quality.py [--out CONTAINMENT_QUALITY_r10.json]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RATIOS = (0.05, 0.1, 0.25, 0.5, 0.9)


def containment_corpus(
    spark,
    n_base: int = 800,
    n_planted_per_ratio: int = 40,
    vocab_size: int = 20_000,
    words_per_doc: tuple[int, int] = (150, 250),
    ratios: tuple[float, ...] = RATIOS,
    replace_frac: float = 0.05,
    seed: int = 11,
):
    """(docs DataFrame, planted list of {id_a, id_b, ratio}).

    id_a = the planted SHORT doc, id_b = its LONG source; the pair's
    true token-set containment is ~(1 - replace_frac), always computed
    exactly by the caller before use as ground truth. Seeded and
    hash-seed-independent like tools/lsh_corpus.py.
    """
    rng = random.Random(seed)
    syllables = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]
    vocab_set: set[str] = set()
    while len(vocab_set) < vocab_size:
        vocab_set.add(
            "".join(rng.choice(syllables) for _ in range(rng.randint(2, 4)))
        )
    vocab = sorted(vocab_set)
    weights = [1.0 / (i + 1) ** 0.7 for i in range(len(vocab))]

    docs: list[tuple[int, str]] = []
    for i in range(n_base):
        n = rng.randint(*words_per_doc)
        docs.append((i, " ".join(rng.choices(vocab, weights=weights, k=n))))

    planted: list[dict] = []
    srcs = rng.sample(range(n_base), len(ratios) * n_planted_per_ratio)
    next_id, si = n_base, 0
    for ratio in ratios:
        for _ in range(n_planted_per_ratio):
            src = srcs[si]
            si += 1
            toks = docs[src][1].split()
            n_short = max(8, int(len(toks) * ratio))
            start = rng.randrange(0, len(toks) - n_short + 1)
            short = toks[start : start + n_short]
            # replace ~5% of the slice's DISTINCT words with fresh
            # out-of-source vocab so containment ≈ 0.95, not 1.0
            distinct = list(dict.fromkeys(short))
            in_src = set(toks)
            n_repl = max(0, int(len(distinct) * replace_frac))
            mapping: dict[str, str] = {}
            used: set[str] = set()
            for w in rng.sample(distinct, n_repl):
                while True:
                    cand = vocab[rng.randrange(len(vocab))]
                    if cand not in in_src and cand not in used:
                        break
                mapping[w] = cand
                used.add(cand)
            docs.append(
                (next_id, " ".join(mapping.get(t, t) for t in short))
            )
            planted.append({"id_a": next_id, "id_b": src, "ratio": ratio})
            next_id += 1
    df = spark.createDataFrame(docs, "doc_id long, text string")
    return df, planted


def measure(spark, threshold: float = 0.9, k: int = 64, bands: int = 16) -> dict:
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col

    from doin_fine_ance__spark.llm.corpus import word_tokens
    from doin_fine_ance__spark.llm.dedup import (
        containment_prefix_pairs,
        minhash_containment_pairs,
    )
    from doin_fine_ance__spark.operators.checkpoint import release_owned

    docs, planted = containment_corpus(spark)
    docs = docs.persist()
    n_docs = docs.count()

    # exact containment of every planted pair (ground-truth gate)
    toks = docs.select(
        col("doc_id"),
        F.array_distinct(word_tokens(col("text"))).alias("tokens"),
    )
    pairs_df = spark.createDataFrame(
        [(p["id_a"], p["id_b"], p["ratio"]) for p in planted],
        "id_a long, id_b long, ratio double",
    )
    ta = toks.select(col("doc_id").alias("id_a"), col("tokens").alias("tok_a"))
    tb = toks.select(col("doc_id").alias("id_b"), col("tokens").alias("tok_b"))
    inter = F.size(F.array_intersect("tok_a", "tok_b"))
    exact = {
        (r["id_a"], r["id_b"]): (r["c"], r["ratio"])
        for r in pairs_df.join(ta, "id_a").join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            "ratio",
            (inter.cast("double") / F.least(F.size("tok_a"), F.size("tok_b")))
            .alias("c"),
        )
        .collect()
    }
    truth = {
        (min(a, b), max(a, b)): ratio
        for (a, b), (c, ratio) in exact.items()
        if c >= threshold
    }

    def found_pairs(df):
        return {
            (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]))
            for r in df.select("id_a", "id_b").collect()
        }

    banded = found_pairs(
        minhash_containment_pairs(docs, threshold=threshold, k=k, bands=bands)
    )
    prefix = found_pairs(containment_prefix_pairs(docs, threshold=threshold))
    release_owned()

    per_ratio = []
    for ratio in RATIOS:
        t = {p for p, rt in truth.items() if rt == ratio}
        if not t:
            continue
        per_ratio.append(
            {
                "ratio": ratio,
                "n_truth": len(t),
                "banded_recall": round(len(t & banded) / len(t), 4),
                "prefix_recall": round(len(t & prefix) / len(t), 4),
            }
        )
    docs.unpersist()
    return {
        "n_docs": n_docs,
        "threshold": threshold,
        "k": k,
        "bands": bands,
        "n_planted": len(planted),
        "n_truth_pairs": len(truth),
        "overall_banded_recall": round(
            len(truth.keys() & banded) / len(truth), 4
        ),
        "overall_prefix_recall": round(
            len(truth.keys() & prefix) / len(truth), 4
        ),
        "per_ratio": per_ratio,
        "note": (
            "banded = minhash_containment_pairs (Jaccard-tuned LSH banding, "
            "verify-side measure swap; recall expected to collapse as the "
            "length ratio shrinks — pair Jaccard ~ ratio). prefix = "
            "containment_prefix_pairs (exact df-ordered prefix-filter join; "
            "recall 1.0 by pigeonhole theorem)."
        ),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="CONTAINMENT_QUALITY_r10.json")
    ap.add_argument("--threshold", type=float, default=0.9)
    args = ap.parse_args()

    from doin_fine_ance__spark.session import get_spark

    spark = get_spark("containment-quality")
    spark.sparkContext.setLogLevel("ERROR")
    rep = measure(spark, threshold=args.threshold)
    with open(args.out, "w") as f:
        json.dump(rep, f, indent=1)
        f.write("\n")
    print(json.dumps({k: v for k, v in rep.items() if k != "per_ratio"}))
    for row in rep["per_ratio"]:
        print(row)


if __name__ == "__main__":
    main()
