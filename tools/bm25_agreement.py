"""BM25 float-vs-fixed-point ranking agreement (VERDICT r10 #7).

The engine ships two BM25 layers (llm/retrieval.py): REAL float BM25
(log idf — pytest-verified vs a textbook reference, no SQL oracle) and
the integer fixed-point surrogate whose whole retrieval replays
bit-for-bit in DuckDB (`t_bm25_more_like_this`). The surrogate's
ranking fidelity was pinned only by small pytest cases; this tool
measures top-k overlap and exact-prefix agreement between the two
rankings on a real corpus across k and query lengths, and writes the
committed artifact.

The corpus vocabulary is ~31 words (TESTDATA.md), which is the HARD
case for the surrogate: document frequencies are near-uniform, so the
idf term barely discriminates and any divergence between ln-idf and
the rational surrogate idf is maximally visible in the ranking.

Usage::

    python tools/bm25_agreement.py [sf_dir] [out.json]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from doin_fine_ance__spark.llm.retrieval import bm25_topk, bm25_topk_fp  # noqa: E402
from doin_fine_ance__spark.session import get_spark  # noqa: E402
from doin_fine_ance__spark.sources.testdata import load_table  # noqa: E402

KS = [5, 10, 20, 50, 100]
QUERY_LENGTHS = [2, 4, 8]
TRIALS_PER_LENGTH = 4
MAX_K = max(KS)

def corpus_vocab(docs) -> list[str]:
    """The corpus's actual vocabulary, most-frequent first (ties by
    word) — deterministic and guaranteed non-empty retrievals."""
    from pyspark.sql import functions as F

    from doin_fine_ance__spark.llm.corpus import word_tokens

    rows = (
        docs.select(F.explode(word_tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .count()
        .orderBy(F.desc("count"), "w")
        .collect()
    )
    return [r.w for r in rows]


def make_queries(vocab):
    """(qlen, trial) → query string; fixed-stride stepping over the
    frequency-ranked vocab gives distinct, reproducible term sets."""
    out = []
    for qlen in QUERY_LENGTHS:
        for t in range(TRIALS_PER_LENGTH):
            start = (t * 13 + qlen * 7) % len(vocab)
            terms = [vocab[(start + i * 11) % len(vocab)] for i in range(qlen)]
            # fixed-stride stepping can alias; dedupe while keeping length
            terms = list(dict.fromkeys(terms))
            i = 1
            while len(terms) < qlen:
                cand = vocab[(start + i) % len(vocab)]
                if cand not in terms:
                    terms.append(cand)
                i += 1
            out.append((qlen, t, " ".join(terms)))
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/dev/shm/sf1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "BM25_AGREEMENT_r11.json"
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, sf_dir, "documents", ["doc_id", "text"]).cache()
    n_docs = docs.count()
    vocab = corpus_vocab(docs)
    print(f"corpus vocab: {len(vocab)} words", flush=True)

    per_query = []
    for qlen, trial, qtext in make_queries(vocab):
        # FULL float ranking (k = n_docs): doc_id order plus a score
        # map, so fp picks outside the float top-k still get scored.
        # ~20 MB of (id, double) rows at sf1 — a bounded collect.
        full = bm25_topk(docs, qtext, k=n_docs).collect()
        flo = [r.doc_id for r in full]
        fscore = {r.doc_id: r.score for r in full}
        fp = [r.doc_id for r in bm25_topk_fp(docs, qtext, k=MAX_K).collect()]
        row = {"qlen": qlen, "trial": trial, "query": qtext}
        for k in KS:
            a, b = set(flo[:k]), set(fp[:k])
            row[f"overlap@{k}"] = round(len(a & b) / k, 4)
            # score recall: float-BM25 mass the fp top-k captures,
            # relative to the float top-k — the fidelity measure that
            # ignores which member of a near-tie group was returned
            ideal = sum(fscore[d] for d in flo[:k])
            got = sum(fscore.get(d, 0.0) for d in fp[:k])
            row[f"score_recall@{k}"] = round(got / ideal, 6) if ideal else 1.0
        row["top1_same"] = bool(flo and fp and flo[0] == fp[0])
        per_query.append(row)
        print(f"qlen={qlen} trial={trial} "
              + " ".join(f"o@{k}={row[f'overlap@{k}']}" for k in KS)
              + "  "
              + " ".join(f"sr@{k}={row[f'score_recall@{k}']}" for k in (10, 100)),
              flush=True)

    summary = {}
    for k in KS:
        for metric in ("overlap", "score_recall"):
            vals = [r[f"{metric}@{k}"] for r in per_query]
            summary[f"{metric}@{k}"] = {
                "mean": round(sum(vals) / len(vals), 6),
                "min": round(min(vals), 6),
            }
    summary["top1_same_frac"] = round(
        sum(r["top1_same"] for r in per_query) / len(per_query), 4
    )
    body = {
        "sf_dir": sf_dir,
        "n_docs": n_docs,
        "ks": KS,
        "query_lengths": QUERY_LENGTHS,
        "trials_per_length": TRIALS_PER_LENGTH,
        "note": (
            "Top-k overlap AND float-score recall between float BM25 "
            "(ln idf) and the integer fixed-point variant on the driver "
            "documents corpus — the ~31-word vocabulary makes every "
            "document score nearly tied, the hardest case for surrogate "
            "ranking fidelity: set overlap is tie-dominated and "
            "understates quality, score_recall@k (float-BM25 mass "
            "captured by the fp top-k relative to the float top-k) is "
            "the fidelity measure that ignores which member of a "
            "near-tie group is returned. r12: the fp variant now uses "
            "an integer-LOG idf (ln_fp(2N+2) - ln_fp(2df+1), bit-length "
            "+ atanh series, max 1.6e-4 ln-units error — replacing the "
            "r11 rational surrogate), a fixed-point avgdl, AND a fix "
            "for a real r11 saturation bug found by per-term "
            "decomposition (the k1/b percent factors were divided by "
            "100 once instead of twice, leaving the length-norm term "
            "100x too large and sat_fp near-linear in tf — the r11 "
            "study's divergence was THIS, misattributed to idf shape; "
            "its idf-scale control experiment could not see a "
            "saturation-term bug). Both rankings break ties by "
            "(score desc, doc_id asc)."
        ),
        "summary": summary,
        "per_query": per_query,
    }
    with open(out_path, "w") as f:
        json.dump(body, f, indent=1)
        f.write("\n")
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
