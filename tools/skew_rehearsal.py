"""Skewed-data rehearsal (VERDICT r3 next-round #3): prove the skew
machinery earns its keep in WALL TIME, not just semantics.

Compares uniform sf1 (`tools/make_scale_data.py`) against Zipfian
sf1-skewed (`--skew`: one supplier owns ~30% of lineitem, one
near-duplicate clique owns ~10% of documents) on:

1. **Hot-key join** lineitem ⨝ supplier, three physical strategies:
   - plain  — sort-merge shuffle with AQE skew-join AND auto-broadcast
     disabled (what a skew-naive engine does): the hot key serializes
     ~30% of the fact table into one task, so the skewed run degrades;
   - salted — operators/skew.salted_join, 8 sub-keys: skew ratio stays
     ~flat because every task holds ≤ hot/8;
   - broadcast — the production answer when the dim fits (supplier at
     sf1 is 10k rows): no shuffle of the big side at all.
   The deterministic shuffle-layout version of this claim is pinned in
   tests/test_plan_invariants.py; this tool records the wall-clock
   evidence (min-of-N against the box's CPU-steal noise, see
   BENCH methodology in bench.py).

2. **Banded LSH dedup** over the clique-skewed documents: candidate
   count vs the all-pairs equivalent — banding must keep candidates at
   ~(clique pairs + signature-collision noise), orders of magnitude
   under n²/2. Wall time grows with the clique's own pair count
   (irreducible for pairwise-output semantics), NOT with the corpus.

Usage:
  python tools/skew_rehearsal.py [--uniform /dev/shm/sf1]
      [--skew /dev/shm/sf1skew] [--repeat 3] [--out SKEW_r04.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import timed  # noqa: E402


def _timed(spark, build, repeat: int, label: str) -> float:
    t = timed(spark, build, repeat, label)
    if t.error:
        raise RuntimeError(f"{label}: {t.error}")
    return round(t.sec, 3)


def hot_join_seconds(spark, sf_dir: str, mode: str, repeat: int) -> float:
    from pyspark.sql import functions as F

    from doin_fine_ance__spark.operators.skew import salted_join
    from doin_fine_ance__spark.sources.testdata import load_table

    def run():
        li = load_table(spark, sf_dir, "lineitem",
                        ["l_suppkey", "l_quantity", "l_extendedprice"])
        sup = load_table(spark, sf_dir, "supplier", ["s_suppkey", "s_name"])
        if mode == "plain":
            j = li.join(sup, li["l_suppkey"] == sup["s_suppkey"])
        elif mode == "salted":
            j = salted_join(
                li, sup.withColumnRenamed("s_suppkey", "l_suppkey"),
                "l_suppkey", salt_buckets=8,
            )
        else:  # broadcast
            j = li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        return j.groupBy("s_name").agg(
            F.sum(F.col("l_quantity") * F.col("l_extendedprice")).alias("v"),
            F.count("*").alias("n"),
        )

    conf = spark.conf
    saved = {
        "spark.sql.autoBroadcastJoinThreshold":
            conf.get("spark.sql.autoBroadcastJoinThreshold"),
        "spark.sql.adaptive.skewJoin.enabled":
            conf.get("spark.sql.adaptive.skewJoin.enabled"),
    }
    try:
        if mode in ("plain", "salted"):
            # no silent broadcast rescue; 'plain' additionally loses the
            # AQE skew splitter (the skew-naive baseline), 'salted' keeps
            # semantics identical with its own scatter so AQE skew state
            # is irrelevant (the salted keys are already balanced)
            conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        if mode == "plain":
            conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        run().write.format("noop").mode("overwrite").save()  # warm this shape once
        return _timed(spark, run, repeat, f"skew-join-{mode}")
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def lsh_dedup_stats(spark, sf_dir: str, repeat: int) -> dict:
    from doin_fine_ance__spark.llm.dedup import (
        lsh_candidate_pairs,
        minhash_near_dups,
        minhash_signatures,
    )
    from doin_fine_ance__spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    n_docs = docs.count()
    sigs = minhash_signatures(docs, k=64)
    n_cands = lsh_candidate_pairs(sigs, bands=16).count()

    def run():
        return minhash_near_dups(
            load_table(spark, sf_dir, "documents", ["doc_id", "text"]),
            threshold=0.5,
        )

    sec = _timed(spark, run, repeat, "skew-lsh-dedup")
    n_pairs = (
        minhash_near_dups(docs, threshold=0.5).count()
    )
    all_pairs = n_docs * (n_docs - 1) // 2
    return {
        "docs": n_docs,
        "candidates": n_cands,
        "verified_pairs": n_pairs,
        "all_pairs_equivalent": all_pairs,
        "candidate_fraction_of_quadratic": round(n_cands / all_pairs, 6),
        "sec": sec,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--uniform", default="/dev/shm/sf1")
    ap.add_argument("--skew", default="/dev/shm/sf1skew")
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--dedup-repeat", type=int, default=2)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from doin_fine_ance__spark.session import get_spark

    spark = get_spark("skew-rehearsal")
    spark.sparkContext.setLogLevel("ERROR")

    join = {}
    for mode in ("plain", "salted", "broadcast"):
        for tag, d in (("uniform", args.uniform), ("skew", args.skew)):
            join[f"{mode}_{tag}"] = hot_join_seconds(spark, d, mode, args.repeat)
            print(f"# join {mode} {tag}: {join[f'{mode}_{tag}']}s", flush=True)
    join["plain_skew_degradation"] = round(
        join["plain_skew"] / join["plain_uniform"], 2)
    join["salted_skew_degradation"] = round(
        join["salted_skew"] / join["salted_uniform"], 2)
    join["broadcast_skew_degradation"] = round(
        join["broadcast_skew"] / join["broadcast_uniform"], 2)

    dedup = {
        "uniform": lsh_dedup_stats(spark, args.uniform, args.dedup_repeat),
        "skew": lsh_dedup_stats(spark, args.skew, args.dedup_repeat),
    }
    out = {"hot_supplier_join": join, "lsh_dedup": dedup}
    line = json.dumps(out)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
