"""Reliable-vs-local checkpoint modes for iterative operators
(VERDICT r2 next-round #4).

``local`` is the default (executor-memory blocks, right for
local[*]); ``reliable`` writes RDD checkpoint files under the
registered checkpoint dir so a cluster run survives executor loss
mid-iteration. Both must produce identical results.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from doin_fine_ance__spark.operators.checkpoint import (
    checkpoint_mode,
    materialize,
    set_checkpoint_mode,
)
from doin_fine_ance__spark.operators.graph import connected_components


@pytest.fixture
def reliable_dir(spark, tmp_path):
    d = str(tmp_path / "rdd-checkpoints")
    spark.sparkContext.setCheckpointDir(d)
    yield d


def _edges(spark):
    # two components: {1,2,3,4} chained, {10,11}
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["src", "dst"]
    )


@pytest.mark.slow
def test_cc_local_vs_reliable_identical(spark, reliable_dir):
    expected = {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}
    for mode in ("local", "reliable"):
        # tiny edges_per_partition forces the ITERATIVE phase, where
        # the per-round checkpoints actually run in the chosen mode
        got = {
            tuple(r)
            for r in connected_components(
                _edges(spark), edges_per_partition=1, checkpoint_mode=mode
            ).collect()
        }
        assert got == expected, mode


def test_reliable_mode_writes_checkpoint_files(spark, reliable_dir):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out = materialize(df, "reliable")
    assert out.count() == 100
    found = [
        f for root, _, files in os.walk(reliable_dir) for f in files
    ]
    assert found, "reliable materialize produced no checkpoint files"


def test_lsh_and_running_sum_both_modes(spark, reliable_dir, tmp_path):
    from doin_fine_ance__spark.llm.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from doin_fine_ance__spark.llm.selection import global_running_sum

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again!"),
            (3, "completely different text with nothing shared at all here ok"),
        ],
        ["doc_id", "text"],
    )
    sigs = minhash_signatures(docs)
    results = {}
    for mode in ("local", "reliable"):
        pairs = {
            tuple(r)
            for r in lsh_candidate_pairs(sigs, checkpoint_mode=mode)
            .select("id_a", "id_b")
            .collect()
        }
        rs = {
            tuple(r)
            for r in global_running_sum(
                spark.createDataFrame(
                    [(1, 10), (2, 20), (3, 30)], ["k", "w"]
                ),
                "w",
                ["k"],
                checkpoint_mode=mode,
            ).collect()
        }
        results[mode] = (pairs, rs)
    assert results["local"] == results["reliable"]
    assert (1, 2) in results["local"][0]


@pytest.mark.slow
def test_incremental_near_dups_reliable(spark, reliable_dir, tmp_path):
    from doin_fine_ance__spark.llm.dedup import incremental_near_dups

    store = str(tmp_path / "sigstore")
    batch1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        ["doc_id", "text"],
    )
    batch2 = spark.createDataFrame(
        [(2, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        ["doc_id", "text"],
    )
    incremental_near_dups(spark, batch1, store, checkpoint_mode="reliable").count()
    pairs = incremental_near_dups(
        spark, batch2, store, checkpoint_mode="reliable"
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}


def test_module_default_mode_roundtrip(spark, reliable_dir):
    assert checkpoint_mode() == "local"
    try:
        set_checkpoint_mode("reliable", spark, reliable_dir)
        assert checkpoint_mode() == "reliable"
        assert materialize(spark.range(5)).count() == 5
    finally:
        set_checkpoint_mode("local")
    with pytest.raises(ValueError):
        set_checkpoint_mode("bogus")
    with pytest.raises(ValueError):
        materialize(spark.range(1), "bogus")


class _Store:
    """Stands in for a DataFrame: counts persist/unpersist calls."""

    def __init__(self):
        self.persists = 0
        self.unpersists = 0

    def persist(self):
        self.persists += 1
        return self

    def unpersist(self):
        self.unpersists += 1
        return self


def test_owning_entry_releases_only_at_the_outermost_call():
    from doin_fine_ance__spark.operators.checkpoint import (
        own,
        owning_entry,
        release_owned,
    )

    release_owned()
    earlier = own(_Store())

    @owning_entry
    def inner():
        return own(_Store())

    @owning_entry
    def outer():
        return inner(), own(_Store())

    a, b = outer()
    assert earlier.unpersists == 1  # outer released what was owned before it
    assert (a.persists, a.unpersists, b.unpersists) == (1, 0, 0)  # nested kept
    with pytest.raises(ZeroDivisionError):
        owning_entry(lambda: 1 / 0)()  # releases a and b, then raises
    assert (a.unpersists, b.unpersists) == (1, 1)
    c = inner()  # depth was restored after the exception: outermost again
    release_owned()
    assert c.unpersists == 1


def test_own_and_release_owned_under_thread_contention():
    """Threads owning and releasing concurrently: every store is
    unpersisted exactly once, none is lost or released twice."""
    import sys
    import threading

    from doin_fine_ance__spark.operators.checkpoint import own, release_owned

    release_owned()
    stores = [[_Store() for _ in range(2000)] for _ in range(16)]

    def worker(mine):
        for i, s in enumerate(mine):
            own(s)
            if i % 2:
                release_owned()

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(m,)) for m in stores]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
    release_owned()
    assert all(s.persists == 1 and s.unpersists == 1 for m in stores for s in m)
