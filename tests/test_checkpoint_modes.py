"""Checkpoint policy for iterative operators: :func:`materialize`
writes a reliable checkpoint when the session has a checkpoint
directory and a local one otherwise.

Without a directory, blocks live in executor memory (right for
local[*]); with one, RDD checkpoint files land under it so a cluster
run survives executor loss mid-iteration. Both must produce identical
results. Tests take the reliable path through the ``reliable_dir``
fixture (requested mid-test to compare against a local run first); it
unsets the directory again on teardown, so every other test keeps the
local path.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from doin_fine_ance__spark.operators.checkpoint import materialize
from doin_fine_ance__spark.operators.graph import connected_components


@pytest.fixture
def reliable_dir(spark, tmp_path):
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    d = str(tmp_path / "rdd-checkpoints")
    sc.setCheckpointDir(d)
    yield d
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert sc.getCheckpointDir() is None


def _checkpoint_files(d):
    return [f for _, _, files in os.walk(d) for f in files]


def test_reliable_mode_writes_checkpoint_files(spark, request):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    local = materialize(df)
    assert local.count() == 100
    rdd = local._jdf.queryExecution().analyzed().rdd()
    assert rdd.isLocallyCheckpointed() and rdd.getCheckpointFile().isEmpty()

    d = request.getfixturevalue("reliable_dir")
    reliable = materialize(df)
    assert reliable.count() == 100
    rdd = reliable._jdf.queryExecution().analyzed().rdd()
    assert not rdd.isLocallyCheckpointed()
    assert os.path.basename(d) in rdd.getCheckpointFile().get()
    assert _checkpoint_files(d), "reliable materialize produced no checkpoint files"


def test_materialize_raises_a_failed_checkpoint(spark):
    """A job failure inside the checkpoint surfaces from materialize
    instead of handing back the lazy frame, whose next action would
    re-run the failing stage with lineage still uncut."""

    @F.udf("long")
    def boom(x):
        raise RuntimeError("checkpoint stage failed")

    with pytest.raises(Exception, match="checkpoint stage failed"):
        materialize(spark.range(3).select(boom("id").alias("x")))


def _components(spark):
    # two components: {1,2,3,4} chained, {10,11}; tiny
    # edges_per_partition forces the ITERATIVE phase, where the
    # per-round checkpoints actually run
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["src", "dst"]
    )
    return {
        tuple(r)
        for r in connected_components(edges, edges_per_partition=1).collect()
    }


@pytest.mark.slow
def test_cc_local_vs_reliable_identical(spark, request):
    local = _components(spark)
    d = request.getfixturevalue("reliable_dir")
    assert _components(spark) == local
    assert local == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}
    assert _checkpoint_files(d)


def _lsh_and_running_sum(spark):
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
    pairs = {
        tuple(r)
        for r in lsh_candidate_pairs(minhash_signatures(docs))
        .select("id_a", "id_b")
        .collect()
    }
    rs = {
        tuple(r)
        for r in global_running_sum(
            spark.createDataFrame([(1, 10), (2, 20), (3, 30)], ["k", "w"]),
            "w",
            ["k"],
        ).collect()
    }
    return pairs, rs


def test_lsh_and_running_sum_both_modes(spark, request):
    local = _lsh_and_running_sum(spark)
    d = request.getfixturevalue("reliable_dir")
    assert _lsh_and_running_sum(spark) == local
    assert (1, 2) in local[0]
    assert local[1] == {(1, 10, 10), (2, 20, 30), (3, 30, 60)}
    assert _checkpoint_files(d)


def _incremental_pairs(spark, store):
    from doin_fine_ance__spark.llm.dedup import incremental_near_dups

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    batch1 = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    batch2 = spark.createDataFrame([(2, text)], ["doc_id", "text"])
    incremental_near_dups(spark, batch1, store).count()
    pairs = incremental_near_dups(spark, batch2, store).collect()
    return {(r.id_a, r.id_b) for r in pairs}


@pytest.mark.slow
def test_incremental_near_dups_reliable(spark, request, tmp_path):
    assert _incremental_pairs(spark, str(tmp_path / "store-local")) == {(1, 2)}
    d = request.getfixturevalue("reliable_dir")
    assert _incremental_pairs(spark, str(tmp_path / "store-reliable")) == {(1, 2)}
    assert _checkpoint_files(d)


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
