"""Join-heavy analytical queries + JSON surface.

These go beyond single-operator probes: multi-way joins with
broadcast-able dimensions and wide aggregations — the plans that
actually stress a 1000-executor cluster, and the bench headliners.
Plan discipline (checked via .explain in tests/test_plans.py):

- dims (region/nation/customer/supplier/part) are broadcast — the
  fact tables (orders/lineitem) never shuffle for them;
- the orders⨝lineitem join shuffles both sides on the order key once;
- aggregates are partial (map-side combine) before the exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from ..session import local_frame
from ..sources.testdata import load_table
from . import query

DEC = "decimal(18,2)"


def _dec(c) -> F.Column:
    return (col(c) if isinstance(c, str) else c).cast(DEC)


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_disc_price,
           CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_charge,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS DOUBLE) AS avg_qty,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS DOUBLE) AS avg_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical wide aggregate over the fact table.

    One scan (pruned to 7 columns, shipdate filter pushed), partial agg,
    one tiny exchange on (returnflag, linestatus). Exact-decimal sums
    cast ONCE to double at the output boundary (driver-canonical 64-bit
    types — pandas turns DuckDB DECIMAL into float64, so emitting
    DecimalType from Spark hash-mismatches on trailing zeros);
    averages via exact-sum→double÷count.
    """
    li = load_table(
        spark, sf_dir, "lineitem",
        ["l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_shipdate"],
    ).filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
    qty, price, disc, tax = (_dec("l_quantity"), _dec("l_extendedprice"), _dec("l_discount"), _dec("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty).cast("double").alias("sum_qty"),
        F.sum(price).cast("double").alias("sum_base_price"),
        F.round(F.sum(price * (lit(1) - disc)), 2).cast("double")
        .alias("sum_disc_price"),
        # tight factor casts keep the TRIPLE product inside decimal
        # precision 38 on both engines: (12,2)x(5,2)x(5,2) -> (24,6)
        # EXACT. With the default (18,2) casts Spark's second multiply
        # needs precision 58, so allowPrecisionLoss rounds each row at
        # scale 6 while DuckDB stays exact - invisible at sf0.1, a
        # last-ulp double drift at sf1 (caught by the scale rehearsal).
        # (the literal 1 must be decimal(3,2) too: an int literal is
        # decimal(10,0), which re-inflates the factor precision)
        # The 6-scale exact sum needs 17 significant digits at sf1 -
        # more than a double holds - and Spark's BigDecimal.doubleValue
        # vs DuckDB's hugeint/10^6 conversion round the unrepresentable
        # tail differently (1-ulp flap). So round() the money sums to
        # scale 2 (the TPC-H output semantic) BEFORE the double cast:
        # 13-14 significant digits convert identically on both engines.
        # round(), NOT a decimal(38,2) downcast: both engines round()
        # half away from zero, but DuckDB's decimal->decimal CAST
        # truncates where Spark's rounds HALF_UP.
        F.round(
            F.sum(
                col("l_extendedprice").cast("decimal(12,2)")
                * (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(4,2)"))
                * (lit(1).cast("decimal(3,2)") + col("l_tax").cast("decimal(4,2)"))
            ),
            2,
        ).cast("double").alias("sum_charge"),
        (F.sum(qty).cast("double") / F.count("*")).alias("avg_qty"),
        (F.sum(price).cast("double") / F.count("*")).alias("avg_price"),
        F.count("*").alias("count_order"),
    )


@query(
    "q3_top_unshipped_orders",
    oracle="""
    SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
    LIMIT 20
    """,
)
def q3_top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → fact join → top-k revenue.

    customer (filtered on segment) broadcasts into orders; the
    orders⨝lineitem join shuffles on the order key once; top-k is a
    TakeOrdered, no global sort.
    """
    c = load_table(spark, sf_dir, "customer", ["c_custkey", "c_mktsegment"]).filter(
        col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders", ["o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"]).filter(
        col("o_orderdate") < lit("1998-03-15").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_extendedprice", "l_discount", "l_shipdate"]).filter(
        col("l_shipdate") > lit("1995-03-15").cast("timestamp_ntz")
    )
    revenue = F.sum(_dec("l_extendedprice") * (lit(1) - _dec("l_discount"))).cast("double")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.alias("revenue"))
        .orderBy(col("revenue").desc(), col("o_orderdate").asc(), col("l_orderkey").asc())
        .limit(20)
    )


@query(
    "q5_region_revenue_rollup",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY r.r_name, n.n_name
    """,
)
def q5_region_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: snowflake dims chained onto the fact table.

    region→nation→customer collapse into one broadcast lookup side;
    orders only ever shuffles for its own aggregation.
    """
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer", ["c_custkey", "c_nationkey"])
    o = load_table(spark, sf_dir, "orders", ["o_custkey", "o_totalprice"])
    dims = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", col("r_name").alias("region"), col("n_name").alias("nation"))
    )
    return (
        o.join(F.broadcast(dims), o.o_custkey == dims.c_custkey)
        .groupBy("region", "nation")
        .agg(
            F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


@query(
    "a_count_distinct_users",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def a_count_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-count per group (the expand+two-phase agg plan;
    at 100 TB prefer approx_count_distinct unless exactness is owed)."""
    ev = load_table(spark, sf_dir, "events", ["event_type", "user_id"])
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


@query(
    "a_rollup_region_nation",
    oracle="""
    SELECT COALESCE(r.r_name, 'ALL') AS region,
           CASE WHEN GROUPING(n.n_name) = 1 THEN 'ALL' ELSE n.n_name END AS nation,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def a_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP subtotals (beyond-reference: the reference has
    no grouping sets — SURVEY §2.4 note). Spark's rollup == SQL ROLLUP;
    NULL grouping slots are labeled 'ALL' so the oracle comparison is
    unambiguous about grouping-null vs data-null."""
    c = load_table(spark, sf_dir, "customer", ["c_nationkey", "c_acctbal"])
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(_dec("c_acctbal")).cast("double").alias("total_balance"),
            # grouping() is only legal inside the rollup's own agg
            F.grouping("n_name").alias("_g_nation"),
        )
        .select(
            F.coalesce(col("r_name"), lit("ALL")).alias("region"),
            F.when(col("_g_nation") == 1, lit("ALL")).otherwise(col("n_name")).alias("nation"),
            "n_customers",
            "total_balance",
        )
    )


@query(
    "f15_json_extraction",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events
    WHERE json_extract_string(props, '$.k') IS NOT NULL
    GROUP BY event_type
    """,
)
def f15_json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15 (JSONB metrics column): parse a JSON string column and
    aggregate an extracted field — the engine's from_json/get_json path."""
    ev = load_table(spark, sf_dir, "events", ["event_type", "props"])
    k = F.get_json_object(col("props"), "$.k").cast("bigint")
    return (
        ev.withColumn("k", k)
        .filter(col("k").isNotNull())
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count("*").alias("n"))
    )


@query(
    "q4_priority_semi_join",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o.o_orderpriority
    """,
)
def q4_priority_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS → left-semi join (the inventory's only
    semi-join probe; anti-joins are covered by P3/J7/J8).

    The semi side is pre-filtered and pre-projected to one column, so
    the shuffle moves only qualifying order keys; the count-by-priority
    exchange afterwards is tiny. At 100 TB both sides hash-shuffle on
    the order key — AQE merges the post-semi partitions.
    """
    o = load_table(
        spark, sf_dir, "orders", ["o_orderkey", "o_orderdate", "o_orderpriority"]
    ).filter(
        (col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz"))
        & (col("o_orderdate") < lit("1997-01-01").cast("timestamp_ntz"))
    )
    li = (
        load_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_returnflag"])
        .filter(col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN 0.03 AND 0.07
      AND CAST(l_quantity AS DECIMAL(18,2)) < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter→agg, the pushdown showcase.

    All three predicates reach the parquet scan (PushedFilters on
    shipdate; discount/quantity evaluated pre-shuffle in the same
    codegen stage); the result is a single global agg — at 100 TB this
    plan is scan-bound, exactly as it should be.
    """
    li = load_table(
        spark, sf_dir, "lineitem",
        ["l_extendedprice", "l_discount", "l_quantity", "l_shipdate"],
    ).filter(
        (col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz"))
        & (col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz"))
        & _dec("l_discount").between(0.03, 0.07)
        & (_dec("l_quantity") < 24)
    )
    return li.agg(
        F.sum(_dec("l_extendedprice") * _dec("l_discount"))
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_lines"),
    )


@query(
    "q14_promo_revenue_ratio",
    oracle="""
    SELECT
      CAST(CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                 THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                 ELSE CAST(0 AS DECIMAL(28,4)) END) AS DOUBLE)
           * 100.0
           / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           AS DOUBLE) AS promo_revenue_pct,
      COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
)
def q14_promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: broadcast dim join + conditional-aggregate ratio.

    part broadcasts into the date-pruned lineitem scan (no fact
    shuffle); both sums are exact decimals, the ratio is computed as
    one double multiply+divide at the end so it hash-matches DuckDB.
    """
    li = load_table(
        spark, sf_dir, "lineitem",
        ["l_partkey", "l_extendedprice", "l_discount", "l_shipdate"],
    ).filter(
        (col("l_shipdate") >= lit("1996-03-01").cast("timestamp_ntz"))
        & (col("l_shipdate") < lit("1996-04-01").cast("timestamp_ntz"))
    )
    p = load_table(spark, sf_dir, "part", ["p_partkey", "p_type"])
    rev = _dec("l_extendedprice") * (lit(1) - _dec("l_discount"))
    promo = F.when(col("p_type").like("PROMO%"), rev).otherwise(
        lit(0).cast("decimal(28,4)")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (
                F.sum(promo).cast("double")
                * lit(100.0)
                / F.sum(rev).cast("double")
            ).alias("promo_revenue_pct"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "j_salted_skew_join",
    oracle="""
    SELECT l.l_returnflag AS flag,
           d.flag_label,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM lineitem l
    JOIN (VALUES ('A', 'accepted'), ('N', 'none'), ('R', 'returned'))
      AS d(flag, flag_label)
      ON l.l_returnflag = d.flag
    GROUP BY l.l_returnflag, d.flag_label
    """,
)
def j_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join, oracle-checked for semantic identity.

    The join key (l_returnflag) has 3 distinct values over the whole
    fact table — worst-case skew, where a naive shuffle join serializes
    into 3 reducers. ``salted_join`` scatters each hot key into 8
    sub-keys (big side hashed per-row, dim side exploded 8x); the
    oracle is the PLAIN join, proving salting changes the shuffle
    layout and nothing else.
    """
    from ..operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem", ["l_returnflag", "l_quantity"])
    dim = local_frame(
        spark,
        [("A", "accepted"), ("N", "none"), ("R", "returned")],
        "flag string, flag_label string",
    )
    joined = salted_join(
        li.withColumnRenamed("l_returnflag", "flag"), dim, "flag", salt_buckets=8
    )
    return (
        joined.groupBy(col("flag"), col("flag_label"))
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(_dec("l_quantity")).cast("double").alias("total_qty"),
        )
    )


@query(
    "a_cube_status_priority",
    oracle="""
    SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS status,
           CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END AS priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def a_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 4 grouping sets in one pass
    (Spark plans a single Expand + partial agg — not 4 scans).
    GROUPING() flags disambiguate real NULLs from subtotal rows."""
    o = load_table(spark, sf_dir, "orders", ["o_orderstatus", "o_orderpriority", "o_totalprice"])
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
            F.grouping("o_orderstatus").alias("_gs"),
            F.grouping("o_orderpriority").alias("_gp"),
        )
        .select(
            F.when(col("_gs") == 1, lit("ALL")).otherwise(col("o_orderstatus")).alias("status"),
            F.when(col("_gp") == 1, lit("ALL")).otherwise(col("o_orderpriority")).alias("priority"),
            "n_orders",
            "revenue",
        )
    )


@query(
    "j_asof_purchase_last_view",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'purchase'
    ), views AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(event_id) AS view_event_id
      FROM events WHERE event_type = 'view'
      GROUP BY user_id, CAST(ts AS TIMESTAMP)
    ), matched AS (
      SELECT p.event_id, p.user_id, p.ts,
             (SELECT MAX(v2.ts) FROM views v2
               WHERE v2.user_id = p.user_id AND v2.ts <= p.ts) AS t_match
      FROM purchases p
    )
    SELECT m.event_id, m.user_id, m.ts,
           v.view_event_id AS view_event_id_asof,
           m.t_match AS view_ts_asof
    FROM matched m LEFT JOIN views v
      ON v.user_id = m.user_id AND v.ts = m.t_match
    """,
)
def j_asof_purchase_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of backward join (beyond-reference): each purchase picks up the
    user's most recent prior (or simultaneous) view.

    Spark has no ASOF JOIN; operators/asof.py implements the
    union+sort+running-last plan (one exchange over n+m rows, no range
    explosion). The oracle was DuckDB's native ASOF JOIN through round
    8; round-9 fuzzing (seeds 10233/11030, base_asof production) caught
    duckdb 1.0.0's ASOF silently matching a STALE — older than latest —
    right row on the error/view event shape, with an independent
    pure-Python replay siding with Spark. The oracle is now the
    greatest-per-group formulation (scalar-subquery max(ts ≤ p.ts) +
    equi-join back for the payload) — still a fully independent
    re-derivation of the tie-inclusive backward-match semantics, minus
    the buggy operator.
    """
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events", ["event_id", "user_id", "event_type", "ts"])
    purchases = ev.filter(col("event_type") == "purchase").select("event_id", "user_id", "ts")
    views = (
        ev.filter(col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    out = asof_join(
        purchases, views, by=["user_id"], left_ts="ts", right_ts="ts",
        value_cols=["view_event_id"], suffix="_x",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        col("view_event_id_x").alias("view_event_id_asof"),
        col("ts_x").alias("view_ts_asof"),
    )


@query(
    "j_range_price_bands",
    oracle="""
    SELECT b.band_name,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM lineitem l
    JOIN (VALUES
        ('low',      0.0, 20000.0),
        ('mid',  15000.0, 45000.0),
        ('high', 40000.0, 99999999.0)
      ) AS b(band_name, lo, hi)
      ON l.l_extendedprice BETWEEN b.lo AND b.hi
    GROUP BY b.band_name
    """,
)
def j_range_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join via grid binning (beyond-reference).

    Overlapping price bands — a row can land in two bands, so this is
    a genuine interval join, not a bucket CASE. operators/range_join.py
    turns the BETWEEN into an equi-join on grid cells + residual
    filter; the oracle is DuckDB's plain interval join (its optimizer
    does its own IEJoin), checking semantics against an independent
    implementation.
    """
    from ..operators.range_join import range_join

    li = load_table(spark, sf_dir, "lineitem", ["l_extendedprice"])
    bands = local_frame(
        spark,
        [
            ("low", 0.0, 20000.0),
            ("mid", 15000.0, 45000.0),
            ("high", 40000.0, 99999999.0),
        ],
        "band_name string, lo double, hi double",
    )
    joined = range_join(li, bands, "l_extendedprice", "lo", "hi", bin_width=20000.0)
    return joined.groupBy("band_name").agg(
        F.count("*").alias("n_lines"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("total_price"),
    )


@query(
    "a_event_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) >= v.t_view
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= c.t_click
      GROUP BY e.user_id
    )
    SELECT COUNT(*) AS n_viewed,
           COUNT(c.user_id) AS n_clicked,
           COUNT(p.user_id) AS n_purchased
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def a_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential conversion funnel: view -> later click -> later purchase.

    Each stage anchors on the previous stage's first-event time (a
    strictly ordered funnel, not three independent filters). Three
    narrow aggregates shuffled on user_id; at scale all three stages
    co-partition on the same key so AQE reuses the exchange layout.
    """
    ev = load_table(spark, sf_dir, "events", ["user_id", "event_type", "ts"])
    v = (
        ev.filter(col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(col("event_type") == "click")
        .join(v, "user_id")
        .filter(col("ts") >= col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(col("ts") >= col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .agg(
            F.count("*").alias("n_viewed"),
            F.count("t_click").alias("n_clicked"),
            F.count("t_purchase").alias("n_purchased"),
        )
    )


@query(
    "q13_customer_order_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    ) per_customer
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: outer join preserved through two aggregation levels.

    The inventory's only LEFT OUTER + count-of-nullable probe: customers
    with zero orders must survive as c_count=0 (COUNT of a null key, not
    COUNT(*)). Physically: one shuffle on the customer key for the outer
    join + first agg; the second agg groups on c_count — a handful of
    distinct values — so its exchange is tiny. At 100 TB the first agg
    is partial (map-side) before the exchange and AQE coalesces the
    skinny second stage.
    """
    c = load_table(spark, sf_dir, "customer", ["c_custkey"])
    o = load_table(spark, sf_dir, "orders", ["o_orderkey", "o_custkey"])
    per_customer = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_customer.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(col("custdist").desc(), col("c_count").desc())
    )


@query(
    "q18_large_volume_customers",
    oracle="""
    WITH big_orders AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price,
           b.sum_qty
    FROM big_orders b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY total_price DESC, o.o_orderkey ASC
    LIMIT 100
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING on a fact-side aggregate gates the join.

    Aggregate lineitem once (partial agg → one exchange on the order
    key), filter to the rare heavy orders, and only THEN join — the
    filter runs before any join, so orders/customer see a tiny probe
    side. The aggregated+filtered side is small enough to broadcast
    into orders at any scale factor (heavy orders are by construction
    a tail), avoiding a second fact-table shuffle; customer joins on
    the already-small result. Top-k is a TakeOrdered, no global sort.
    """
    li = load_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_quantity"])
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("sum_qty_dec"))
        .filter(col("sum_qty_dec") > 250)
        .select("l_orderkey", col("sum_qty_dec").cast("double").alias("sum_qty"))
    )
    o = load_table(
        spark, sf_dir, "orders",
        ["o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"],
    )
    c = load_table(spark, sf_dir, "customer", ["c_custkey", "c_name"])
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            _dec("o_totalprice").cast("double").alias("total_price"), "sum_qty",
        )
        .orderBy(col("total_price").desc(), col("o_orderkey").asc())
        .limit(100)
    )


@query(
    "w_lead_lag_session_count",
    oracle="""
    WITH g AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      FROM events
    ), s AS (
      SELECT user_id,
             1 + COUNT(*) FILTER (WHERE prev_ts IS NOT NULL
                                    AND ts > prev_ts + INTERVAL 30 MINUTE) AS n_sessions
      FROM g GROUP BY user_id
    )
    SELECT n_sessions, COUNT(*) AS n_users
    FROM s GROUP BY n_sessions
    ORDER BY n_sessions ASC
    """,
)
def w_lead_lag_session_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation-function probe: lag()-based sessionization distribution.

    Beyond-reference (the reference uses no lead/lag, SURVEY §2.5): per
    user, a gap > 30 min between consecutive events starts a new
    session; output the users-per-session-count distribution. The
    batch-side complement of ``st_session_window`` (which uses
    ``F.session_window``) — same semantics, expressed via window
    navigation so the surface covers both formulations.

    Oracle-determinism: ordering ties on (user_id, ts) are safe — the
    gap test depends only on consecutive DISTINCT ts values, so any tie
    order yields identical gap>threshold counts.

    Scale: the window partitions by user_id (millions of small groups —
    no WindowExec single-partition collapse); one shuffle shared by the
    window and the per-user agg, then a tiny distribution exchange.
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events", ["user_id", "ts"])
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_starts = F.when(
        col("prev_ts").isNotNull()
        & (col("ts") > col("prev_ts") + F.expr("INTERVAL 30 MINUTES")),
        1,
    ).otherwise(0)
    return (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .groupBy("user_id")
        .agg((F.lit(1) + F.sum(gap_starts)).cast("long").alias("n_sessions"))
        .groupBy("n_sessions")
        .agg(F.count("*").alias("n_users"))
        .orderBy(col("n_sessions").asc())
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    WITH pp AS (
      SELECT p_partkey FROM part WHERE p_brand = 'Brand#12'
    ), li AS (
      SELECT l.l_partkey,
             CAST(l.l_quantity AS DECIMAL(18,2)) AS q,
             CAST(l.l_extendedprice AS DECIMAL(18,2)) AS ep
      FROM lineitem l JOIN pp ON l.l_partkey = pp.p_partkey
    ), a AS (
      SELECT l_partkey, SUM(q) AS sum_q, COUNT(*) AS n FROM li GROUP BY l_partkey
    )
    SELECT CAST(CAST(SUM(li.ep) AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly,
           COUNT(*) AS n_lines
    FROM li JOIN a ON li.l_partkey = a.l_partkey
    WHERE li.q * 5 * a.n < a.sum_q
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery → aggregate-then-rejoin.

    The classic decorrelation pattern: "lineitems below 20% of their
    part's average quantity" becomes (1) semi-reduce lineitem to the
    brand's parts via a broadcast join, (2) one groupBy for per-part
    (sum_qty, count), (3) rejoin and filter. The 0.2·avg comparison is
    algebraically rearranged to ``qty·5·n < sum_qty`` so it stays in
    exact decimal multiplication — no decimal division whose scale/
    rounding could differ between engines; the single double division
    (/7) happens once at the end.
    """
    p = load_table(spark, sf_dir, "part", ["p_partkey", "p_brand"]).filter(
        col("p_brand") == "Brand#12"
    )
    li = load_table(
        spark, sf_dir, "lineitem", ["l_partkey", "l_quantity", "l_extendedprice"]
    ).join(F.broadcast(p.select("p_partkey")), col("l_partkey") == col("p_partkey"))
    li = li.select(
        "l_partkey", _dec("l_quantity").alias("q"), _dec("l_extendedprice").alias("ep")
    )
    a = li.groupBy("l_partkey").agg(
        F.sum("q").alias("sum_q"), F.count("*").alias("n")
    )
    return (
        li.join(a, "l_partkey")
        .filter(col("q") * lit(5) * col("n") < col("sum_q"))
        .agg(
            (F.sum("ep").cast("double") / lit(7.0)).cast("double").alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )
