"""Additional TPC-H-shape plan probes (Q2/7/8/9/10/15/16/19/20/21/22).

The first probe set (queries/analytics.py) covers Q1/3/4/5/6/13/14/17/18;
with Q11/12 and the round-7 Q2/16/20 additions below, all 22 TPC-H
query shapes are registered. Each is adapted to the driver's
TPC-H-ish testdata (no partsupp table — lineitem's (partkey, suppkey)
pairs stand in for it; no ship/commit/receipt-date triple; synthetic
dictionary values), because each is a pattern a 100 TB workload hits:

- Q2  : correlated per-group minimum (cost == MIN(cost) OVER the part,
        suppliers restricted to one region) resolved as agg + self-join;
- Q16 : COUNT(DISTINCT supplier) per part class with a NOT-IN supplier
        exclusion (anti-join), ordered by the distinct count;
- Q20 : nested semi-joins gated by a correlated aggregate threshold
        (pair quantity > fraction of the part's total);

- Q7  : N-way fact join with a DISJUNCTIVE pair predicate across two
        broadcast copies of the same dimension;
- Q8  : conditional market-share ratio (two-level agg over a 6-way join);
- Q9  : LIKE-filtered dim driving a profit expression with mixed
        decimal scales;
- Q10 : top-k by aggregate over a wide join (TakeOrdered, no sort);
- Q15 : agg view joined against its own global MAX (scalar-subquery →
        broadcast join);
- Q19 : OR-of-ANDs join predicate that must still use the equi-key
        for the join and keep the disjunction as a post-join filter;
- Q21 : EXISTS + NOT-EXISTS against two derived self-views of the
        same fact (left_semi + left_anti with non-equi residuals);
- Q22 : anti-join against the fact plus a global-average scalar gate.

Decimal discipline follows queries/analytics.py: exact DECIMAL(18,2)
aggregation, ONE cast to DOUBLE at the output boundary, deterministic
total ORDER BY on every multi-row result (driver hash canonicalization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from ..operators.checkpoint import materialize
from ..sources.testdata import load_table
from . import query

DEC = "decimal(18,2)"


def _dec(c) -> F.Column:
    return (col(c) if isinstance(c, str) else c).cast(DEC)


def _ts(s: str) -> F.Column:
    return lit(s).cast("timestamp_ntz")


_REV = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"


@query(
    "q7_volume_shipping_pairs",
    oracle=f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS l_year,
           CAST(SUM({_REV}) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
    WHERE ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_12')
        OR (sn.n_name = 'NATION_12' AND cn.n_name = 'NATION_3'))
      AND l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1, 2, 3
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: two broadcast copies of `nation` and a disjunctive
    nation-pair predicate over a 6-way join.

    customer/supplier/nation broadcast into the fact; the only
    data-sized shuffle is orders⨝lineitem on the order key. The pair
    disjunction stays a post-join filter — the joins themselves remain
    pure equi-joins so the broadcast hash path is preserved.
    """
    li = load_table(
        spark, sf_dir, "lineitem",
        ["l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"],
    ).filter((col("l_shipdate") >= _ts("1995-01-01")) & (col("l_shipdate") < _ts("1997-01-01")))
    o = load_table(spark, sf_dir, "orders", ["o_orderkey", "o_custkey"])
    c = load_table(spark, sf_dir, "customer", ["c_custkey", "c_nationkey"])
    s = load_table(spark, sf_dir, "supplier", ["s_suppkey", "s_nationkey"])
    n = load_table(spark, sf_dir, "nation", ["n_nationkey", "n_name"])
    sn = n.select(col("n_nationkey").alias("sn_key"), col("n_name").alias("supp_nation"))
    cn = n.select(col("n_nationkey").alias("cn_key"), col("n_name").alias("cust_nation"))
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), col("s_nationkey") == col("sn_key"))
        .join(F.broadcast(cn), col("c_nationkey") == col("cn_key"))
        .filter(
            ((col("supp_nation") == "NATION_3") & (col("cust_nation") == "NATION_12"))
            | ((col("supp_nation") == "NATION_12") & (col("cust_nation") == "NATION_3"))
        )
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year")
        )
        .agg(F.sum(_dec("l_extendedprice") * (lit(1) - _dec("l_discount"))).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q8_market_share",
    oracle=f"""
    WITH vol AS (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
             {_REV} AS volume,
             sn.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
      JOIN region r   ON cn.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
      JOIN part p     ON l.l_partkey = p.p_partkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
    )
    SELECT o_year,
           CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share
    FROM vol GROUP BY o_year ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — conditional-sum ratio
    per year over a 7-way star join.

    Every dimension broadcasts; the numerator is a conditional sum
    folded into the same partial aggregate as the denominator (one
    pass, one exchange on year). Exact-decimal sums; the ratio is one
    double division at the boundary.
    """
    li = load_table(
        spark, sf_dir, "lineitem",
        ["l_orderkey", "l_suppkey", "l_partkey", "l_extendedprice", "l_discount"],
    )
    o = load_table(spark, sf_dir, "orders", ["o_orderkey", "o_custkey", "o_orderdate"])
    c = load_table(spark, sf_dir, "customer", ["c_custkey", "c_nationkey"])
    s = load_table(spark, sf_dir, "supplier", ["s_suppkey", "s_nationkey"])
    n = load_table(spark, sf_dir, "nation", ["n_nationkey", "n_name", "n_regionkey"])
    r = load_table(spark, sf_dir, "region", ["r_regionkey", "r_name"]).filter(col("r_name") == "ASIA")
    p = load_table(spark, sf_dir, "part", ["p_partkey", "p_type"]).filter(col("p_type") == "ECONOMY")
    cn = n.select(col("n_nationkey").alias("cn_key"), col("n_regionkey").alias("cn_region"))
    sn = n.select(col("n_nationkey").alias("sn_key"), col("n_name").alias("supp_nation"))
    vol = _dec("l_extendedprice") * (lit(1) - _dec("l_discount"))
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), col("c_nationkey") == col("cn_key"))
        .join(F.broadcast(r), col("cn_region") == col("r_regionkey"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), col("s_nationkey") == col("sn_key"))
    )
    zero = lit("0").cast(DEC)
    return (
        joined.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (
                F.sum(F.when(col("supp_nation") == "NATION_3", vol).otherwise(zero)).cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "q9_profit_by_nation_year",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
           CAST(SUM({_REV}
                    - CAST(l_quantity AS DECIMAL(18,2)) * CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%ring%'
    GROUP BY 1, 2
    ORDER BY nation, o_year
    """,
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: LIKE-filtered part dim drives a profit expression
    with mixed decimal scales (revenue scale 4 minus cost scale 4).

    No partsupp table in the testdata, so cost = quantity x
    p_retailprice — same expression shape (two-decimal product
    subtracted from the discount product), exact in both engines.
    The LIKE filter prunes `part` before broadcast; grouping is by
    (nation, year) after all dims fold in.
    """
    li = load_table(
        spark, sf_dir, "lineitem",
        ["l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_discount"],
    )
    p = load_table(spark, sf_dir, "part", ["p_partkey", "p_name", "p_retailprice"]).filter(
        col("p_name").like("%ring%")
    )
    s = load_table(spark, sf_dir, "supplier", ["s_suppkey", "s_nationkey"])
    n = load_table(spark, sf_dir, "nation", ["n_nationkey", "n_name"])
    o = load_table(spark, sf_dir, "orders", ["o_orderkey", "o_orderdate"])
    profit = _dec("l_extendedprice") * (lit(1) - _dec("l_discount")) - _dec("l_quantity") * _dec(
        "p_retailprice"
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), col("s_nationkey") == col("n_nationkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(col("n_name").alias("nation"), F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(F.sum(profit).cast("double").alias("profit"))
        .orderBy("nation", "o_year")
    )


@query(
    "q10_returned_revenue_customers",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           CAST(SUM({_REV}) AS DOUBLE) AS revenue,
           CAST(c.c_acctbal AS DOUBLE) AS c_acctbal
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY 1, 2, 3, 5
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q10_returned_revenue_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue.

    Selective order-date window is pushed to the orders scan and the
    returnflag filter to the lineitem scan; the grouped top-k ends in
    TakeOrderedAndProject (never a global sort). The customer join
    shuffles on custkey AFTER lineitem is pre-aggregated by order —
    no, simpler and cheaper at this shape: customers broadcast.
    """
    c = load_table(spark, sf_dir, "customer", ["c_custkey", "c_name", "c_nationkey", "c_acctbal"])
    o = load_table(spark, sf_dir, "orders", ["o_orderkey", "o_custkey", "o_orderdate"]).filter(
        (col("o_orderdate") >= _ts("1996-01-01")) & (col("o_orderdate") < _ts("1996-07-01"))
    )
    li = load_table(
        spark, sf_dir, "lineitem", ["l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"]
    ).filter(col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation", ["n_nationkey", "n_name"])
    rev = F.sum(_dec("l_extendedprice") * (lit(1) - _dec("l_discount"))).cast("double")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), col("c_nationkey") == col("n_nationkey"))
        .groupBy(
            "c_custkey", "c_name", col("n_name").alias("nation"), col("c_acctbal").cast("double").alias("c_acctbal")
        )
        .agg(rev.alias("revenue"))
        .select("c_custkey", "c_name", "nation", "revenue", "c_acctbal")
        .orderBy(col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q15_top_supplier_revenue",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, CAST(SUM({_REV}) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: an aggregate view joined against its own global
    MAX — the scalar-subquery-over-a-view pattern.

    The revenue view computes once (``materialize``) and feeds both
    the scalar MAX (a 1-row broadcast) and the equality filter; without
    the materialization Spark would execute the 3-month scan+agg twice
    (exchange reuse does not cover two different consumers of the same
    subplan under AQE). Ties are all returned, as in the spec.
    """
    li = load_table(
        spark, sf_dir, "lineitem", ["l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"]
    ).filter((col("l_shipdate") >= _ts("1996-01-01")) & (col("l_shipdate") < _ts("1996-04-01")))
    rev = li.groupBy(col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_dec("l_extendedprice") * (lit(1) - _dec("l_discount"))).cast("double").alias("total_revenue")
    )
    rev = materialize(rev)
    top = rev.agg(F.max("total_revenue").alias("max_revenue"))
    s = load_table(spark, sf_dir, "supplier", ["s_suppkey", "s_name"])
    return (
        rev.join(F.broadcast(top), col("total_revenue") == col("max_revenue"))
        .join(s, col("supplier_no") == col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "q19_disjunctive_predicate_join",
    oracle=f"""
    SELECT CAST(SUM({_REV}) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 30)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity >= 10 AND l.l_quantity <= 40)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity >= 20 AND l.l_quantity <= 50)
    """,
)
def q19_disjunctive_predicate_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs residual over an equi-join.

    The join key (partkey) is shared by all three disjuncts, so the
    join stays a broadcast hash join on the key with the disjunction
    as a residual filter — the optimizer must NOT fall back to a
    nested-loop join. A brand/size disjunct union is also pushable to
    the part scan (Catalyst extracts `p_brand IN (...)`-style common
    filters); one row out.
    """
    li = load_table(spark, sf_dir, "lineitem", ["l_partkey", "l_quantity", "l_extendedprice", "l_discount"])
    p = load_table(spark, sf_dir, "part", ["p_partkey", "p_brand", "p_size"])
    q = col("l_quantity")
    disj = (
        ((col("p_brand") == "Brand#1") & col("p_size").between(1, 15) & (q >= 1) & (q <= 30))
        | ((col("p_brand") == "Brand#2") & col("p_size").between(1, 25) & (q >= 10) & (q <= 40))
        | ((col("p_brand") == "Brand#3") & col("p_size").between(1, 35) & (q >= 20) & (q <= 50))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(disj)
        .agg(F.sum(_dec("l_extendedprice") * (lit(1) - _dec("l_discount"))).cast("double").alias("revenue"))
    )


@query(
    "q21_waiting_supplier_shape",
    oracle="""
    WITH fli AS (
      SELECT l.l_orderkey, l.l_suppkey, l.l_returnflag
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM fli WHERE l_returnflag = 'R') l1
    JOIN supplier s ON l1.l_suppkey = s.s_suppkey
    WHERE EXISTS (SELECT 1 FROM fli l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM fli l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name LIMIT 20
    """,
)
def q21_waiting_supplier_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS against two views of the
    SAME fact — left_semi then left_anti with a non-equi residual
    (`other supplier in the same order`).

    Adapted to the testdata's columns: the sole-blame condition uses
    l_returnflag='R' in finished orders instead of receipt>commit
    (those date columns don't exist here); the plan shape — fact
    self-semi-join + self-anti-join on the order key with a suppkey
    inequality — is exactly Q21's. Both probe sides are pre-projected
    to (orderkey, suppkey) so the self-joins move two longs.
    """
    o = load_table(spark, sf_dir, "orders", ["o_orderkey", "o_orderstatus"]).filter(
        col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_suppkey", "l_returnflag"])
    fli = li.join(o, li.l_orderkey == o.o_orderkey).select("l_orderkey", "l_suppkey", "l_returnflag")
    fli = materialize(fli)  # feeds l1, l2 and l3
    l1 = fli.filter(col("l_returnflag") == "R").select("l_orderkey", "l_suppkey").distinct()
    l2 = fli.select(col("l_orderkey").alias("o2"), col("l_suppkey").alias("s2"))
    l3 = (
        fli.filter(col("l_returnflag") == "R")
        .select(col("l_orderkey").alias("o3"), col("l_suppkey").alias("s3"))
    )
    cand = l1.join(
        l2, (col("l_orderkey") == col("o2")) & (col("l_suppkey") != col("s2")), "left_semi"
    ).join(
        l3, (col("l_orderkey") == col("o3")) & (col("l_suppkey") != col("s3")), "left_anti"
    )
    s = load_table(spark, sf_dir, "supplier", ["s_suppkey", "s_name"])
    return (
        cand.join(F.broadcast(s), col("l_suppkey") == col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").cast("bigint").alias("numwait"))
        .orderBy(col("numwait").desc(), "s_name")
        .limit(20)
    )


@query(
    "q22_dormant_customer_balance",
    oracle="""
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS a
      FROM customer WHERE c_acctbal > 0
    )
    SELECT substr(c.c_name, 17, 2) AS code,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.a
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
    GROUP BY 1
    ORDER BY code
    """,
)
def q22_dormant_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: global-average scalar gate + anti-join against
    the fact, grouped by a substring code.

    The average is an exact decimal sum over positive balances,
    divided once as doubles (both engines compute the identical IEEE
    value, so the `>` gate can't flap); it broadcasts as a 1-row join.
    The NOT EXISTS is a left_anti against orders pre-projected and
    pre-filtered (dormant = no orders since 1999 — the testdata's
    dense custkeys mean literally order-less customers barely exist,
    and a 0-row probe would prove nothing; the date filter keeps the
    anti-join selective AND populated at every SF). The country-code
    analog is the last two digits of c_name (no phone column here).
    """
    c = load_table(spark, sf_dir, "customer", ["c_custkey", "c_name", "c_acctbal"])
    avg_bal = (
        c.filter(col("c_acctbal") > 0)
        .agg((F.sum(_dec("c_acctbal")).cast("double") / F.count("*")).alias("a"))
    )
    o = load_table(spark, sf_dir, "orders", ["o_custkey", "o_orderdate"]).filter(
        col("o_orderdate") >= _ts("1999-01-01")
    ).select("o_custkey")
    return (
        c.join(F.broadcast(avg_bal), col("c_acctbal") > col("a"))
        .join(o, col("c_custkey") == col("o_custkey"), "left_anti")
        .groupBy(F.substring("c_name", 17, 2).alias("code"))
        .agg(
            F.count("*").cast("bigint").alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
        .orderBy("code")
    )


@query(
    "q11_global_threshold_having",
    oracle="""
    WITH tot AS (
      SELECT SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS total
      FROM supplier
    )
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(s.s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS nation_balance
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey, tot
    GROUP BY n.n_name, tot.total
    HAVING SUM(CAST(s.s_acctbal AS DECIMAL(18,2))) > CAST(0.04 AS DECIMAL(3,2)) * tot.total
    ORDER BY nation_balance DESC, nation
    """,
)
def q11_global_threshold_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: groups gated by a scalar share of the GLOBAL
    total (HAVING sum(...) > fraction * (SELECT sum(...))).

    No partsupp table, so the value measure is supplier account
    balance by nation — the plan shape is Q11's: one partial-agg pass
    builds the per-group sums, the global total is a 1-row broadcast,
    and the gate is a post-agg filter against it (never a re-scan).
    Exact-decimal sums both sides of the comparison; the 4% threshold
    multiplies in decimal so the gate cannot flap on FP rounding.
    """
    s = load_table(spark, sf_dir, "supplier", ["s_suppkey", "s_nationkey", "s_acctbal"])
    n = load_table(spark, sf_dir, "nation", ["n_nationkey", "n_name"])
    per_nation = (
        s.join(F.broadcast(n), col("s_nationkey") == col("n_nationkey"))
        .groupBy(col("n_name").alias("nation"))
        .agg(F.sum(_dec("s_acctbal")).alias("bal_dec"))
    )
    total = s.agg(F.sum(_dec("s_acctbal")).alias("total_dec"))
    return (
        per_nation.join(F.broadcast(total))
        .filter(col("bal_dec") > lit("0.04").cast("decimal(3,2)") * col("total_dec"))
        .select("nation", col("bal_dec").cast("double").alias("nation_balance"))
        .orderBy(col("nation_balance").desc(), "nation")
    )


@query(
    "q12_shipmode_priority_counts",
    oracle="""
    SELECT l.l_linestatus AS linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1 ORDER BY linestatus
    """,
)
def q12_shipmode_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: dual conditional counts by class over the
    orders⨝lineitem join (high- vs low-priority lines per status).

    The testdata has no l_shipmode/commit/receipt dates, so the class
    column is l_linestatus and the date window is on shipdate — the
    plan shape is Q12's: one fact-fact equi-join on the order key with
    BOTH conditional sums folded into a single partial aggregate (one
    pass, one tiny exchange on the class key).
    """
    o = load_table(spark, sf_dir, "orders", ["o_orderkey", "o_orderpriority"])
    li = load_table(
        spark, sf_dir, "lineitem", ["l_orderkey", "l_linestatus", "l_shipdate"]
    ).filter((col("l_shipdate") >= _ts("1996-01-01")) & (col("l_shipdate") < _ts("1997-01-01")))
    is_high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(col("l_linestatus").alias("linestatus"))
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("linestatus")
    )


@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH rs AS (
      SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name AS nation
      FROM supplier s
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
    ), sel_parts AS (
      SELECT p_partkey, p_name FROM part
      WHERE p_type = 'STANDARD' AND p_size BETWEEN 10 AND 25
    ), cost AS (
      SELECT l.l_partkey, l.l_suppkey,
             MIN(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS cost_dec
      FROM lineitem l
      JOIN rs ON l.l_suppkey = rs.s_suppkey
      JOIN sel_parts sp ON l.l_partkey = sp.p_partkey
      GROUP BY 1, 2
    ), minc AS (
      SELECT l_partkey, MIN(cost_dec) AS min_cost FROM cost GROUP BY 1
    )
    SELECT CAST(rs.s_acctbal AS DOUBLE) AS s_acctbal, rs.s_name, rs.nation,
           c.l_partkey AS p_partkey, sp.p_name,
           CAST(c.cost_dec AS DOUBLE) AS cost
    FROM cost c
    JOIN minc m ON c.l_partkey = m.l_partkey AND c.cost_dec = m.min_cost
    JOIN rs ON c.l_suppkey = rs.s_suppkey
    JOIN sel_parts sp ON c.l_partkey = sp.p_partkey
    ORDER BY s_acctbal DESC, nation, s_name, p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: the minimum-cost supplier per part within one
    region — a correlated scalar subquery (cost = MIN(cost) for that
    part) resolved as aggregate + equality self-join.

    No partsupp table: the (partkey, suppkey) supply relation is
    derived from lineitem, with cost = the pair's minimum extended
    price (exact DECIMAL, so the equality gate back against the
    per-part minimum cannot flap). Region-filtered suppliers and the
    size/type-filtered part list both broadcast; the only data-sized
    shuffle is the pair aggregation on (partkey, suppkey). The
    per-part MIN is a second tiny agg over the pair table, broadcast
    back — the plan never re-scans lineitem (ref Q2 runs the inner
    correlated query per outer row; Catalyst decorrelates the same
    way we write it explicitly).
    """
    s = load_table(spark, sf_dir, "supplier", ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"])
    n = load_table(spark, sf_dir, "nation", ["n_nationkey", "n_name", "n_regionkey"])
    r = load_table(spark, sf_dir, "region", ["r_regionkey", "r_name"]).filter(
        col("r_name") == "EUROPE"
    )
    rs = (
        s.join(F.broadcast(n), col("s_nationkey") == col("n_nationkey"))
        .join(F.broadcast(r), col("n_regionkey") == col("r_regionkey"))
        .select("s_suppkey", "s_name", col("n_name").alias("nation"), "s_acctbal")
    )
    sel_parts = load_table(spark, sf_dir, "part", ["p_partkey", "p_name", "p_type", "p_size"]).filter(
        (col("p_type") == "STANDARD") & col("p_size").between(10, 25)
    ).select("p_partkey", "p_name")
    li = load_table(spark, sf_dir, "lineitem", ["l_partkey", "l_suppkey", "l_extendedprice"])
    cost = (
        li.join(F.broadcast(rs.select("s_suppkey")), col("l_suppkey") == col("s_suppkey"), "left_semi")
        .join(F.broadcast(sel_parts.select("p_partkey")), col("l_partkey") == col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(_dec("l_extendedprice")).alias("cost_dec"))
    )
    cost = materialize(cost)  # feeds minc AND the final join
    minc = cost.groupBy(col("l_partkey").alias("mk")).agg(F.min("cost_dec").alias("min_cost"))
    return (
        cost.join(
            F.broadcast(minc),
            (col("l_partkey") == col("mk")) & (col("cost_dec") == col("min_cost")),
        )
        .join(F.broadcast(rs), col("l_suppkey") == col("s_suppkey"))
        .join(F.broadcast(sel_parts), col("l_partkey") == col("p_partkey"))
        .select(
            col("s_acctbal").cast("double").alias("s_acctbal"),
            "s_name",
            "nation",
            col("l_partkey").alias("p_partkey"),
            "p_name",
            col("cost_dec").cast("double").alias("cost"),
        )
        .orderBy(col("s_acctbal").desc(), "nation", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "q16_supplier_part_type_counts",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#4'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16_supplier_part_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: COUNT(DISTINCT supplier) per part class, with a
    NOT-IN supplier exclusion list.

    The exclusion analog is negative-balance suppliers (the testdata
    has no s_comment for the '%Complaints%' filter); NOT IN becomes a
    broadcast left_anti — the Spark translation of a NOT-IN whose
    subquery side is provably non-null. The part filters (brand/type
    inequality + size IN-list) push to the part scan before its
    broadcast; the distinct count shuffles once on the (brand, type,
    size) class key with partial_count(distinct) map-side.
    """
    bad = load_table(spark, sf_dir, "supplier", ["s_suppkey", "s_acctbal"]).filter(
        col("s_acctbal") < 0
    ).select("s_suppkey")
    p = load_table(spark, sf_dir, "part", ["p_partkey", "p_brand", "p_type", "p_size"]).filter(
        (col("p_brand") != "Brand#4")
        & (col("p_type") != "PROMO")
        & col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    li = load_table(spark, sf_dir, "lineitem", ["l_partkey", "l_suppkey"])
    return (
        li.join(F.broadcast(bad), col("l_suppkey") == col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), col("l_partkey") == col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@query(
    "q20_dominant_supplier_semi",
    oracle="""
    WITH sel AS (
      SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
    ), pairs AS (
      SELECT l.l_partkey, l.l_suppkey, SUM(l.l_quantity) AS pair_qty
      FROM lineitem l JOIN sel ON l.l_partkey = sel.p_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY 1, 2
    ), part_tot AS (
      SELECT l_partkey, SUM(pair_qty) AS part_qty,
             COUNT(*) AS n_pairs
      FROM pairs GROUP BY 1
    ), qual AS (
      SELECT DISTINCT p.l_suppkey
      FROM pairs p JOIN part_tot t ON p.l_partkey = t.l_partkey
      WHERE p.pair_qty > 1.5 * (t.part_qty / t.n_pairs)
    )
    SELECT s.s_name, CAST(s.s_acctbal AS DOUBLE) AS s_acctbal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name IN ('NATION_3', 'NATION_7', 'NATION_12')
      AND s.s_suppkey IN (SELECT l_suppkey FROM qual)
    ORDER BY s_name
    """,
)
def q20_dominant_supplier_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested semi-joins gated by a correlated
    aggregate threshold — suppliers who dominate a selected part's
    shipped volume (pair quantity > half the part's total), restricted
    to a nation list.

    The availqty analog: a (partkey, suppkey) pair qualifies when its
    shipped quantity in the window exceeds 1.5x the part's AVERAGE
    pair quantity — the same inner-aggregate-per-part comparison Q20
    makes against partsupp.ps_availqty, but with a threshold that
    stays populated at every SF (a >50%-of-total supplier stops
    existing once parts have many suppliers). Quantities are
    integer-valued doubles; both engines compute the identical IEEE
    average and product, so the strict > gate cannot flap. Plan: LIKE-filtered part list broadcasts
    into a semi-join on the scan; one pair aggregation; the per-part
    total is a second tiny agg joined back broadcast; the qualifying
    supplier set semi-joins into the nation-filtered supplier table.
    """
    sel = load_table(spark, sf_dir, "part", ["p_partkey", "p_name"]).filter(
        col("p_name").like("small%")
    ).select("p_partkey")
    li = load_table(
        spark, sf_dir, "lineitem", ["l_partkey", "l_suppkey", "l_quantity", "l_shipdate"]
    ).filter(
        (col("l_shipdate") >= _ts("1996-01-01")) & (col("l_shipdate") < _ts("1998-01-01"))
    )
    pairs = (
        li.join(F.broadcast(sel), col("l_partkey") == col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("pair_qty"))
    )
    pairs = materialize(pairs)  # feeds part_tot AND qual
    part_tot = pairs.groupBy(col("l_partkey").alias("tk")).agg(
        F.sum("pair_qty").alias("part_qty"),
        F.count("*").alias("n_pairs"),
    )
    qual = (
        pairs.join(F.broadcast(part_tot), col("l_partkey") == col("tk"))
        .filter(col("pair_qty") > lit(1.5) * (col("part_qty") / col("n_pairs")))
        .select("l_suppkey")
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier", ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"])
    n = load_table(spark, sf_dir, "nation", ["n_nationkey", "n_name"]).filter(
        col("n_name").isin("NATION_3", "NATION_7", "NATION_12")
    )
    return (
        s.join(F.broadcast(n), col("s_nationkey") == col("n_nationkey"), "left_semi")
        .join(F.broadcast(qual), col("s_suppkey") == col("l_suppkey"), "left_semi")
        .select("s_name", col("s_acctbal").cast("double").alias("s_acctbal"))
        .orderBy("s_name")
    )
