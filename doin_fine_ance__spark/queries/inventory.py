"""SURVEY §2 operator inventory over the driver's testdata tables.

Each query re-expresses one (or a tight cluster) of the reference's
operators against the TPC-H-ish tables so the driver can hash-match a
DuckDB oracle at sf0.01. Domain mapping used throughout:

- ``orders``/``lineitem`` stand in for transactions (``o_totalprice``/
  ``l_extendedprice`` ≈ amount, ``o_orderdate``/``l_shipdate`` ≈
  transacted_date, ``o_orderpriority``/``o_orderstatus`` ≈ category).
- ``events`` stands in for the import stream (``ts`` ≈
  import_timestamp, ``user_id`` ≈ account_id, ``event_type`` ≈
  description/category).

Numeric discipline for oracle-exact hashing: the testdata money
columns are DOUBLE; both engines cast to DECIMAL(18,2) *before*
aggregating so sums are exact and order-insensitive, and final decimal
outputs are cast to an explicit precision/scale so the schemas agree.
Averages are computed as exact decimal sums cast to DOUBLE and divided
by the count — a single IEEE division on identical inputs is
bit-identical across engines.

Determinism discipline: every row_number/rank/LIMIT is over a *total*
order (unique-key tiebreak appended) so both engines pick the same
rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from ..functions.pg import (
    KEYWORD_PATTERNS,
    amount_bucket,
    ilike,
    month_trunc,
    normalize_account_name,
    pandas_dow,
    pg_asc,
    pg_desc,
)
from ..operators.dedup import latest_wins, reconnection_dedup, rownum_disambiguate
from ..operators.pagination import paginate
from ..session import local_frame
from ..sources.testdata import load_table
from . import query

DEC = "decimal(18,2)"


def _dec(c) -> F.Column:
    return (c if not isinstance(c, str) else col(c)).cast(DEC)


def _sum_dec(c, alias: str) -> F.Column:
    """Exact money sum, driver-canonical output type.

    Cast to decimal BEFORE aggregating (exact, order-insensitive), then
    cast the final sum ONCE to double: pandas turns DuckDB DECIMAL into
    float64, so a Spark DecimalType output hash-mismatches the driver's
    oracle on trailing zeros ('1577.50' vs 1577.5). One correctly-
    rounded decimal→double conversion of the same exact value is
    bit-identical across engines.
    """
    return F.sum(_dec(c)).cast("double").alias(alias)


# ---------------------------------------------------------------------------
# A. Aggregations (SURVEY §2.4)
# ---------------------------------------------------------------------------


@query(
    "a1_monthly_spend_by_category",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           o_orderpriority AS category,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_amount
    FROM orders
    GROUP BY 1, 2
    """,
)
def a1_monthly_spend_by_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (00_getting_started.ipynb cell 6): month × category SUM(amount).

    Plan shape: partial aggregation map-side, single hash-shuffle on the
    (month, category) grouping key — the canonical Spark agg.
    """
    o = load_table(spark, sf_dir, "orders", ["o_orderdate", "o_orderpriority", "o_totalprice"])
    return o.groupBy(
        month_trunc("o_orderdate").alias("month"),
        col("o_orderpriority").alias("category"),
    ).agg(_sum_dec("o_totalprice", "total_amount"))


@query(
    "a2_monthly_net_change",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS net_change
    FROM orders
    WHERE o_orderpriority IS NOT NULL
      AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY 1
    """,
)
def a2_monthly_net_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2+P9 (02_net_change_by_month.ipynb cell 3): filtered monthly SUM.

    Category-not-null + NOT IN (two categories) + date-range filters all
    push to the parquet scan before one hash aggregate.
    """
    o = load_table(spark, sf_dir, "orders", ["o_orderdate", "o_orderpriority", "o_totalprice"])
    return (
        o.filter(
            col("o_orderpriority").isNotNull()
            & ~col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            & (col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz"))
        )
        .groupBy(month_trunc("o_orderdate").alias("month"))
        .agg(_sum_dec("o_totalprice", "net_change"))
    )


@query(
    "a3_yearly_spend_by_category",
    oracle="""
    SELECT CAST(EXTRACT(year FROM l_shipdate) AS INT) AS year,
           l_returnflag AS category,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_amount
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def a3_yearly_spend_by_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 (01_m_and_a_charts.ipynb cells 3,5): year × category SUM."""
    li = load_table(spark, sf_dir, "lineitem", ["l_shipdate", "l_returnflag", "l_extendedprice"])
    return li.groupBy(
        F.year("l_shipdate").cast("int").alias("year"),
        col("l_returnflag").alias("category"),
    ).agg(_sum_dec("l_extendedprice", "total_amount"))


@query(
    "a4_quarterly_spend",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) || 'Q'
             || CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS quarter,
           o_orderstatus AS category,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_amount
    FROM orders
    GROUP BY 1, 2
    """,
)
def a4_quarterly_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 (01_m_and_a_charts.ipynb cell 11): quarter label × category SUM."""
    o = load_table(spark, sf_dir, "orders", ["o_orderdate", "o_orderstatus", "o_totalprice"])
    return o.groupBy(
        F.concat(
            F.year("o_orderdate").cast("int").cast("string"),
            lit("Q"),
            F.quarter("o_orderdate").cast("int").cast("string"),
        ).alias("quarter"),
        col("o_orderstatus").alias("category"),
    ).agg(_sum_dec("o_totalprice", "total_amount"))


@query(
    "a5_pivot_month_by_status",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS status_f,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS status_o,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS status_p
    FROM orders
    GROUP BY 1
    """,
)
def a5_pivot_month_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 (pivot month×category, fill_value=0) — explicit pivot values.

    Spark's ``pivot(col, values)`` with the value list given avoids the
    extra distinct-values job; NULL cells → 0 like pandas fill_value=0.
    """
    o = load_table(spark, sf_dir, "orders", ["o_orderdate", "o_orderstatus", "o_totalprice"])
    pv = (
        o.groupBy(month_trunc("o_orderdate").alias("month"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum(_dec("o_totalprice")))
    )
    return pv.select(
        "month",
        F.coalesce(col("F"), lit(0)).cast(DEC).cast("double").alias("status_f"),
        F.coalesce(col("O"), lit(0)).cast(DEC).cast("double").alias("status_o"),
        F.coalesce(col("P"), lit(0)).cast(DEC).cast("double").alias("status_p"),
    )


@query(
    "a6_count_total",
    oracle="SELECT COUNT(*) AS total_count FROM lineitem WHERE l_discount > 0.05",
)
def a6_count_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: pagination COUNT(*) (transaction_service.py:205-207)."""
    li = load_table(spark, sf_dir, "lineitem", ["l_discount"])
    return li.filter(col("l_discount") > 0.05).agg(F.count("*").alias("total_count"))


@query(
    "a7_distinct_categories",
    oracle="""
    SELECT DISTINCT o_orderpriority AS master_category
    FROM orders
    WHERE o_orderpriority IS NOT NULL AND o_orderpriority <> 'UNCERTAIN'
    ORDER BY 1
    """,
)
def a7_distinct_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 (category_service.py:13-31): DISTINCT + ORDER BY with reserved-name filter."""
    o = load_table(spark, sf_dir, "orders", ["o_orderpriority"])
    return (
        o.filter(col("o_orderpriority").isNotNull() & (col("o_orderpriority") != "UNCERTAIN"))
        .select(col("o_orderpriority").alias("master_category"))
        .distinct()
        .orderBy(pg_asc("master_category"))
    )


@query(
    "a8_connection_health_rollup",
    oracle="""
    SELECT user_id AS account_id,
           MIN(ts) AS oldest_event,
           MAX(ts) AS newest_event,
           COUNT(*) AS event_count,
           datediff('day', CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE)) AS span_days
    FROM events
    GROUP BY user_id
    """,
)
def a8_connection_health_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/A9+F14 (control_center.py:77-128): MIN/MAX/COUNT + date-diff rollup."""
    ev = load_table(spark, sf_dir, "events", ["user_id", "ts"])
    return ev.groupBy(col("user_id").alias("account_id")).agg(
        F.min("ts").alias("oldest_event"),
        F.max("ts").alias("newest_event"),
        F.count("*").alias("event_count"),
        F.datediff(F.max("ts").cast("date"), F.min("ts").cast("date"))
        .cast("bigint")
        .alias("span_days"),
    )


@query(
    "a11_class_distribution",
    oracle="""
    SELECT event_type AS label, COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def a11_class_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 (classifier_train.py:174): value_counts() for the stratify gate."""
    ev = load_table(spark, sf_dir, "events", ["event_type"])
    return ev.groupBy(col("event_type").alias("label")).agg(F.count("*").alias("n"))


@query(
    "a12_cumulative_monthly_net",
    oracle="""
    WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS net_change
      FROM orders GROUP BY 1
    )
    SELECT month, CAST(net_change AS DOUBLE) AS net_change,
           CAST(SUM(net_change) OVER (ORDER BY month
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cumulative_net
    FROM monthly
    """,
)
def a12_cumulative_monthly_net(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 (02_net_change_by_month.ipynb cell 8): running total over months.

    Un-partitioned running sum over ~tens of month rows — fine at any
    scale because it runs on the *aggregated* frame, not raw rows.
    """
    o = load_table(spark, sf_dir, "orders", ["o_orderdate", "o_totalprice"])
    # Keep the monthly sums DECIMAL through the running-sum window (the
    # cumulative decimal addition is exact in both engines regardless of
    # the window implementation's association order); cast to double
    # only at the output boundary.
    monthly = o.groupBy(month_trunc("o_orderdate").alias("month")).agg(
        F.sum(_dec("o_totalprice")).cast(DEC).alias("net_change")
    )
    w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, 0)
    return monthly.select(
        "month",
        col("net_change").cast("double").alias("net_change"),
        F.sum("net_change").over(w).cast("double").alias("cumulative_net"),
    )


@query(
    "a13_prediction_stats",
    oracle="""
    SELECT COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN value >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_confidence,
           CAST(SUM(CASE WHEN value < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_uncertain
    FROM events
    """,
)
def a13_prediction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 (classifier_predict.py:139-142): conditional-count stats."""
    ev = load_table(spark, sf_dir, "events", ["value"])
    return ev.agg(
        F.count("*").alias("n_total"),
        F.sum(F.when(col("value") >= 100, 1).otherwise(0)).alias("n_high_confidence"),
        F.sum(F.when(col("value") < 10, 1).otherwise(0)).alias("n_uncertain"),
    )


# ---------------------------------------------------------------------------
# W. Window dedup operators (SURVEY §2.5)
# ---------------------------------------------------------------------------


@query(
    "w1_latest_import_dedup",
    oracle="""
    SELECT user_id AS account_id, event_id, ts AS import_timestamp, event_type
    FROM (
      SELECT user_id, event_id, ts, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) t WHERE rn = 1
    """,
)
def w1_latest_import_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W3 (stg_simplefin.sql:39-42): latest-wins dedup per key.

    One shuffle partitioned by the dedup key; event_id tiebreak makes
    the winner deterministic under ts ties.
    """
    ev = load_table(spark, sf_dir, "events", ["user_id", "event_id", "ts", "event_type"])
    deduped = latest_wins(
        ev, ["user_id"], [col("ts").desc(), col("event_id").desc()]
    )
    return deduped.select(
        col("user_id").alias("account_id"),
        "event_id",
        col("ts").alias("import_timestamp"),
        "event_type",
    )


@query(
    "w2_rownum_md5_surrogate",
    oracle="""
    SELECT 'HIST_TRN_' || md5(
             event_type || '|' || CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR)
             || '|' || CAST(CAST(ts AS DATE) AS VARCHAR) || '|' || CAST(rn AS VARCHAR)
           ) AS transaction_id,
           event_id
    FROM (
      SELECT event_id, event_type, value, ts,
             row_number() OVER (
               PARTITION BY event_type, CAST(value AS DECIMAL(18,2)), CAST(ts AS DATE)
               ORDER BY ts, event_id
             ) AS rn
      FROM events
    ) t
    """,
)
def w2_rownum_md5_surrogate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2+F3 (stg_historic_trxns.sql:41-60): row_number-disambiguated MD5 id.

    Identical logical rows get distinct stable surrogate ids —
    'HIST_TRN_' || md5(natural-key || ordinal). Decimal-cast before
    stringifying so both engines render '12.30' identically.
    """
    ev = load_table(spark, sf_dir, "events", ["event_id", "event_type", "value", "ts"])
    ev = ev.withColumn("val_dec", _dec("value")).withColumn("day", col("ts").cast("date"))
    numbered = rownum_disambiguate(
        ev,
        ["event_type", "val_dec", "day"],
        [col("ts"), col("event_id")],
        out="rn",
    )
    base = F.concat_ws(
        "|",
        col("event_type"),
        col("val_dec").cast("string"),
        col("day").cast("string"),
        col("rn").cast("string"),
    )
    return numbered.select(
        F.concat(lit("HIST_TRN_"), F.md5(base)).alias("transaction_id"),
        "event_id",
    )


@query(
    "w4_w5_reconnection_dedup",
    oracle="""
    WITH grouped AS (
      SELECT *,
             MAX(ts) OVER (PARTITION BY event_type, CAST(value AS DECIMAL(18,2)),
                           CAST(ts AS DATE), user_id) AS group_last
      FROM events
    ), ranked AS (
      SELECT *,
             dense_rank() OVER (
               PARTITION BY event_type, CAST(value AS DECIMAL(18,2)), CAST(ts AS DATE)
               ORDER BY group_last DESC, user_id
             ) AS dr
      FROM grouped
    )
    SELECT event_id, user_id AS account_id, event_type, ts
    FROM ranked WHERE dr = 1
    """,
)
def w4_w5_reconnection_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4+W5 (stg_simplefin.sql:86-118): two-layer reconnection dedup.

    Logical key = (event_type, amount, day); group key = user_id.
    Keeps every row of the most-recent group per logical key (same-group
    duplicates survive; cross-group ones collapse).
    """
    ev = load_table(spark, sf_dir, "events", ["event_id", "user_id", "event_type", "value", "ts"])
    ev = ev.withColumn("val_dec", _dec("value")).withColumn("day", col("ts").cast("date"))
    kept = reconnection_dedup(
        ev,
        logical_keys=["event_type", "val_dec", "day"],
        group_key="user_id",
        recency="ts",
    )
    return kept.select("event_id", col("user_id").alias("account_id"), "event_type", "ts")


# ---------------------------------------------------------------------------
# P/J. Filters, predicates, joins (SURVEY §2.2–2.3)
# ---------------------------------------------------------------------------


@query(
    "p1_projection_literals",
    oracle="""
    SELECT o_orderkey AS transaction_id,
           o_totalprice AS amount,
           o_orderdate AS transacted_at,
           CAST(NULL AS VARCHAR) AS source_category,
           o_orderpriority AS master_category,
           'simplefin' AS source_name
    FROM orders
    """,
)
def p1_projection_literals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 (int_trxns.sql:13-34): rename + typed NULL + source-tag literals."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        col("o_orderkey").alias("transaction_id"),
        col("o_totalprice").alias("amount"),
        col("o_orderdate").alias("transacted_at"),
        lit(None).cast("string").alias("source_category"),
        col("o_orderpriority").alias("master_category"),
        lit("simplefin").alias("source_name"),
    )


@query(
    "p3_uncategorized_anti_join",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderdate
    FROM orders
    WHERE o_orderstatus = 'O'
      AND o_orderkey NOT IN (
        SELECT l_orderkey FROM lineitem
        WHERE l_returnflag = 'R' AND l_orderkey IS NOT NULL
      )
    """,
)
def p3_uncategorized_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/J7 (fct_trxns_uncategorized.sql:13-21): NOT IN → left_anti join.

    Authored directly as an anti-join so Catalyst never sees a
    correlated subquery; the null-guard of the reference is the
    ``isNotNull`` on the subquery side.
    """
    o = load_table(spark, sf_dir, "orders", ["o_orderkey", "o_totalprice", "o_orderdate", "o_orderstatus"])
    li = load_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_returnflag"])
    returned = li.filter(
        (col("l_returnflag") == "R") & col("l_orderkey").isNotNull()
    ).select("l_orderkey")
    return (
        o.filter(col("o_orderstatus") == "O")
        .join(returned, o.o_orderkey == returned.l_orderkey, "left_anti")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
    )


@query(
    "p4_exclusion_patterns_anti",
    oracle="""
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE NOT EXISTS (
      SELECT 1 FROM (VALUES ('%lorem%'), ('%IPSUM DOLOR%'), ('%consectetur%')) AS p(pattern)
      WHERE d.text ILIKE p.pattern
    )
    """,
)
def p4_exclusion_patterns_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4+F6 (stg_simplefin.sql:51-55): NOT EXISTS ILIKE pattern table.

    The pattern dimension is rows, not literals — joined with a
    broadcast left_anti on the ILIKE expression, exactly how a
    1000-executor cluster wants a tiny pattern table handled.
    """
    d = load_table(spark, sf_dir, "documents", ["doc_id", "text", "lang", "source"])
    patterns = local_frame(
        spark,
        [("%lorem%",), ("%IPSUM DOLOR%",), ("%consectetur%",)], "pattern string"
    )
    joined = d.join(
        F.broadcast(patterns), ilike(d.text, col("pattern")), "left_anti"
    )
    return joined.select("doc_id", "lang", "source")


@query(
    "p6_dynamic_where_search",
    oracle="""
    SELECT event_id, event_type, value
    FROM events
    WHERE event_type ILIKE '%pur%'
      AND (value IS NULL OR value >= 10.0)
    """,
)
def p6_dynamic_where_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 (transaction_service.py:167-202): composable search predicates."""
    ev = load_table(spark, sf_dir, "events", ["event_id", "event_type", "value"])
    return ev.filter(
        ilike(col("event_type"), "%pur%")
        & (col("value").isNull() | (col("value") >= 10.0))
    ).select("event_id", "event_type", "value")


@query(
    "j1_mapping_join_disjunctive",
    oracle="""
    SELECT c.c_custkey,
           c.c_name,
           COALESCE(m.mapped_name, c.c_mktsegment) AS mapped_segment
    FROM customer c
    LEFT JOIN (VALUES
        ('BUILDING', NULL, 'Construction'),
        ('AUTOMOBILE', '', 'Cars'),
        ('MACHINERY', '7', 'Industrial')
      ) AS m(segment, nation_id, mapped_name)
      ON c.c_mktsegment = m.segment
     AND (m.nation_id IS NULL OR m.nation_id = '' OR CAST(c.c_nationkey AS VARCHAR) = m.nation_id)
    """,
)
def j1_mapping_join_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2 (stg_simplefin.sql:44-50): broadcast LEFT join, disjunctive ON.

    equi-key AND (dim-null OR dim-empty OR second-key match), then a
    COALESCE fallback (F1). The dim is rows-small → broadcast hash join,
    no shuffle of the fact side.
    """
    c = load_table(spark, sf_dir, "customer", ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"])
    mapping = local_frame(
        spark,
        [
            ("BUILDING", None, "Construction"),
            ("AUTOMOBILE", "", "Cars"),
            ("MACHINERY", "7", "Industrial"),
        ],
        "segment string, nation_id string, mapped_name string",
    )
    cond = (c.c_mktsegment == mapping.segment) & (
        mapping.nation_id.isNull()
        | (mapping.nation_id == "")
        | (c.c_nationkey.cast("string") == mapping.nation_id)
    )
    return c.join(F.broadcast(mapping), cond, "left").select(
        "c_custkey",
        "c_name",
        F.coalesce(col("mapped_name"), col("c_mktsegment")).alias("mapped_segment"),
    )


@query(
    "j3_override_coalesce_overlay",
    oracle="""
    SELECT o.o_orderkey,
           COALESCE(u.override_priority, o.o_orderpriority) AS master_category,
           COALESCE(u.validated, FALSE) AS validated
    FROM orders o
    LEFT JOIN (
      SELECT o_orderkey AS okey,
             'USER_' || o_orderstatus AS override_priority,
             TRUE AS validated
      FROM orders WHERE o_orderkey % 10 = 0
    ) u ON o.o_orderkey = u.okey
    """,
)
def j3_override_coalesce_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/J5 (transaction_service.py:14-35): user-override overlay.

    LEFT join to the overrides table + COALESCE precedence (user >
    model/source) and a coalesced-false validated flag.
    """
    o = load_table(spark, sf_dir, "orders", ["o_orderkey", "o_orderstatus", "o_orderpriority"])
    overrides = (
        o.filter(col("o_orderkey") % 10 == 0)
        .select(
            col("o_orderkey").alias("okey"),
            F.concat(lit("USER_"), col("o_orderstatus")).alias("override_priority"),
            lit(True).alias("validated"),
        )
    )
    return (
        o.join(overrides, o.o_orderkey == overrides.okey, "left")
        .select(
            "o_orderkey",
            F.coalesce(col("override_priority"), col("o_orderpriority")).alias("master_category"),
            F.coalesce(col("validated"), lit(False)).alias("validated"),
        )
    )


@query(
    "j8_incremental_anti_append",
    oracle="""
    SELECT e.event_id, e.event_type
    FROM events e
    WHERE CAST(e.ts AS DATE) >= DATE '2024-01-15'
      AND e.event_id NOT IN (
        SELECT event_id FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-15'
      )
    """,
)
def j8_incremental_anti_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8/I1 (fct_validated_trxns.sql:13-19): incremental anti-join vs {{this}}.

    New batch = rows whose ids are absent from the existing snapshot —
    the insert-only incremental semantics of the reference.
    """
    ev = load_table(spark, sf_dir, "events", ["event_id", "event_type", "ts"])
    existing = ev.filter(col("ts").cast("date") < lit("2024-01-15").cast("date")).select("event_id")
    incoming = ev.filter(col("ts").cast("date") >= lit("2024-01-15").cast("date"))
    return incoming.join(existing, "event_id", "left_anti").select("event_id", "event_type")


@query(
    "j9_latest_import_per_account",
    oracle="""
    SELECT e.user_id AS account_id, e.event_id, e.ts, e.value
    FROM events e
    INNER JOIN (
      SELECT user_id, MAX(ts) AS max_ts FROM events GROUP BY user_id
    ) m ON e.user_id = m.user_id AND e.ts = m.max_ts
    """,
)
def j9_latest_import_per_account(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 (control_center.py:77-92): greatest-n-per-group via agg join.

    Kept in the reference's join-on-aggregate form (the window form is
    w1); AQE turns the agg side into a broadcast at runtime.
    """
    ev = load_table(spark, sf_dir, "events", ["user_id", "event_id", "ts", "value"]).alias("e")
    latest = (
        load_table(spark, sf_dir, "events", ["user_id", "ts"])
        .groupBy("user_id")
        .agg(F.max("ts").alias("max_ts"))
        .alias("m")
    )
    return ev.join(
        latest,
        (col("e.user_id") == col("m.user_id")) & (col("e.ts") == col("m.max_ts")),
        "inner",
    ).select(col("e.user_id").alias("account_id"), "event_id", "ts", "value")


@query(
    "j10_nullsafe_equality_join",
    oracle="""
    SELECT a.n_nationkey, a.region_name AS region_a, b.n_name AS nation_b
    FROM (
      SELECT n_nationkey, n_name,
             CASE WHEN n_regionkey = 0 THEN NULL ELSE CAST(n_regionkey AS VARCHAR) END AS region_name
      FROM nation
    ) a
    INNER JOIN (
      SELECT n_nationkey, n_name,
             CASE WHEN n_regionkey = 0 THEN NULL ELSE CAST(n_regionkey AS VARCHAR) END AS region_name
      FROM nation
    ) b ON a.region_name IS NOT DISTINCT FROM b.region_name
       AND a.n_nationkey = b.n_nationkey
    """,
)
def j10_nullsafe_equality_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10+F17 (control_center.py:123-126): IS NOT DISTINCT FROM join."""
    n = load_table(spark, sf_dir, "nation")
    derived = n.select(
        "n_nationkey",
        "n_name",
        F.when(col("n_regionkey") == 0, lit(None))
        .otherwise(col("n_regionkey").cast("string"))
        .alias("region_name"),
    )
    a, b = derived.alias("a"), derived.alias("b")
    joined = a.join(
        b,
        col("a.region_name").eqNullSafe(col("b.region_name"))
        & (col("a.n_nationkey") == col("b.n_nationkey")),
        "inner",
    )
    return joined.select(
        col("a.n_nationkey").alias("n_nationkey"),
        col("a.region_name").alias("region_a"),
        col("b.n_name").alias("nation_b"),
    )


# ---------------------------------------------------------------------------
# O/U. Sorts, pagination, top-k, unions (SURVEY §2.6–2.7)
# ---------------------------------------------------------------------------


@query(
    "o1_pagination_offset",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderdate
    FROM orders
    ORDER BY o_orderdate DESC NULLS FIRST, o_orderkey ASC
    LIMIT 50 OFFSET 100
    """,
)
def o1_pagination_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 (validated_transactions.py:107-128): sorted LIMIT/OFFSET page.

    Postgres null ordering (DESC → NULLS FIRST) + unique-key tiebreak →
    total order, so the page is deterministic in both engines.
    """
    o = load_table(spark, sf_dir, "orders", ["o_orderkey", "o_totalprice", "o_orderdate"])
    return paginate(o, [pg_desc("o_orderdate"), pg_asc("o_orderkey")], limit=50, offset=100)


@query(
    "o2_sort_nulls_last_top",
    oracle="""
    SELECT event_id, user_id, value
    FROM events
    ORDER BY value DESC NULLS LAST, event_id ASC
    LIMIT 100
    """,
)
def o2_sort_nulls_last_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 (transaction_service.py:196-213): explicit NULLS LAST sort + limit."""
    ev = load_table(spark, sf_dir, "events", ["event_id", "user_id", "value"])
    return ev.orderBy(col("value").desc_nulls_last(), col("event_id").asc()).limit(100)


@query(
    "o3_latest_one",
    oracle="""
    SELECT event_id, ts, event_type
    FROM events
    ORDER BY ts DESC, event_id DESC
    LIMIT 1
    """,
)
def o3_latest_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 (classifier_predict.py:35-54): ORDER BY ts DESC LIMIT 1."""
    ev = load_table(spark, sf_dir, "events", ["event_id", "ts", "event_type"])
    return ev.orderBy(col("ts").desc(), col("event_id").desc()).limit(1)


@query(
    "o5_top5_categories",
    oracle="""
    SELECT event_type, COUNT(*) AS n
    FROM events
    GROUP BY event_type
    ORDER BY n DESC, event_type ASC
    LIMIT 5
    """,
)
def o5_top5_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 (classifier_train.py:273): top-5 by frequency, name tiebreak."""
    ev = load_table(spark, sf_dir, "events", ["event_type"])
    return (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy(col("n").desc(), col("event_type").asc())
        .limit(5)
    )


@query(
    "u1_union_two_sources",
    oracle="""
    SELECT CAST(o_orderkey AS VARCHAR) AS transaction_id,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS amount,
           'simplefin' AS source_name
    FROM orders WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT 'HIST_' || CAST(o_orderkey AS VARCHAR) AS transaction_id,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS amount,
           'historic' AS source_name
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def u1_union_two_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 (int_trxns.sql:65-70): UNION ALL of two aligned projections."""
    o = load_table(spark, sf_dir, "orders", ["o_orderkey", "o_orderstatus", "o_totalprice"])
    simplefin = o.filter(col("o_orderstatus") == "O").select(
        col("o_orderkey").cast("string").alias("transaction_id"),
        _dec("o_totalprice").cast("double").alias("amount"),
        lit("simplefin").alias("source_name"),
    )
    historic = o.filter(col("o_orderstatus") == "F").select(
        F.concat(lit("HIST_"), col("o_orderkey").cast("string")).alias("transaction_id"),
        _dec("o_totalprice").cast("double").alias("amount"),
        lit("historic").alias("source_name"),
    )
    return simplefin.unionByName(historic)


# ---------------------------------------------------------------------------
# F. Scalar-function surface (SURVEY §2.8) — feature engineering query
# ---------------------------------------------------------------------------


@query(
    "f_feature_engineering",
    oracle="""
    SELECT event_id,
           COALESCE(event_type, '') || ' ' || COALESCE(CAST(user_id AS VARCHAR), '') AS combined_text,
           CASE WHEN regexp_matches(lower(event_type), 'purchase|refund') THEN 1 ELSE 0 END AS has_money_keyword,
           CAST(abs(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS amount_abs,
           CASE WHEN value < 0 THEN 1 ELSE 0 END AS is_negative,
           CASE WHEN abs(value) IS NULL THEN 5
                WHEN abs(value) <= 10 THEN 0
                WHEN abs(value) <= 50 THEN 1
                WHEN abs(value) <= 100 THEN 2
                WHEN abs(value) <= 500 THEN 3
                ELSE 4 END AS amount_bucket,
           CAST((dayofweek(ts) + 6) % 7 AS INT) AS day_of_week,
           CAST(EXTRACT(month FROM ts) AS INT) AS month,
           CAST(EXTRACT(day FROM ts) AS INT) AS day_of_month,
           regexp_replace(trim(event_type || ' (123)'), '\\s*\\([0-9]+\\)\\s*$', '') AS normalized_name,
           CAST(ts AS DATE) AS event_date,
           datediff('day', CAST(ts AS DATE), DATE '2025-01-01') AS days_until_2025
    FROM events
    """,
)
def f_feature_engineering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F14 sampler (int_trxns_features.sql): the scalar-function surface.

    coalesce/concat (F1-F2), case-insensitive keyword regex (F4),
    normalization regexp_replace (F5), casts (F7), pandas DOW remap
    (F10), abs/sign (F12), amount buckets (F13), date arithmetic (F14).
    All JVM-side built-ins — whole-stage codegen, no Python in the path.
    """
    ev = load_table(spark, sf_dir, "events", ["event_id", "event_type", "user_id", "value", "ts"])
    return ev.select(
        "event_id",
        F.concat(
            F.coalesce(col("event_type"), lit("")),
            lit(" "),
            F.coalesce(col("user_id").cast("string"), lit("")),
        ).alias("combined_text"),
        F.when(F.lower(col("event_type")).rlike("purchase|refund"), 1)
        .otherwise(0)
        .alias("has_money_keyword"),
        F.abs(_dec("value")).cast("double").alias("amount_abs"),
        F.when(col("value") < 0, 1).otherwise(0).alias("is_negative"),
        amount_bucket("value").alias("amount_bucket"),
        pandas_dow("ts").alias("day_of_week"),
        F.month("ts").cast("int").alias("month"),
        F.dayofmonth("ts").cast("int").alias("day_of_month"),
        normalize_account_name(F.concat(col("event_type"), lit(" (123)"))).alias("normalized_name"),
        col("ts").cast("date").alias("event_date"),
        F.datediff(lit("2025-01-01").cast("date"), col("ts").cast("date"))
        .cast("bigint")
        .alias("days_until_2025"),
    )


@query(
    "f8_f9_timestamp_conversions",
    oracle="""
    SELECT event_id,
           to_timestamp(CAST(floor(epoch(ts)) AS BIGINT)) AT TIME ZONE 'UTC' AS posted_ts,
           strptime('01/15/2024', '%m/%d/%Y')::DATE AS parsed_date,
           CASE WHEN '' = '' THEN NULL ELSE strptime('', '%m/%d/%Y')::DATE END AS empty_guard_date
    FROM events
    """,
)
def f8_f9_timestamp_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8/F9 (stg_simplefin.sql:31-33, stg_historic_trxns.sql:81-84).

    epoch-seconds → timestamp round-trip and MM/DD/YYYY parsing with the
    empty-string guard.
    """
    ev = load_table(spark, sf_dir, "events", ["event_id", "ts"])
    epoch = F.unix_timestamp(col("ts").cast("timestamp")).cast("bigint")
    return ev.select(
        "event_id",
        F.timestamp_seconds(epoch).cast("timestamp_ntz").alias("posted_ts"),
        F.to_date(lit("01/15/2024"), "MM/dd/yyyy").alias("parsed_date"),
        F.when(lit("") == "", lit(None).cast("date"))
        .otherwise(F.to_date(lit(""), "MM/dd/yyyy"))
        .alias("empty_guard_date"),
    )


@query(
    "f16_array_membership",
    oracle="""
    SELECT o_orderkey, o_orderstatus
    FROM orders
    WHERE o_orderkey IN (1, 2, 3, 5, 8, 13, 21, 34, 55, 89)
    """,
)
def f16_array_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16 (classifier_predict.py:158-159): = ANY(ids) membership."""
    o = load_table(spark, sf_dir, "orders", ["o_orderkey", "o_orderstatus"])
    return o.filter(col("o_orderkey").isin([1, 2, 3, 5, 8, 13, 21, 34, 55, 89])).select(
        "o_orderkey", "o_orderstatus"
    )


@query(
    "m7_calibration_curve",
    oracle="""
    SELECT CAST(floor(least(value, 199.999) / 20) AS INT) AS confidence_bin,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS DOUBLE) AS mean_value,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS frac_purchase
    FROM events
    GROUP BY 1
    """,
)
def m7_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7 (classifier_train.py:271-290): calibration-curve binning agg.

    floor-bucket the confidence proxy into uniform bins, then per-bin
    mean predicted vs observed rate. Mean = exact decimal sum → double ÷
    count (single IEEE op, engine-identical).
    """
    ev = load_table(spark, sf_dir, "events", ["event_type", "value"])
    binned = ev.withColumn(
        "confidence_bin",
        F.floor(F.least(col("value"), lit(199.999)) / 20).cast("int"),
    )
    return binned.groupBy("confidence_bin").agg(
        F.count("*").alias("n"),
        (F.sum(_dec("value")).cast("double") / F.count("*")).alias("mean_value"),
        (
            F.sum(F.when(col("event_type") == "purchase", 1).otherwise(0)).cast("double")
            / F.count("*")
        ).alias("frac_purchase"),
    )


@query(
    "a9_data_range_check",
    oracle="""
    SELECT user_id,
           CAST(MIN(ts) AS TIMESTAMP) AS oldest,
           CAST(MAX(ts) AS TIMESTAMP) AS newest,
           COUNT(*) AS n_events,
           date_diff('day', CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE)) AS span_days
    FROM events
    GROUP BY user_id
    """,
)
def a9_data_range_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 (3_TEST_COMMANDS.md:68-84): per-account data-range audit —
    MIN/MAX timestamps, row count, and day-span via date arithmetic
    (F14). One partial-agg exchange on user_id."""
    ev = load_table(spark, sf_dir, "events", ["user_id", "ts"])
    return ev.groupBy("user_id").agg(
        F.min("ts").alias("oldest"),
        F.max("ts").alias("newest"),
        F.count("*").alias("n_events"),
        F.datediff(F.to_date(F.max("ts")), F.to_date(F.min("ts"))).alias("span_days"),
    )


@query("a_approx_distinct_users")
def a_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates (beyond-reference, the 100 TB defaults):
    HyperLogLog++ distinct count + quantile sketch per event type.

    Rows-only check (sketches are engine-specific by construction);
    tests/test_operators_extra.py pins HLL error < 5% vs exact and
    percentile_approx against the exact median. At 100 TB these replace
    a_count_distinct_users' exact expand-agg: one pass, fixed memory,
    mergeable partial sketches.
    """
    ev = load_table(spark, sf_dir, "events", ["event_type", "user_id", "value"])
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.percentile_approx("value", 0.5, 10000).alias("approx_median_value"),
        F.count("*").alias("n_events"),
    )


@query(
    "a_exact_percentiles",
    oracle="""
    SELECT o_orderstatus,
           quantile_cont(o_totalprice, 0.25) AS p25,
           quantile_cont(o_totalprice, 0.5) AS median,
           quantile_cont(o_totalprice, 0.75) AS p75,
           quantile_cont(o_totalprice, 0.9) AS p90
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def a_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per group (median/IQR/p90) — the ordered-set
    aggregate family (percentile_cont WITHIN GROUP).

    Both engines linearly interpolate between adjacent order
    statistics, and the arithmetic ((1-f)*lo + f*hi on doubles) is
    IEEE-identical, so the probe is hash-exact. Scale note: Spark's
    exact `percentile` holds a per-group value multiset — fine for
    bounded groups like this; at 100 TB with huge groups the default
    is the approx_percentile sketch, whose GK rank-error bound is
    measured by tools/quantile_error.py (QUANTILE_ERROR_r09.json +
    tests/test_operators_extra.py floor).
    """
    o = load_table(spark, sf_dir, "orders", ["o_orderstatus", "o_totalprice"])
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.expr("percentile(o_totalprice, 0.25)").alias("p25"),
            F.expr("percentile(o_totalprice, 0.5)").alias("median"),
            F.expr("percentile(o_totalprice, 0.75)").alias("p75"),
            F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
        )
        .orderBy("o_orderstatus")
    )
