"""Core relational operators (SURVEY.md §2.2-2.9) on the test corpus.

Each operator is a composable DataFrame function; the `q_*` wrappers take
(spark, sf_dir) and are registered in __spark_entry__.queries() with a
DuckDB oracle twin (ORACLES below). Reference sites cited per function.

Scale notes baked into every plan:
- dims (part/customer/nation/supplier/region) are broadcast — at 100 TB the
  fact side (lineitem/orders) never shuffles for a dim join;
- fact⋈fact (lineitem⋈orders) shuffles on the join key once and AQE handles
  skew/coalescing;
- aggregates are declarative groupBy → Catalyst plans partial (map-side) +
  final hash aggregation automatically;
- money sums go through DECIMAL (see functions.numeric) so results are
  order-independent → identical on 1 or 1000 executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.numeric import money_sum, money_sum_sql


# ---------------------------------------------------------------------------
# Flagship: product_facts star (A1 + J2 + F1-F3)
# Reference: CTAS product_facts LoadDataWarehouse.ChatterjeeP.R:90-104
#   SUM(sale_amount) GROUP BY product_name, year, quarter, region over
#   salestxn ⋈ products ⋈ customers.
# Corpus reshape: lineitem ⋈ orders ⋈ part ⋈ customer ⋈ nation,
#   region := n_name, year/quarter from o_orderdate.
# ---------------------------------------------------------------------------

def product_facts(lineitem: DataFrame, orders: DataFrame, part: DataFrame,
                  customer: DataFrame, nation: DataFrame) -> DataFrame:
    return (
        lineitem
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)  # fact⋈fact: shuffle on orderkey
        .join(F.broadcast(part.select("p_partkey", "p_name")),
              lineitem.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")),
              orders.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("p_name").alias("product_name"),
            F.year("o_orderdate").alias("year"),
            F.quarter("o_orderdate").alias("quarter"),
            F.col("n_name").alias("region"),
        )
        .agg(money_sum("l_extendedprice", "total_sold"))
    )


def q_product_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return product_facts(
        load_table(spark, sf_dir, "lineitem", spread=True),
        load_table(spark, sf_dir, "orders", spread=True),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


SQL_PRODUCT_FACTS = f"""
SELECT p.p_name AS product_name,
       CAST(year(o.o_orderdate) AS INT) AS year,
       CAST(quarter(o.o_orderdate) AS INT) AS quarter,
       n.n_name AS region,
       {money_sum_sql('l.l_extendedprice', 'total_sold')}
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN part p     ON l.l_partkey = p.p_partkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
GROUP BY 1, 2, 3, 4
"""


# ---------------------------------------------------------------------------
# SQL front-end: the same star query submitted as literal ANSI SQL through
# spark.sql over registered views (S12's CTAS text ports verbatim, SURVEY
# §3.2). The SQL string is dialect-shared — the oracle runs the identical
# text in DuckDB.
# ---------------------------------------------------------------------------

def q_product_facts_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(SQL_PRODUCT_FACTS)


# ---------------------------------------------------------------------------
# rep_facts star (A2 + J3): SUM GROUP BY 5 keys.
# Reference: CTAS rep_facts LoadDataWarehouse.ChatterjeeP.R:118-133
#   (first_name, last_name, year, quarter, product_name).
# Corpus reshape: supplier plays the rep dimension.
# ---------------------------------------------------------------------------

def rep_facts(lineitem: DataFrame, supplier: DataFrame, part: DataFrame) -> DataFrame:
    return (
        lineitem
        .join(F.broadcast(supplier.select("s_suppkey", "s_name")),
              lineitem.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(part.select("p_partkey", "p_name")),
              lineitem.l_partkey == F.col("p_partkey"))
        .groupBy(
            F.col("s_name").alias("rep_name"),
            F.year("l_shipdate").alias("year"),
            F.quarter("l_shipdate").alias("quarter"),
            F.col("p_name").alias("product_name"),
        )
        .agg(money_sum("l_extendedprice", "total_sold"))
    )


def q_rep_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rep_facts(
        load_table(spark, sf_dir, "lineitem", spread=True),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "part"),
    )


SQL_REP_FACTS = f"""
SELECT s.s_name AS rep_name,
       CAST(year(l.l_shipdate) AS INT) AS year,
       CAST(quarter(l.l_shipdate) AS INT) AS quarter,
       p.p_name AS product_name,
       {money_sum_sql('l.l_extendedprice', 'total_sold')}
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN part p     ON l.l_partkey = p.p_partkey
GROUP BY 1, 2, 3, 4
"""


# ---------------------------------------------------------------------------
# Quarterly totals re-aggregation (A4 + P3).
# Reference: SUM(total_sold) GROUP BY quarter WHERE year = 2020,
#   LoadDataWarehouse.ChatterjeeP.R:142-152.
# ---------------------------------------------------------------------------

def quarterly_totals(facts: DataFrame, year: int) -> DataFrame:
    return (
        facts.filter(F.col("year") == year)
        .groupBy("quarter")
        .agg(F.sum(F.col("total_sold").cast("decimal(28,2)")).cast("double").alias("total"))
    )


def q_quarterly_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quarterly_totals(q_product_facts(spark, sf_dir), 1996)


SQL_QUARTERLY_TOTALS = f"""
SELECT quarter, CAST(SUM(CAST(total_sold AS DECIMAL(28,2))) AS DOUBLE) AS total
FROM ({SQL_PRODUCT_FACTS}) pf
WHERE year = 1996
GROUP BY quarter
"""


# ---------------------------------------------------------------------------
# Conjunctive filter (P3 + P4).
# Reference: WHERE year = 2020 AND product_name = 'Alaraphosol',
#   LoadDataWarehouse.ChatterjeeP.R:166-168.
# ---------------------------------------------------------------------------

def q_filter_conjunction(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        lineitem
        .filter((F.year("l_shipdate") == 1996) & (F.col("l_returnflag") == "R"))
        .join(F.broadcast(part.select("p_partkey", "p_brand")), lineitem.l_partkey == F.col("p_partkey"))
        .filter(F.col("p_brand") == "Brand#1")
        .groupBy(F.quarter("l_shipdate").alias("quarter"))
        .agg(
            money_sum("l_extendedprice", "total_sold"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )


SQL_FILTER_CONJUNCTION = f"""
SELECT CAST(quarter(l.l_shipdate) AS INT) AS quarter,
       {money_sum_sql('l.l_extendedprice', 'total_sold')},
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE year(l.l_shipdate) = 1996 AND l.l_returnflag = 'R' AND p.p_brand = 'Brand#1'
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Top-1 by aggregate (O1): best product of the year.
# Reference: ORDER BY total_sold DESC LIMIT 1,
#   LoadDataWarehouse.ChatterjeeP.R:179-196.
# Deterministic tiebreak on product_name (Spark plans TakeOrderedAndProject —
# no full sort materialization at scale).
# ---------------------------------------------------------------------------

def q_top1_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13: built on an UNSPREAD star — unlike q_product_facts (full-table
    # aggregate, spread wins 0.9x), this query's year-1996 pushdown leaves
    # the pre-exchange scan work light and the inherited spread measured
    # 1.6-1.8x slower (interleaved A/B + bench); same result either way.
    facts = product_facts(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )
    return (
        facts.filter(F.col("year") == 1996)
        .groupBy("product_name")
        .agg(F.sum(F.col("total_sold").cast("decimal(28,2)")).cast("double").alias("total_sold"))
        .orderBy(F.desc("total_sold"), F.asc("product_name"))
        .limit(1)
    )


SQL_TOP1_PRODUCT = f"""
SELECT product_name, CAST(SUM(CAST(total_sold AS DECIMAL(28,2))) AS DOUBLE) AS total_sold
FROM ({SQL_PRODUCT_FACTS}) pf
WHERE year = 1996
GROUP BY product_name
ORDER BY total_sold DESC, product_name ASC
LIMIT 1
"""


# ---------------------------------------------------------------------------
# Top-5 multi-key sort (O2).
# Reference: ORDER BY year DESC, total_sales DESC LIMIT 5,
#   AnalyzeData.ChatterjeeP.Rmd:38-44.
# ---------------------------------------------------------------------------

def q_top5_rep_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    facts = q_rep_facts(spark, sf_dir)
    return (
        facts.groupBy("rep_name", "year")
        .agg(F.sum(F.col("total_sold").cast("decimal(28,2)")).cast("double").alias("total_sales"))
        .orderBy(F.desc("year"), F.desc("total_sales"), F.asc("rep_name"))
        .limit(5)
    )


SQL_TOP5_REP_YEARS = f"""
SELECT rep_name, year, CAST(SUM(CAST(total_sold AS DECIMAL(28,2))) AS DOUBLE) AS total_sales
FROM ({SQL_REP_FACTS}) rf
GROUP BY rep_name, year
ORDER BY year DESC, total_sales DESC, rep_name ASC
LIMIT 5
"""


# ---------------------------------------------------------------------------
# Anti join (P5 semantics: NOT IN dedup guard, LoadXML2DB.ChatterjeeP.R:119,131)
# expressed at scale as a left-anti join (no driver-side membership set).
# ---------------------------------------------------------------------------

def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


SQL_CUSTOMERS_WITHOUT_ORDERS = """
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


# ---------------------------------------------------------------------------
# Semi join twin (customers WITH orders).
# ---------------------------------------------------------------------------

def q_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


SQL_CUSTOMERS_WITH_ORDERS = """
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


# ---------------------------------------------------------------------------
# First-occurrence dedup (A3): keep the first row per key in a defined order.
# Reference: membership-checked accumulation keeps the first sighting per
#   customer_name / product_name, LoadXML2DB.ChatterjeeP.R:112-135.
# Spark: window row_number over an explicit order column — the reference's
#   implicit "file order" becomes an explicit, scalable sort key.
# ---------------------------------------------------------------------------

def first_occurrence(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def q_first_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return first_occurrence(orders, ["o_custkey"], ["o_orderdate", "o_orderkey"]).select(
        "o_custkey", F.col("o_orderkey").alias("first_orderkey")
    )


SQL_FIRST_ORDER_PER_CUSTOMER = """
SELECT o_custkey, first_orderkey
FROM (
  SELECT o_custkey, o_orderkey AS first_orderkey,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
) t
WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Dense surrogate keys (W1): 1..N in a deterministic order.
# Reference: customer_id <- seq_len(nrow(df)), LoadXML2DB.ChatterjeeP.R:138,142.
# Window over a global order — correct for dimensions (small); documented
# caveat: for billion-row keys use monotonically_increasing_id / zipWithIndex.
# ---------------------------------------------------------------------------

def surrogate_keys(df: DataFrame, order_cols: list[str], key_name: str) -> DataFrame:
    w = Window.orderBy(*order_cols)
    return df.withColumn(key_name, F.row_number().over(w).cast("int"))


def q_product_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    dim = part.select("p_name").distinct()
    return surrogate_keys(dim, ["p_name"], "product_sk").select("product_sk", "p_name")


SQL_PRODUCT_SURROGATE_KEYS = """
SELECT CAST(row_number() OVER (ORDER BY p_name) AS INT) AS product_sk, p_name
FROM (SELECT DISTINCT p_name FROM part) d
"""


# ---------------------------------------------------------------------------
# Lookup join with miss→NULL (J1).
# Reference: named-vector dictionary lookup, NA on miss,
#   LoadXML2DB.ChatterjeeP.R:170-171,186-187 → broadcast LEFT join.
# ---------------------------------------------------------------------------

def lookup_join(fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str) -> DataFrame:
    return fact.join(F.broadcast(dim), fact[fact_key] == dim[dim_key], "left")


def q_lookup_join_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    small_dim = part.filter(F.col("p_partkey") < 50).select("p_partkey", "p_name")
    joined = lookup_join(lineitem, small_dim, "l_partkey", "p_partkey")
    return joined.groupBy(
        F.col("p_name").isNotNull().alias("resolved")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


SQL_LOOKUP_JOIN_NULLS = """
SELECT p.p_name IS NOT NULL AS resolved, CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem l
LEFT JOIN (SELECT p_partkey, p_name FROM part WHERE p_partkey < 50) p
  ON l.l_partkey = p.p_partkey
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Bag-semantics UNION ALL (U1).
# Reference: 6 appends preserving duplicates (11,060 rows / 4,000 distinct),
#   LoadXML2DB.ChatterjeeP.R:198,248,299,350,401,452.
# ---------------------------------------------------------------------------

def q_union_all_bag(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderkey") % 2 == 0)
    b = orders.filter(F.col("o_orderkey") % 3 == 0)
    bag = a.unionByName(b)  # bag semantics: rows in both parts stay duplicated
    return bag.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("o_orderkey").cast("long").alias("n_distinct"),
    )


SQL_UNION_ALL_BAG = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct
FROM (
  SELECT * FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT * FROM orders WHERE o_orderkey % 3 = 0
) bag
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Key repair (M1): UPDATE salestxn SET rep_id = CONCAT('r', rep_id),
#   LoadDataWarehouse.ChatterjeeP.R:112-115.
# Spark tables are immutable → re-derive the column, then join the repaired
# key against the dim (the reference's rep_facts depends on this ordering).
# ---------------------------------------------------------------------------

def repair_key(df: DataFrame, col: str, prefix: str) -> DataFrame:
    return df.withColumn(col, F.concat(F.lit(prefix), F.col(col).cast("string")))


def q_key_repair_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    # dim carries prefixed ids; fact carries bare numeric ids (as in pharma)
    dim = supplier.select(
        F.concat(F.lit("r"), F.col("s_suppkey").cast("string")).alias("rep_id"),
        F.col("s_name").alias("rep_name"),
    )
    fact = lineitem.select(F.col("l_suppkey").cast("string").alias("rep_id"), "l_extendedprice")
    repaired = repair_key(fact, "rep_id", "r")
    return (
        repaired.join(F.broadcast(dim), "rep_id")
        .groupBy("rep_id", "rep_name")
        .agg(money_sum("l_extendedprice", "total_sold"))
    )


SQL_KEY_REPAIR_JOIN = f"""
WITH dim AS (
  SELECT 'r' || CAST(s_suppkey AS VARCHAR) AS rep_id, s_name AS rep_name FROM supplier
), fact AS (
  SELECT 'r' || CAST(l_suppkey AS VARCHAR) AS rep_id, l_extendedprice FROM lineitem
)
SELECT f.rep_id, d.rep_name, {money_sum_sql('f.l_extendedprice', 'total_sold')}
FROM fact f JOIN dim d ON f.rep_id = d.rep_id
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# ROLLUP (A4 generalized): the reference hand-rolls one-level rollups from
# its summary tables (LoadDataWarehouse.ChatterjeeP.R:142-215); Spark's
# rollup() is the idiomatic generalization.
# ---------------------------------------------------------------------------

def q_rollup_year_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup(F.year("o_orderdate").alias("year"), F.quarter("o_orderdate").alias("quarter"))
        .agg(money_sum("o_totalprice", "total"))
    )


SQL_ROLLUP_YEAR_QUARTER = f"""
SELECT CAST(year(o_orderdate) AS INT) AS year,
       CAST(quarter(o_orderdate) AS INT) AS quarter,
       {money_sum_sql('o_totalprice', 'total')}
FROM orders
GROUP BY ROLLUP (year(o_orderdate), quarter(o_orderdate))
"""


# ---------------------------------------------------------------------------
# Ranking window (engine surface beyond the reference's ORDER BY+LIMIT top-k;
# SURVEY.md §2.5 notes we inherit Spark's full window surface).
# ---------------------------------------------------------------------------

def q_top3_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    totals = (
        lineitem.join(F.broadcast(part.select("p_partkey", "p_brand", "p_name")),
                      lineitem.l_partkey == F.col("p_partkey"))
        .groupBy("p_brand", "p_name")
        .agg(money_sum("l_extendedprice", "total_sold"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("total_sold"), F.asc("p_name"))
    return (
        totals.withColumn("rnk", F.rank().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("p_brand", "p_name", "total_sold", "rnk")
    )


SQL_TOP3_PARTS_PER_BRAND = f"""
WITH totals AS (
  SELECT p.p_brand, p.p_name, {money_sum_sql('l.l_extendedprice', 'total_sold')}
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
)
SELECT p_brand, p_name, total_sold,
       CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, rank() OVER (PARTITION BY p_brand ORDER BY total_sold DESC, p_name ASC) AS rnk
  FROM totals
) t
WHERE rnk <= 3
"""


# ---------------------------------------------------------------------------
# Date-string parsing round-trip (F1-F3).
# Reference: STR_TO_DATE(st.sale_date, '%m/%d/%Y') on non-zero-padded
#   M/D/YYYY strings, LoadDataWarehouse.ChatterjeeP.R:94-95,123-124.
# ---------------------------------------------------------------------------

def q_date_parse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # materialize the pharma-style string form, then parse it back
    return (
        orders.select(
            "o_orderkey",
            F.date_format("o_orderdate", "M/d/yyyy").alias("date_str"),
        )
        .select(
            "o_orderkey",
            "date_str",
            F.year(F.to_date("date_str", "M/d/yyyy")).alias("year"),
            F.quarter(F.to_date("date_str", "M/d/yyyy")).alias("quarter"),
        )
    )


SQL_DATE_PARSE_ROUNDTRIP = """
SELECT o_orderkey,
       strftime(o_orderdate, '%-m/%-d/%Y') AS date_str,
       CAST(year(strptime(strftime(o_orderdate, '%-m/%-d/%Y'), '%-m/%-d/%Y')) AS INT) AS year,
       CAST(quarter(strptime(strftime(o_orderdate, '%-m/%-d/%Y'), '%-m/%-d/%Y')) AS INT) AS quarter
FROM orders
"""


# ---------------------------------------------------------------------------
# Counts (A6): xmlSize / nrow equivalents.
# ---------------------------------------------------------------------------

def q_corpus_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("l_orderkey").cast("long").alias("n_orders"),
    )


SQL_CORPUS_COUNTS = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
FROM lineitem
"""


# ---------------------------------------------------------------------------
# Full-outer reconciliation: customers x their order counts, keeping both
# customers without orders and (hypothetical) orphan orders — the audit-join
# shape. Completes the join surface beyond the reference's inner/left forms.
# ---------------------------------------------------------------------------

def q_full_outer_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    return (
        customer.select("c_custkey", "c_name")
        .join(per_cust, F.col("c_custkey") == F.col("o_custkey"), "full_outer")
        .select(
            "c_custkey",
            "c_name",
            "o_custkey",
            F.coalesce(F.col("n_orders"), F.lit(0)).cast("long").alias("n_orders"),
        )
    )


SQL_FULL_OUTER_RECONCILIATION = """
SELECT c.c_custkey, c.c_name, o.o_custkey,
       CAST(COALESCE(o.n_orders, 0) AS BIGINT) AS n_orders
FROM customer c
FULL OUTER JOIN (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders FROM orders GROUP BY 1
) o ON c.c_custkey = o.o_custkey
"""


# ---------------------------------------------------------------------------
# Set operations: INTERSECT / EXCEPT over distinct customer keys by order
# status (the reference has only UNION ALL, U1).
# ---------------------------------------------------------------------------

def q_status_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    open_c = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    done_c = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    both = open_c.intersect(done_c).withColumn("set_op", F.lit("both"))
    # subtract == EXCEPT DISTINCT (exceptAll keeps per-copy survivors — bag)
    only_open = open_c.distinct().subtract(done_c).withColumn("set_op", F.lit("open_only"))
    return both.unionByName(only_open).select("set_op", "o_custkey")


SQL_STATUS_SET_OPS = """
SELECT 'both' AS set_op, o_custkey FROM (
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
  INTERSECT
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
) a
UNION ALL
SELECT 'open_only' AS set_op, o_custkey FROM (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
  EXCEPT
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
) b
"""


# ---------------------------------------------------------------------------
# XML scan round-trips (r7): S1-S4 driver-verified. Until now the XML
# source family was exercised only by local pharma goldens (pass-local
# in every verdict's coverage table). These two queries close that: a
# deterministic XML corpus is built FROM the orders table (one <txn>
# per order — status attribute, nested customer element, decimal price
# text), then scanned back with (a) the NATIVE distributed XML source
# and (b) the wholetext+xpath fallback, and aggregated. The oracle
# computes the identical aggregate from the orders parquet — a dropped
# record, a garbled attribute, or a mis-nested element diverges the
# count/sum/distincts. EAGER at build: one write job materializes the
# corpus (same class as the CoW fixture builds, registry.py
# eager-execution note).
# ---------------------------------------------------------------------------


def _orders_xml_corpus(spark: SparkSession, sf_dir: str) -> str:
    import os as _os

    from ..sources.xml import write_xml_shards
    from .pin import scratch_dir

    orders = load_table(spark, sf_dir, "orders", spread=True).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    records = orders.select(
        F.concat(
            F.lit('<txn status="'), F.col("o_orderstatus"),
            F.lit('"><okey>'), F.col("o_orderkey").cast("string"),
            F.lit("</okey><customer><ckey>"), F.col("o_custkey").cast("string"),
            F.lit("</ckey></customer><price>"),
            F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
            F.lit("</price></txn>"),
        ).alias("value")
    )
    out = _os.path.join(scratch_dir("xml_corpus_"), "txns")
    write_xml_shards(records, out, n_files=8)
    return out


def _xml_roundtrip_agg(df: DataFrame) -> DataFrame:
    return df.agg(
        F.count(F.lit(1)).alias("n_txns"),
        money_sum(F.col("price").cast("decimal(18,2)"), "total_price"),
        F.countDistinct("ckey").cast("long").alias("n_customers"),
        F.countDistinct("status").cast("long").alias("n_statuses"),
    )


def q_xml_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S2+S3 end-to-end: native distributed XML shred (attribute ->
    `_status`, nested customer struct) must reproduce the parquet
    aggregate exactly."""
    from ..sources.xml import read_xml

    corpus = _orders_xml_corpus(spark, sf_dir)
    df = read_xml(spark, corpus, "txn").select(
        F.col("_status").alias("status"),
        F.col("customer.ckey").alias("ckey"),
        F.col("price"),
    )
    return _xml_roundtrip_agg(df)


def q_xml_xpath_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 (descendant XPath) via the fallback reader on the SAME corpus:
    wholetext + regex record split + xpath_string extraction — the
    no-native-source survival path, held to the identical aggregate."""
    from ..sources.xml import read_xml_xpath

    corpus = _orders_xml_corpus(spark, sf_dir)
    df = read_xml_xpath(
        spark,
        f"{corpus}/part-*",
        "txn",
        {
            "status": "txn/@status",
            "ckey": "txn//ckey",  # descendant axis: nested one level down
            "price": "txn/price",
        },
    )
    return _xml_roundtrip_agg(df)


SQL_XML_ROUNDTRIP = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_txns,
       {money_sum_sql("o_totalprice", "total_price")},
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses
FROM orders
"""


def q_xml_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5's STREAMING twin (r8): the reference's multi-file ordered
    append loop (LoadXML2DB.ChatterjeeP.R:198..452) as a Structured
    Streaming file stream — the orders-derived XML shards are staged
    with pinned mtimes, readStream.format("xml") delivers one file per
    micro-batch, and foreachBatch appends each with (file_idx, seq)
    order columns (sources/xml.stream_xml_files_ordered). The aggregate
    over the drained sink is held to the SAME parquet oracle as the
    batch scan: stream/batch parity IS the check (equivalence with
    read_xml_files_ordered on every field, file_idx and seq is pinned in
    tests/test_xml_sources.py; one partition per micro-batch stands in
    for the batch reader's per-row split check). EAGER at build: stages
    files and drains the stream (registry.py eager-execution note)."""
    import os as _os

    from pyspark.sql import types as T

    from ..sources.xml import stream_xml_files_ordered
    from .pin import scratch_dir

    corpus = _orders_xml_corpus(spark, sf_dir)
    paths = sorted(
        _os.path.join(corpus, f) for f in _os.listdir(corpus) if f.startswith("part-")
    )
    schema = T.StructType(
        [
            T.StructField("_status", T.StringType()),
            T.StructField("okey", T.LongType()),
            T.StructField(
                "customer",
                T.StructType([T.StructField("ckey", T.LongType())]),
            ),
            T.StructField("price", T.StringType()),
        ]
    )
    streamed = stream_xml_files_ordered(
        spark, paths, "txn", schema, scratch_dir("xml_stream_")
    )
    return _xml_roundtrip_agg(
        streamed.select(
            F.col("_status").alias("status"),
            F.col("customer.ckey").alias("ckey"),
            F.col("price"),
        )
    )


QUERIES = {
    "xml_scan_roundtrip": q_xml_scan_roundtrip,
    "xml_xpath_roundtrip": q_xml_xpath_roundtrip,
    "xml_stream_ingest": q_xml_stream_ingest,
    "product_facts": q_product_facts,
    "product_facts_sql": q_product_facts_sql,
    "full_outer_reconciliation": q_full_outer_reconciliation,
    "status_set_ops": q_status_set_ops,
    "rep_facts": q_rep_facts,
    "quarterly_totals": q_quarterly_totals,
    "filter_conjunction": q_filter_conjunction,
    "top1_product": q_top1_product,
    "top5_rep_years": q_top5_rep_years,
    "customers_without_orders": q_customers_without_orders,
    "customers_with_orders": q_customers_with_orders,
    "first_order_per_customer": q_first_order_per_customer,
    "product_surrogate_keys": q_product_surrogate_keys,
    "lookup_join_nulls": q_lookup_join_nulls,
    "union_all_bag": q_union_all_bag,
    "key_repair_join": q_key_repair_join,
    "rollup_year_quarter": q_rollup_year_quarter,
    "top3_parts_per_brand": q_top3_parts_per_brand,
    "date_parse_roundtrip": q_date_parse_roundtrip,
    "corpus_counts": q_corpus_counts,
}

ORACLES = {
    "xml_scan_roundtrip": SQL_XML_ROUNDTRIP,
    "xml_xpath_roundtrip": SQL_XML_ROUNDTRIP,
    "xml_stream_ingest": SQL_XML_ROUNDTRIP,
    "product_facts": SQL_PRODUCT_FACTS,
    "product_facts_sql": SQL_PRODUCT_FACTS,
    "full_outer_reconciliation": SQL_FULL_OUTER_RECONCILIATION,
    "status_set_ops": SQL_STATUS_SET_OPS,
    "rep_facts": SQL_REP_FACTS,
    "quarterly_totals": SQL_QUARTERLY_TOTALS,
    "filter_conjunction": SQL_FILTER_CONJUNCTION,
    "top1_product": SQL_TOP1_PRODUCT,
    "top5_rep_years": SQL_TOP5_REP_YEARS,
    "customers_without_orders": SQL_CUSTOMERS_WITHOUT_ORDERS,
    "customers_with_orders": SQL_CUSTOMERS_WITH_ORDERS,
    "first_order_per_customer": SQL_FIRST_ORDER_PER_CUSTOMER,
    "product_surrogate_keys": SQL_PRODUCT_SURROGATE_KEYS,
    "lookup_join_nulls": SQL_LOOKUP_JOIN_NULLS,
    "union_all_bag": SQL_UNION_ALL_BAG,
    "key_repair_join": SQL_KEY_REPAIR_JOIN,
    "rollup_year_quarter": SQL_ROLLUP_YEAR_QUARTER,
    "top3_parts_per_brand": SQL_TOP3_PARTS_PER_BRAND,
    "date_parse_roundtrip": SQL_DATE_PARSE_ROUNDTRIP,
    "corpus_counts": SQL_CORPUS_COUNTS,
}


# ---------------------------------------------------------------------------
# SQL front-end, analytic shape (r3): a literal spark.sql() text with CTE +
# aggregation + window share — proving the SQL surface handles the full
# analytic grammar, not just the star CTAS (product_facts_sql). Determinism
# in SQL TEXT needs two engine-literal rules the DataFrame API hides:
# Spark parses bare decimal literals (0.5, 1000000.0) as DECIMAL, so the
# Spark text spells doubles as 1e6 / 0.5D; and the window share sums
# DECIMAL (a double window sum would be accumulation-order dependent).
# ---------------------------------------------------------------------------

SPARK_SQL_YEARLY_SHARE = """
WITH yearly AS (
  SELECT year(o_orderdate) AS yr,
         o_orderpriority AS prio,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total_dec,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders_v
  GROUP BY year(o_orderdate), o_orderpriority
)
SELECT CAST(yr AS INT) AS yr, prio, n_orders,
       CAST(total_dec AS DOUBLE) AS total,
       floor((CAST(total_dec AS DOUBLE)
              / CAST(SUM(total_dec) OVER (PARTITION BY yr) AS DOUBLE))
             * 1e6 + 0.5D) / 1e6 AS share_of_year
FROM yearly
"""


def q_sql_yearly_priority_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(SPARK_SQL_YEARLY_SHARE)


SQL_YEARLY_PRIORITY_SHARE = """
WITH yearly AS (
  SELECT year(o_orderdate) AS yr,
         o_orderpriority AS prio,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total_dec,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders
  GROUP BY year(o_orderdate), o_orderpriority
)
SELECT CAST(yr AS INT) AS yr, prio, n_orders,
       CAST(total_dec AS DOUBLE) AS total,
       floor((CAST(total_dec AS DOUBLE)
              / CAST(SUM(total_dec) OVER (PARTITION BY yr) AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS share_of_year
FROM yearly
"""

QUERIES["sql_yearly_priority_share"] = q_sql_yearly_priority_share
ORACLES["sql_yearly_priority_share"] = SQL_YEARLY_PRIORITY_SHARE
