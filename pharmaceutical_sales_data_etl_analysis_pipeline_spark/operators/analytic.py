"""Analytic operator surface beyond the reference's SQL (SURVEY.md §2.4-2.6
note the reference stops at GROUP BY + ORDER BY/LIMIT; `cube`/`rollup`,
window frames, pivots, as-of/range joins are the idiomatic Spark
generalizations a warehouse user expects — A4's manual one-level rollup
generalizes to CUBE, LoadDataWarehouse.ChatterjeeP.R:142-215).

Scale notes:
- cube/pivot/conditional aggs are single hash-agg passes (partial+final);
- the as-of join is implemented as ONE pass over a union-tagged stream with
  a last-non-null carry-forward window — no join at all, the classic
  at-scale formulation (beats per-row correlated lookups by orders of
  magnitude; DuckDB's native ASOF JOIN is the oracle);
- the range self-join shuffles once on the equi key (user_id) with the time
  band as a post-join filter; AQE handles per-user skew;
- salted aggregation demonstrates the hot-key mitigation: pre-aggregate on
  (key, salt), then merge — DECIMAL sums make the two-stage result exactly
  equal to the direct aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.numeric import money_sum, money_sum_sql, round_half_up
from .pyworker import ready

VAL_DEC = "decimal(28,10)"
N_SALT = 8


# r5 conversion-exact form (see functions/numeric.py money_sum): the
# per-value cast narrows to (18,10) — identical rounding for |x| < 1e8,
# and (18,10) x (12,0) stays inside DECIMAL(38) for the exact scaling.
def _vsum(col, alias: str):
    c = F.col(col) if isinstance(col, str) else col
    units = (c.cast("decimal(18,10)") * F.lit(10_000_000_000).cast("decimal(12,0)")).cast(
        "decimal(38,0)"
    )
    return (F.sum(units).cast("double") / F.lit(1e10)).alias(alias)


def _vsum_sql(expr: str, alias: str) -> str:
    return (
        f"(CAST(SUM(CAST(CAST({expr} AS DECIMAL(18,10)) * 10000000000 AS DECIMAL(38,0))) AS DOUBLE)"
        f" / 10000000000.0) AS {alias}"
    )


# ---------------------------------------------------------------------------
# CUBE over (year, orderstatus): every aggregation level in one pass.
# ---------------------------------------------------------------------------

def cube_sales(orders: DataFrame) -> DataFrame:
    return (
        orders.cube(F.year("o_orderdate").alias("year"), F.col("o_orderstatus"))
        .agg(
            F.grouping_id().cast("int").alias("level"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            money_sum("o_totalprice", "total_price"),
        )
    )


def q_cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cube_sales(load_table(spark, sf_dir, "orders"))


SQL_CUBE_SALES = f"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS year,
       o_orderstatus,
       CAST(GROUPING(year(o_orderdate)) * 2 + GROUPING(o_orderstatus) AS INT) AS level,
       CAST(count(*) AS BIGINT) AS n_orders,
       {money_sum_sql('o_totalprice', 'total_price')}
FROM orders
GROUP BY CUBE (year(o_orderdate), o_orderstatus)
"""


# ---------------------------------------------------------------------------
# PIVOT: order totals by year × status, statuses as columns.
# ---------------------------------------------------------------------------

STATUSES = ["O", "P", "F"]


def pivot_status_year(orders: DataFrame) -> DataFrame:
    return (
        orders.select(F.year("o_orderdate").alias("year"), "o_orderstatus", "o_totalprice")
        .groupBy("year")
        .pivot("o_orderstatus", STATUSES)
        .agg(money_sum("o_totalprice", "t"))
        .select(
            "year",
            *[F.col(s).alias(f"total_{s.lower()}") for s in STATUSES],
        )
    )


def q_pivot_status_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pivot_status_year(load_table(spark, sf_dir, "orders"))


SQL_PIVOT_STATUS_YEAR = "\n".join(
    ["SELECT CAST(year(o_orderdate) AS BIGINT) AS year,"]
    + [
        "       (CAST(SUM(CASE WHEN o_orderstatus = '%s' THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0)) END) AS DOUBLE) / 100.0) AS total_%s%s"
        % (s, s.lower(), "," if i < len(STATUSES) - 1 else "")
        for i, s in enumerate(STATUSES)
    ]
    + ["FROM orders", "GROUP BY 1"]
)


# ---------------------------------------------------------------------------
# Window frame: 3-row moving sum/avg of order totals per customer.
# Deterministic frame order via (o_orderdate, o_orderkey).
# ---------------------------------------------------------------------------

def moving_avg_customer(orders: DataFrame) -> DataFrame:
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    msum = F.sum(F.col("o_totalprice").cast(VAL_DEC)).over(w)
    mcnt = F.count(F.lit(1)).over(w)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        msum.cast("double").alias("moving_sum"),
        (msum.cast("double") / mcnt.cast("double")).alias("moving_avg"),
    )


def q_moving_avg_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return moving_avg_customer(load_table(spark, sf_dir, "orders"))


SQL_MOVING_AVG_CUSTOMER = """
SELECT o_orderkey, o_custkey,
       CAST(msum AS DOUBLE) AS moving_sum,
       CAST(msum AS DOUBLE) / CAST(mcnt AS DOUBLE) AS moving_avg
FROM (
  SELECT o_orderkey, o_custkey,
         SUM(CAST(o_totalprice AS DECIMAL(28,10))) OVER w AS msum,
         COUNT(*) OVER w AS mcnt
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
) t
"""


# ---------------------------------------------------------------------------
# As-of join: each click joined to the user's most recent purchase at or
# before the click. Single-pass formulation: union-tag, carry the last
# purchase forward with last(..., ignoreNulls) — no join, no per-row lookup.
# Oracle: DuckDB's native ASOF LEFT JOIN.
# ---------------------------------------------------------------------------

def asof_purchase_before_click(events: DataFrame) -> DataFrame:
    pe = events.filter(F.col("event_type").isin("click", "purchase"))
    is_p = F.col("event_type") == "purchase"
    # Tie handling (both sides deterministic): order purchases BEFORE clicks
    # at equal ts so a same-timestamp purchase is visible to the click
    # (matching ASOF's p.ts <= c.ts), and among purchases tied on ts prefer
    # max event_id (the oracle dedupes its purchase side the same way). The
    # carried value rides in ONE struct so ts/value always come from the
    # same purchase row.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), is_p.cast("int").desc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = pe.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(
            F.when(is_p, F.struct(F.col("ts").alias("p_ts"), F.col("value").alias("p_value"))),
            ignorenulls=True,
        ).over(w).alias("lp"),
    )
    return carried.filter(F.col("event_type") == "click").select(
        "event_id",
        "user_id",
        "ts",
        F.col("lp.p_ts").alias("last_purchase_ts"),
        F.col("lp.p_value").alias("last_purchase_value"),
        (F.unix_micros("ts") - F.unix_micros("lp.p_ts")).cast("long").alias("gap_us"),
    )


def q_asof_purchase_before_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    return asof_purchase_before_click(load_table(spark, sf_dir, "events"))


# Purchase side deduped to one row per (user_id, ts) keeping the max
# event_id's value, so ASOF's pick among same-ts purchases is deterministic
# and matches the Spark window's (ts, purchase-first, event_id) order.
SQL_ASOF_PURCHASE_BEFORE_CLICK = """
SELECT c.event_id, c.user_id, c.ts,
       p.ts AS last_purchase_ts,
       p.value AS last_purchase_value,
       CAST(epoch_us(c.ts) - epoch_us(p.ts) AS BIGINT) AS gap_us
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (
  SELECT user_id, ts, arg_max(value, event_id) AS value
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, ts
) p
  ON c.user_id = p.user_id AND p.ts <= c.ts
"""


# ---------------------------------------------------------------------------
# Range self-join: pairs of same-user events within (0, 5 min]. Equi-join on
# user_id, band predicate as join condition (post-shuffle filter).
# ---------------------------------------------------------------------------

RANGE_US = 5 * 60 * 1_000_000


def events_within_5min(events: DataFrame) -> DataFrame:
    e = events.select("event_id", "user_id", "ts").alias("e")
    f = events.select("event_id", "user_id", "ts").alias("f")
    gap = F.unix_micros(F.col("f.ts")) - F.unix_micros(F.col("e.ts"))
    return (
        e.join(
            f,
            (F.col("e.user_id") == F.col("f.user_id"))
            & (gap > 0)
            & (gap <= RANGE_US),
        )
        .select(
            F.col("e.event_id").alias("event_a"),
            F.col("f.event_id").alias("event_b"),
            F.col("e.user_id").alias("user_id"),
            gap.cast("long").alias("gap_us"),
        )
    )


def q_events_within_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_within_5min(load_table(spark, sf_dir, "events", spread=True))


SQL_EVENTS_WITHIN_5MIN = f"""
SELECT e.event_id AS event_a, f.event_id AS event_b, e.user_id,
       CAST(epoch_us(f.ts) - epoch_us(e.ts) AS BIGINT) AS gap_us
FROM events e JOIN events f
  ON e.user_id = f.user_id
 AND epoch_us(f.ts) - epoch_us(e.ts) > 0
 AND epoch_us(f.ts) - epoch_us(e.ts) <= {RANGE_US}
"""


# ---------------------------------------------------------------------------
# Discrete percentiles per group (median + p90 of order totals by priority).
# Same explicit row_number definition on both engines (no reliance on either
# engine's percentile convention; value ties pick the identical value).
# ---------------------------------------------------------------------------

def percentile_disc_prices(orders: DataFrame) -> DataFrame:
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    ranked = orders.select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("o_orderpriority")).alias("n"),
    )
    return (
        ranked.groupBy("o_orderpriority")
        .agg(
            F.max(F.when(F.col("rn") == F.ceil(F.col("n") * 0.5), F.col("o_totalprice"))).alias("p50"),
            F.max(F.when(F.col("rn") == F.ceil(F.col("n") * 0.9), F.col("o_totalprice"))).alias("p90"),
            F.max("n").cast("long").alias("n_orders"),
        )
    )


def q_percentile_disc_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    return percentile_disc_prices(load_table(spark, sf_dir, "orders"))


SQL_PERCENTILE_DISC_PRICES = """
WITH ranked AS (
  SELECT o_orderpriority, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS rn,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
)
SELECT o_orderpriority,
       MAX(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN o_totalprice END) AS p50,
       MAX(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN o_totalprice END) AS p90,
       CAST(MAX(n) AS BIGINT) AS n_orders
FROM ranked
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Salted aggregation: hot-key mitigation for skewed GROUP BY. Stage 1
# pre-aggregates on (user_id, salt = event_id % 8); stage 2 merges the
# partials. DECIMAL summation makes the result exactly the direct GROUP BY
# (which is the oracle).
# ---------------------------------------------------------------------------

def salted_user_totals(events: DataFrame) -> DataFrame:
    partial = (
        events.withColumn("salt", (F.col("event_id") % N_SALT).cast("int"))
        .groupBy("user_id", "salt")
        .agg(
            F.sum(F.col("value").cast(VAL_DEC)).alias("psum"),
            F.count(F.lit(1)).alias("pcnt"),
        )
    )
    return partial.groupBy("user_id").agg(
        F.sum("psum").cast("double").alias("total_value"),
        F.sum("pcnt").cast("long").alias("n_events"),
    )


def q_salted_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return salted_user_totals(load_table(spark, sf_dir, "events"))


SQL_SALTED_USER_TOTALS = f"""
SELECT user_id,
       {_vsum_sql('value', 'total_value')},
       CAST(count(*) AS BIGINT) AS n_events
FROM events
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Multi-column DISTINCT aggregates (one pass, Spark expands internally).
# ---------------------------------------------------------------------------

def distinct_counts(events: DataFrame) -> DataFrame:
    return events.agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
        F.countDistinct("user_id", "event_type").cast("long").alias("n_user_types"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return distinct_counts(load_table(spark, sf_dir, "events"))


SQL_DISTINCT_COUNTS = """
SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
       CAST(count(DISTINCT (user_id, event_type)) AS BIGINT) AS n_user_types,
       CAST(count(*) AS BIGINT) AS n_events
FROM events
"""


# ---------------------------------------------------------------------------
# Conditional aggregates: FILTER/CASE-guarded sums and counts per type.
# ---------------------------------------------------------------------------

def conditional_aggregates(events: DataFrame) -> DataFrame:
    hi = F.col("value") > 100
    return events.groupBy("event_type").agg(
        _vsum(F.when(hi, F.col("value")), "high_value_sum"),
        F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("n_high"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def q_conditional_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return conditional_aggregates(load_table(spark, sf_dir, "events"))


SQL_CONDITIONAL_AGGREGATES = """
SELECT event_type,
       (CAST(SUM(CAST(CAST(value AS DECIMAL(18,10)) * 10000000000 AS DECIMAL(38,0))) FILTER (WHERE value > 100) AS DOUBLE) / 10000000000.0) AS high_value_sum,
       CAST(COUNT(*) FILTER (WHERE value > 100) AS BIGINT) AS n_high,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Scalar string-function surface (F1-F7 generalization): one projection
# exercising concat/substr/upper/lower/trim/lpad/replace/instr/length.
# ---------------------------------------------------------------------------

def string_functions(part: DataFrame) -> DataFrame:
    name = F.col("p_name")
    return part.select(
        "p_partkey",
        F.upper(name).alias("upper_name"),
        F.lower(name).alias("lower_name"),
        F.substring(name, 1, 5).alias("prefix5"),
        F.length(name).cast("int").alias("name_len"),
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("padded_key"),
        F.concat_ws("::", F.col("p_brand"), name).alias("brand_name"),
        F.regexp_replace(name, " ", "_").alias("snake_name"),
        F.instr(name, "a").cast("int").alias("first_a"),
    )


def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return string_functions(load_table(spark, sf_dir, "part"))


SQL_STRING_FUNCTIONS = """
SELECT p_partkey,
       upper(p_name) AS upper_name,
       lower(p_name) AS lower_name,
       substr(p_name, 1, 5) AS prefix5,
       CAST(length(p_name) AS INT) AS name_len,
       lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS padded_key,
       concat_ws('::', p_brand, p_name) AS brand_name,
       replace(p_name, ' ', '_') AS snake_name,
       CAST(strpos(p_name, 'a') AS INT) AS first_a
FROM part
"""


# ---------------------------------------------------------------------------
# Ranking-function surface: rank / dense_rank / lag / lead / ntile over a
# fully-deterministic order (date, orderkey).
# ---------------------------------------------------------------------------

def rank_functions(orders: DataFrame) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).cast("int").alias("rn"),
        F.rank().over(w).cast("int").alias("rnk"),
        F.dense_rank().over(w).cast("int").alias("drnk"),
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
        F.lead("o_totalprice", 1).over(w).alias("next_price"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


def q_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rank_functions(load_table(spark, sf_dir, "orders"))


SQL_RANK_FUNCTIONS = """
SELECT o_custkey, o_orderkey,
       CAST(row_number() OVER w AS INT) AS rn,
       CAST(rank() OVER w AS INT) AS rnk,
       CAST(dense_rank() OVER w AS INT) AS drnk,
       lag(o_totalprice, 1) OVER w AS prev_price,
       lead(o_totalprice, 1) OVER w AS next_price,
       CAST(ntile(4) OVER w AS INT) AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


# ---------------------------------------------------------------------------
# Window value functions: first/last/nth value over explicit ROWS frames +
# cume_dist / percent_rank. Order (o_orderdate, o_orderkey) is unique per
# partition, so frame contents — and the exact integer divisions behind
# cume_dist/percent_rank — are identical across engines.
# ---------------------------------------------------------------------------

def window_value_functions(orders: DataFrame) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w_run).alias("first_price"),
        F.last("o_totalprice").over(w_run).alias("running_last_price"),
        F.nth_value("o_totalprice", 2).over(w_full).alias("second_price"),
        F.cume_dist().over(w).alias("cd"),
        F.percent_rank().over(w).alias("pr"),
    )


def q_window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return window_value_functions(load_table(spark, sf_dir, "orders"))


SQL_WINDOW_VALUE_FUNCTIONS = """
SELECT o_custkey, o_orderkey,
       first_value(o_totalprice) OVER w_run AS first_price,
       last_value(o_totalprice) OVER w_run AS running_last_price,
       nth_value(o_totalprice, 2) OVER w_full AS second_price,
       cume_dist() OVER w AS cd,
       percent_rank() OVER w AS pr
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       w_run AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       w_full AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


# ---------------------------------------------------------------------------
# GROUPING SETS: the explicit multi-level aggregation DDL (CUBE/ROLLUP are
# its specializations — cube_sales/rollup_year_quarter cover those). Issued
# as literal SQL through the Spark SQL front-end over registered views.
# ---------------------------------------------------------------------------

_GROUPING_SETS_BODY = """
SELECT CAST(year(o_orderdate) AS {year_t}) AS year,
       o_orderstatus,
       CAST(GROUPING(year(o_orderdate)) * 2 + GROUPING(o_orderstatus) AS INT) AS level,
       CAST(count(*) AS BIGINT) AS n_orders,
       (CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))) AS DOUBLE) / 100.0) AS total_price
FROM orders
GROUP BY GROUPING SETS ((year(o_orderdate), o_orderstatus), (year(o_orderdate)), ())
"""


def q_grouping_sets_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_GROUPING_SETS_BODY.format(year_t="BIGINT"))


SQL_GROUPING_SETS_SALES = _GROUPING_SETS_BODY.format(year_t="BIGINT")


QUERIES = {
    "cube_sales": q_cube_sales,
    "pivot_status_year": q_pivot_status_year,
    "moving_avg_customer": q_moving_avg_customer,
    "rank_functions": q_rank_functions,
    "asof_purchase_before_click": q_asof_purchase_before_click,
    "events_within_5min": q_events_within_5min,
    "percentile_disc_prices": q_percentile_disc_prices,
    "salted_user_totals": q_salted_user_totals,
    "distinct_counts": q_distinct_counts,
    "conditional_aggregates": q_conditional_aggregates,
    "string_functions": q_string_functions,
    "window_value_functions": q_window_value_functions,
    "grouping_sets_sales": q_grouping_sets_sales,
}

ORACLES = {
    "window_value_functions": SQL_WINDOW_VALUE_FUNCTIONS,
    "grouping_sets_sales": SQL_GROUPING_SETS_SALES,
    "cube_sales": SQL_CUBE_SALES,
    "pivot_status_year": SQL_PIVOT_STATUS_YEAR,
    "moving_avg_customer": SQL_MOVING_AVG_CUSTOMER,
    "rank_functions": SQL_RANK_FUNCTIONS,
    "asof_purchase_before_click": SQL_ASOF_PURCHASE_BEFORE_CLICK,
    "events_within_5min": SQL_EVENTS_WITHIN_5MIN,
    "percentile_disc_prices": SQL_PERCENTILE_DISC_PRICES,
    "salted_user_totals": SQL_SALTED_USER_TOTALS,
    "distinct_counts": SQL_DISTINCT_COUNTS,
    "conditional_aggregates": SQL_CONDITIONAL_AGGREGATES,
    "string_functions": SQL_STRING_FUNCTIONS,
}


# ---------------------------------------------------------------------------
# UNPIVOT (melt): wide -> long, the inverse of pivot_status_year. Built on
# DataFrame.unpivot (Spark's native melt — a zero-shuffle projection +
# generate, NOT a union of N selects that would rescan the input N times).
# Oracle computes the long form directly.
# ---------------------------------------------------------------------------

def unpivot_status_year(orders: DataFrame) -> DataFrame:
    wide = pivot_status_year(orders)
    return wide.unpivot(
        ids=["year"],
        values=[f"total_{s.lower()}" for s in STATUSES],
        variableColumnName="status_col",
        valueColumnName="total",
    ).filter(F.col("total").isNotNull())


def q_unpivot_status_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    return unpivot_status_year(load_table(spark, sf_dir, "orders"))


SQL_UNPIVOT_STATUS_YEAR = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS year,
       'total_' || lower(o_orderstatus) AS status_col,
       (CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))) AS DOUBLE) / 100.0) AS total
FROM orders
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# NTILE quartiles: equal-frequency bucketing by window (deterministic —
# the order key ends in the unique o_orderkey). Global ntile needs a total
# order; here it's per-year partitions, so state is bounded per year and
# the shuffle is by year, not a single global sort partition.
# ---------------------------------------------------------------------------

def ntile_quartiles(orders: DataFrame) -> DataFrame:
    w = Window.partitionBy(F.year("o_orderdate")).orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("year"),
        "o_totalprice",
        F.ntile(4).over(w).cast("int").alias("price_quartile"),
    )


def q_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ntile_quartiles(load_table(spark, sf_dir, "orders"))


SQL_NTILE_QUARTILES = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS BIGINT) AS year,
       o_totalprice,
       CAST(ntile(4) OVER (PARTITION BY year(o_orderdate)
                           ORDER BY o_totalprice DESC, o_orderkey ASC)
            AS INTEGER) AS price_quartile
FROM orders
"""

QUERIES["unpivot_status_year"] = q_unpivot_status_year
QUERIES["ntile_quartiles"] = q_ntile_quartiles
ORACLES["unpivot_status_year"] = SQL_UNPIVOT_STATUS_YEAR
ORACLES["ntile_quartiles"] = SQL_NTILE_QUARTILES


# ---------------------------------------------------------------------------
# Pearson correlation with exact sums: corr(l_quantity, l_extendedprice)
# per year. Built-in corr() accumulates floating co-moments in partition
# order (nondeterministic bits on a cluster); here every sum is integer
# cents in a DECIMAL accumulator (exact, order-independent), and the
# final corr formula is one fixed IEEE expression — scale-0 decimals
# convert to double with a single correctly-rounded step on both engines.
# ---------------------------------------------------------------------------

def price_quantity_corr(lineitem: DataFrame) -> DataFrame:
    from ..functions.numeric import round_half_up

    q = (F.col("l_quantity").cast("decimal(12,2)") * 100).cast("long")
    p = (F.col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long")
    base = lineitem.select(
        F.year("l_shipdate").cast("bigint").alias("year"), q.alias("q"), p.alias("p")
    )
    dec = lambda c: F.sum(c.cast("decimal(28,0)"))  # noqa: E731
    g = base.groupBy("year").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dec(F.col("q")).alias("sx"),
        dec(F.col("p")).alias("sy"),
        dec(F.col("q") * F.col("p")).alias("sxy"),
        dec(F.col("q") * F.col("q")).alias("sxx"),
        dec(F.col("p") * F.col("p")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    # degenerate-group guard (single row or constant column): zero
    # denominators must yield NULL, not a DIVIDE_BY_ZERO abort under ANSI
    # mode (which Spark 4 enables by default) — the oracle returns NULL
    # for the same groups
    vx = nd * sxx - sx * sx
    vy = nd * syy - sy * sy
    ok = (vx > 0.0) & (vy > 0.0)
    corr = F.when(ok, (nd * sxy - sx * sy) / (F.sqrt(vx) * F.sqrt(vy)))
    # OLS price-on-quantity from the same co-moments (per-cent units)
    slope = F.when(vx > 0.0, (nd * sxy - sx * sy) / vx)
    intercept = F.when(vx > 0.0, (sy - slope * sx) / nd)
    return g.select(
        "year",
        "n",
        round_half_up(corr, 6).alias("qty_price_corr"),
        round_half_up(slope, 6).alias("ols_slope"),
        round_half_up(intercept, 4).alias("ols_intercept"),
    )


def q_price_quantity_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return price_quantity_corr(load_table(spark, sf_dir, "lineitem"))


SQL_PRICE_QUANTITY_CORR = """
WITH base AS (
  SELECT CAST(year(l_shipdate) AS BIGINT) AS year,
         CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS q,
         CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS p
  FROM lineitem
),
g AS (
  SELECT year,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(q AS DECIMAL(28,0))) AS sx,
         sum(CAST(p AS DECIMAL(28,0))) AS sy,
         sum(CAST(q * p AS DECIMAL(28,0))) AS sxy,
         sum(CAST(q * q AS DECIMAL(28,0))) AS sxx,
         sum(CAST(p * p AS DECIMAL(28,0))) AS syy
  FROM base GROUP BY year
),
m AS (
  SELECT year, n,
         CAST(n AS DOUBLE) AS nd,
         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
         CAST(sxy AS DOUBLE) AS sxyd,
         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
         CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
  FROM g
),
scored AS (
  SELECT year, n,
         CASE WHEN vx > 0.0 AND vy > 0.0
              THEN (nd * sxyd - sxd * syd) / (sqrt(vx) * sqrt(vy)) END AS corr_raw,
         CASE WHEN vx > 0.0
              THEN (nd * sxyd - sxd * syd) / vx END AS slope_raw,
         nd, sxd, syd
  FROM m
)
SELECT year, n,
       floor(corr_raw * 1000000.0 + 0.5) / 1000000.0 AS qty_price_corr,
       floor(slope_raw * 1000000.0 + 0.5) / 1000000.0 AS ols_slope,
       floor(((syd - slope_raw * sxd) / nd) * 10000.0 + 0.5) / 10000.0 AS ols_intercept
FROM scored
"""

QUERIES["price_quantity_corr"] = q_price_quantity_corr
ORACLES["price_quantity_corr"] = SQL_PRICE_QUANTITY_CORR


# ---------------------------------------------------------------------------
# Skyline (Pareto frontier) — r3


def skyline_parts(part: DataFrame) -> DataFrame:
    """Pareto frontier of parts minimizing (p_retailprice, p_size).

    The classic distributed skyline: phase 1 computes the skyline of each
    input partition in parallel (mapInPandas, comparisons only — no FP
    arithmetic, so bit-exact vs any engine); the local skyline of a subset
    is a superset of the global skyline's points in that subset, so no
    survivor is lost. Phase 2 merges the survivors — at most
    |skyline| x n_partitions rows, here tens — with one repartition(1)
    (a shuffle barrier, NOT coalesce(1), so phase 1 keeps its scan
    parallelism) and the same pandas kernel. At 100 TB phase 1 reads all
    data in parallel and phase 2 sees kilobytes: the inherent shape of
    skyline merging (the frontier of a 2-D point set with bounded integer
    y is itself bounded by |distinct y|).
    """
    cols = ["p_partkey", "p_retailprice", "p_size"]
    schema = "p_partkey bigint, p_retailprice double, p_size int"

    # kernel defined INSIDE the closure so cloudpickle serializes it by
    # value — a module-level helper pickles by reference and the driver's
    # vanilla-session workers can't import this package (verify SKILL.md
    # "pickling gotchas"; same reason the UDTF/DataSource classes are
    # function-local)
    # the `_reduce` suffix is a lint contract (tests/test_plans.py): a
    # SinglePartition exchange is only acceptable when its child is a
    # row-count-REDUCING operator, and this kernel's name asserts that
    # property for the plan walker (phase-1 emits per-partition skylines,
    # <= |skyline| rows each).
    def skyline_local_reduce(it):
        ready()
        import numpy as np
        import pandas as pd

        def sky(pdf):
            # Exact 2-D skyline (minimize p_retailprice AND p_size): a row
            # survives iff no other row is <= in both dims and < in at
            # least one; duplicate (price, size) points all survive.
            if len(pdf) == 0:
                return pdf
            per_price_min = pdf.groupby("p_retailprice")["p_size"].min()
            prices = per_price_min.index.to_numpy()
            order = np.argsort(prices, kind="mergesort")
            mins = per_price_min.to_numpy()[order]
            prefix = np.minimum.accumulate(mins)
            strict = np.concatenate(([np.iinfo(np.int64).max], prefix[:-1]))
            strict_map = dict(zip(prices[order], strict))
            sm = pdf["p_retailprice"].map(strict_map)
            ms = pdf.groupby("p_retailprice")["p_size"].transform("min")
            return pdf[(pdf["p_size"] == ms) & (pdf["p_size"] < sm)]

        frames = [pdf for pdf in it]
        if frames:
            yield sky(pd.concat(frames, ignore_index=True))

    base = part.select(*cols)
    survivors = base.mapInPandas(skyline_local_reduce, schema)
    return (
        survivors.repartition(1)
        .mapInPandas(skyline_local_reduce, schema)
        .orderBy("p_retailprice", "p_partkey")
    )


def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return skyline_parts(load_table(spark, sf_dir, "part"))


SQL_SKYLINE_PARTS = """
WITH pm AS (
  SELECT p_retailprice AS pr, MIN(p_size) AS ms FROM part GROUP BY p_retailprice
),
pf AS (
  SELECT pr, ms,
         MIN(ms) OVER (ORDER BY pr ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS sm
  FROM pm
)
SELECT p.p_partkey, p.p_retailprice, p.p_size
FROM part p JOIN pf ON p.p_retailprice = pf.pr
WHERE p.p_size = pf.ms AND (pf.sm IS NULL OR p.p_size < pf.sm)
ORDER BY p.p_retailprice, p.p_partkey
"""

QUERIES["skyline_parts"] = q_skyline_parts
ORACLES["skyline_parts"] = SQL_SKYLINE_PARTS


# ---------------------------------------------------------------------------
# Z-order (Morton) layout stats — r3

_ZBITS = 16


def _spread_sql(e: str) -> str:
    """Interleave-ready bit spread of a 16-bit value (classic magic-number
    sequence); identical integer ops in Spark SQL and DuckDB."""
    s = f"CAST({e} AS BIGINT)"
    s = f"(({s} | ({s} << 8)) & 16711935)"        # 0x00FF00FF
    s = f"(({s} | ({s} << 4)) & 252645135)"       # 0x0F0F0F0F
    s = f"(({s} | ({s} << 2)) & 858993459)"       # 0x33333333
    s = f"(({s} | ({s} << 1)) & 1431655765)"      # 0x55555555
    return s


def zorder_bucket_stats(orders: DataFrame) -> DataFrame:
    """Per-Z-order-bucket min/max envelopes over (custkey, order day).

    Computes the Morton interleave of (o_custkey mod 2^16, days-since-epoch
    mod 2^16), buckets the 32-bit code by its top 16 bits (the (x>>8, y>>8) macro-cell) (the file-grain a
    Z-order clustered write would produce), and reports each bucket's row
    count and min/max of BOTH dimensions — the parquet footer stats a
    scan would prune on. The point of Z-ordering: each bucket's envelope
    is tight in both dims simultaneously, so predicates on either column
    skip most files; a single-column sort gives tight envelopes in one
    dim only. Pure integer bit arithmetic (shift/and/or/mod) — exact in
    any engine; one groupBy shuffle on the bucket key. At 100 TB this is
    the layout-key computation for the clustered write path
    (`df.repartitionByRange(F.col("z")).sortWithinPartitions("z")`).
    """
    # epoch-day via integer micros (repo-wide exact time-math convention;
    # non-negative epochs so div == floor-div, see eventsops.py precondition)
    day = "(unix_micros(o_orderdate) div 86400000000)"
    x = f"(o_custkey % {1 << _ZBITS})"
    y = f"(({day}) % {1 << _ZBITS})"
    z = f"({_spread_sql(x)} | ({_spread_sql(y)} << 1))"
    return (
        orders.selectExpr(
            f"{z} AS zcode",
            "o_custkey",
            f"{day} AS oday",
        )
        .selectExpr("zcode >> 16 AS zbucket", "o_custkey", "oday")
        .groupBy("zbucket")
        .agg(
            F.count("*").alias("n"),
            F.min("o_custkey").alias("min_cust"),
            F.max("o_custkey").alias("max_cust"),
            F.min("oday").alias("min_day"),
            F.max("oday").alias("max_day"),
        )
        .orderBy("zbucket")
    )


def q_zorder_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zorder_bucket_stats(load_table(spark, sf_dir, "orders"))


def _sql_spread(e: str) -> str:
    return _spread_sql(e)


_SQL_DAY = "(epoch_us(o_orderdate) // 86400000000)"

SQL_ZORDER_BUCKET_STATS = f"""
WITH z AS (
  SELECT ({_sql_spread(f"(o_custkey % {1 << _ZBITS})")}
          | ({_sql_spread(f"(({_SQL_DAY}) % {1 << _ZBITS})")} << 1)) AS zcode,
         o_custkey,
         {_SQL_DAY} AS oday
  FROM orders
)
SELECT zcode >> 16 AS zbucket,
       CAST(count(*) AS BIGINT) AS n,
       MIN(o_custkey) AS min_cust, MAX(o_custkey) AS max_cust,
       MIN(oday) AS min_day, MAX(oday) AS max_day
FROM z GROUP BY zcode >> 16 ORDER BY zbucket
"""

QUERIES["zorder_bucket_stats"] = q_zorder_bucket_stats
ORACLES["zorder_bucket_stats"] = SQL_ZORDER_BUCKET_STATS


# ---------------------------------------------------------------------------
# Holt linear-trend forecast — r3

HOLT_ALPHA = "0.5"
HOLT_BETA = "0.3"


def holt_linear_forecast(orders: DataFrame) -> DataFrame:
    """Per-status Holt (double-exponential) smoothing of yearly order
    revenue with a one-step-ahead forecast — the classic deterministic
    trend model for capacity planning.

    Engine-exact by construction: yearly revenues are exact DECIMAL sums
    cast once to double; the level/trend recurrence is a LEFT FOLD over
    the year-sorted array (F.aggregate here, list_reduce in the oracle)
    whose arithmetic is written with the identical literal/operator order
    in both engines — a sequential recurrence like Holt CANNOT be a
    distributed reduction (it is order-dependent by definition), so it
    rides in-row over a bounded array (|years| elements) after a
    map-side-combined (status, year) aggregation. Groups with a single
    observation have no trend seed and are excluded (both sides).

    Init: l0 = y0, b0 = y1 - y0; update (alpha=0.5, beta=0.3):
        l_t = alpha*y + (1-alpha)*(l + b)
        b_t = beta*(l_t - l) + (1-beta)*b
    forecast = l_n + b_n, rounded half-up to 4dp on both sides.
    """
    from ..functions.numeric import round_half_up

    yearly = (
        orders.groupBy(
            F.col("o_orderstatus").alias("status"),
            F.year("o_orderdate").cast("long").alias("year"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
        .groupBy("status")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("year"), F.col("rev").cast("double").alias("y")))
            ).alias("series")
        )
        .where(F.size("series") >= 2)
    )
    a, b = HOLT_ALPHA, HOLT_BETA
    fold = F.expr(
        f"""
        aggregate(
          slice(series, 2, size(series) - 1),
          named_struct('l', series[0].y, 'b', series[1].y - series[0].y),
          (acc, e) -> named_struct(
            'l', {a} * e.y + (1.0 - {a}) * (acc.l + acc.b),
            'b', {b} * (({a} * e.y + (1.0 - {a}) * (acc.l + acc.b)) - acc.l)
                 + (1.0 - {b}) * acc.b),
          acc -> acc)
        """
    ).alias("st")
    # standard Holt convention: seed (l0, b0) from y0/y1, then the first
    # UPDATE applies to y1 itself (fold runs over series[1:]), so with two
    # points level = y1 and forecast = y1 + trend.
    return (
        yearly.select("status", F.size("series").cast("int").alias("n_years"), fold)
        .select(
            "status",
            "n_years",
            round_half_up(F.col("st.l"), 4).alias("level"),
            round_half_up(F.col("st.b"), 4).alias("trend"),
            round_half_up(F.col("st.l") + F.col("st.b"), 4).alias("forecast_next"),
        )
        .orderBy("status")
    )


def q_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    return holt_linear_forecast(load_table(spark, sf_dir, "orders"))


# Accumulator is a 2-element DOUBLE list [l, b], NOT a struct: DuckDB
# 1.0's list_reduce evaluates struct-accumulator fields sequentially, so a
# later field reads the ALREADY-UPDATED earlier field (probe-verified) —
# list accumulators fold atomically, matching Spark's aggregate().
SQL_HOLT_LINEAR_FORECAST = f"""
WITH yearly AS (
  SELECT o_orderstatus AS status, CAST(year(o_orderdate) AS BIGINT) AS year,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1, 2
),
series AS (
  SELECT status,
         list(CAST(rev AS DOUBLE) ORDER BY year) AS ys
  FROM yearly GROUP BY status
),
folded AS (
  SELECT status, len(ys) AS n_years,
         list_reduce(
           list_concat([[ys[1], ys[2] - ys[1]]],
                       list_transform(ys[2:], y -> [y, CAST(0.0 AS DOUBLE)])),
           (acc, e) -> [
             {HOLT_ALPHA} * e[1] + (1.0 - {HOLT_ALPHA}) * (acc[1] + acc[2]),
             {HOLT_BETA} * (({HOLT_ALPHA} * e[1] + (1.0 - {HOLT_ALPHA}) * (acc[1] + acc[2])) - acc[1])
                  + (1.0 - {HOLT_BETA}) * acc[2]
           ]) AS st
  FROM series WHERE len(ys) >= 2
)
SELECT status, CAST(n_years AS INT) AS n_years,
       floor(st[1] * 10000.0 + 0.5) / 10000.0 AS level,
       floor(st[2] * 10000.0 + 0.5) / 10000.0 AS trend,
       floor((st[1] + st[2]) * 10000.0 + 0.5) / 10000.0 AS forecast_next
FROM folded
ORDER BY status
"""

QUERIES["holt_linear_forecast"] = q_holt_linear_forecast
ORACLES["holt_linear_forecast"] = SQL_HOLT_LINEAR_FORECAST


# ---------------------------------------------------------------------------
# Multi-touch attribution (r3): split each purchase's value EQUALLY across
# the user's click events in the trailing 30-minute window — the linear
# attribution model (first/last-touch are the asof_purchase_before_click
# degenerate cases). Two stages: (1) purchase⋈click band join on user_id
# with the time-band post-filter — the equi-key carries the shuffle, the
# band only filters (same shape as events_within_5min; at 100 TB add
# coarse time-bucket keys to cut the per-user fan-in); (2) per-purchase
# click count via a window on the join output, credit = value / n_touches.
# Credit conservation (sum credit = sum attributed purchase value) is the
# property test; exactness: value is DECIMAL-summed, the division is one
# double op per row.
# ---------------------------------------------------------------------------

ATTRIB_WINDOW_US = 30 * 60 * 1_000_000


def multi_touch_attribution(events: DataFrame) -> DataFrame:
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"), F.col("value"),
    )
    c = events.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    gap = F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("c_ts"))
    touched = p.join(c, "user_id").filter((gap > 0) & (gap <= ATTRIB_WINDOW_US))
    w = Window.partitionBy("purchase_id")
    return touched.select(
        "user_id",
        "purchase_id",
        "click_id",
        (F.col("value") / F.count(F.lit(1)).over(w).cast("double")).alias("credit"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_touches"),
    )


def q_multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multi_touch_attribution(load_table(spark, sf_dir, "events"))


SQL_MULTI_TOUCH_ATTRIBUTION = f"""
WITH touched AS (
  SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id, p.value
  FROM events p JOIN events c
    ON p.user_id = c.user_id
   AND p.event_type = 'purchase' AND c.event_type = 'click'
   AND epoch_us(p.ts) - epoch_us(c.ts) > 0
   AND epoch_us(p.ts) - epoch_us(c.ts) <= {ATTRIB_WINDOW_US}
)
SELECT user_id, purchase_id, click_id,
       value / CAST(COUNT(*) OVER (PARTITION BY purchase_id) AS DOUBLE) AS credit,
       CAST(COUNT(*) OVER (PARTITION BY purchase_id) AS BIGINT) AS n_touches
FROM touched
"""

QUERIES["multi_touch_attribution"] = q_multi_touch_attribution
ORACLES["multi_touch_attribution"] = SQL_MULTI_TOUCH_ATTRIBUTION


# ---------------------------------------------------------------------------
# Weekly churn (r3): per ISO-ish week (epoch-day // 7 — engine-neutral, no
# locale WEEK_START), the active users, plus how many of the PREVIOUS
# week's actives did not return (churned) and how many are first-ever
# (new). Construction: distinct (user, week) → self-join on week+1 for
# churn (left anti via null count), min-week per user for new. Two
# shuffles over the distinct activity table (users × weeks, much smaller
# than events); the week spine is dense here — a production run would
# left-join a generated week spine (calendar_dim pattern) to keep empty
# weeks visible.
# ---------------------------------------------------------------------------

WEEK_US = 7 * 86_400 * 1_000_000


def weekly_churn(events: DataFrame) -> DataFrame:
    uw = events.select(
        "user_id", F.expr(f"unix_micros(ts) div {WEEK_US}").alias("week")
    ).distinct()
    first = uw.groupBy("user_id").agg(F.min("week").alias("first_week"))
    act = uw.groupBy("week").agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    new = (
        uw.join(first, "user_id")
        .filter(F.col("week") == F.col("first_week"))
        .groupBy("week")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    )
    # retained(w) = users active in BOTH w and w+1; churned(w) = active(w) - retained(w)
    retained = (
        uw.alias("a")
        .join(
            uw.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.week") == F.col("a.week") + 1),
        )
        .groupBy(F.col("a.week").alias("week"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_retained"))
    )
    wmax = uw.agg(F.max("week").alias("wmax"))
    return (
        act.join(new, "week", "left")
        .join(retained, "week", "left")
        .join(F.broadcast(wmax))
        .select(
            F.col("week").cast("long").alias("week"),
            "n_active",
            F.coalesce(F.col("n_new"), F.lit(0)).cast("long").alias("n_new"),
            # the final week has no week+1 data: churn is unknowable, not
            # 100% — emit NULL instead of letting coalesce(retained, 0)
            # fabricate a full-churn spike at the series end
            F.when(
                F.col("week") < F.col("wmax"),
                F.col("n_active") - F.coalesce(F.col("n_retained"), F.lit(0)),
            )
            .cast("long")
            .alias("n_churned_next"),
        )
    )


def q_weekly_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return weekly_churn(load_table(spark, sf_dir, "events"))


SQL_WEEKLY_CHURN = f"""
WITH uw AS (
  SELECT DISTINCT user_id, epoch_us(ts) // {WEEK_US} AS week FROM events
),
first AS (SELECT user_id, MIN(week) AS first_week FROM uw GROUP BY user_id),
act AS (SELECT week, CAST(count(*) AS BIGINT) AS n_active FROM uw GROUP BY week),
new AS (
  SELECT u.week, CAST(count(*) AS BIGINT) AS n_new
  FROM uw u JOIN first f ON u.user_id = f.user_id AND u.week = f.first_week
  GROUP BY u.week
),
retained AS (
  SELECT a.week, CAST(count(*) AS BIGINT) AS n_retained
  FROM uw a JOIN uw b ON a.user_id = b.user_id AND b.week = a.week + 1
  GROUP BY a.week
)
SELECT CAST(act.week AS BIGINT) AS week, act.n_active,
       CAST(COALESCE(new.n_new, 0) AS BIGINT) AS n_new,
       CAST(CASE WHEN act.week < (SELECT MAX(week) FROM uw)
                 THEN act.n_active - COALESCE(retained.n_retained, 0)
            END AS BIGINT) AS n_churned_next
FROM act
LEFT JOIN new ON act.week = new.week
LEFT JOIN retained ON act.week = retained.week
"""

QUERIES["weekly_churn"] = q_weekly_churn
ORACLES["weekly_churn"] = SQL_WEEKLY_CHURN


# ---------------------------------------------------------------------------
# Continuous (interpolated) percentiles (r3): the PERCENTILE_CONT
# complement to percentile_disc_prices — median and p90 by linear
# interpolation between the two bracketing order statistics, spelled out
# explicitly (rank positions + one interpolation formula) so neither
# engine's built-in percentile convention is trusted. Same shape as the
# disc variant: per-priority window rank + conditional agg; the
# interpolation is per-group scalar math on the 5-row rollup.
# ---------------------------------------------------------------------------

def percentile_cont_prices(orders: DataFrame) -> DataFrame:
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    ranked = orders.select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("o_orderpriority")).alias("n"),
    )

    def cont(p: float, alias: str):
        # pos = (n-1)*p + 1 (1-based); value = lo + (pos-floor(pos))*(hi-lo).
        # Inside the aggregates pos is built from the per-row n (constant
        # within the group); the outer interpolation rebuilds it from
        # max(n) so every top-level expression is aggregate-valued.
        pos_row = (F.col("n").cast("double") - F.lit(1.0)) * F.lit(p) + F.lit(1.0)
        lo = F.max(
            F.when(F.col("rn") == F.floor(pos_row).cast("long"), F.col("o_totalprice"))
        )
        hi = F.max(
            F.when(F.col("rn") == F.ceil(pos_row).cast("long"), F.col("o_totalprice"))
        )
        pos_agg = (F.max("n").cast("double") - F.lit(1.0)) * F.lit(p) + F.lit(1.0)
        frac = pos_agg - F.floor(pos_agg)
        return round_half_up(lo + frac * (hi - lo), 6).alias(alias)

    return (
        ranked.groupBy("o_orderpriority")
        .agg(
            cont(0.5, "p50_cont"),
            cont(0.9, "p90_cont"),
            F.max("n").cast("long").alias("n_orders"),
        )
    )


def q_percentile_cont_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    return percentile_cont_prices(load_table(spark, sf_dir, "orders"))


def _cont_sql(p: float, alias: str) -> str:
    pos = f"((CAST(n AS DOUBLE) - 1.0) * {p} + 1.0)"
    pos_agg = f"((CAST(MAX(n) AS DOUBLE) - 1.0) * {p} + 1.0)"
    lo = f"MAX(CASE WHEN rn = CAST(floor({pos}) AS BIGINT) THEN o_totalprice END)"
    hi = f"MAX(CASE WHEN rn = CAST(ceil({pos}) AS BIGINT) THEN o_totalprice END)"
    return (
        f"floor(({lo} + ({pos_agg} - floor({pos_agg})) * ({hi} - {lo})) * 1000000.0 + 0.5)"
        f" / 1000000.0 AS {alias}"
    )


SQL_PERCENTILE_CONT_PRICES = f"""
WITH ranked AS (
  SELECT o_orderpriority, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
)
SELECT o_orderpriority,
       {_cont_sql(0.5, 'p50_cont')},
       {_cont_sql(0.9, 'p90_cont')},
       CAST(MAX(n) AS BIGINT) AS n_orders
FROM ranked
GROUP BY o_orderpriority
"""

QUERIES["percentile_cont_prices"] = q_percentile_cont_prices
ORACLES["percentile_cont_prices"] = SQL_PERCENTILE_CONT_PRICES
