"""The reference's end-to-end ETL + warehouse pipeline, Spark-first.

Stage 1 (extract/load — replaces LoadXML2DB.ChatterjeeP.R):
  7 XML files → reps / customers / products dims (first-occurrence dedup +
  dense surrogate keys in first-seen order) + salestxn fact (name→id lookup
  joins with NULL on miss, bag-semantics union of all files).

Stage 2 (warehouse — replaces LoadDataWarehouse.ChatterjeeP.R):
  product_facts CTAS → rep_id key repair → rep_facts CTAS. The repair MUST
  sit between the two fact builds to match the reference's statement order
  (LoadDataWarehouse.ChatterjeeP.R:90-133); encoded here as an explicit DAG.

Stage 3 (analytics — replaces AnalyzeData.ChatterjeeP.Rmd):
  verification/analysis queries over the fact tables.

Where the reference mutates row-by-row (rbind loops, O(n²)), every step here
is a declarative DataFrame plan: the per-record loops collapse into selects
with casts, the membership-checked dedup into a window filter, the six file
loads into one ordered union — Catalyst handles broadcast selection and
partial aggregation.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.numeric import money_sum
from ..sources.xml import read_xml, read_xml_files_ordered


# ---------------------------------------------------------------------------
# Stage 1: extract + load
# ---------------------------------------------------------------------------

# The record schemas the reference reads, by field name. Declaring them
# makes stage 1 a lazy plan: no inference job parses the XML before the
# first write. Every field is a string, as R's xmlValue returns it, so a
# repID of `007` keeps its leading zeros; numeric fields are cast on select.
REP_SCHEMA = T.StructType(
    [T.StructField(f, T.StringType()) for f in ("_rID", "first_name", "last_name", "territory")]
)
_CUSTOMER_FIELDS = [T.StructField(f, T.StringType()) for f in ("cust", "country")]
TXN_SCHEMA = T.StructType(
    [T.StructField(f, T.StringType()) for f in ("txnID", "prod", "repID", "date", "amount")]
    # `.//cust` and `.//country` (LoadXML2DB.ChatterjeeP.R:178-183) match
    # at the record root or under the customer sub-element
    + _CUSTOMER_FIELDS
    + [T.StructField("customer", T.StructType(_CUSTOMER_FIELDS))]
)


def load_reps(spark: SparkSession, path: str) -> DataFrame:
    """pharmaReps.xml → reps dim.

    Attribute rID → rep_id (LoadXML2DB.ChatterjeeP.R:77); children map by
    name (the reference reads them positionally, :78-80 — the native reader
    preserves document order, so names and positions agree).
    """
    raw = read_xml(spark, path, "rep", REP_SCHEMA)
    return raw.select(
        F.col("_rID").alias("rep_id"),
        F.col("first_name"),
        F.col("last_name"),
        F.col("territory"),
    )


def load_txns_ordered(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Six pharmaSalesTxn files → one ordered bag of raw transactions.

    Output: txn_id, product_name, rep_id_raw, customer_name, country,
    sale_date, sale_amount, file_idx, seq. Bag semantics — duplicates across
    files preserved (U1, LoadXML2DB.ChatterjeeP.R:198..452).
    """
    raw = read_xml_files_ordered(spark, paths, "txn", schema=TXN_SCHEMA)
    return raw.select(
        F.col("txnID").cast("int").alias("txn_id"),
        F.col("prod").alias("product_name"),
        F.col("repID").alias("rep_id_raw"),
        F.coalesce("customer.cust", "cust").alias("customer_name"),
        F.coalesce("customer.country", "country").alias("country"),
        F.col("date").alias("sale_date"),
        F.col("amount").cast("double").alias("sale_amount"),
        "file_idx",
        "seq",
    )


def _first_seen_dim(txns: DataFrame, key: str, carried: list[str], id_name: str) -> DataFrame:
    """First-occurrence dedup (A3) + dense surrogate keys (W1).

    Keeps the first sighting's carried values (country of first sighting —
    LoadXML2DB.ChatterjeeP.R:112-135) and assigns ids 1..N in first-seen
    order (seq_len, :138,142). Window over the global (file_idx, seq) order:
    exact parity; dimension-sized by construction (post-dedup), so the
    single-partition ordering window is not a scale hazard.
    """
    w_first = Window.partitionBy(key).orderBy("file_idx", "seq")
    firsts = (
        txns.select(key, *carried, "file_idx", "seq")
        .withColumn("__rn", F.row_number().over(w_first))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    w_id = Window.orderBy("file_idx", "seq")
    return (
        firsts.withColumn(id_name, F.row_number().over(w_id).cast("int"))
        .select(id_name, key, *carried)
    )


def build_customers(txns: DataFrame) -> DataFrame:
    return _first_seen_dim(txns, "customer_name", ["country"], "customer_id")


def build_products(txns: DataFrame) -> DataFrame:
    return _first_seen_dim(txns, "product_name", [], "product_id")


def build_salestxn(txns: DataFrame, products: DataFrame, customers: DataFrame) -> DataFrame:
    """Name→id lookup joins (J1): broadcast LEFT joins, NULL on miss —
    reproducing the named-vector NA-on-miss semantics
    (LoadXML2DB.ChatterjeeP.R:170-171,186-187)."""
    return (
        txns.join(F.broadcast(products), "product_name", "left")
        .join(F.broadcast(customers.select("customer_id", "customer_name")), "customer_name", "left")
        .select(
            "txn_id",
            "product_id",
            F.col("rep_id_raw").alias("rep_id"),  # unprefixed, as shipped
            "customer_id",
            "sale_date",
            "sale_amount",
        )
    )


# ---------------------------------------------------------------------------
# Stage 2: warehouse (star schema + summary fact tables)
# ---------------------------------------------------------------------------

def _with_date_parts(salestxn: DataFrame) -> DataFrame:
    d = F.to_date("sale_date", "M/d/yyyy")  # STR_TO_DATE '%m/%d/%Y' twin (F1)
    return salestxn.withColumn("year", F.year(d)).withColumn("quarter", F.quarter(d))


def build_product_facts(salestxn: DataFrame, products: DataFrame, customers: DataFrame) -> DataFrame:
    """CTAS product_facts (LoadDataWarehouse.ChatterjeeP.R:90-104):
    SUM(sale_amount) GROUP BY product_name, year, quarter, region
    (region := customer country). Inner joins drop NULL-keyed rows, as the
    reference's joins do."""
    st = _with_date_parts(salestxn)
    return (
        st.join(F.broadcast(products), "product_id")
        .join(F.broadcast(customers.select("customer_id", "country")), "customer_id")
        .groupBy("product_name", "year", "quarter", F.col("country").alias("region"))
        .agg(money_sum("sale_amount", "total_sold"))
    )


def repair_rep_ids(salestxn: DataFrame) -> DataFrame:
    """UPDATE salestxn SET rep_id = CONCAT('r', rep_id)
    (LoadDataWarehouse.ChatterjeeP.R:112-115) — immutable re-derivation."""
    return salestxn.withColumn("rep_id", F.concat(F.lit("r"), F.col("rep_id")))


def build_rep_facts(salestxn_repaired: DataFrame, reps: DataFrame, products: DataFrame) -> DataFrame:
    """CTAS rep_facts (LoadDataWarehouse.ChatterjeeP.R:118-133): requires the
    repaired key; inner join silently drops any txn missing from the dim."""
    st = _with_date_parts(salestxn_repaired)
    return (
        st.join(F.broadcast(reps.select("rep_id", "first_name", "last_name")), "rep_id")
        .join(F.broadcast(products), "product_id")
        .groupBy("first_name", "last_name", "year", "quarter", "product_name")
        .agg(money_sum("sale_amount", "total_sold"))
    )


@dataclass
class PharmaWarehouse:
    txns: DataFrame               # ordered raw bag (stage-1 input of salestxn)
    reps: DataFrame
    customers: DataFrame
    products: DataFrame
    salestxn: DataFrame           # as loaded (unprefixed rep_id)
    salestxn_repaired: DataFrame  # after key repair
    product_facts: DataFrame
    rep_facts: DataFrame


def run_pipeline(spark: SparkSession, reps_xml: str, txn_xmls: list[str]) -> PharmaWarehouse:
    """The full DAG, sequencing the key repair between the two fact builds
    exactly as the reference's statement order does (SURVEY.md §7.3).
    Lazy: declared record schemas mean no Spark job runs here."""
    reps = load_reps(spark, reps_xml)
    txns = load_txns_ordered(spark, txn_xmls)
    customers = build_customers(txns)
    products = build_products(txns)
    salestxn = build_salestxn(txns, products, customers)
    product_facts = build_product_facts(salestxn, products, customers)  # pre-repair
    repaired = repair_rep_ids(salestxn)
    rep_facts = build_rep_facts(repaired, reps, products)               # post-repair
    return PharmaWarehouse(
        txns=txns,
        reps=reps,
        customers=customers,
        products=products,
        salestxn=salestxn,
        salestxn_repaired=repaired,
        product_facts=product_facts,
        rep_facts=rep_facts,
    )


def _drop_table(spark: SparkSession, database: str, name: str) -> None:
    """DROP TABLE IF EXISTS, and also delete a directory left at the
    table's managed location that the catalog does not know (written by
    another process, or by another database at the same LOCATION). Spark
    refuses to create a managed table over a non-empty directory
    (LOCATION_ALREADY_EXISTS); the reference's DROP + CREATE replaces it."""
    spark.sql(f"DROP TABLE IF EXISTS {database}.{name}")
    sc = spark.sparkContext
    path = sc._jvm.org.apache.hadoop.fs.Path(
        f"{spark.catalog.getDatabase(database).locationUri}/{name}"
    )
    path.getFileSystem(sc._jsc.hadoopConfiguration()).delete(path, True)


def persist_warehouse(
    spark: SparkSession,
    wh: PharmaWarehouse,
    database: str = "pharma_wh",
    location: str | None = None,
) -> PharmaWarehouse:
    """Materialize the warehouse as managed tables and re-read it (S12 as a
    real CTAS lifecycle — the reference's dbWriteTable + CREATE TABLE AS
    SELECT persistence, LoadDataWarehouse.ChatterjeeP.R:29-32,90-133).

    Stage 2 reads the persisted star, as the reference's CTAS statements
    read its stored tables: the dims are written first, `salestxn` is built
    from `wh.txns` joined to the re-read dims, and `product_facts`
    (pre-repair) and `rep_facts` (post-repair) are built from the re-read
    `salestxn` and dims, in the reference's statement order. Spark plans
    each write as its own query and shares no work between them; reading
    stored tables means the XML is parsed once per table built from it and
    no write recomputes the dims' dedup windows. Of `wh` only `txns` and
    the three dims are evaluated.

    Each table is dropped before it is written — the reference's DROP
    TABLE IF EXISTS + CREATE (S10) — including a stale directory at its
    location that this session's catalog does not know, so a location can
    be reused across processes and databases. Summary facts are
    partitioned by `year`: the analytics queries all filter on year, so the
    layout turns them into partition-pruned scans (cheap here, decisive at
    100 TB). product_facts goes through literal SQL `CREATE TABLE ...
    PARTITIONED BY ... AS SELECT` to exercise the DDL path; the other
    tables use the equivalent DataFrameWriter.saveAsTable. The returned
    warehouse is backed entirely by catalog re-reads, apart from `txns`
    (the stage-1 input, passed through) — callers can verify results
    survive the round-trip (partition columns migrate to the end of the
    re-read schema; consumers address columns by name).
    """
    loc = f" LOCATION '{location}'" if location else ""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}{loc}")

    def save(df: DataFrame, name: str, *partition_by: str) -> DataFrame:
        _drop_table(spark, database, name)
        df.write.format("parquet").partitionBy(*partition_by).saveAsTable(f"{database}.{name}")
        return spark.table(f"{database}.{name}")

    reps = save(wh.reps, "reps")
    customers = save(wh.customers, "customers")
    products = save(wh.products, "products")
    salestxn = save(build_salestxn(wh.txns, products, customers), "salestxn")

    build_product_facts(salestxn, products, customers).createOrReplaceTempView("__pf_src")
    _drop_table(spark, database, "product_facts")
    spark.sql(
        f"CREATE TABLE {database}.product_facts USING parquet PARTITIONED BY (year) "
        "AS SELECT product_name, quarter, region, total_sold, year FROM __pf_src"
    )
    spark.catalog.dropTempView("__pf_src")
    repaired = repair_rep_ids(salestxn)
    rep_facts = save(build_rep_facts(repaired, reps, products), "rep_facts", "year")

    return PharmaWarehouse(
        txns=wh.txns,
        reps=reps,
        customers=customers,
        products=products,
        salestxn=salestxn,
        salestxn_repaired=repaired,
        product_facts=spark.table(f"{database}.product_facts"),
        rep_facts=rep_facts,
    )


# ---------------------------------------------------------------------------
# Stage 3: verification / analytics queries
# (LoadDataWarehouse.ChatterjeeP.R:141-215; AnalyzeData.ChatterjeeP.Rmd:38-68)
# ---------------------------------------------------------------------------

def quarterly_totals_2020(product_facts: DataFrame) -> DataFrame:
    return (
        product_facts.filter(F.col("year") == 2020)
        .groupBy("quarter")
        .agg(F.sum(F.col("total_sold").cast("decimal(28,2)")).cast("double").alias("total"))
        .orderBy("quarter")
    )


def best_product_2020(product_facts: DataFrame) -> DataFrame:
    return (
        product_facts.filter(F.col("year") == 2020)
        .groupBy("product_name")
        .agg(F.sum(F.col("total_sold").cast("decimal(28,2)")).cast("double").alias("total_sold"))
        .orderBy(F.desc("total_sold"), F.asc("product_name"))
        .limit(1)
    )


def rep_totals_2020(rep_facts: DataFrame) -> DataFrame:
    return (
        rep_facts.filter(F.col("year") == 2020)
        .groupBy("first_name", "last_name")
        .agg(F.sum(F.col("total_sold").cast("decimal(28,2)")).cast("double").alias("total_sales"))
        .orderBy(F.desc("total_sales"))
    )


def rep_quarterly_sales(rep_facts: DataFrame) -> DataFrame:
    """AnalyzeData.ChatterjeeP.Rmd:63-68: per-quarter totals for the chart."""
    return (
        rep_facts.groupBy("year", "quarter")
        .agg(F.sum(F.col("total_sold").cast("decimal(28,2)")).cast("double").alias("total_sales"))
        .orderBy("year", "quarter")
    )
