"""The reference's end-to-end ETL + warehouse pipeline, Spark-first.

Stage 1 (extract/load — replaces LoadXML2DB.ChatterjeeP.R):
  7 XML files → reps / customers / products dims (first-occurrence dedup +
  dense surrogate keys in first-seen order) + salestxn fact (name→id lookup
  joins with NULL on miss, bag-semantics union of all files).

Stage 2 (warehouse — replaces LoadDataWarehouse.ChatterjeeP.R):
  product_facts CTAS (pre-repair) and rep_id key repair → rep_facts CTAS
  (post-repair). The reference orders this as statements
  (LoadDataWarehouse.ChatterjeeP.R:90-133); here the repair is a data
  dependency — rep_facts reads the repaired salestxn, product_facts the
  unrepaired one — so the writes persist as their dependency DAG, with
  independent writes concurrent.

Stage 3 (analytics — replaces AnalyzeData.ChatterjeeP.Rmd):
  verification/analysis queries over the fact tables.

Where the reference mutates row-by-row (rbind loops, O(n²)), every step here
is a declarative DataFrame plan: the per-record loops collapse into selects
with casts, the membership-checked dedup into a window filter, the six file
loads into one ordered scan — Catalyst handles broadcast selection,
partial aggregation and pruning the order columns a plan does not read.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import cached_property
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

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
    """Six pharmaSalesTxn files → one ordered bag of raw transactions, read
    by one scan.

    Output: txn_id, product_name, rep_id_raw, customer_name, country,
    sale_date, sale_amount, file_idx, pos, seq. (file_idx, pos) orders the
    bag as the reference appends it; seq numbers each file's records 1..n.
    Bag semantics — duplicates across files preserved (U1,
    LoadXML2DB.ChatterjeeP.R:198..452).
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
        "pos",
        "seq",
    )


def _first_seen_dim(txns: DataFrame, key: str, carried: list[str], id_name: str) -> DataFrame:
    """First-occurrence dedup (A3) + dense surrogate keys (W1).

    Keeps the first sighting's carried values (country of first sighting —
    LoadXML2DB.ChatterjeeP.R:112-135) and assigns ids 1..N in first-seen
    order (seq_len, :138,142). Both windows order by (file_idx, pos), the
    bag's append order — the same order as (file_idx, seq) without the
    per-file window and its shuffle that a dense seq needs: exact parity;
    dimension-sized by construction (post-dedup), so the single-partition
    ordering window is not a scale hazard.
    """
    w_first = Window.partitionBy(key).orderBy("file_idx", "pos")
    firsts = (
        txns.select(key, *carried, "file_idx", "pos")
        .withColumn("__rn", F.row_number().over(w_first))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    w_id = Window.orderBy("file_idx", "pos")
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
    """The star and its facts. Stage 2 (`salestxn` onward) is built from
    the dims on first access, so a caller pays only for the members it
    reads; `persist_warehouse` sets them to its re-read tables.
    `dataclasses.replace` builds stage 2 anew from the replaced dims."""

    txns: DataFrame               # ordered raw bag (stage-1 input of salestxn)
    reps: DataFrame
    customers: DataFrame
    products: DataFrame

    @cached_property
    def salestxn(self) -> DataFrame:  # as loaded (unprefixed rep_id)
        return build_salestxn(self.txns, self.products, self.customers)

    @cached_property
    def salestxn_repaired(self) -> DataFrame:  # after key repair
        return repair_rep_ids(self.salestxn)

    @cached_property
    def product_facts(self) -> DataFrame:  # pre-repair
        return build_product_facts(self.salestxn, self.products, self.customers)

    @cached_property
    def rep_facts(self) -> DataFrame:  # post-repair
        return build_rep_facts(self.salestxn_repaired, self.reps, self.products)


def run_pipeline(spark: SparkSession, reps_xml: str, txn_xmls: list[str]) -> PharmaWarehouse:
    """The full DAG. The key repair is a data dependency: product_facts
    reads salestxn as loaded, rep_facts the repaired salestxn, which is
    what the reference's statement order achieves (SURVEY.md §7.3).
    Lazy: declared record schemas mean no Spark job runs here, and stage 2
    is planned only when read."""
    txns = load_txns_ordered(spark, txn_xmls)
    return PharmaWarehouse(
        txns=txns,
        reps=load_reps(spark, reps_xml),
        customers=build_customers(txns),
        products=build_products(txns),
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


def _concurrently(spark: SparkSession, *writes: Callable[[], DataFrame]) -> list[DataFrame]:
    """Run independent writes at once, one thread each, and return their
    results in argument order. Spark's scheduler runs jobs submitted from
    several threads concurrently. Each thread runs with a copy of the
    caller's local properties, so its jobs stay in the caller's job group.
    The pool is joined before this returns; the first write (in argument
    order) that raised re-raises here."""
    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(w)) for w in writes]
        return [f.result() for f in futures]


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
    read its stored tables. The writes run as their dependency DAG, with
    independent writes concurrent (one thread each, joined per level):
    1. `reps`, `customers` and `products`, at once;
    2. `salestxn`, built from `wh.txns` joined to the re-read dims;
    3. `product_facts` (pre-repair) and `rep_facts` (post-repair), at once,
       both built from the re-read `salestxn` and dims.
    Spark plans each write as its own query and shares no work between
    them; reading stored tables means the XML is parsed once per table
    built from it and no write recomputes the dims' dedup windows. Of `wh`
    only `txns` and the three dims are read; its stage 2 is never built.
    Every job runs in the caller's job group; a write that fails raises
    out of this call once the other writes of its level have finished.

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

    def save_product_facts(df: DataFrame) -> DataFrame:
        _drop_table(spark, database, "product_facts")
        spark.sql(
            f"CREATE TABLE {database}.product_facts USING parquet PARTITIONED BY (year) "
            "AS SELECT product_name, quarter, region, total_sold, year FROM {src}",
            src=df,
        )
        return spark.table(f"{database}.product_facts")

    reps, customers, products = _concurrently(
        spark,
        lambda: save(wh.reps, "reps"),
        lambda: save(wh.customers, "customers"),
        lambda: save(wh.products, "products"),
    )
    # stage 2 of `stored` builds from what is stored: salestxn from `txns`
    # and the re-read dims, the facts from the re-read salestxn
    stored = PharmaWarehouse(wh.txns, reps, customers, products)
    stored.salestxn = save(stored.salestxn, "salestxn")
    # planned on this thread (cached_property is not thread-safe); the pool only writes
    product_facts, rep_facts = stored.product_facts, stored.rep_facts
    stored.product_facts, stored.rep_facts = _concurrently(
        spark,
        lambda: save_product_facts(product_facts),
        lambda: save(rep_facts, "rep_facts", "year"),
    )
    return stored


# ---------------------------------------------------------------------------
# Stage 3: verification / analytics queries
# (LoadDataWarehouse.ChatterjeeP.R:141-215; AnalyzeData.ChatterjeeP.Rmd:38-68)
# ---------------------------------------------------------------------------
# The sorted answers are dim-sized at any scale, so each sorts in one
# partition: coalesce(1) above the aggregate's exchange (the partial
# aggregate keeps the scan's parallelism) replaces the range exchange a
# global sort plans, and its sampling job.

def quarterly_totals_2020(product_facts: DataFrame) -> DataFrame:
    return (
        product_facts.filter(F.col("year") == 2020)
        .groupBy("quarter")
        .agg(F.sum(F.col("total_sold").cast("decimal(28,2)")).cast("double").alias("total"))
        .coalesce(1)
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
        .coalesce(1)
        .orderBy(F.desc("total_sales"))
    )


def rep_quarterly_sales(rep_facts: DataFrame) -> DataFrame:
    """AnalyzeData.ChatterjeeP.Rmd:63-68: per-quarter totals for the chart."""
    return (
        rep_facts.groupBy("year", "quarter")
        .agg(F.sum(F.col("total_sold").cast("decimal(28,2)")).cast("double").alias("total_sales"))
        .coalesce(1)
        .orderBy("year", "quarter")
    )
