"""Table catalog: explicit schemas + loaders for the test corpus.

The reference declares fixed DDL schemas (LoadXML2DB.ChatterjeeP.R:29-63,
LoadDataWarehouse.ChatterjeeP.R:42-77); we mirror that stance with explicit
StructTypes — production paths never rely on schema inference. Loading with
an explicit schema also lets the vectorized Parquet reader prune columns and
push filters (verify via .explain: ReadSchema / PushedFilters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- driver test corpus (TPC-H-ish star + events/documents/embeddings) ---

TPCH_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Small dimensions we always want broadcast in star joins.
BROADCAST_DIMS = {"region", "nation", "customer", "supplier", "part"}

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    # NOTE: the events parquet carries TIMESTAMP(NANOS). Spark versions
    # differ: older readers reject it unless spark.sql.legacy.parquet
    # .nanosAsLong=true (→ ts arrives as bigint nanos), newer ones (4.1+)
    # read it natively as timestamp_ntz and ignore that conf. load_table /
    # normalize_event_ts handle BOTH so downstream code always sees
    # ts: timestamp (micros, UTC session). The LongType here is the
    # legacy-reader shape; 4.1+ reads use the parquet footer schema instead.
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

# --- pharma star schema (the reference's own data model, SURVEY.md §1) ---

PHARMA_SCHEMAS: dict[str, T.StructType] = {
    # LoadXML2DB.ChatterjeeP.R:29-32
    "products": T.StructType(
        [
            T.StructField("product_id", T.IntegerType()),
            T.StructField("product_name", T.StringType()),
        ]
    ),
    # LoadXML2DB.ChatterjeeP.R:34-39
    "reps": T.StructType(
        [
            T.StructField("rep_id", T.StringType()),
            T.StructField("first_name", T.StringType()),
            T.StructField("last_name", T.StringType()),
            T.StructField("territory", T.StringType()),
        ]
    ),
    # LoadXML2DB.ChatterjeeP.R:41-45
    "customers": T.StructType(
        [
            T.StructField("customer_id", T.IntegerType()),
            T.StructField("customer_name", T.StringType()),
            T.StructField("country", T.StringType()),
        ]
    ),
    # LoadXML2DB.ChatterjeeP.R:47-57 (sale_date carried as string M/D/YYYY)
    "salestxn": T.StructType(
        [
            T.StructField("txn_id", T.IntegerType()),
            T.StructField("product_id", T.IntegerType()),
            T.StructField("rep_id", T.StringType()),
            T.StructField("customer_id", T.IntegerType()),
            T.StructField("sale_date", T.StringType()),
            T.StructField("sale_amount", T.DoubleType()),
        ]
    ),
}


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events `ts` column to TimestampType (micros) across
    Spark's two TIMESTAMP(NANOS) read behaviors:

    - legacy readers (nanosAsLong=true): ts is bigint nanos → integer-div
      to micros (ns values overflow double precision, never use `/`; div
      truncates toward zero, identical to DuckDB's floor for epochs >= 0 —
      precondition documented in operators/eventsops.py);
    - Spark 4.1+: ts is timestamp_ntz (already micros-truncated, same
      truncation DuckDB applies) → cast to session-tz timestamp, a pure
      relabel under the UTC session timezone set in session.get_spark.
    """
    dtype = dict(df.dtypes)["ts"]
    if dtype == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def stream_table_source(
    spark: SparkSession, sf_dir: str, name: str, schema: T.StructType
) -> DataFrame:
    """readStream over {sf_dir}/{name}.parquet in EITHER on-disk layout:
    the driver testdata ships each table as a single FILE named
    `{name}.parquet` (the file stream source wants a directory, so
    glob-filter within sf_dir), while Spark-written datasets — the
    scaleup.py sf1 rung, any real warehouse — are DIRECTORIES of part
    files (load the directory itself; a glob filter on the dir name
    would match no files and silently yield an empty stream).

    The layout probe goes through the Hadoop FileSystem API, which
    resolves by URI scheme — os.path.isdir is always False for
    s3a://, gs:// etc., which would misroute an object-store directory
    table into the glob branch and silently stream zero rows (the
    exact silent-empty failure this function exists to prevent). A
    missing path fails loudly here instead of as an empty stream."""
    path = f"{sf_dir}/{name}.parquet"
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        raise FileNotFoundError(
            f"stream_table_source: {path} does not exist on its "
            f"filesystem ({fs.getScheme()}); refusing to start a stream "
            f"that would silently yield zero rows"
        )
    reader = spark.readStream.format("parquet").schema(schema)
    if fs.getFileStatus(hpath).isDirectory():
        return reader.load(path)
    return reader.option("pathGlobFilter", f"{name}.parquet").load(sf_dir)


# --- scan-parallelism floor for unsplittable inputs (opt round r13) -------
#
# Parquet row groups are the unit of intra-file scan parallelism: Spark
# splits files by byte ranges, but a row group is read whole by whichever
# task's range holds its midpoint. The sf test corpus is one file x ONE row
# group per table, so every scan -> project/explode -> partial-aggregate
# pipeline ran as a single task — 1 of 32 cores busy through the most
# expensive phase of nearly every query (measured: the r13 baseline's scan
# stages are all "(0 + 1) / 1"; opt guide §2.5 input skew / §6.1).
#
# Fix: when the input physically offers fewer independent scan units (row
# groups) than the session's cores AND is small enough that one bounded
# round-robin redistribution is obviously cheaper than idling the cluster
# (<= _SCAN_SPREAD_MAX_BYTES compressed), redistribute once right after the
# scan. Both conditions are derived from the input, not tuned constants:
# at production scale any fact table has orders of magnitude more row
# groups than the cluster has cores, so this is a structural no-op — the
# partitioning stays whatever the file layout provides. Filters/pruning
# still reach the scan (Catalyst pushes predicates through Repartition;
# verified in the plan files: PushedFilters is unchanged).
#
# The floor is OPT-IN per call site (load_table(..., spread=True)): the
# r13 interleaved A/B (OPTIMIZATION_r13.md) measured the extra exchange
# as a flat ~0.3-0.6 s loss for queries whose pre-exchange work is cheap
# (a scan feeding a join or a light agg) and a 1.2-1.9x win for queries
# whose pre-exchange work is heavy (md5-per-shingle, regexp-per-doc,
# decimal-per-row pipelines). Only the measured winners opt in.

_SCAN_SPREAD_MAX_BYTES = 4 * 1024**3  # redistribution cost ceiling
_SCAN_UNITS_CACHE: dict[str, tuple[int, int]] = {}


def _parquet_scan_units(path: str) -> tuple[int, int]:
    """(row_groups, bytes) the input offers — its real scan parallelism."""
    import glob as _glob
    import os as _os

    if path in _SCAN_UNITS_CACHE:
        return _SCAN_UNITS_CACHE[path]
    try:
        import pyarrow.parquet as _pq

        files = (
            sorted(_glob.glob(_os.path.join(path, "*.parquet")))
            if _os.path.isdir(path)
            else [path]
        )
        units = sum(max(1, _pq.ParquetFile(f).metadata.num_row_groups) for f in files)
        nbytes = sum(_os.path.getsize(f) for f in files)
        out = (max(1, units), nbytes)
    except Exception:
        # non-local / unreadable input: assume it parallelizes on its own
        out = (1 << 30, 1 << 62)
    _SCAN_UNITS_CACHE[path] = out
    return out


def _with_scan_floor(
    spark: SparkSession, df: DataFrame, path: str, spread: bool
) -> DataFrame:
    if not spread:
        return df
    cores = spark.sparkContext.defaultParallelism
    units, nbytes = _parquet_scan_units(path)
    if units >= cores or nbytes > _SCAN_SPREAD_MAX_BYTES:
        return df
    return df.repartition(cores)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Read one corpus table with its declared schema. spread=True opts
    into the scan-parallelism floor above (callers with measured-heavy
    pre-exchange work)."""
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # harmless where removed (4.1+ ignores it); required on legacy
        # readers that otherwise reject TIMESTAMP(NANOS)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.read.parquet(path)
        out = normalize_event_ts(raw).select(
            F.col("event_id").cast("long"),
            "ts",
            F.col("user_id").cast("long"),
            F.col("event_type").cast("string"),
            F.col("value").cast("double"),
            F.col("props").cast("string"),
        )
        return _with_scan_floor(spark, out, path, spread)
    df = spark.read.schema(SCHEMAS[name]).parquet(path)
    if name in BROADCAST_DIMS:
        return df
    return _with_scan_floor(spark, df, path, spread)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every corpus table as a temp view for spark.sql paths."""
    for n in TPCH_TABLES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
