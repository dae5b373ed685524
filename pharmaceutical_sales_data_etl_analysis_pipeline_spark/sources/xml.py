"""XML ingestion (SURVEY.md §2.1 S1-S5).

Reference behavior being re-expressed (not ported): DOM-parse + per-record
R loops with attribute access, positional children, and `.//` descendant
XPath (LoadXML2DB.ChatterjeeP.R:10,15-16,77-80,100-135,178-183).

Primary path: Spark 4's native XML source (`format("xml")`), which shreds
records distributed, exposes attributes as `_attr` columns and nested
elements as structs — the scalable replacement for the reference's DOM loop.

Fallback path (read_xml_xpath): wholetext + regex record split + built-in
`xpath_string` SQL functions. Kept behind the same interface so the engine
works where the native source is unavailable; fine for dimension-sized
files, not the 100 TB path (wholetext is per-file single-split).

Declared schemas: the native batch readers (`read_xml`,
`read_xml_files_ordered`) take an optional `schema`. With one, a read is a
lazy plan and runs no Spark job until an action — the pipeline declares
its record schemas by field name, as the reference reads them.
Without one, the native source infers the schema with a job that parses the
input; `read_xml_files_ordered` then infers ONCE over all its files and
reads each file with that one schema, instead of one inference per file.

Ingest-order tagging: the reference's semantics depend on file order and
record order within file (first-occurrence dedup A3, surrogate keys W1).
`read_xml_files_ordered` makes that implicit order explicit — the
parity-critical construction highlighted in SURVEY.md §7.3. It reads all
files as one scan and tags each row with `file_idx` (from the row's
`_metadata.file_path`), the order key `pos` (monotonically_increasing_id,
exact because no file is split; every job that reads it checks that) and
the dense per-file `seq`, a window that Catalyst prunes from any plan that
does not select it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.pyworker import ready


def read_xml(
    spark: SparkSession, path: str | list[str], row_tag: str, schema: T.StructType | None = None
) -> DataFrame:
    """Native distributed XML scan; attributes surface as `_name` columns.

    With `schema` the scan parses only the declared fields (absent ones read
    as NULL) and runs no job until an action; without it Spark infers the
    schema from `path` (one or many files) with an eager job.
    """
    reader = spark.read.format("xml").option("rowTag", row_tag).option("attributePrefix", "_")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def read_xml_xpath(
    spark: SparkSession, path: str, row_tag: str, fields: dict[str, str]
) -> DataFrame:
    """Fallback: regex record split + xpath_string extraction.

    fields maps output column name -> XPath evaluated against each record
    fragment (e.g. {"rep_id": "rep/@rID", "cust": "txn//cust"}).
    """
    raw = spark.read.option("wholetext", True).text(path)
    # `[\\s>]` after the tag name keeps a wrapper whose name merely extends
    # the row tag (<txns> vs <txn>) from swallowing the first record
    records = raw.select(
        F.explode(
            F.expr(f"regexp_extract_all(value, '<{row_tag}[\\\\s>][\\\\s\\\\S]*?</{row_tag}>', 0)")
        ).alias("xml")
    )
    cols = [F.expr(f"xpath_string(xml, '{xp}')").alias(name) for name, xp in fields.items()]
    return records.select(*cols)


def write_xml_shards(df: DataFrame, out_dir: str, n_files: int, root_tag: str = "txns") -> None:
    """Write a one-string-column DataFrame (each row one XML record) as
    n_files WELL-FORMED XML shards, each wrapped in a `root_tag`
    document root. The native XML source parses per-file DOCUMENTS and
    stops at the root element's end — a rootless record stream silently
    yields ~1 record per file, so the wrap is correctness, not
    cosmetics. The wrap happens in mapPartitions: generation stays
    distributed and record order within a shard is the partition's.
    Backs the XML scale probe (examples/xml_scale_probe.py) and the
    driver-verified xml_scan_roundtrip queries."""
    col = df.columns[0]

    def with_root(it):
        ready()
        yield f"<{root_tag}>"
        for row in it:
            yield row[col]
        yield f"</{root_tag}>"

    sc = df.sparkSession.sparkContext
    jvm = sc._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(out_dir)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    if fs.exists(hpath):
        fs.delete(hpath, True)
    df.repartition(n_files).rdd.mapPartitions(with_root).saveAsTextFile(out_dir)


# fixed mtime epoch for staged stream files — only the ORDER matters
_XML_STREAM_EPOCH_S = 1_000_000_000


def stream_xml_files_ordered(
    spark: SparkSession,
    paths: list[str],
    row_tag: str,
    schema,
    work_dir: str,
    require_single_split: bool = True,
) -> DataFrame:
    """STREAMING twin of read_xml_files_ordered (r8, VERDICT ask #7): the
    reference's N-file ordered append loop
    (LoadXML2DB.ChatterjeeP.R:198..452 appends six pharmaSalesTxn files
    in sequence) driven by Structured Streaming instead of a driver
    loop. The files are staged with PINNED strictly increasing mtimes
    (list order == delivery order — the file source sorts unseen files
    by modification time, and coarse FS timestamps would otherwise tie),
    consumed by readStream.format("xml") one file per micro-batch, and
    appended to a parquet sink by foreachBatch with the SAME order
    columns the batch reader derives: file_idx = the micro-batch id,
    seq = 1-based document order within the file. Returns the drained
    sink. Parity mode enforces one partition per micro-batch: a batch is
    one file, so one partition means the file was read whole and in
    document order, which is what `seq` needs (the batch reader checks the
    same per row, by each row's split offset) — this is the
    dimension-scale ingest path (local staging, per-file batches), not the
    100 TB scan (that is read_xml's distributed shred; order-tagged ingest
    is only meaningful where order exists). The batch reader's `pos` key
    has no stream twin. Batch/stream equivalence on every txn field,
    `file_idx` and `seq` is pinned in tests/test_xml_sources.py."""
    import os
    import shutil

    src = os.path.join(work_dir, "src")
    sink = os.path.join(work_dir, "sink")
    ckpt = os.path.join(work_dir, "ckpt")
    os.makedirs(src, exist_ok=True)
    for i, p in enumerate(paths):
        dst = os.path.join(src, f"{i:05d}_{os.path.basename(p)}")
        shutil.copyfile(p, dst)
        t = _XML_STREAM_EPOCH_S + 60 * i
        os.utime(dst, (t, t))

    stream = (
        spark.readStream.format("xml")
        .schema(schema)
        .option("rowTag", row_tag)
        .option("attributePrefix", "_")
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )

    def handle(df: DataFrame, batch_id: int) -> None:
        if require_single_split and df.rdd.getNumPartitions() > 1:
            raise ValueError(
                f"parity-mode ordered XML stream requires one split per "
                f"micro-batch file, got {df.rdd.getNumPartitions()}; raise "
                "spark.sql.files.maxPartitionBytes or pass "
                "require_single_split=False"
            )
        w = Window.orderBy("__mono")  # one dimension-sized file per batch
        (
            df.withColumn("__mono", F.monotonically_increasing_id())
            .withColumn("file_idx", F.lit(batch_id).cast("int"))
            .withColumn("seq", F.row_number().over(w))
            .drop("__mono")
            .write.mode("append")
            .parquet(sink)
        )

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(sink)


def read_xml_files_ordered(
    spark: SparkSession,
    paths: list[str],
    row_tag: str,
    require_single_split: bool = True,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Read N XML files preserving (file order, record order) as columns.

    Returns the `schema` columns — when none is given, the schema inferred
    once over all `paths` — plus `file_idx` (position of the file in
    `paths`), `pos` (a record order key, ascending in document order within
    each file) and `seq` (1-based record position within the file).

    All files are one scan. `file_idx` comes from each row's
    `_metadata.file_path`, matched to the paths in the form Spark writes it;
    a row of a file that is none of `paths` raises in the job. A path listed
    twice (in any spelling) is refused: one scan reads it twice under one
    index. `pos` is monotonically_increasing_id, exact because a scan
    partition reads each of its files whole, in one run, in document order
    — the native source never splits an XML file (tests/test_xml_sources.py
    pins this). Parity mode checks that in every job that reads `pos`: a row
    read from a split that starts past its file's first byte raises, naming
    the file (pass require_single_split=False only when downstream order
    doesn't matter). `seq` is a window over `pos` per file; order by
    (file_idx, pos) where a dense number is not needed, and Catalyst prunes
    the window from the plan.
    """
    keys = _spark_file_paths(spark, paths)
    first: dict[str, int] = {}
    for i, key in enumerate(keys):
        j = first.setdefault(key, i)
        if j != i:
            raise ValueError(
                f"ordered XML read lists {paths[i]} twice (first as {paths[j]}); "
                "one scan would read it twice under one file_idx"
            )
    if schema is None:
        schema = read_xml(spark, paths, row_tag).schema
    file_path = F.col("_metadata.file_path")
    index = F.create_map(*[F.lit(x) for i, key in enumerate(keys) for x in (key, i)])
    file_idx = F.coalesce(
        index[file_path],
        F.raise_error(F.concat(F.lit("ordered XML read scanned a file not in its paths: "), file_path)),
    )
    pos = F.monotonically_increasing_id()
    if require_single_split:
        pos = F.when(F.col("_metadata.file_block_start") == 0, pos).otherwise(
            F.raise_error(F.concat(
                F.lit("parity-mode ordered XML ingest requires one split per file, but "),
                file_path,
                F.lit(" was split; raise spark.sql.files.maxPartitionBytes or pass "
                      "require_single_split=False"),
            ))
        )
    w = Window.partitionBy("file_idx").orderBy("pos")
    return (
        read_xml(spark, paths, row_tag, schema)
        .select("*", file_idx.alias("file_idx"), pos.alias("pos"))
        .withColumn("seq", F.row_number().over(w))
    )


def _spark_file_paths(spark: SparkSession, paths: list[str]) -> list[str]:
    """Each path in the form a scan writes to `_metadata.file_path`: made
    absolute by its file system, then re-parsed from its decoded string and
    URL-encoded (`file:/a%20b/x.xml` for `/a b/x.xml`), as Spark's metadata
    extractor does."""
    jvm = spark._jvm
    hadoop_path = jvm.org.apache.hadoop.fs.Path
    spark_path = jvm.org.apache.spark.paths.SparkPath
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    out = []
    for p in paths:
        hp = hadoop_path(p)
        qualified = hp.getFileSystem(conf).makeQualified(hp).toString()
        out.append(spark_path.fromPathString(qualified).toUri().toString())
    return out
