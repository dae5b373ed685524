"""XML source equivalence: the xpath fallback reader must produce the same
frame as the native Spark XML source on the pharma fixtures — it exists to
survive environments without the native reader, which is only true if its
output is interchangeable (VERDICT r1 gap #7).

The fixtures are the seeded pharma XML of `perfbench/xmlgen.py` (the
reference's record shapes and 4000/4000/3000/20/20/20 file proportions),
so these checks need no reference database."""

from __future__ import annotations

import os
import re

import pytest

from pyspark.sql import functions as F

from perfbench import xmlgen
from tests.conftest import session_conf
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.plans import pharma_pipeline as pp
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.sources import xml as xml_src
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.sources.xml import read_xml_xpath

SEED = 11
N_TXNS = 1_100


@pytest.fixture(scope="module")
def truth(tmp_path_factory):
    return xmlgen.generate(tmp_path_factory.mktemp("xml_fb"), SEED, N_TXNS)


@pytest.fixture(scope="module")
def xml_paths(truth):
    return truth.paths["reps"], truth.paths["txns"]


def test_xpath_fallback_matches_native_reps(spark, xml_paths, truth):
    reps_xml, _ = xml_paths
    native = sorted(tuple(r) for r in pp.load_reps(spark, reps_xml).collect())
    fb = read_xml_xpath(
        spark,
        reps_xml,
        "rep",
        {
            "rep_id": "rep/@rID",
            "first_name": "rep/first_name",
            "last_name": "rep/last_name",
            "territory": "rep/territory",
        },
    )
    fallback = sorted(tuple(r) for r in fb.collect())
    assert fallback == native
    assert len(fallback) == len(truth.reps)


def test_xpath_fallback_matches_native_txns(spark, xml_paths):
    """One txn file, including the descendant-axis customer fields and the
    record adjacent to the <txns> wrapper (regression: the record-split
    regex must not swallow it)."""
    _, txn_xmls = xml_paths
    native_df = pp.load_txns_ordered(spark, [txn_xmls[0]]).select(
        "txn_id", "product_name", "rep_id_raw", "customer_name", "country",
        "sale_date", "sale_amount",
    )
    fb = read_xml_xpath(
        spark,
        txn_xmls[0],
        "txn",
        {
            "txn_id": "txn/txnID",
            "product_name": "txn/prod",
            "rep_id_raw": "txn/repID",
            "customer_name": "txn//cust",
            "country": "txn//country",
            "sale_date": "txn/date",
            "sale_amount": "txn/amount",
        },
    ).select(
        F.col("txn_id").cast("int"),
        "product_name",
        "rep_id_raw",
        "customer_name",
        "country",
        "sale_date",
        F.col("sale_amount").cast("double"),
    )
    native = sorted(tuple(r) for r in native_df.collect())
    fallback = sorted(tuple(r) for r in fb.collect())
    assert fallback == native
    assert len(fallback) > 0


def test_scale_probe_corpus_paths_agree_and_single_scan(spark, tmp_path):
    """r7 XML scale rung support (examples/xml_scale_probe.py): on the
    deterministic pharma-shaped corpus, (1) the native reader and the
    xpath fallback produce the identical aggregate — the same
    equivalence gate the big rungs assert before timing; (2) EACH path
    stays ONE scan of the corpus (the fallback's
    wholetext->regex-explode->xpath chain must not re-read the files
    per extracted field, which is what makes it usable at dimension
    scale at all); (3) the generator writes well-formed per-file
    documents (the native source parses per-file DOCUMENTS and silently
    yields ~1 record/file on rootless record streams — the bug the
    root wrap exists to prevent, pinned here by exact row count)."""
    import sys, os
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "examples"))
    import xml_scale_probe as xp

    corpus = str(tmp_path / "xmlcorpus")
    xp.build_xml_corpus(spark, corpus, 5000, 3)

    native = xp.native_agg(spark, corpus)
    fallback = xp.xpath_agg(spark, corpus)
    a, b = native.collect()[0].asDict(), fallback.collect()[0].asDict()
    assert a == b
    assert a["n"] == 5000  # every record parsed (rootless would give ~3)

    def n_scans(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        # post-execution AQE strings carry "== Final Plan ==" AND
        # "== Initial Plan ==" sections — count scans in the final only
        return plan.split("== Initial Plan ==")[0].count("FileScan")

    assert n_scans(native) == 1
    assert n_scans(fallback) == 1


def test_stream_xml_ordered_equals_batch(spark, tmp_path, xml_paths):
    """The streaming twin of the ordered multi-file ingest (r8, VERDICT
    ask #7): streaming the six pharma txn files through
    stream_xml_files_ordered must reproduce load_txns_ordered's rows
    EXACTLY — every field AND the (file_idx, seq) order columns the
    first-occurrence dedup and surrogate-key operators depend on."""
    from pyspark.sql import types as T

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.plans.pharma_pipeline import (
        load_txns_ordered,
    )
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.sources.xml import (
        stream_xml_files_ordered,
    )
    _reps, txn_paths = xml_paths
    batch = load_txns_ordered(spark, txn_paths)

    schema = T.StructType(
        [
            T.StructField("txnID", T.LongType()),
            T.StructField("prod", T.StringType()),
            T.StructField("repID", T.StringType()),
            T.StructField(
                "customer",
                T.StructType(
                    [
                        T.StructField("cust", T.StringType()),
                        T.StructField("country", T.StringType()),
                    ]
                ),
            ),
            T.StructField("date", T.StringType()),
            T.StructField("amount", T.DoubleType()),
        ]
    )
    from pyspark.sql import functions as F

    streamed = stream_xml_files_ordered(
        spark, txn_paths, "txn", schema, str(tmp_path / "stream")
    ).select(
        F.col("txnID").cast("int").alias("txn_id"),
        F.col("prod").alias("product_name"),
        F.col("repID").cast("string").alias("rep_id_raw"),
        F.col("customer.cust").alias("customer_name"),
        F.col("customer.country").alias("country"),
        F.col("date").alias("sale_date"),
        F.col("amount").cast("double").alias("sale_amount"),
        "file_idx",
        "seq",
    )

    # every txn field and the order columns; `pos` is the batch scan's own key
    cols = ["txn_id", "product_name", "rep_id_raw", "customer_name", "country",
            "sale_date", "sale_amount", "file_idx", "seq"]
    b_rows = sorted(tuple(r) for r in batch.select(*cols).collect())
    s_rows = sorted(tuple(r) for r in streamed.select(*cols).collect())
    assert len(b_rows) == len(s_rows) > 0
    assert b_rows == s_rows


# a split every 64 KiB, and no per-file open cost to pack files by
_SPLIT_EVERY_64K = {
    "spark.sql.files.maxPartitionBytes": "65536",
    "spark.sql.files.openCostInBytes": "0",
}


def test_native_xml_scan_of_one_file_is_one_split(spark, tmp_path):
    """The property the ordered reader's single-split guard relies on: the
    native source does not split an XML file, even one many times the
    split size, so `seq` follows document order."""
    paths = xmlgen.generate(tmp_path, SEED, 11_060).paths["txns"]
    assert os.path.getsize(paths[0]) > 8 * 65536
    with session_conf(spark, _SPLIT_EVERY_64K):
        df = xml_src.read_xml(spark, paths[0], "txn", pp.TXN_SCHEMA)
        assert df.rdd.getNumPartitions() == 1
        ordered = xml_src.read_xml_files_ordered(spark, paths, "txn", schema=pp.TXN_SCHEMA)
        # `seq` reads the order, so every row passes the split guard
        per_file = ordered.groupBy("file_idx").agg(F.count("*").alias("n"), F.max("seq").alias("m"))
        rows = per_file.collect()
    assert sum(r["n"] for r in rows) == 11_060
    assert all(r["n"] == r["m"] for r in rows)


def test_ordered_read_refuses_a_file_read_as_two_partitions(spark, xml_paths, monkeypatch):
    """Parity mode raises, naming the file, in a job that reads the order
    of a file scanned as more than one split. A text scan splits a file
    every 64 KiB, so it stands in for a reader that splits."""
    _, txn_xmls = xml_paths
    split = [p for p in txn_xmls if os.path.getsize(p) > 65536]
    assert split, "no txn file is larger than one split"

    def read_xml(spark, path, row_tag, schema=None):
        return spark.read.text(path)

    monkeypatch.setattr(xml_src, "read_xml", read_xml)
    n_lines = spark.read.text(txn_xmls).count()
    with session_conf(spark, _SPLIT_EVERY_64K):
        df = xml_src.read_xml_files_ordered(spark, txn_xmls, "txn", schema=pp.TXN_SCHEMA)
        named = "|".join(re.escape(f"{os.path.basename(p)} was split") for p in split)
        for order in ("seq", "pos"):
            with pytest.raises(Exception, match=named):
                df.select("file_idx", order).collect()
        df = xml_src.read_xml_files_ordered(
            spark, txn_xmls, "txn", require_single_split=False, schema=pp.TXN_SCHEMA
        )
        rows = df.select("file_idx", "seq").collect()
    assert len(rows) == n_lines
    for i in range(len(txn_xmls)):
        seqs = sorted(r["seq"] for r in rows if r["file_idx"] == i)
        assert seqs == list(range(1, len(seqs) + 1))
