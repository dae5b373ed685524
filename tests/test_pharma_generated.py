"""The paper's pipeline end to end on generated XML, checked against the
generator's exact truth.

`perfbench/xmlgen.py` writes the seven pharma XML files with planted cases
(a customer seen again with another country, txns whose rep is unknown,
amounts with cents, three years) and computes every dim, fact total and
analytics answer in integer cents. So this module checks the whole load —
run_pipeline → persist_warehouse → the four analytics answers — without
the reference's pharma.db, and pins how many Spark jobs each layer runs.
"""

from __future__ import annotations

import dataclasses
import re
import time
from dataclasses import dataclass
from itertools import combinations

import pytest

from pyspark.sql import functions as F

from perfbench import xmlgen
from tests.conftest import count_jobs, jobs_after, newest_job_id, session_conf
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.plans import pharma_pipeline as pp
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.sources.xml import (
    read_xml_files_ordered,
)

N_TXNS = 2_000
SEED = 7
DATABASE = "pharma_gen_test"
# the session settings the job counts depend on: AQE submits each query
# stage as its own job, and the dims must broadcast
JOB_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


def analytics(wh: pp.PharmaWarehouse) -> dict:
    """The four analytics answers, in the truth's shape."""
    return {
        "quarterly_totals_2020": [
            (r["quarter"], r["total"]) for r in pp.quarterly_totals_2020(wh.product_facts).collect()
        ],
        "best_product_2020": tuple(pp.best_product_2020(wh.product_facts).first()),
        "rep_totals_2020": {
            (r["first_name"], r["last_name"]): r["total_sales"]
            for r in pp.rep_totals_2020(wh.rep_facts).collect()
        },
        "rep_quarterly_sales": [
            (r["year"], r["quarter"], r["total_sales"])
            for r in pp.rep_quarterly_sales(wh.rep_facts).collect()
        ],
    }


def tables(wh: pp.PharmaWarehouse) -> dict:
    """Dims and fact tables, in the truth's shape (ids as assigned)."""
    return {
        "salestxn_rows": wh.salestxn.count(),
        "reps": sorted(tuple(r) for r in wh.reps.select(
            "rep_id", "first_name", "last_name", "territory").collect()),
        "customers": sorted(tuple(r) for r in wh.customers.select(
            "customer_id", "customer_name", "country").collect()),
        "products": sorted(tuple(r) for r in wh.products.select(
            "product_id", "product_name").collect()),
        "product_facts": {
            (r["product_name"], r["year"], r["quarter"], r["region"]): r["total_sold"]
            for r in wh.product_facts.collect()
        },
        "rep_facts": {
            (r["first_name"], r["last_name"], r["year"], r["quarter"], r["product_name"]):
                r["total_sold"]
            for r in wh.rep_facts.collect()
        },
    }


@dataclass
class Load:
    truth: xmlgen.Truth
    wh: pp.PharmaWarehouse   # run_pipeline's in-memory warehouse
    pwh: pp.PharmaWarehouse  # persist_warehouse's re-read warehouse
    answers: dict            # the analytics over pwh
    jobs: dict[str, int]     # Spark jobs per layer call


@pytest.fixture(scope="module")
def load(spark, tmp_path_factory):
    truth = xmlgen.generate(tmp_path_factory.mktemp("gen_xml"), SEED, N_TXNS)
    location = str(tmp_path_factory.mktemp("gen_wh"))
    with session_conf(spark, JOB_CONF):
        wh, n_run = count_jobs(
            spark, lambda: pp.run_pipeline(spark, truth.paths["reps"], truth.paths["txns"])
        )
        pwh, n_persist = count_jobs(
            spark, lambda: pp.persist_warehouse(spark, wh, database=DATABASE, location=location)
        )
        answers, n_analytics = count_jobs(spark, lambda: analytics(pwh))
    yield Load(truth, wh, pwh, answers,
               {"run_pipeline": n_run, "persist_warehouse": n_persist, "analytics": n_analytics})
    spark.sql(f"DROP DATABASE IF EXISTS {DATABASE} CASCADE")


def test_generated_load_matches_exact_truth(load):
    """Dims with first-seen ids, every fact total and the four answers."""
    observed = {**tables(load.pwh), **load.answers}
    assert xmlgen.check_load(observed, load.truth) == []
    assert observed["salestxn_rows"] == N_TXNS


def test_in_memory_and_persisted_warehouses_agree(load):
    """Stage 2 built from the persisted star equals the in-memory DAG."""
    assert {**tables(load.wh), **analytics(load.wh)} == {**tables(load.pwh), **load.answers}
    cols = load.wh.salestxn.columns
    for name in ("salestxn", "salestxn_repaired"):
        mem = sorted(tuple(r) for r in getattr(load.wh, name).select(*cols).collect())
        disk = sorted(tuple(r) for r in getattr(load.pwh, name).select(*cols).collect())
        assert mem == disk, name


def test_job_budget_per_layer(load):
    """run_pipeline is a lazy plan (declared schemas, no inference);
    persist_warehouse builds stage 2 from the persisted star, so the XML is
    parsed once per table built from it, and the dims shuffle no file_idx;
    the analytics read the year-partitioned facts and sort in one
    partition."""
    assert load.jobs["run_pipeline"] == 0, load.jobs
    assert load.jobs["persist_warehouse"] <= 18, load.jobs
    assert load.jobs["analytics"] <= 8, load.jobs


def test_a_repeated_load_compiles_no_code(spark, load, tmp_path):
    """The session's compiled-class cache holds a whole load, so a load
    repeated in one session reuses every generated class. With Spark's
    default 100 entries the load evicted its own classes and recompiled
    dozens of them each time."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    db = "pharma_gen_repeat"

    def one_load() -> int:
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        with session_conf(spark, JOB_CONF):
            wh = pp.run_pipeline(spark, load.truth.paths["reps"], load.truth.paths["txns"])
            pwh = pp.persist_warehouse(spark, wh, database=db, location=str(tmp_path / "wh"))
            analytics(pwh)
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    try:
        one_load()
        assert one_load() == 0
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_txns_are_one_scan_and_the_dims_shuffle_no_file_idx(load):
    """The six txn files are one XML scan, and the dims order by
    (file_idx, pos), so only a plan that selects the dense `seq` pays its
    per-file window."""
    assert _plan(load.wh.txns).count("FileScan xml") == 1
    for name in ("customers", "products", "salestxn"):
        assert "hashpartitioning(file_idx" not in _plan(getattr(load.wh, name)), name


def test_sorted_analytics_sort_in_one_partition(load):
    """A sorted answer is dim-sized, so it sorts in one partition with no
    range exchange. Its Coalesce sits above the aggregate's hash exchange,
    so the partial aggregate keeps the scan's parallelism (a coalesce(1)
    below the exchange would serialize the scan)."""
    for df in (pp.quarterly_totals_2020(load.pwh.product_facts),
               pp.rep_totals_2020(load.pwh.rep_facts),
               pp.rep_quarterly_sales(load.pwh.rep_facts)):
        plan = _plan(df)
        assert "rangepartitioning" not in plan, plan
        lines = plan.splitlines()
        below = lines[next(i for i, line in enumerate(lines) if "Coalesce 1" in line) + 1:]
        exchange = next(i for i, line in enumerate(below) if "Exchange" in line)
        assert "Exchange hashpartitioning" in below[exchange], plan
        assert any("partial_sum" in line for line in below[exchange + 1:]), plan


def test_persist_replaces_a_table_directory_the_catalog_does_not_know(spark, load, tmp_path):
    """A second database at the same LOCATION does not know the first one's
    tables, yet their directories are where its managed tables go. The
    write replaces them (DROP TABLE IF EXISTS + CREATE) rather than raising
    LOCATION_ALREADY_EXISTS; a new process reusing a location is the same
    case."""
    location = str(tmp_path / "wh")
    dbs = [f"pharma_gen_reuse_{i}" for i in range(2)]
    try:
        for db in dbs:
            pwh = pp.persist_warehouse(spark, load.wh, database=db, location=location)
        assert xmlgen.check_load({**tables(pwh), **analytics(pwh)}, load.truth) == []
    finally:
        for db in dbs:
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_persist_writes_the_dims_at_once_and_keeps_every_job_in_the_callers_group(
    spark, load, tmp_path, monkeypatch
):
    """persist_warehouse writes its dependency DAG level by level; the
    three dims of level 1 are written at once, so at least two of their
    jobs overlap in time. The overlap moves no job out of the caller's
    group (count_jobs fails on one that leaves it) and drops none: all 18
    still run."""
    level_done_ms = []
    concurrently = pp._concurrently

    def timed(spark, *writes):
        out = concurrently(spark, *writes)
        level_done_ms.append(time.time() * 1000)
        return out

    monkeypatch.setattr(pp, "_concurrently", timed)
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    last_id = newest_job_id(sc)
    db = "pharma_gen_dag"
    try:
        with session_conf(spark, JOB_CONF):
            _, n_jobs = count_jobs(spark, lambda: pp.persist_warehouse(
                spark, load.wh, database=db, location=str(tmp_path / "wh")))
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    assert n_jobs == 18
    assert len(level_done_ms) == 2  # levels 1 and 3; level 2 is one write
    spans = [(j.submissionTime().get().getTime(), j.completionTime().get().getTime())
             for j in jobs_after(sc, last_id)]
    level_1 = [s for s in spans if s[1] <= level_done_ms[0]]
    assert any(max(a[0], b[0]) < min(a[1], b[1]) for a, b in combinations(level_1, 2)), level_1


def test_a_failed_concurrent_write_raises_out_of_persist(spark, load, tmp_path):
    """A write that fails on a pool thread raises out of persist_warehouse,
    after the other writes of its level finished and before the next
    level starts."""
    planted = F.raise_error(F.concat(F.lit("planted failure: "), "customer_name"))
    wh = dataclasses.replace(
        load.wh, customers=load.wh.customers.withColumn("country", planted.cast("string"))
    )
    db = "pharma_gen_fail"
    try:
        with pytest.raises(Exception, match="planted failure"):
            pp.persist_warehouse(spark, wh, database=db, location=str(tmp_path / "wh"))
        assert spark.catalog.tableExists(f"{db}.reps")
        assert spark.catalog.tableExists(f"{db}.products")
        assert not spark.catalog.tableExists(f"{db}.salestxn")
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


_TXN = ("<txn><txnID>{id}</txnID><prod>{prod}</prod><repID>{rep}</repID>{cust}"
        "<date>{date}</date><amount>{amount}</amount></txn>")
_RECORDS = [
    dict(id=1001, prod="Alaxo", rep="007", cust_name="Acme Pharmacy", country="USA",
         date="1/5/2020", amount="12.50"),
    dict(id=1002, prod="Benzo", rep="12", cust_name="van Dijk Care", country="Brazil",
         date="12/31/2019", amount="300"),
    dict(id=1003, prod="Alaxo", rep="300", cust_name="Acme Pharmacy", country="Germany",
         date="7/4/2021", amount="0.99"),
]


def _txn_file(path, nested: bool) -> str:
    records = []
    for r in _RECORDS:
        cust = f"<cust>{r['cust_name']}</cust><country>{r['country']}</country>"
        records.append(_TXN.format(cust=f"<customer>{cust}</customer>" if nested else cust, **r))
    path.write_text('<?xml version="1.0" encoding="UTF-8"?>\n<txns>\n'
                    + "\n".join(records) + "\n</txns>\n")
    return str(path)


def test_customer_fields_load_from_any_depth_and_rep_ids_keep_zeros(spark, tmp_path):
    """`.//cust` and `.//country` match at the record root as well as under
    <customer>; repID is read as the string R reads, so `007` stays `007`."""
    cols = ["txn_id", "product_name", "rep_id_raw", "customer_name", "country",
            "sale_date", "sale_amount", "file_idx", "seq"]
    nested = pp.load_txns_ordered(spark, [_txn_file(tmp_path / "nested.xml", True)])
    root = pp.load_txns_ordered(spark, [_txn_file(tmp_path / "root.xml", False)])
    expected = [
        (r["id"], r["prod"], r["rep"], r["cust_name"], r["country"], r["date"],
         float(r["amount"]), 0, seq)
        for seq, r in enumerate(_RECORDS, start=1)
    ]
    for df in (nested, root):
        assert [tuple(r) for r in df.select(*cols).orderBy("seq").collect()] == expected


def test_ordered_read_without_schema_infers_once_over_all_files(spark, tmp_path):
    """Without a declared schema the ordered reader infers one schema over
    every file — one job, and files whose records differ in shape union
    under it."""
    paths = [_txn_file(tmp_path / "nested.xml", True), _txn_file(tmp_path / "root.xml", False)]
    df, n_jobs = count_jobs(spark, lambda: read_xml_files_ordered(spark, paths, "txn"))
    assert n_jobs == 1
    rows = df.select("file_idx", "seq", "customer.cust", "cust").orderBy("file_idx", "seq")
    names = [r["cust_name"] for r in _RECORDS]
    assert [tuple(r) for r in rows.collect()] == [
        (i, seq, name if i == 0 else None, None if i == 0 else name)
        for i in range(2) for seq, name in enumerate(names, start=1)
    ]


def test_ordered_read_indexes_a_file_under_an_escaped_directory_name(spark, tmp_path):
    """Spark writes `_metadata.file_path` URL-encoded; a file under a
    directory whose name holds a space, `%20`, `#`, `+` and a non-ASCII
    character still gets its own file_idx and seq 1..n. A file that is
    none of the paths (here: read through its directory) raises in the
    job instead of getting an index."""
    odd = tmp_path / "a b%20c#d+é"
    odd.mkdir()
    paths = [_txn_file(tmp_path / "plain.xml", False), _txn_file(odd / "odd.xml", True),
             _txn_file(tmp_path / "last.xml", False)]
    rows = pp.load_txns_ordered(spark, paths).select("file_idx", "seq", "txn_id")
    assert sorted(tuple(r) for r in rows.collect()) == [
        (i, seq, r["id"]) for i in range(3) for seq, r in enumerate(_RECORDS, start=1)
    ]
    by_dir = read_xml_files_ordered(spark, [str(odd)], "txn", schema=pp.TXN_SCHEMA)
    with pytest.raises(Exception, match="scanned a file not in its paths: .*odd.xml"):
        by_dir.select("file_idx").collect()


def test_ordered_read_refuses_a_path_listed_twice(spark, tmp_path):
    """One scan reads a file listed twice twice, under one file_idx; the
    reader refuses the list, in any spelling of the path."""
    path = _txn_file(tmp_path / "twice.xml", False)
    for again in (path, f"file:{path}"):
        with pytest.raises(ValueError, match=re.escape(f"lists {again} twice")):
            read_xml_files_ordered(spark, [path, again], "txn", schema=pp.TXN_SCHEMA)
