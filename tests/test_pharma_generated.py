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

import uuid
from contextlib import contextmanager
from dataclasses import dataclass

import pytest

from perfbench import xmlgen
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


@contextmanager
def session_conf(spark, conf: dict[str, str]):
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def count_jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), read from a job group."""
    sc = spark.sparkContext
    group = f"pharma-gen-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


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
    parsed once per table built from it; the analytics read the
    year-partitioned facts."""
    assert load.jobs["run_pipeline"] == 0, load.jobs
    assert load.jobs["persist_warehouse"] <= 20, load.jobs
    assert load.jobs["analytics"] <= 14, load.jobs


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
