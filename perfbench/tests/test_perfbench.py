"""Tests of the benchmark itself: generators, checks, output contract.

Run from the repository root:

    python3 -m pytest perfbench/tests -q

The last three tests start Spark through ``perfbench/run.py`` (about four
minutes together on 4 cores).
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import corpusgen  # noqa: E402
import xmlgen  # noqa: E402

SMALL = 600  # txns: enough for every planted case, fast to generate


def _files(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def _shape(text: str) -> list[str]:
    """Tag sequence of an XML file with all text and attribute values removed."""
    return re.findall(r"</?[A-Za-z_]+", text)


def test_xml_same_seed_same_bytes(tmp_path):
    xmlgen.generate(tmp_path / "a", 5, SMALL)
    xmlgen.generate(tmp_path / "b", 5, SMALL)
    assert _files(tmp_path / "a") == _files(tmp_path / "b")


def test_xml_other_seed_other_bytes_same_shape(tmp_path):
    ta = xmlgen.generate(tmp_path / "a", 5, SMALL)
    tb = xmlgen.generate(tmp_path / "b", 6, SMALL)
    a, b = _files(tmp_path / "a"), _files(tmp_path / "b")
    assert a.keys() == b.keys() and len(a) == 7
    for name in a:
        assert a[name] != b[name], name
        assert set(_shape(a[name].decode())) == set(_shape(b[name].decode())), name
        assert a[name].count(b"<txn>") == b[name].count(b"<txn>"), name
        assert a[name].count(b"<rep ") == b[name].count(b"<rep "), name
    assert ta.n_txns == tb.n_txns
    txn = (tmp_path / "a" / "pharmaSalesTxn-1.xml").read_text()
    assert "<customer><cust>" in txn
    assert re.search(r"<date>\d{1,2}/\d{1,2}/\d{4}</date>", txn)
    assert re.search(r"<repID>\d+</repID>", txn)  # no r prefix in txns
    assert re.search(r'<rep rID="r\d{3}">', (tmp_path / "a" / "pharmaReps.xml").read_text())


def test_xml_proportions_follow_reference():
    sizes = xmlgen._file_sizes(11_060)
    assert sizes == list(xmlgen.FILE_SHARES)


def test_xml_truth_plants_the_semantic_cases(tmp_path):
    truth = xmlgen.generate(tmp_path, 5, 3000)
    years = {k[1] for k in truth.product_facts}
    assert years == {2019, 2020, 2021}
    rep_cents = sum(truth.rep_facts.values())
    assert rep_cents < sum(truth.product_facts.values())  # unknown reps dropped
    assert any(v != int(v) for v in truth.product_facts.values())  # cents survive


def test_planted_wrong_total_fails_the_load_check(tmp_path):
    truth = xmlgen.generate(tmp_path, 5, SMALL)
    observed = xmlgen.truth_view(truth)
    assert xmlgen.check_load(observed, truth) == []

    wrong = dict(observed)
    key = next(iter(truth.product_facts))
    wrong["product_facts"] = {**truth.product_facts, key: truth.product_facts[key] + 0.01}
    bad = xmlgen.check_load(wrong, truth)
    assert len(bad) == 1 and bad[0].startswith("product_facts:")

    wrong = dict(observed)
    q, total = truth.quarterly_totals_2020[0]
    wrong["quarterly_totals_2020"] = [(q, total + 1.0), *truth.quarterly_totals_2020[1:]]
    assert xmlgen.check_load(wrong, truth, keys=["quarterly_totals_2020"])


def test_corpus_same_seed_same_tables_other_seed_same_schema():
    a, b, c = corpusgen.build_tables(3), corpusgen.build_tables(3), corpusgen.build_tables(4)
    assert set(a) == set(corpusgen.TABLES)
    for name in corpusgen.TABLES:
        assert a[name].equals(b[name]), name
        assert a[name].schema == c[name].schema, name
        assert a[name].num_rows == c[name].num_rows, name
    assert not a["lineitem"].equals(c["lineitem"])
    assert not a["documents"].equals(c["documents"])


def test_corpus_matches_reference_invariants(tmp_path):
    d = corpusgen.write_corpus(tmp_path, 3)
    docs = pq.read_table(d / "documents.parquet").to_pylist()
    assert all(len(r["text"]) == r["n_chars"] for r in docs)
    emb = pq.read_table(d / "embeddings.parquet").column("embedding").to_pylist()
    assert {len(v) for v in emb} == {corpusgen.EMBED_DIM}
    assert all(any(x != 0.0 for x in v) for v in emb)
    orders = set(pq.read_table(d / "orders.parquet").column("o_orderkey").to_pylist())
    assert set(pq.read_table(d / "lineitem.parquet").column("l_orderkey").to_pylist()) <= orders


def test_corpus_near_duplicates_follow_reference():
    sizes = corpusgen.SIZES
    tables = corpusgen.build_tables(3)
    texts = tables["documents"].column("text").to_pylist()
    assert len(texts) == sizes["documents"]
    assert sum(t.endswith(" dup") for t in texts) == len(texts) // corpusgen.NEAR_DUP_SHARE
    assert {len(t.split()) for t in texts} <= set(range(10, 101))
    assert tables["embeddings"].num_rows == sizes["embeddings"]


def test_without_the_engine_the_benchmark_fails(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    cmd = json.loads((ROOT / "BENCHMARK.json").read_text())["command"]
    proc = subprocess.run(
        [*cmd, "--workload", "pipeline_xml", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def _run(workload: str, seed: int, trace: int) -> dict:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    proc = subprocess.run(
        [*spec["command"], "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    return result


@pytest.fixture(scope="module")
def traced_twice():
    return [_run("pipeline_xml", 7, 1) for _ in range(2)]


def test_printed_metric_names_equal_benchmark_json(traced_twice):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    untraced = _run("pipeline_xml", 7, 0)
    assert untraced["correct"] and untraced["failed"] == 0
    assert set(untraced["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    assert set(traced_twice[0]["metrics"]) == {m["name"] for m in spec["per_layer"]}
    for m in spec["end_to_end"]:
        assert untraced["metrics"][m["name"]]["unit"] == m["unit"]
        assert untraced["metrics"][m["name"]]["value"] > 0


EXACT = (
    "jobs_per_pass", "sources.xml.infer_jobs", "sources.xml.read_amp",
    "pipeline.persist_jobs", "pipeline.persist_stages", "pipeline.analytics_jobs",
    "execute.jobs", "execute.stages", "execute.tasks", "execute.input_bytes",
)


def test_exact_counters_repeat_across_traced_runs(traced_twice):
    a, b = (r["metrics"] for r in traced_twice)
    assert all(r["correct"] for r in traced_twice)
    for name in EXACT:
        assert a[name]["value"] == b[name]["value"], name
    assert a["sources.xml.read_amp"]["value"] > 1
    assert a["pipeline.persist_jobs"]["value"] > 0
