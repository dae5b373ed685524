"""Smoke test for the stage-3 analytics demo (AnalyzeData.ChatterjeeP.Rmd
equivalent): the script must run end-to-end and print the golden headline
numbers (VERDICT r1 gap #5)."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_corpus_prep_demo_runs():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "examples", "corpus_prep_demo.py")],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "training corpus:" in proc.stdout


def test_analyze_demo_runs_and_prints_golden_numbers():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "examples", "analyze_demo.py")],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = proc.stdout
    assert "Xinoprozen" in out          # best product 2020
    assert "da Silva" in out            # top rep 2020
    assert "Quarterly totals 2020" in out
    assert "Rep quarterly sales trend" in out


def test_warehouse_demo_runs():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "examples", "warehouse_demo.py")],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "state after 3 batches" in proc.stdout


def test_governance_demo_runs():
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "examples", "governance_demo.py")],
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "k-anonymity" in out.stdout
    assert "content hashes" in out.stdout


def test_scale_ladder_report_flags_superlinear(tmp_path):
    """The ladder joiner must compute per-query ratios against the shared
    set only and flag exactly the queries growing faster than the data
    factor (this is the alarm that caught the two r5 quadratic contracts)."""
    import json

    small = tmp_path / "small.json"
    big = tmp_path / "big.json"
    small.write_text(json.dumps({
        "sf": "0.1", "value": 3.0,
        "queries": {"linear_q": 1.0, "quad_q": 1.0, "only_small": 1.0},
    }))
    big.write_text(json.dumps({
        "sf": "1", "value": 20.0,
        "queries": {"linear_q": 5.0, "quad_q": 15.0, "only_big": 9.9},
    }))
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "examples", "scale_ladder_report.py"),
         str(small), str(big), "10"],
        capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "| quad_q | 1.000 | 15.000 | 15.00× ⚠ |" in proc.stdout
    assert "| linear_q | 1.000 | 5.000 | 5.00× |" in proc.stdout
    assert "only_small" not in proc.stdout and "only_big" not in proc.stdout
    assert "super-linear: ['quad_q']" in proc.stdout
