"""The package's environment knobs are a fixed, reviewed set.

Every `SPARK_GRAFT_*` variable the package or `bench.py` reads is a
behaviour switch someone has to know about, test and document. This test
pins the inventory, so adding (or removing) a knob is a visible edit here
rather than a line buried in a module."""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "pharmaceutical_sales_data_etl_analysis_pipeline_spark"

KNOBS = {
    "SPARK_GRAFT_BENCH_ALL",
    "SPARK_GRAFT_BENCH_DETAIL",
    "SPARK_GRAFT_BENCH_REPEATS",
    "SPARK_GRAFT_BUILD_CACHE",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_PIN",
    "SPARK_GRAFT_PIN_DIR",
    "SPARK_GRAFT_SCAN_SPREAD",
    "SPARK_GRAFT_SF_DIR",
}


def test_env_knob_inventory_is_pinned():
    sources = sorted(PACKAGE.rglob("*.py")) + [REPO / "bench.py"]
    found = set()
    for path in sources:
        found |= set(re.findall(r"SPARK_GRAFT_[A-Z_0-9]+", path.read_text()))
    assert found == KNOBS
