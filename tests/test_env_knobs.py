"""The package's environment knobs are a fixed, reviewed set.

Every `SPARK_GRAFT_*` variable the package or `bench.py` reads is a
behaviour switch someone has to know about, test and document. This test
pins the inventory, so adding (or removing) a knob is a visible edit here
rather than a line buried in a module. An example or test that sets a
`SPARK_GRAFT_*` name outside the inventory sets something nothing reads."""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "pharmaceutical_sales_data_etl_analysis_pipeline_spark"

KNOBS = {
    "SPARK_GRAFT_BENCH_ALL",
    "SPARK_GRAFT_BENCH_DETAIL",
    "SPARK_GRAFT_BENCH_REPEATS",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_PIN",
    "SPARK_GRAFT_PIN_DIR",
    "SPARK_GRAFT_SF_DIR",
}

_NAME = r"""["'](SPARK_GRAFT_[A-Z_0-9]+)["']"""
# os.environ[...] = / os.environ.setdefault(...) / monkeypatch.setenv(...)
_SETS = re.compile(
    rf"os\.environ\[\s*{_NAME}\s*\]\s*=(?!=)"
    rf"|(?:os\.environ\.setdefault|monkeypatch\.setenv)\(\s*{_NAME}"
)


def _scan(paths, pattern):
    found = {}
    for path in paths:
        for m in re.finditer(pattern, path.read_text()):
            name = m.group(m.lastindex or 0)
            found.setdefault(name, path.relative_to(REPO).as_posix())
    return found


def test_env_knob_inventory_is_pinned():
    sources = sorted(PACKAGE.rglob("*.py")) + [REPO / "bench.py"]
    assert set(_scan(sources, r"SPARK_GRAFT_[A-Z_0-9]+")) == KNOBS


def test_examples_and_tests_set_only_pinned_knobs():
    sources = sorted((REPO / "examples").rglob("*.py")) + sorted(
        (REPO / "tests").rglob("*.py")
    )
    dead = {k: v for k, v in _scan(sources, _SETS).items() if k not in KNOBS}
    assert not dead, f"set but read by nothing: {dead}"
