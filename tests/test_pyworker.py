"""`operators/pyworker.py`: Python kernels skip re-reading unchanged zips.

A PySpark worker invalidates the import caches at the start of every
task; on CPython 3.11/3.12 that re-reads the central directory of every
cached zip archive (pyspark.zip, the py4j zip, the spark-core jar).
`ready()` makes that re-read happen only for an archive whose
(mtime, size) changed. The first test holds the rule itself without
Spark, the second checks it inside a bare-session worker, the third pins
every kernel the package hands to a Python worker to call `ready()`
first."""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "pharmaceutical_sales_data_etl_analysis_pipeline_spark"

_REREAD_RULE = """
import importlib, json, os, sys, zipfile, zipimport
sys.path.insert(0, {repo!r})
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.pyworker import ready

archive = {archive!r}
with zipfile.ZipFile(archive, "w") as z:
    z.writestr("first_mod.py", "X = 1\\n")
sys.path.insert(0, archive)
import first_mod

reads = []
read = zipimport._read_directory
zipimport._read_directory = lambda a: reads.append(a) or read(a)

def rereads():
    reads.clear()
    importlib.invalidate_caches()
    return reads.count(archive)

out = {{"before": rereads()}}
ready()
ready()
out["unchanged"] = rereads()
with zipfile.ZipFile(archive, "w") as z:
    z.writestr("first_mod.py", "X = 1\\n")
    z.writestr("second_mod.py", "Y = 2\\n")
st = os.stat(archive)
os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
out["changed"] = rereads()
import second_mod
out["new_module"] = second_mod.Y
out["unchanged_after"] = rereads()
print(json.dumps(out))
"""


def test_ready_rereads_only_changed_archives(tmp_path):
    # a fresh interpreter: the patch is process-wide and must not leak
    # into the test session
    proc = subprocess.run(
        [sys.executable, "-c",
         _REREAD_RULE.format(repo=str(REPO), archive=str(tmp_path / "mods.zip"))],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["before"] == 1  # the interpreter's own rule: always re-read
    assert out["new_module"] == 2
    if sys.version_info >= (3, 13):
        # lazy invalidation upstream: ready() leaves it alone
        assert out["unchanged"] == out["changed"] == 0
    else:
        assert out == {"before": 1, "unchanged": 0, "changed": 1,
                       "new_module": 2, "unchanged_after": 0}


# The bare driver conditions of test_vanilla_session: cwd=/tmp, no
# PYTHONPATH, one core so every task lands in the same reused worker.
_WORKER_PROBE = """
import json, sys
sys.path.insert(0, {repo!r})
import pandas as pd
from pyspark.sql import SparkSession
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.similarity import (
    embedding_quantize,
)
spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false")
         .config("spark.python.worker.reuse", "true").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")


def probe(batches):
    import importlib, os, sys, zipimport

    reads = []
    read = zipimport._read_directory
    zipimport._read_directory = lambda a: reads.append(a) or read(a)
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read
    zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
    for _ in batches:
        pass
    yield pd.DataFrame({{"pid": [os.getpid()], "reads": [len(reads)], "zips": [zips]}})


one = spark.range(1).coalesce(1)
schema = "pid long, reads long, zips long"
(first,) = [r.asDict() for r in one.mapInPandas(probe, schema).collect()]
emb = spark.createDataFrame([(0, [0.5, -1.0])], "vec_id long, embedding array<double>")
assert len(embedding_quantize(emb.coalesce(1)).collect()) == 1
(second,) = [r.asDict() for r in one.mapInPandas(probe, schema).collect()]
print(json.dumps({{"first": first, "second": second}}))
"""


def test_kernel_worker_rereads_no_unchanged_archive():
    proc = subprocess.run(
        [sys.executable, "-c", _WORKER_PROBE.format(repo=str(REPO))],
        cwd="/tmp",
        capture_output=True,
        text=True,
        timeout=600,
        env={**os.environ, "PYTHONPATH": ""},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    first, second = out["first"], out["second"]
    assert first["pid"] == second["pid"], "the worker was not reused"
    assert second["zips"] > 0
    # before any kernel ran, one invalidation re-reads every cached archive
    assert first["reads"] == first["zips"]
    # after one kernel task, none that did not change
    assert second["reads"] == 0


# Methods and decorators that hand a function to a Python worker.
_WORKER_METHODS = {
    "mapInPandas", "mapInArrow", "applyInPandas", "applyInArrow",
    "applyInPandasWithState", "mapPartitions", "mapPartitionsWithIndex",
    "foreachPartition",
}


def _calls_ready_first(fn: ast.FunctionDef) -> bool:
    first = fn.body[0]
    return (
        isinstance(first, ast.Expr)
        and isinstance(first.value, ast.Call)
        and getattr(first.value.func, "id", None) == "ready"
        and not first.value.args
    )


def _defs(scope: ast.AST) -> dict[str, ast.AST]:
    """Functions and classes defined anywhere inside `scope`, by name."""
    return {
        n.name: n
        for n in ast.walk(scope)
        if isinstance(n, (ast.FunctionDef, ast.ClassDef))
    }


def _returned(fn: ast.FunctionDef) -> list[str]:
    return [
        r.value.id for r in ast.walk(fn)
        if isinstance(r, ast.Return) and isinstance(r.value, ast.Name)
    ]


def _kernel_sites(tree: ast.AST) -> list[tuple[int, ast.FunctionDef]]:
    """(line, function) for every function the module hands to a worker."""
    sites = []
    top = [n for n in tree.body if isinstance(n, (ast.FunctionDef, ast.ClassDef))]
    for scope in top:
        defs = _defs(scope)
        for node in ast.walk(scope):
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                for dec in node.decorator_list:
                    name = getattr(getattr(dec, "func", dec), "id", None)
                    if name in ("pandas_udf", "udf"):
                        sites.append((node.lineno, node))
                if isinstance(node, ast.ClassDef) and any(
                    getattr(b, "id", None) == "DataSourceReader" for b in node.bases
                ):
                    sites += [(m.lineno, m) for m in node.body
                              if isinstance(m, ast.FunctionDef) and m.name == "read"]
            if not isinstance(node, ast.Call) or not node.args:
                continue
            arg = node.args[0]
            method = getattr(node.func, "attr", None)
            if getattr(node.func, "id", None) == "udtf":
                cls = defs[arg.id]
                sites += [(node.lineno, m) for m in cls.body
                          if isinstance(m, ast.FunctionDef) and m.name == "eval"]
            elif method in _WORKER_METHODS:
                if isinstance(arg, ast.Call):  # a factory: build_fn(k)
                    fn = defs[arg.func.id]
                    (name,) = _returned(fn)
                    sites.append((node.lineno, defs[name]))
                else:
                    sites.append((node.lineno, defs[arg.id]))
    return sites


def test_every_kernel_calls_ready_first():
    sites, missing = {}, []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = str(path.relative_to(PACKAGE))
        for line, fn in _kernel_sites(ast.parse(path.read_text())):
            sites[rel] = sites.get(rel, 0) + 1
            if not _calls_ready_first(fn):
                missing.append(f"{rel}:{line} {fn.name}")
    assert missing == []
    assert sites == {
        "operators/analytic.py": 2,
        "operators/clustering.py": 1,
        "operators/kmeans_core.py": 2,
        "operators/multimodal.py": 3,
        "operators/pythonudf.py": 6,
        "operators/similarity.py": 7,
        "sources/xml.py": 1,
        "streaming/stateful.py": 3,
    }
