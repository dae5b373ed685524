"""Every top-level package def is used by something that runs.

A def counts as used when live code names it: a name token, or an
identifier inside a string (registry keys, `getattr` names), outside the
def's own body. Live code is the module-level code of the package (import
statements and `if __name__ == "__main__":` blocks aside: an import only
makes a name available, and a module's own CLI is no query, pipeline
step or benchmark), `bench.py`, `__spark_entry__.py`, `perfbench/`, and,
transitively, the body of every used def. Tests and examples are not
live code: a def that only a test calls is dead unless `KEEP` lists it
with its reason (what a kept def names is live too). Comments and
docstrings name nothing. Names are matched by spelling across modules,
so a name reused elsewhere can hide dead code. No Spark session.
"""

from __future__ import annotations

import ast
import io
import re
import tokenize
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE_NAME = "pharmaceutical_sales_data_etl_analysis_pipeline_spark"

# "module:def" -> why it stays although only tests reach it
KEEP = {
    "operators/dedup:simhash_near_dups_allpairs":
        "exact all-pairs reference the LSH near-dup tests compare against",
    "operators/similarity:embedding_near_dups_allpairs":
        "exact all-pairs reference the LSH near-dup tests compare against",
    "sources/jdbc:read_jdbc":
        "the reference pipeline's SQLite -> MySQL hop (SURVEY S11)",
    "sources/jdbc:write_jdbc":
        "the reference pipeline's SQLite -> MySQL hop (SURVEY S11)",
    "scaleup:upscale":
        "builds the sf1/sf10 parquet rungs of the headline ladder from sf0.1",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if isinstance(body, list) and body and isinstance(body[0], ast.Expr):
            value = body[0].value
            if isinstance(value, ast.Constant) and isinstance(value.value, str):
                lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def _names(source: str, skip: set[int]) -> list[tuple[int, str]]:
    """(line, identifier) for every name token and string identifier."""
    out = []
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.start[0] in skip:
            continue
        if tok.type == tokenize.NAME:
            out.append((tok.start[0], tok.string))
        elif tok.type in (tokenize.STRING, getattr(tokenize, "FSTRING_MIDDLE", -1)):
            out.extend((tok.start[0], m) for m in _IDENT.findall(tok.string))
    return out


def _scan(repo: Path):
    """(defs, roots, uses): defs maps "module:name" -> name;
    roots is the set of names live code outside any def uses; uses maps
    "module:name" -> the names its body uses."""
    package = repo / PACKAGE_NAME
    defs: dict[str, str] = {}
    roots: set[str] = set()
    uses: dict[str, set[str]] = {}
    live_files = [repo / "bench.py", repo / "__spark_entry__.py",
                  *sorted((repo / "perfbench").rglob("*.py"))]
    for path in live_files:
        source = path.read_text()
        roots.update(n for _, n in _names(source, _docstring_lines(ast.parse(source))))
    for path in sorted(package.rglob("*.py")):
        source = path.read_text()
        tree = ast.parse(source)
        module = path.relative_to(package).with_suffix("").as_posix()
        skip = _docstring_lines(tree)
        owner_of: dict[int, str] = {}
        for node in tree.body:
            if isinstance(node, (ast.Import, ast.ImportFrom)) or (
                isinstance(node, ast.If) and "__main__" in ast.unparse(node.test)
            ):
                skip.update(range(node.lineno, node.end_lineno + 1))
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                first = min([node.lineno, *(d.lineno for d in node.decorator_list)])
                key = f"{module}:{node.name}"
                defs[key] = node.name
                owner_of.update(dict.fromkeys(range(first, node.end_lineno + 1), key))
                uses[key] = set()
        for line, name in _names(source, skip):
            owner = owner_of.get(line)
            if owner is None:
                roots.add(name)
            elif name != defs[owner]:
                uses[owner].add(name)
    return defs, roots, uses


def dead_defs(repo: Path = REPO, keep=()) -> list[str]:
    defs, roots, uses = _scan(repo)
    by_name: dict[str, list[str]] = {}
    for key, name in defs.items():
        by_name.setdefault(name, []).append(key)
    live: set[str] = set()
    todo = [k for n in roots for k in by_name.get(n, [])] + [k for k in keep if k in defs]
    while todo:
        key = todo.pop()
        if key in live:
            continue
        live.add(key)
        todo.extend(k for n in uses[key] for k in by_name.get(n, []))
    return sorted(k for k in defs if k not in live and not defs[k].startswith("__"))


def test_every_package_def_is_used_or_kept():
    dead = dead_defs(keep=KEEP)
    assert not dead, f"named by no live code (delete, or add to KEEP with a reason): {dead}"


def test_keep_list_names_existing_unused_defs():
    dead = set(dead_defs())
    stale = [k for k in KEEP if k not in dead]
    assert not stale, f"KEEP entries that are gone or used by live code: {stale}"


def test_check_flags_a_planted_def(tmp_path):
    import shutil

    for part in (PACKAGE_NAME, "perfbench"):
        shutil.copytree(REPO / part, tmp_path / part,
                        ignore=shutil.ignore_patterns("__pycache__"))
    for name in ("bench.py", "__spark_entry__.py"):
        shutil.copy(REPO / name, tmp_path / name)
    catalog = tmp_path / PACKAGE_NAME / "catalog.py"
    catalog.write_text(
        catalog.read_text()
        + '\n\ndef planted_helper(x):\n    """Calls load_table."""\n    return planted_helper(x)\n'
        + "\n\ndef planted_caller():\n    return planted_helper(1)\n"
    )
    assert dead_defs(tmp_path, keep=KEEP) == ["catalog:planted_caller", "catalog:planted_helper"]
