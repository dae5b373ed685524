"""`operators/dimfold.py` is the one dimension-ordered float64 fold.

Every Arrow distance kernel must be bit-equal to the JVM `_fold` and to
DuckDB's `list_reduce`: start at 0.0 and add one term per dimension in
array order. The first test holds each helper to a pure-Python left fold
under `==` and `dots` to the JVM `_dot`/`_norm` columns. The second pins
the package to one copy of that loop and of the rounding grid, so a
kernel that inlines its own again is a visible failure here."""

from __future__ import annotations

import ast
import math
from functools import reduce
from pathlib import Path

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.dimfold import (
    cosine_grid,
    dot_block,
    dots,
    grid,
    sqdist_block,
)

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "pharmaceutical_sales_data_etl_analysis_pipeline_spark"


def _fold(terms) -> float:
    return reduce(lambda acc, t: acc + t, terms, 0.0)


def _grid(v: float, scale: float = 1e9) -> float:
    return float(math.floor(v * scale + 0.5)) / scale


# float32-valued entries, with signed zeros and subnormal/tiny magnitudes
_ENTRY = st.one_of(
    st.floats(-64, 64, width=32),
    st.sampled_from([0.0, -0.0, 1e-45, -1e-45, 1e-38, -1e-38, 3e-8, -3e-8]),
)


@st.composite
def _operands(draw):
    dim = draw(st.integers(1, 64))

    def mat(rows):
        return np.array(
            draw(st.lists(st.lists(_ENTRY, min_size=dim, max_size=dim),
                          min_size=rows, max_size=rows)),
            dtype=np.float32,
        ).astype(np.float64)

    n = draw(st.integers(1, 4))
    return mat(n), mat(n), mat(draw(st.integers(1, 3)))


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(ops=_operands())
def test_dimfold_is_a_bit_exact_left_fold(spark, ops):
    from pyspark.sql import functions as F

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.similarity import (
        _dot,
        _norm,
    )

    A, B, C = ops
    n, dim = A.shape
    want_dots = [_fold(A[r, i] * B[r, i] for i in range(dim)) for r in range(n)]
    assert dots(A, B).tolist() == want_dots
    assert dot_block(A, C).tolist() == [
        [_fold(A[r, i] * C[j, i] for i in range(dim)) for j in range(len(C))]
        for r in range(n)
    ]
    assert sqdist_block(A, C).tolist() == [
        [_fold((A[r, i] - C[j, i]) * (A[r, i] - C[j, i]) for i in range(dim))
         for j in range(len(C))]
        for r in range(n)
    ]
    na, nb = np.sqrt(dots(A, A)), np.sqrt(dots(B, B))
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = cosine_grid(dots(A, B), na, nb)
    for r in range(n):
        if na[r] * nb[r] > 0:
            assert cos[r] == _grid(want_dots[r] / (na[r] * nb[r]))
    assert grid(np.array(want_dots), 1e6).tolist() == [_grid(v, 1e6) for v in want_dots]

    # the JVM fold over the same float32 arrays gives the same bits
    df = spark.createDataFrame(
        [(r, A[r].tolist(), B[r].tolist()) for r in range(n)],
        "r int, a array<float>, b array<float>",
    )
    jvm = sorted(
        df.select("r", _dot(F.col("a"), F.col("b")).alias("d"),
                  _norm(F.col("a")).alias("na")).collect()
    )
    assert [row["d"] for row in jvm] == dots(A, B).tolist()
    assert [row["na"] for row in jvm] == na.tolist()


def _loop_var_columns(node: ast.AST, var: str) -> bool:
    """node indexes a column by the loop variable: x[:, var] or x[:, var : ...]."""
    if not (isinstance(node, ast.Subscript) and isinstance(node.slice, ast.Tuple)):
        return False
    elts = node.slice.elts
    if len(elts) != 2 or not isinstance(elts[0], ast.Slice):
        return False
    return any(isinstance(n, ast.Name) and n.id == var for n in ast.walk(elts[1]))


def _direct_nodes(stmts):
    """Every node under stmts that is not inside a nested loop."""
    todo = list(stmts)
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.For, ast.While)):
            continue
        yield node
        todo.extend(ast.iter_child_nodes(node))


def _fold_loops(tree: ast.AST) -> int:
    """`for v in range(...)` loops whose own body accumulates `acc = acc + ...`
    while indexing a column by v: the dimension-order fold idiom."""
    count = 0
    for loop in ast.walk(tree):
        if not (
            isinstance(loop, ast.For)
            and isinstance(loop.target, ast.Name)
            and isinstance(loop.iter, ast.Call)
            and getattr(loop.iter.func, "id", None) == "range"
        ):
            continue
        body = list(_direct_nodes(loop.body))
        accumulates = any(
            isinstance(s, ast.Assign)
            and len(s.targets) == 1
            and isinstance(s.targets[0], ast.Name)
            and isinstance(s.value, ast.BinOp)
            and isinstance(s.value.op, ast.Add)
            and isinstance(s.value.left, ast.Name)
            and s.value.left.id == s.targets[0].id
            for s in body
        )
        if accumulates and any(_loop_var_columns(n, loop.target.id) for n in body):
            count += 1
    return count


def _grid_copies(tree: ast.AST) -> int:
    """floor(x * scale + 0.5) calls: the half-up rounding grid."""
    count = 0
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and len(node.args) == 1):
            continue
        name = getattr(node.func, "attr", None) or getattr(node.func, "id", None)
        arg = node.args[0]
        if (
            name == "floor"
            and isinstance(arg, ast.BinOp)
            and isinstance(arg.op, ast.Add)
            and isinstance(arg.left, ast.BinOp)
            and isinstance(arg.left.op, ast.Mult)
            and isinstance(arg.right, ast.Constant)
            and arg.right.value == 0.5
        ):
            count += 1
    return count


def test_package_folds_only_in_dimfold():
    loops, grids = {}, {}
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        rel = str(path.relative_to(PACKAGE))
        if _fold_loops(tree):
            loops[rel] = _fold_loops(tree)
        if _grid_copies(tree):
            grids[rel] = _grid_copies(tree)
    assert loops == {"operators/dimfold.py": 3}
    assert grids == {"operators/dimfold.py": 1}
