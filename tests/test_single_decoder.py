"""One decoder for vector columns and one bounded pull for small sides.

Static checks over the package source: every float64 matrix built from a
vector column goes through ``functions.distance.vector_matrix`` (which
names the column when a vector is null or the dimensions differ), and
``toLocalIterator`` (one job per partition) has exactly one call site,
``knn_batch_twophase``'s pull of a query batch past its ``chunk_size``;
every other pull of a small side is ``session.bounded_collect``.
"""

from __future__ import annotations

import ast
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

from hnsw_vector_db_spark.functions.distance import vector_matrix

PKG = Path(__file__).resolve().parents[1] / "hnsw_vector_db_spark"

# (module, function) pairs allowed to build a matrix by hand:
# the pairwise kernel's LEFT side filters bad rows one by one, because the
# expression path it mirrors drops them instead of failing
_HAND_DECODE_ALLOWED = {("operators/similarity.py", "gen")}

_MATRIX_BUILDERS = {"array", "asarray", "vstack", "stack"}
_FLOAT_DTYPES = {"float64", "float32", "double"}


def _modules():
    for path in sorted(PKG.rglob("*.py")):
        yield path.relative_to(PKG).as_posix(), ast.parse(path.read_text())


def _enclosing(tree: ast.Module) -> dict[ast.AST, str]:
    """Each node -> the name of the innermost function defining it."""
    owner: dict[ast.AST, str] = {}

    def visit(node: ast.AST, name: str) -> None:
        for child in ast.iter_child_nodes(node):
            inner = child.name if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else name
            owner[child] = inner
            visit(child, inner)

    visit(tree, "<module>")
    return owner


def _is_numpy(func: ast.AST) -> bool:
    return (
        isinstance(func, ast.Attribute)
        and func.attr in _MATRIX_BUILDERS
        and isinstance(func.value, ast.Name)
        and func.value.id in {"np", "_np", "numpy"}
    )


def _float_or_no_dtype(call: ast.Call) -> bool:
    dtypes = [kw.value for kw in call.keywords if kw.arg == "dtype"] + call.args[1:2]
    if not dtypes:
        return True
    d = dtypes[0]
    return (d.attr if isinstance(d, ast.Attribute) else getattr(d, "value", None)) in _FLOAT_DTYPES


def _reads_a_column(arg: ast.AST) -> bool:
    """``[r[c] for r in rows]`` / ``[list(r[c]) for r in rows]`` (collected
    Row fields), ``list(pdf[c])`` or ``pdf[c].to_numpy()`` (a pandas
    vector Series)."""
    if isinstance(arg, ast.ListComp):
        elt = arg.elt
        if isinstance(elt, ast.Call) and getattr(elt.func, "id", None) == "list" and elt.args:
            elt = elt.args[0]
        targets = {
            n.id for gen in arg.generators for n in ast.walk(gen.target) if isinstance(n, ast.Name)
        }
        return (
            isinstance(elt, ast.Subscript)
            and isinstance(elt.value, ast.Name)
            and elt.value.id in targets
        )
    if isinstance(arg, ast.Call):
        if getattr(arg.func, "id", None) == "list" and arg.args:
            return isinstance(arg.args[0], ast.Subscript)
        return isinstance(arg.func, ast.Attribute) and arg.func.attr == "to_numpy"
    return False


def _flagged(tree: ast.AST) -> list[ast.Call]:
    """The numpy calls in ``tree`` that build a float matrix by hand."""
    out = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and _is_numpy(node.func) and node.args):
            continue
        arg = node.args[0]
        if node.func.attr in {"vstack", "stack"}:
            # stacking a literal list of arrays is not a column decode
            bad = not isinstance(arg, (ast.List, ast.Tuple))
        else:
            bad = _float_or_no_dtype(node) and _reads_a_column(arg)
        if bad:
            out.append(node)
    return out


def _hand_decodes():
    found = set()
    for rel, tree in _modules():
        owner = _enclosing(tree)
        found.update((rel, owner[node]) for node in _flagged(tree))
    return found


def test_every_vector_matrix_goes_through_vector_matrix():
    assert _hand_decodes() == _HAND_DECODE_ALLOWED


def test_to_local_iterator_has_one_call_site():
    sites = [
        (rel, node.lineno)
        for rel, tree in _modules()
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "toLocalIterator"
    ]
    assert len(sites) == 1 and sites[0][0] == "operators/knn.py", sites


def test_scan_sees_hand_written_decodes():
    """The scan flags the decodes it exists to keep out."""
    src = """
def f(rows, pdf, col):
    a = np.array([list(r[1]) for r in rows], dtype=np.float64)
    b = np.vstack(pdf[col].to_numpy()).astype(np.float64)
    c = np.asarray([r["v"] for r in rows])
    d = np.array([r[0] for r in rows], dtype=np.int64)
    e = np.vstack([a, b])
"""
    assert sorted(n.lineno for n in _flagged(ast.parse(src))) == [3, 4, 5]


# ---------------------------------------------------------------------------
# the decoder itself


@pytest.mark.parametrize(
    "values",
    [
        [[1.0, 2.0], [3.0, 4.5]],
        [np.array([1.0, 2.0], dtype=np.float32), np.array([3.0, 4.5], dtype=np.float32)],
        pd.Series([np.array([1.0, 2.0]), np.array([3.0, 4.5])]),
    ],
)
def test_vector_matrix_is_a_contiguous_float64_matrix(values):
    X = vector_matrix(values, "v")
    assert X.dtype == np.float64 and X.flags["C_CONTIGUOUS"]
    assert X.tolist() == [[1.0, 2.0], [3.0, 4.5]]


def test_vector_matrix_of_no_rows_is_0_by_0():
    assert vector_matrix([], "v").shape == (0, 0)
    assert vector_matrix(pd.Series([], dtype=object), "v").shape == (0, 0)


@pytest.mark.parametrize(
    "values, message",
    [
        ([[1.0], None], "vector column 'emb' has a null vector at row 1"),
        (pd.Series([np.array([1.0]), None]), "vector column 'emb' has a null vector at row 1"),
        ([[1.0, 2.0], [1.0]], "vector column 'emb' mixes dimensions: row 0 has 2, row 1 has 1"),
    ],
)
def test_vector_matrix_names_the_column(values, message):
    with pytest.raises(ValueError) as info:
        vector_matrix(values, "emb")
    assert str(info.value) == message
