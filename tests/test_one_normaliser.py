"""Pin functions/vectors.py:unit_rows as the plans' only row normaliser.

A plan that divides by ``np.linalg.norm(...)``, or takes row norms
(``axis=``) to build its own guard, turns a zero embedding into a NaN
row or grows a second zero-vector rule. Both fail here; a scalar norm
(``np.linalg.norm(w)``) is not a row normaliser and passes.
"""

from __future__ import annotations

import ast
import pathlib

import ojo_daps_mirror_spark

PLANS = pathlib.Path(ojo_daps_mirror_spark.__file__).parent / "plans"


def _is_norm_call(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "norm"
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "linalg"
    )


def _offences(tree: ast.AST) -> list[int]:
    out = []
    for node in ast.walk(tree):
        divisor = None
        if isinstance(node, ast.BinOp) and isinstance(node.op, ast.Div):
            divisor = node.right
        elif isinstance(node, ast.AugAssign) and isinstance(node.op, ast.Div):
            divisor = node.value
        if divisor is not None and any(map(_is_norm_call, ast.walk(divisor))):
            out.append(node.lineno)
        if _is_norm_call(node) and any(k.arg == "axis" for k in node.keywords):
            out.append(node.lineno)
    return sorted(set(out))


def test_plans_normalise_rows_only_through_unit_rows():
    found = {}
    for path in sorted(PLANS.rglob("*.py")):
        lines = _offences(ast.parse(path.read_text(), filename=str(path)))
        if lines:
            found[path.name] = lines
    assert not found, f"use functions.vectors.unit_rows instead: {found}"


def test_the_scan_catches_the_old_forms():
    bad = (
        "M = M / np.linalg.norm(M, axis=1, keepdims=True)\n"
        "M /= np.linalg.norm(M, axis=1, keepdims=True)\n"
        "n = np.linalg.norm(M, axis=1)\n"
        "lam = float(np.linalg.norm(w))\n"
    )
    assert _offences(ast.parse(bad)) == [1, 2, 3]
