"""Operators fold deltas through merge_into's fold clause only.

An aggregate delta merges into its MV as ``fold={col: "add" |
"source" | "map_add"}``: one ``groupBy(key)`` over stored and source
rows. The clause engine's ``when_matched={col: <Column over t./s.>}``
spells the same fold as a join, with its own plan and cost, so no
module under ``operators/`` may pass merge_into such a dict.
"""

from __future__ import annotations

import ast
import pathlib

OPERATORS = pathlib.Path(__file__).resolve().parent.parent / (
    "file_stream_import_spark/operators"
)


def _side_ref(node: ast.AST) -> bool:
    """A string literal or f-string naming a ``t.``/``s.`` column."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value.startswith(("t.", "s."))
    if isinstance(node, ast.JoinedStr) and node.values:
        return _side_ref(node.values[0])
    return False


def _clause_folds(tree: ast.AST) -> list[int]:
    """Line numbers of merge_into calls whose when_matched is a dict
    (literal or comprehension) referring to t./s. columns."""
    lines = []
    for n in ast.walk(tree):
        if not isinstance(n, ast.Call):
            continue
        f = n.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        if name != "merge_into":
            continue
        for kw in n.keywords:
            if kw.arg == "when_matched" and isinstance(
                kw.value, (ast.Dict, ast.DictComp)
            ):
                if any(_side_ref(x) for x in ast.walk(kw.value)):
                    lines.append(n.lineno)
    return lines


def test_lint_sees_the_clause_engine_spelling():
    src = (
        "merge_into(mv, spark, d, key=['g'], when_matched={"
        "c: F.coalesce(F.col(f't.{c}'), F.lit(0)) for c in cols})\n"
        "versioned.merge_into(a, b, c, when_matched={'n': F.col('s.n')})\n"
        "merge_into(mv, spark, d, key=['g'], fold={'n': 'add'})\n"
    )
    assert _clause_folds(ast.parse(src)) == [1, 2]


def test_operators_fold_through_the_fold_clause():
    modules = sorted(OPERATORS.rglob("*.py"))
    assert OPERATORS / "mv.py" in modules
    offenders = [
        f"{p.relative_to(OPERATORS.parent)}:{line}"
        for p in modules
        for line in _clause_folds(ast.parse(p.read_text(), str(p)))
    ]
    assert offenders == [], (
        "merge_into(when_matched={col: t./s. Column}) under operators/; "
        "fold deltas with merge_into(fold={col: 'add' | 'source' | "
        "'map_add'})"
    )
