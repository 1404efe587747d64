"""Every package name a tool imports still exists.

The scripts under ``tools/`` are run by hand and no test executes them,
so deleting or renaming a package function can leave a tool importing a
name that is gone. This parses each tool with ``ast`` and resolves every
``from file_stream_import_spark... import name`` (and every
``import file_stream_import_spark...``) against the package, without
running the tool or starting Spark.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
TOOLS = REPO / "tools"
PACKAGE = "file_stream_import_spark"


def _package_imports(tree: ast.AST) -> list[tuple[int, str, str | None]]:
    """(line, module, name) for each package import in ``tree``; name is
    None for a plain ``import module``."""
    out = []
    for n in ast.walk(tree):
        if isinstance(n, ast.ImportFrom) and n.level == 0 and n.module:
            if n.module == PACKAGE or n.module.startswith(PACKAGE + "."):
                out.extend((n.lineno, n.module, a.name) for a in n.names)
        elif isinstance(n, ast.Import):
            out.extend(
                (n.lineno, a.name, None)
                for a in n.names
                if a.name == PACKAGE or a.name.startswith(PACKAGE + ".")
            )
    return out


def _resolves(module: str, name: str | None) -> bool:
    try:
        if importlib.util.find_spec(module) is None:
            return False
    except ModuleNotFoundError:  # a parent package is missing
        return False
    mod = importlib.import_module(module)
    if name is None or hasattr(mod, name):
        return True
    # `from package import submodule` before the submodule is imported
    return hasattr(mod, "__path__") and (
        importlib.util.find_spec(f"{module}.{name}") is not None
    )


def test_tool_package_imports_resolve():
    tools = sorted(TOOLS.glob("*.py"))
    assert tools
    imports = [
        (p, line, module, name)
        for p in tools
        for line, module, name in _package_imports(
            ast.parse(p.read_text(), str(p))
        )
    ]
    assert imports
    stale = [
        f"{p.relative_to(REPO)}:{line}: {module}"
        + ("" if name is None else f" import {name}")
        for p, line, module, name in imports
        if not _resolves(module, name)
    ]
    assert stale == [], "tool imports a package name that no longer exists"
