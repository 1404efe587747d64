"""Environment reads stay in session.py.

The package's only runtime settings are the deployment ones session.py
reads (local CPU count, shuffle partitions, driver memory). An A/B of two
code paths compares git revisions (``tools/ab.py``) instead of keeping
both alive behind an environment flag, so no other module may read
``os.environ`` or ``os.getenv``.
"""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / (
    "file_stream_import_spark"
)
ALLOWED = {PACKAGE / "session.py"}
_READS = {"environ", "getenv"}


def _env_reads(tree: ast.AST) -> list[int]:
    """Line numbers of every os.environ / os.getenv use in ``tree``,
    whatever name the module is imported under."""
    os_names = {
        a.asname or a.name
        for n in ast.walk(tree)
        if isinstance(n, ast.Import)
        for a in n.names
        if a.name == "os"
    }
    lines = []
    for n in ast.walk(tree):
        if (
            isinstance(n, ast.Attribute)
            and n.attr in _READS
            and isinstance(n.value, ast.Name)
            and n.value.id in os_names
        ):
            lines.append(n.lineno)
        elif isinstance(n, ast.ImportFrom) and n.module == "os":
            if any(a.name in _READS for a in n.names):
                lines.append(n.lineno)
    return lines


def test_only_session_reads_the_environment():
    modules = sorted(PACKAGE.rglob("*.py"))
    assert PACKAGE / "session.py" in modules
    offenders = [
        f"{p.relative_to(PACKAGE.parent)}:{line}"
        for p in modules
        if p not in ALLOWED
        for line in _env_reads(ast.parse(p.read_text(), str(p)))
    ]
    assert offenders == [], (
        "environment read outside session.py; compare code paths with "
        "tools/ab.py instead of an env flag"
    )
