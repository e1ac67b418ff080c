"""Lint: every environment variable the engine reads.

Only deployment settings are read from the environment; tuning constants
live in code.  Adding a knob means changing ``DEPLOYMENT_SETTINGS`` below,
in the open."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "parquery_spark"

DEPLOYMENT_SETTINGS = {
    "PARQUERY_SPARK_MASTER",
    "PARQUERY_SPARK_MEMORY",
    "PARQUERY_SPARK_SHUFFLE_PARTITIONS",
    "PARQUERY_SPARK_CONF_*",
    "PARQUERY_SPARK_ARTIFACT_BUDGET_BYTES",
}


def _is_os(node: ast.AST, attr: str) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == attr
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _const(node: ast.AST | None) -> str | None:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return None


def env_reads(root: Path = PACKAGE) -> set[str]:
    """Names read through ``os.environ`` / ``os.getenv`` under ``root``.
    A loop over the whole environment counts as ``<prefix>*`` for each
    ``<key>.startswith(<prefix>)`` test on its loop key; a read that
    cannot be named is reported by file and line."""
    found: set[str] = set()
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        parent = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
        for node in ast.walk(tree):
            up = parent.get(node)
            if _is_os(node, "getenv") and isinstance(up, ast.Call):
                name = _const(up.args[0] if up.args else None)
            elif _is_os(node, "environ"):
                if isinstance(up, ast.Subscript):
                    name = _const(up.slice)
                elif isinstance(up, ast.Attribute) and up.attr == "get":
                    call = parent.get(up)
                    name = _const(call.args[0] if call.args else None)
                else:  # a loop over the environment: named by its prefix tests
                    loop = node
                    while loop in parent and not isinstance(loop, (ast.For, ast.comprehension)):
                        loop = parent[loop]
                    keys = {n.id for n in ast.walk(getattr(loop, "target", loop))
                            if isinstance(n, ast.Name)}
                    prefixes = {
                        _const(n.args[0]) for n in ast.walk(loop)
                        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                        and n.func.attr == "startswith" and n.args
                        and isinstance(n.func.value, ast.Name) and n.func.value.id in keys
                    } - {None}
                    if prefixes:
                        found |= {f"{p}*" for p in prefixes}
                        continue
                    name = None
            else:
                continue
            found.add(name or f"<unnamed read at {path.name}:{node.lineno}>")
    return found


def test_engine_reads_only_deployment_settings():
    assert env_reads() == DEPLOYMENT_SETTINGS


def test_lint_sees_every_read_form(tmp_path):
    """The scanner itself: constant gets, subscripts, getenv and prefix
    scans are named; a computed name is reported, not dropped."""
    (tmp_path / "m.py").write_text(
        "import os\n"
        "A = os.environ.get('K_A', '1')\n"
        "B = os.environ['K_B']\n"
        "C = os.getenv('K_C')\n"
        "def scan():\n"
        "    return {k: v for k, v in os.environ.items() if k.startswith('K_D_')}\n"
        "def computed(n):\n"
        "    return os.environ.get(n)\n"
    )
    assert env_reads(tmp_path) == {
        "K_A", "K_B", "K_C", "K_D_*", "<unnamed read at m.py:8>",
    }
