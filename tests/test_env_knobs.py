"""Pin the engine's environment knobs. Every environment variable the
package reads is a setting users can flip; a settled A/B knob must not
come back unnoticed. Adding a knob means adding it here, on purpose."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "content_rw_elasticsearch_spark"

EXPECTED = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_ARROW_BATCH",
    "SPARK_DRIVER_MEM",
    "SPARK_GRAFT_ORACLE_SF",
}


def _is_environ(node: ast.AST) -> bool:
    """``os.environ`` or a bare ``environ`` (from os import environ)."""
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _key(node: ast.AST) -> str:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return f"<non-literal key: {ast.unparse(node)}>"


def _env_keys(tree: ast.AST) -> set[str]:
    keys = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript) and _is_environ(node.value):
            keys.add(_key(node.slice))
        elif isinstance(node, ast.Call) and node.args:
            f = node.func
            environ_method = (isinstance(f, ast.Attribute)
                              and _is_environ(f.value)
                              and f.attr in ("get", "setdefault", "pop"))
            getenv = (isinstance(f, ast.Attribute) and f.attr == "getenv") or (
                isinstance(f, ast.Name) and f.id == "getenv")
            if environ_method or getenv:
                keys.add(_key(node.args[0]))
    return keys


def test_env_keys_are_pinned():
    found: dict[str, list[str]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        for key in _env_keys(ast.parse(path.read_text(), str(path))):
            found.setdefault(key, []).append(str(path.relative_to(PACKAGE)))
    assert set(found) == EXPECTED, {
        k: v for k, v in found.items() if k not in EXPECTED
    } or f"no longer read: {EXPECTED - set(found)}"


def test_walker_sees_every_read_form():
    src = (
        "import os\nfrom os import environ, getenv\n"
        "os.environ.get('A')\nos.environ['B']\nenviron.get('C', 1)\n"
        "os.getenv('D')\ngetenv('E')\nos.environ.setdefault('F', '')\n"
        "os.environ.get(name)\n"
    )
    assert _env_keys(ast.parse(src)) == {
        "A", "B", "C", "D", "E", "F", "<non-literal key: name>"
    }
