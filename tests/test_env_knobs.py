"""The engine's environment surface stays at its deployment settings.

Tuning values are constants or per-call parameters; only where the
engine runs (cores, driver memory) and the opt-in debug check are read
from the environment. A new ``SPARK_GRAFT_*`` read fails this test.
"""

from __future__ import annotations

import ast
import pathlib

import odsc_agentic_ai_summit_2025_spark as pkg


def _env_name(node: ast.AST) -> str | None:
    """The constant key of ``os.environ.get(k)``, ``os.getenv(k)`` or
    ``os.environ[k]``; None for anything else."""
    if isinstance(node, ast.Call) and node.args:
        f = node.func
        is_get = isinstance(f, ast.Attribute) and (
            f.attr == "getenv"
            or (
                f.attr == "get"
                and isinstance(f.value, ast.Attribute)
                and f.value.attr == "environ"
            )
        )
        key = node.args[0] if is_get else None
    elif isinstance(node, ast.Subscript):
        v = node.value
        key = node.slice if (
            isinstance(v, ast.Attribute) and v.attr == "environ"
        ) else None
    else:
        key = None
    if isinstance(key, ast.Constant) and isinstance(key.value, str):
        return key.value
    return None


def test_package_reads_only_deployment_env_vars():
    root = pathlib.Path(pkg.__file__).parent
    read = set()
    for path in root.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            name = _env_name(node)
            if name and name.startswith("SPARK_GRAFT_"):
                read.add(name.removeprefix("SPARK_GRAFT_"))
    assert read == {"CPUS", "DRIVER_MEM", "DEBUG_CHECKS"}, sorted(read)
