"""The engine's environment surface stays at its deployment settings.

Tuning values are constants or per-call parameters; only where the
engine runs (cores, driver memory) and the opt-in debug check are read
from the environment. A new ``SPARK_GRAFT_*`` read fails this test,
in the package and in the bench harness alike. The kernel fan-out cost
is one of the classes declared in ``sources/io.py:KERNEL_COST``; a call
site that sets its own number fails here too.
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


def _graft_reads(paths) -> set[str]:
    """``SPARK_GRAFT_*`` names read in ``paths``, prefix stripped."""
    read = set()
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            name = _env_name(node)
            if name and name.startswith("SPARK_GRAFT_"):
                read.add(name.removeprefix("SPARK_GRAFT_"))
    return read


def test_package_reads_only_deployment_env_vars():
    read = _graft_reads(pathlib.Path(pkg.__file__).parent.rglob("*.py"))
    assert read == {"CPUS", "DRIVER_MEM", "DEBUG_CHECKS"}, sorted(read)


def test_harness_reads_only_data_path_and_commit_switch():
    """bench.py reads where the data is and whether to write the
    canonical artifact; the scripts take positional arguments and read
    no ``SPARK_GRAFT_*`` variable at all."""
    repo = pathlib.Path(pkg.__file__).parent.parent
    read = _graft_reads([repo / "bench.py"])
    assert read == {"SF_DIR", "BENCH_COMMIT"}, sorted(read)
    read = _graft_reads(sorted((repo / "scripts").glob("*.py")))
    assert read == set(), sorted(read)


def test_fanout_cost_is_a_declared_class():
    """Every package call of ``ensure_min_partitions`` passes no cost or
    a declared class name, and exactly three classes are declared."""
    from odsc_agentic_ai_summit_2025_spark.sources.io import KERNEL_COST

    assert len(set(KERNEL_COST.values())) == len(KERNEL_COST) == 3
    calls, bad = 0, []
    for path in pathlib.Path(pkg.__file__).parent.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name != "ensure_min_partitions":
                continue
            calls += 1
            cost = [k.value for k in node.keywords if k.arg == "cost"]
            if len(node.args) != 1 or len(cost) != len(node.keywords) or any(
                not (isinstance(c, ast.Constant) and c.value in KERNEL_COST)
                for c in cost
            ):
                bad.append(f"{path.name}:{node.lineno}")
    assert calls and not bad, bad


def test_session_defaults_follow_the_host():
    """The session's cores are the CPUs this process may run on and
    its driver heap a quarter of physical memory, at least 1g and at
    most 48g. A pure function of the host: no JVM starts."""
    from odsc_agentic_ai_summit_2025_spark.session import host_defaults

    gib = 2**30
    assert host_defaults({0, 1, 2, 3}, 16 * gib) == (4, "4096m")
    assert host_defaults({5}, 2 * gib) == (1, "1024m")
    assert host_defaults(set(range(64)), 512 * gib) == (64, "49152m")
