"""Guard on the engine's environment-variable surface: only the four
deployment settings may be read from the environment. A tuning knob
or an A/B twin belongs in a parameter at its call site, not in an env
var that silently changes what every caller gets."""

from __future__ import annotations

import ast
from pathlib import Path

ENGINE = Path(__file__).resolve().parent.parent / "propius_spark"
DEPLOYMENT_SETTINGS = {
    "SPARK_GRAFT_CPUS",
    "PROPIUS_SHUFFLE_PARTITIONS",
    "PROPIUS_DRIVER_MEM",
    "PROPIUS_CHECKPOINT_DIR",
}


def _is_os_environ(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "environ"
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _env_keys(tree: ast.AST):
    """String keys of ``os.environ.get(k)``, ``os.environ[k]`` and
    ``os.getenv(k)``; a non-literal key yields its source text so it
    fails the comparison instead of hiding."""
    for node in ast.walk(tree):
        key = None
        if isinstance(node, ast.Call) and node.args:
            f = node.func
            if (
                isinstance(f, ast.Attribute)
                and f.attr == "get"
                and _is_os_environ(f.value)
            ) or (
                isinstance(f, ast.Attribute)
                and f.attr == "getenv"
                and isinstance(f.value, ast.Name)
                and f.value.id == "os"
            ):
                key = node.args[0]
        elif isinstance(node, ast.Subscript) and _is_os_environ(node.value):
            key = node.slice
        if key is not None:
            if isinstance(key, ast.Constant) and isinstance(key.value, str):
                yield key.value
            else:
                yield ast.unparse(key)


def test_engine_reads_only_deployment_env_vars():
    found = {}
    for path in sorted(ENGINE.rglob("*.py")):
        for key in _env_keys(ast.parse(path.read_text(), str(path))):
            found.setdefault(key, []).append(
                str(path.relative_to(ENGINE.parent))
            )
    assert set(found) == DEPLOYMENT_SETTINGS, found
