"""AST lint: the library reads no environment variable except the
deployment settings below. Operator behaviour is chosen through function
arguments and option dataclasses, so every code path is one a caller can
see and a test can reach; per-layer timing comes from outside the
operators (``perfbench/run.py --trace 1``), not from env-gated timers.

Flagged, in any module under ``vectorchord_spark/``: every use of
``os.environ`` / ``os.getenv`` (or ``environ`` / ``getenv`` imported from
``os``) whose key is not a string literal in ``ALLOWED`` — including uses
with no literal key at all, such as iterating or copying the environment.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "vectorchord_spark"
)

#: deployment settings: executor core count, driver heap, Spark scratch
#: directory, and the per-worker BLAS thread cap
ALLOWED = {
    "SPARK_GRAFT_CPUS",
    "SPARK_DRIVER_MEMORY",
    "SPARK_GRAFT_LOCAL_DIR",
    "VC_WORKER_BLAS_THREADS",
}


def _is_env_ref(node: ast.AST) -> str | None:
    """'environ' / 'getenv' when ``node`` names the os environment API."""
    if isinstance(node, ast.Attribute) and node.attr in ("environ", "getenv"):
        if isinstance(node.value, ast.Name) and node.value.id == "os":
            return node.attr
    if isinstance(node, ast.Name) and node.id in ("environ", "getenv"):
        return node.id
    return None


def _literal(node: ast.AST | None) -> str | None:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return None


def _env_key(node: ast.AST, parents: dict) -> str | None:
    """The literal key an environment reference is used with, or None when
    the use has no literal key."""
    parent = parents.get(node)
    kind = _is_env_ref(node)
    if kind == "getenv":
        if isinstance(parent, ast.Call) and parent.func is node and parent.args:
            return _literal(parent.args[0])
        return None
    # os.environ["X"], os.environ.get("X"), "X" in os.environ
    if isinstance(parent, ast.Subscript) and parent.value is node:
        return _literal(parent.slice)
    if isinstance(parent, ast.Attribute) and parent.value is node:
        call = parents.get(parent)
        if isinstance(call, ast.Call) and call.func is parent and call.args:
            return _literal(call.args[0])
        return None
    if isinstance(parent, ast.Compare) and node in parent.comparators:
        return _literal(parent.left)
    return None


def lint_source(src: str, filename: str = "<src>") -> list[str]:
    tree = ast.parse(src, filename=filename)
    parents = {
        child: node for node in ast.walk(tree) for child in ast.iter_child_nodes(node)
    }
    problems = []
    for node in ast.walk(tree):
        if _is_env_ref(node) is None:
            continue
        key = _env_key(node, parents)
        if key not in ALLOWED:
            what = f"key {key!r}" if key is not None else "a non-literal key"
            problems.append(
                f"{filename}:{node.lineno}: environment read with {what}; "
                f"allowed: {sorted(ALLOWED)}"
            )
    return problems


def _package_py_files() -> list[str]:
    out = []
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if fn.endswith(".py"):
                out.append(os.path.join(root, fn))
    return sorted(out)


def test_library_reads_only_deployment_env_vars():
    problems: list[str] = []
    for path in _package_py_files():
        with open(path) as f:
            rel = os.path.relpath(path, os.path.dirname(PKG))
            problems.extend(lint_source(f.read(), rel))
    assert not problems, "\n".join(problems)


def test_env_lint_self_check():
    ok = (
        "import os\n"
        "a = os.environ.get('SPARK_GRAFT_CPUS', '8')\n"
        "b = os.getenv('SPARK_DRIVER_MEMORY')\n"
        "c = os.environ['SPARK_GRAFT_LOCAL_DIR']\n"
        "d = 'VC_WORKER_BLAS_THREADS' in os.environ\n"
    )
    assert lint_source(ok) == []
    bad = [
        "import os\nx = os.environ.get('VC_PHASE_TIMERS') == '1'\n",
        "import os\nx = os.getenv('VC_TRACE')\n",
        "import os\nx = os.environ['VC_BLOCK_BYTES']\n",
        "import os\nx = 'VC_LEGACY_LAYOUT' in os.environ\n",
        "from os import environ\nx = environ.get('VC_BUILD_TIMERS')\n",
        "import os\nk = 'SPARK_GRAFT_CPUS'\nx = os.environ.get(k)\n",
        "import os\nx = dict(os.environ)\n",
    ]
    for src in bad:
        assert len(lint_source(src)) == 1, src
