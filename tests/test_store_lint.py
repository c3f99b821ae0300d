"""AST lint: only ``operators/store.py`` touches index files. The layout
of an index directory (meta commits, versions, tombstones, the query log,
streaming epoch markers) is decided in that one module, so a store on
another file system is a change there only.

Flagged, in any module under ``vectorchord_spark/operators/`` and
``vectorchord_spark/streaming/`` except ``operators/store.py``: calls of
``open``, ``os.listdir``, ``os.link``, ``os.replace``,
``os.path.exists``, ``os.path.isdir`` and any ``shutil`` function, also
when imported under another name (``from shutil import rmtree``).
Path arithmetic (``os.path.join``), ``os.makedirs`` and Spark, pandas or
pyarrow reads stay allowed.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DIRS = ("vectorchord_spark/operators", "vectorchord_spark/streaming")
STORE = "vectorchord_spark/operators/store.py"

FLAGGED = {"open", "os.listdir", "os.link", "os.replace", "os.path.exists", "os.path.isdir"}


def _dotted(node: ast.AST) -> str | None:
    """``a.b.c`` for a chain of attributes on a name, else None."""
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if not isinstance(node, ast.Name):
        return None
    parts.append(node.id)
    return ".".join(reversed(parts))


def lint_source(src: str, filename: str = "<src>") -> list[str]:
    tree = ast.parse(src, filename=filename)
    # what each imported name stands for: ``osp`` → ``os.path``
    origin: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                bound = a.asname or a.name.split(".")[0]
                origin[bound] = a.name if a.asname else bound
        elif isinstance(node, ast.ImportFrom) and node.module:
            for a in node.names:
                origin[a.asname or a.name] = f"{node.module}.{a.name}"
    problems = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        name = _dotted(node.func)
        if name is None:
            continue
        head, _, rest = name.partition(".")
        full = ".".join(filter(None, (origin.get(head, head), rest)))
        if full in FLAGGED or full.startswith("shutil."):
            problems.append(
                f"{filename}:{node.lineno}: {full}() on the file system; "
                f"index files are read and written only by {STORE}"
            )
    return problems


def _linted_files() -> list[str]:
    out = []
    for d in DIRS:
        for root, _dirs, files in os.walk(os.path.join(ROOT, d)):
            out.extend(
                os.path.relpath(os.path.join(root, fn), ROOT)
                for fn in files
                if fn.endswith(".py")
            )
    return sorted(p for p in out if p != STORE)


def test_only_the_store_touches_index_files():
    problems: list[str] = []
    for rel in _linted_files():
        with open(os.path.join(ROOT, rel)) as f:
            problems.extend(lint_source(f.read(), rel))
    assert not problems, "\n".join(problems)


def test_store_lint_self_check():
    ok = (
        "import os\n"
        "import pyarrow.parquet as pq\n"
        "p = os.path.join('a', 'meta.json')\n"
        "os.makedirs(p, exist_ok=True)\n"
        "t = pq.read_table(p)\n"
        "df = spark.read.parquet(p)\n"
        "f = fs.open(p)\n"
    )
    assert lint_source(ok) == []
    bad = [
        "with open('meta.json', 'w') as f:\n    pass\n",
        "import os\nx = os.listdir('graph')\n",
        "import os\nos.link('a', 'b')\n",
        "import os\nos.replace('a.tmp', 'a')\n",
        "import os\nx = os.path.exists('tombstones')\n",
        "import os.path\nx = os.path.isdir('graph/shard=0')\n",
        "import os.path as osp\nx = osp.exists('tombstones')\n",
        "from os.path import isdir\nx = isdir('graph/shard=0')\n",
        "import shutil\nshutil.rmtree('codes_v1', ignore_errors=True)\n",
        "from shutil import copy2\ncopy2('a', 'b')\n",
        "import shutil as sh\nsh.move('a', 'b')\n",
    ]
    for src in bad:
        assert len(lint_source(src)) == 1, src
