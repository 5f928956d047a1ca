"""Every top-level def of the package is named somewhere else.

A function or class that no package module, entry point (``bench.py``,
``__spark_entry__.py``, ``scripts/``, ``perfbench/``) or test mentions is
dead code: nothing can call it, and no test pins what it does.  The scan
is textual (an identifier anywhere, comments and strings included), so
it only catches names that appear nowhere at all; it needs no Spark.
The same no-Spark scans keep the env-var table, the one persist owner
and every import honest.
"""

from __future__ import annotations

import ast
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "rust_near_indexer_spark")


def _py_files(*paths: str):
    for path in paths:
        if path.endswith(".py"):
            yield path
            continue
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            yield from (os.path.join(root, f) for f in files if f.endswith(".py"))


def test_no_top_level_def_is_unreferenced():
    corpus = [
        PKG,
        *(os.path.join(ROOT, p) for p in ("bench.py", "__spark_entry__.py")),
        *(os.path.join(ROOT, d) for d in ("scripts", "perfbench", "tests")),
    ]
    names: Counter[str] = Counter()
    for path in _py_files(*corpus):
        with open(path, encoding="utf-8") as f:
            names.update(re.findall(r"[A-Za-z_]\w*", f.read()))
    unreferenced = []
    for path in _py_files(PKG):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read())
        for node in tree.body:
            defines = isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            # the def's own name is its one occurrence
            if defines and not node.name.startswith("__") and names[node.name] <= 1:
                unreferenced.append(f"{os.path.relpath(path, ROOT)}:{node.lineno} {node.name}")
    assert unreferenced == []


def test_every_env_var_is_in_the_readme_table():
    """The README's Configuration table names exactly the ``SPARK_*`` /
    ``OTEL_*`` variables the package reads, so a knob cannot land
    undocumented (and a deleted one cannot linger in the docs)."""
    read = set()
    for path in _py_files(PKG):
        with open(path, encoding="utf-8") as f:
            read.update(re.findall(r"""["']((?:SPARK|OTEL)_[A-Z0-9_]+)["']""", f.read()))
    with open(os.path.join(ROOT, "README.md"), encoding="utf-8") as f:
        readme = f.read()
    assert "## Configuration" in readme
    section = readme.split("## Configuration", 1)[1].split("\n## ", 1)[0]
    documented = set(re.findall(r"^\| `([A-Z0-9_]+)` \|", section, re.M))
    assert read == documented


def test_only_caching_persists():
    """``caching.Pins`` is the one owner of persisted frames: no other
    package module persists, caches or unpersists a DataFrame itself, so
    no frame can be pinned without an owner that releases it."""
    spelled = []
    for path in _py_files(PKG):
        if os.path.basename(path) == "caching.py":
            continue
        with open(path, encoding="utf-8") as f:
            for n, line in enumerate(f, 1):
                if re.search(r"\.persist\(|\.cache\(\)|\.unpersist\(", line):
                    spelled.append(f"{os.path.relpath(path, ROOT)}:{n}")
    assert spelled == []


def test_every_import_is_used():
    """An imported name its module never reads is dead weight (and hides
    which modules really depend on what).  ``__init__.py`` re-exports and
    lines marked ``# noqa: F401`` are the deliberate exceptions."""
    unused = []
    for path in _py_files(PKG):
        if os.path.basename(path) == "__init__.py":
            continue
        with open(path, encoding="utf-8") as f:
            src = f.read()
        lines = src.splitlines()
        tree = ast.parse(src)
        read = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in ast.walk(tree):
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if getattr(node, "module", None) == "__future__":
                continue
            if any("noqa: F401" in ln for ln in lines[node.lineno - 1 : node.end_lineno]):
                continue
            for alias in node.names:
                name = (alias.asname or alias.name).split(".")[0]
                if name not in read:
                    unused.append(f"{os.path.relpath(path, ROOT)}:{node.lineno} {name}")
    assert unused == []
