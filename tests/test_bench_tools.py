"""Tests for the bench and verify tooling: the status-store probe that
``bench.py`` uses for per-query shuffle bytes, and a Spark-free guard that
every script under ``tools/`` imports only modules that exist."""

from __future__ import annotations

import ast
import glob
import importlib.util
import os

from tests.conftest import REPO_DIR

TOOLS = os.path.join(REPO_DIR, "tools")


def _resolvable(name: str) -> bool:
    """A module a tools script can import when run as ``python
    tools/x.py``: a sibling script (``x`` or ``tools.x``), a module or
    package at the checkout root (the scripts put the root on
    ``sys.path``), or an installed/stdlib module (found, not imported)."""
    top, _, rest = name.partition(".")
    if top == "tools" and rest:
        return os.path.exists(os.path.join(TOOLS, f"{rest.partition('.')[0]}.py"))
    for base in (TOOLS, REPO_DIR):
        if os.path.exists(os.path.join(base, f"{top}.py")) or os.path.isdir(
            os.path.join(base, top)
        ):
            return True
    return importlib.util.find_spec(top) is not None


def test_tools_import_only_existing_modules():
    """Deleting a tool must not strand a sibling that imports it: parse
    every ``tools/*.py`` and resolve each absolute import without running
    any of them."""
    scripts = sorted(glob.glob(os.path.join(TOOLS, "*.py")))
    assert scripts
    missing = []
    for path in scripts:
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and not node.level:
                names = [node.module]
            else:
                continue
            missing += [
                f"{os.path.basename(path)}:{node.lineno} {n}"
                for n in names if not _resolvable(n)
            ]
    assert not missing, f"tools import modules that do not exist: {missing}"


def test_stage_metrics_probe_attributes_shuffle_bytes(spark):
    """bench._stage_metrics reads the JVM status store (UI disabled)
    and the _run_once diff-by-stage-id convention attributes a known
    shuffle to the run that caused it: a groupBy over fresh stages must
    show nonzero write and read bytes."""
    import bench

    before = bench._stage_metrics(spark)
    assert before is not None  # the probe works in this Spark build
    mark = max((sid for sid, _, _ in before), default=-1)
    spark.range(0, 200_000).selectExpr("id % 13 AS k", "id AS v").groupBy(
        "k"
    ).sum("v").collect()
    after = bench._stage_metrics(spark)
    read = sum(r for sid, r, _ in after if sid > mark)
    write = sum(w for sid, _, w in after if sid > mark)
    assert write > 0 and read > 0
