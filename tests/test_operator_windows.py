"""No operator may rank through an unpartitioned window.

``Window.orderBy(...)`` with no ``partitionBy`` puts every row into one
partition (Spark warns "No Partition Defined for Window operation"), so
at scale it funnels the whole table through a single task. This scans
the source of ``operators/`` instead of running plans, so it also covers
branches that no test executes.
"""

from __future__ import annotations

import ast
from pathlib import Path

import lsh_forest_for_multi_vector_retrieval_spark.operators as operators_pkg

# "<module>.<function>" sites allowed to keep a global window.
# rank_documents(k=None) is a full corpus ranking, which needs the global
# sort; with k set, only the k rows surviving orderBy().limit(k) reach
# the window.
ALLOWED = {"chamfer.rank_documents"}


def _unpartitioned_window_sites(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    sites = []

    def visit(node: ast.AST, func: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "orderBy"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "Window"
        ):
            sites.append((f"{path.stem}.{func}", node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, "<module>")
    return sites


def test_no_unpartitioned_window_in_operators():
    op_dir = Path(operators_pkg.__file__).parent
    sites = [
        site
        for path in sorted(op_dir.glob("*.py"))
        for site in _unpartitioned_window_sites(path)
    ]
    offenders = [f"{name} (line {line})" for name, line in sites if name not in ALLOWED]
    assert not offenders, (
        "Window.orderBy without partitionBy in operators/: " + ", ".join(offenders)
    )
    # the allowlist must not outlive the code it excuses
    assert ALLOWED <= {name for name, _ in sites}, sites
