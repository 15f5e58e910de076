"""The operator library has one UDF idiom: Arrow UDFs (``arrow_map`` for
per-row kernels, ``arrow_udf`` / ``mapInArrow`` for batch-numpy stages).
Only ``functions/_udf.py`` (the ``arrow_map`` helper) and the batch-numpy
``operators/similarity.py`` use ``arrow_udf`` directly.  No module under
``vnlp_spark/`` defines a pandas UDF, runs ``mapInPandas`` or imports
pandas — except the streaming ``stateful_entity_totals``, whose
``applyInPandasWithState`` has no Arrow form on the same state store."""
from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent / "vnlp_spark"
ALLOWED_PANDAS = ("streaming/stream_kg.py", "stateful_entity_totals")
ALLOWED_ARROW_UDF = ("functions/_udf.py", "operators/similarity.py")


def _violations(path: Path) -> list:
    rel = path.relative_to(ROOT).as_posix()
    tree = ast.parse(path.read_text(encoding="utf-8"))
    found = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        names = []
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module:
            names = [node.module] + [f"{node.module}.{a.name}" for a in node.names]
        if any(n == "pandas" or n.startswith("pandas.") for n in names):
            if (rel, func) != ALLOWED_PANDAS:
                found.append(f"{rel}:{node.lineno} imports pandas")
        if isinstance(node, ast.Name) and node.id == "pandas_udf":
            found.append(f"{rel}:{node.lineno} pandas_udf")
        if isinstance(node, ast.Attribute) and node.attr in ("pandas_udf", "mapInPandas"):
            found.append(f"{rel}:{node.lineno} {node.attr}")
        if isinstance(node, ast.alias) and node.name == "pandas_udf":
            found.append(f"{rel} imports pandas_udf")
        if (isinstance(node, ast.alias) and node.name == "arrow_udf"
                or isinstance(node, ast.Attribute) and node.attr == "arrow_udf"):
            if rel not in ALLOWED_ARROW_UDF:
                found.append(f"{rel} uses arrow_udf outside arrow_map")
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return found


def test_no_pandas_udf_idiom_in_library():
    files = sorted(ROOT.rglob("*.py"))
    assert len(files) > 20
    bad = [v for f in files for v in _violations(f)]
    assert bad == []
