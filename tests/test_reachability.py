"""Every module of the library is reached from the program.  A module
under ``vnlp_spark/`` that no non-test root imports, directly or through
other modules, runs in no job: tests alone keep it alive.

The roots are the driver entry, ``bench.py``, the scripts, the benchmark
and the two job entry points.  Imports are read from the source with
``ast``, at any depth (a function-level import counts), and importing a
submodule also reaches its parent packages."""
from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
LIB = REPO / "vnlp_spark"


def _roots() -> list:
    return [
        REPO / "__spark_entry__.py",
        REPO / "bench.py",
        *sorted((REPO / "scripts").glob("*.py")),
        *sorted((REPO / "perfbench").glob("*.py")),
        LIB / "bin" / "kg_job.py",
        LIB / "streaming" / "stream_kg.py",
    ]


def _modules() -> dict:
    """dotted name -> path, for every module and package of the library."""
    out = {}
    for path in sorted(LIB.rglob("*.py")):
        parts = path.relative_to(REPO).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = path
    return out


def _imports(path: Path, modules: dict) -> set:
    """Library modules ``path`` imports, with their parent packages."""
    in_lib = LIB in path.parents
    found = set()
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                if not in_lib:
                    continue
                # the file's package, then one level up per extra dot
                base = list(path.relative_to(REPO).parent.parts)
                base = base[: len(base) - node.level + 1]
                if node.module:
                    base.append(node.module)
                mod = ".".join(base)
            else:
                mod = node.module
            found.add(mod)
            found.update(f"{mod}.{a.name}" for a in node.names)
    return {p for name in found for p in _with_parents(name) if p in modules}


def _with_parents(name: str) -> list:
    parts = name.split(".")
    return [".".join(parts[:i]) for i in range(1, len(parts) + 1)]


def _unreached() -> list:
    modules = _modules()
    by_path = {path: name for name, path in modules.items()}
    seen: set = set()
    todo = []
    for root in _roots():
        if root in by_path:
            todo += _with_parents(by_path[root])
        todo += _imports(root, modules)
    while todo:
        mod = todo.pop()
        if mod not in seen:
            seen.add(mod)
            todo.extend(_imports(modules[mod], modules))
    return sorted(set(modules) - seen)


def test_every_library_module_is_reached_from_a_root():
    assert len(_modules()) > 30
    assert _unreached() == [], "modules no program root imports " \
        "(delete each, or import it from the path that needs it)"
