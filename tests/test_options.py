"""Every option of the program has a caller.  A defaulted parameter of a
function under ``vnlp_spark/``, in ``__spark_entry__.py``, ``bench.py`` or
``scripts/`` that no call site in the repository passes (by keyword, by
position, or through ``*args`` / ``**kwargs``) has one value in use: it is
a constant, and every branch only another value could select is dead
code.  ``ALLOWED`` names the exceptions, each with its reason.

Calls are matched by name (the callee's last dotted part; a class name
for ``__init__``), so a same-named function elsewhere can only make a
parameter look used, never unused."""
from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_REFERENCE = "mirrors the reference VNLP signature"
ALLOWED = {
    "functions/deasciifier.py::_get_context(size)": _REFERENCE,
    "functions/numbers.py::py_convert_numbers_to_words(num_dec_digits)": _REFERENCE,
    "functions/numbers.py::py_convert_numbers_to_words(decimal_seperator)": _REFERENCE,
    "operators/stopwords.py::py_dynamically_detect_stop_words(rare_words_freq)": _REFERENCE,
    "operators/stopwords.py::dynamically_detect_stop_words(rare_words_freq)": _REFERENCE,
}


def _py_files():
    for path in sorted(REPO.rglob("*.py")):
        parts = path.relative_to(REPO).parts
        if not any(p.startswith(".") or p == "__pycache__" for p in parts):
            yield path


def _options():
    """{id: (callee name, positional index or None, parameter)} for every
    defaulted parameter of a function under vnlp_spark/ (ids relative to
    it), in the driver entry, bench.py or scripts/ (ids relative to the
    repository)."""
    found = {}
    lib = REPO / "vnlp_spark"
    for path in _py_files():
        if lib in path.parents:
            rel = path.relative_to(lib).as_posix()
        elif path in (REPO / "__spark_entry__.py", REPO / "bench.py") \
                or path.parent == REPO / "scripts":
            rel = path.relative_to(REPO).as_posix()
        else:
            continue

        def visit(node, scope, cls):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, ast.ClassDef):
                    visit(child, scope + [child.name], child.name)
                elif isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    add(child, scope, cls)
                    visit(child, scope + [child.name], None)
                else:
                    visit(child, scope, cls)

        def add(fn, scope, cls):
            a = fn.args
            pos = a.posonlyargs + a.args
            static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                         for d in fn.decorator_list)
            if cls and pos and not static:
                pos = pos[1:]  # self / cls
            callee = cls if fn.name == "__init__" else fn.name
            qual = ".".join(scope + [fn.name])
            first = len(pos) - len(a.defaults)
            for i in range(first, len(pos)):
                found[f"{rel}::{qual}({pos[i].arg})"] = (callee, i, pos[i].arg)
            for p, d in zip(a.kwonlyargs, a.kw_defaults):
                if d is not None:
                    found[f"{rel}::{qual}({p.arg})"] = (callee, None, p.arg)

        visit(ast.parse(path.read_text(encoding="utf-8")), [], None)
    return found


def _calls():
    """callee name -> [(positional count, keyword names, star)]."""
    calls: dict = {}
    for path in _py_files():
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name is None:
                continue
            star = any(isinstance(a, ast.Starred) for a in node.args) or any(
                k.arg is None for k in node.keywords)
            calls.setdefault(name, []).append(
                (len(node.args), {k.arg for k in node.keywords}, star))
    return calls


def _unset():
    calls = _calls()
    out = []
    for oid, (callee, index, param) in _options().items():
        if not any(star or param in kws or (index is not None and n_pos > index)
                   for n_pos, kws, star in calls.get(callee, [])):
            out.append(oid)
    return out


def test_every_option_is_set_by_some_caller():
    assert len(_options()) > 50
    unexpected = sorted(set(_unset()) - set(ALLOWED))
    assert unexpected == [], "defaulted parameters no call site passes " \
        "(make each a constant, or allowlist it with a reason):\n" + "\n".join(unexpected)


def test_allowlist_names_live_unset_options():
    """A stale entry (the option is gone or now has a caller) leaves the
    list."""
    options = _options()
    unset = set(_unset())
    assert sorted(k for k in ALLOWED if k not in options or k not in unset) == []
