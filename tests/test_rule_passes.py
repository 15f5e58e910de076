"""Structure of the morphology and parse paths: ``py_analyze_tokens``,
``adjust_upos`` and ``py_parse_tokens`` are thin drivers over ordered
tuples of named, module-level rule passes (``morphology.MORPH_RULES``,
``pos.UPOS_RULES``, ``dep_parser.PARSE_RULES``), so each rule can be
timed, counted and checked on its own.  Checked on the source with
``ast``: no function in the three modules is longer than 200 lines, the
drivers define no nested function or lambda, and each rule tuple lists
only functions defined at module level."""
import ast
import os

import pytest

_OPS = os.path.join(os.path.dirname(__file__), os.pardir, "vnlp_spark", "operators")
_MAX_LINES = 200
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _module(name: str) -> ast.Module:
    with open(os.path.join(_OPS, name), encoding="utf-8") as f:
        return ast.parse(f.read())


@pytest.mark.parametrize("name", ["dep_parser.py", "pos.py", "morphology.py"])
def test_no_function_longer_than_200_lines(name):
    long = [
        (node.name, node.end_lineno - node.lineno + 1)
        for node in ast.walk(_module(name))
        if isinstance(node, _FUNCS) and node.end_lineno - node.lineno + 1 > _MAX_LINES
    ]
    assert long == []


@pytest.mark.parametrize(
    "name,driver",
    [("dep_parser.py", "py_parse_tokens"), ("pos.py", "adjust_upos"),
     ("morphology.py", "py_analyze_tokens")],
)
def test_driver_defines_no_nested_function(name, driver):
    fn = next(n for n in _module(name).body if isinstance(n, _FUNCS) and n.name == driver)
    nested = [
        type(node).__name__
        for node in ast.walk(fn)
        if node is not fn and isinstance(node, _FUNCS + (ast.Lambda,))
    ]
    assert nested == []


@pytest.mark.parametrize(
    "name,rules",
    [("dep_parser.py", "PARSE_RULES"), ("pos.py", "UPOS_RULES"),
     ("morphology.py", "MORPH_RULES")],
)
def test_rules_are_a_tuple_of_module_level_functions(name, rules):
    tree = _module(name)
    top_level = {n.name for n in tree.body if isinstance(n, _FUNCS)}
    value = next(
        (n.value for n in tree.body
         if isinstance(n, ast.Assign)
         and any(isinstance(t, ast.Name) and t.id == rules for t in n.targets)),
        None,
    )
    assert isinstance(value, ast.Tuple) and value.elts
    entries = [e.id if isinstance(e, ast.Name) else ast.dump(e) for e in value.elts]
    assert [e for e in entries if e not in top_level] == []
    assert len(set(entries)) == len(entries)
