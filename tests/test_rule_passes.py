"""Structure of the morphology and parse paths: ``py_analyze_tokens``,
``adjust_upos`` and ``py_parse_tokens`` are thin drivers over ordered
tuples of named, module-level rule passes (``morphology.MORPH_RULES``,
``pos.UPOS_RULES``, ``dep_parser.PARSE_RULES``), so each rule can be
timed, counted and checked on its own.  Checked on the source with
``ast``: no function in the three modules is longer than 200 lines, the
drivers define no nested function or lambda, each rule tuple lists
only functions defined at module level, and ``pos`` and ``dep_parser``
take no analysis string apart themselves (they read
``morphology.analysis_tags``).  Checked by running the rules
over every gold text and the kernel-parity fuzz corpus: every rule
changes the output of some sentence, so no rule stays in a tuple after
later rules have taken over its work."""
import ast
import os
import pickle

import pytest

from tests.test_kernel_parity import _fuzz_corpus
from vnlp_spark.functions.tokenizer import py_treebank_tokenize
from vnlp_spark.operators import dep_parser, morphology, pos
from vnlp_spark.plans.gold_ud_blind_data import available_splits, load_split

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


def _format_reads(tree: ast.Module) -> list:
    """The ``.split`` / ``.count`` / ``.replace`` calls with a "+" or "^"
    literal, and the references to ``_TAG_SEP``, outside ``_upos_sql``
    (the JVM copy of the UPOS mapping), as ``(line, name)``."""
    exempt = {
        id(node)
        for fn in tree.body if isinstance(fn, _FUNCS) and fn.name == "_upos_sql"
        for node in ast.walk(fn)
    }
    reads = []
    for node in ast.walk(tree):
        if id(node) in exempt:
            continue
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("split", "count", "replace")
                and any(isinstance(a, ast.Constant) and isinstance(a.value, str)
                        and ("+" in a.value or "^" in a.value) for a in node.args)):
            reads.append((node.lineno, node.func.attr))
        name = getattr(node, "id", None) or getattr(node, "attr", None) or getattr(node, "name", None)
        if name == "_TAG_SEP":
            reads.append((node.lineno, name))
    return sorted(reads)


@pytest.mark.parametrize("name", ["dep_parser.py", "pos.py"])
def test_analysis_format_read_only_in_morphology(name):
    # the rule modules read an analysis string through
    # ``morphology.analysis_tags``, never by splitting it themselves
    assert _format_reads(_module(name)) == []


# every tuple a rule is run from; the parser imports UPOS_RULES by name
_TUPLES = ((morphology, "MORPH_RULES"), (pos, "UPOS_RULES"),
           (dep_parser, "UPOS_RULES"), (dep_parser, "PARSE_RULES"))


def _snapshot(state) -> bytes:
    return pickle.dumps([getattr(state, a, "<unset>") for a in type(state).__slots__])


def _run_recording(state, rules, k: int, changed: dict) -> None:
    for rule in rules:
        before = _snapshot(state)
        rule(state)
        if _snapshot(state) != before:
            changed.setdefault(rule, []).append(k)


def _outputs(tokens: list) -> tuple:
    analyses = morphology.py_analyze_tokens(tokens)
    return (analyses, pos.adjust_upos(tokens, analyses),
            dep_parser.py_parse_tokens(tokens, analyses))


def _needed_on(rule, tokens: list, expected: tuple, monkeypatch) -> bool:
    """Does skipping ``rule`` change the drivers' output on ``tokens``?"""
    with monkeypatch.context() as m:
        for mod, name in _TUPLES:
            m.setattr(mod, name, tuple(r for r in getattr(mod, name) if r is not rule))
        try:
            return _outputs(tokens) != expected
        except AttributeError:
            # the rule sets a clause field that a later rule reads
            return True


def test_every_rule_changes_some_output(monkeypatch):
    texts = [e["text"] for name in available_splits() for e in load_split(name)]
    texts += _fuzz_corpus()
    # one pass through the drivers' sequence by hand, recording per rule
    # the sentences on which it changed the state: a rule that changes no
    # state on a sentence cannot change that sentence's output
    changed, cases = {}, []
    for k, text in enumerate(texts):
        tokens = py_treebank_tokenize(text)
        ms = morphology.MorphState(tokens)
        morphology._select_analyses(ms)
        _run_recording(ms, morphology.MORPH_RULES, k, changed)
        ps = pos.ParseState(tokens, ms.analyses)
        _run_recording(ps, pos.UPOS_RULES, k, changed)
        upos = list(ps.upos)
        n = len(tokens)
        arcs = None if n > dep_parser.MAX_TOKENS else []
        if 0 < n <= dep_parser.MAX_TOKENS:
            _run_recording(ps, dep_parser.PARSE_RULES, k, changed)
            arcs = [(i + 1, tokens[i], ps.heads[i], ps.rels[i]) for i in range(n)]
        cases.append((tokens, (ms.analyses, upos, arcs)))
    # the hand-run sequence is the drivers' sequence
    for tokens, expected in cases[:50] + cases[-50:]:
        assert _outputs(tokens) == expected
    needless = [
        f"{rule.__module__.rsplit('.', 1)[1]}.{rule.__name__}"
        for rule in morphology.MORPH_RULES + pos.UPOS_RULES + dep_parser.PARSE_RULES
        if not any(_needed_on(rule, *cases[k], monkeypatch) for k in changed.get(rule, ()))
    ]
    assert needless == [], "rules that change no output: " + ", ".join(needless)
