"""Word tokenizers (reference T2/T3, vnlp/tokenizer/tokenizer.py).

``WordPunct`` is a single Python ``re.findall``; ``Treebank`` is a
16-step sequential ``re.sub`` chain whose Python-regex semantics are the
parity contract for every downstream annotator (it is the canonical
tokenizer of the reference's stemmer/NER/PoS/DP).  Both run as Arrow
UDFs (``functions/_udf.arrow_map``) with the regexes precompiled once
per interpreter.  Java's ``\\w`` differs from Python's on combining
marks, joiners, superscripts and vulgar fractions, so neither tokenizer
is rewritten as a native regex.
"""
from __future__ import annotations

import re
from typing import List

from pyspark.sql.types import ArrayType, StringType

from ._udf import arrow_map

# T2 ---------------------------------------------------------------------
_WORDPUNCT_RE = re.compile(r"\w+|[^\w\s]+", re.UNICODE | re.MULTILINE | re.DOTALL)


def py_word_punct_tokenize(text: str) -> List[str]:
    return _WORDPUNCT_RE.findall(text)


# T3 ---------------------------------------------------------------------
# Simplified NLTK Treebank rules, same order as the reference
# (tokenizer.py:19-78); rule list is the public NLTK rule set.
_STARTING_QUOTES = [
    (re.compile(r"^\""), r"``"),
    (re.compile(r"(``)"), r" \1 "),
    (re.compile(r"([ \(\[{<])(\"|\'{2})"), r"\1 `` "),
]
_PUNCTUATION = [
    (re.compile(r"([:,])([^\d])"), r" \1 \2"),
    (re.compile(r"([:,])$"), r" \1 "),
    (re.compile(r"\.\.\."), r" ... "),
    (re.compile(r"[;@#$%&]"), r" \g<0> "),
    (re.compile(r'([^\.])(\.)([\]\)}>"\']*)\s*$'), r"\1 \2\3 "),
    (re.compile(r"[?!]"), r" \g<0> "),
    (re.compile(r"([^'])' "), r"\1 ' "),
]
_PARENS = (re.compile(r"[\]\[\(\)\{\}\<\>]"), r" \g<0> ")
_DASHES = (re.compile(r"--"), r" -- ")
_ENDING_QUOTES = [
    (re.compile(r"''"), " '' "),
    (re.compile(r'"'), " '' "),
    (re.compile(r"([^' ])('[sS]|'[mM]|'[dD]|') "), r"\1 \2 "),
    (re.compile(r"([^' ])('ll|'LL|'re|'RE|'ve|'VE|n't|N'T) "), r"\1 \2 "),
]


def py_treebank_tokenize(text: str) -> List[str]:
    for rx, sub in _STARTING_QUOTES:
        text = rx.sub(sub, text)
    for rx, sub in _PUNCTUATION:
        text = rx.sub(sub, text)
    text = _PARENS[0].sub(_PARENS[1], text)
    text = _DASHES[0].sub(_DASHES[1], text)
    text = " " + text + " "
    for rx, sub in _ENDING_QUOTES:
        text = rx.sub(sub, text)
    return text.replace("``", '"').replace("''", '"').split()


# string -> array<string>, exact Python-regex semantics
word_punct_tokenize = arrow_map(py_word_punct_tokenize, ArrayType(StringType()))
treebank_tokenize = arrow_map(py_treebank_tokenize, ArrayType(StringType()))
