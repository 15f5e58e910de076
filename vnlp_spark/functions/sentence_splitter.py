"""Rule-based Turkish sentence splitting (reference T1,
vnlp/sentence_splitter/sentence_splitter.py:51-206; itself derived from the
public Koehn & Schroeder splitter).

This op defines the **byte-identical extracted text per url** invariant of
the pipeline, so the break rules use the Python ``regex`` module (``\\p{...}``
unicode classes) inside an Arrow UDF — Java regex classes differ subtly and
would silently break parity.  The four break-insertion rules, the
non-breaking-prefix / acronym / numeric look-ahead pass, and the whitespace
normalization are reproduced rule-for-rule.

Spark surface: ``split_sentences(col)`` -> ``array<string>``; callers
``posexplode`` to one-row-per-sentence.
"""
from __future__ import annotations

from typing import List

import regex
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from ..resources import non_breaking_prefixes
from ._udf import arrow_map

_U = regex.UNICODE
# sentence starter = optional initial quotes/brackets then an uppercase/other letter
_STARTER = r'([\'"([¿¡\p{Initial_Punctuation}]*[\p{Uppercase_Letter}\p{Other_Letter}])'

_RULE_QM_EXCL = regex.compile(r"([?!]) +" + _STARTER, _U)
_RULE_ELLIPSIS = regex.compile(r"(\.[\.]+) +" + _STARTER, _U)
_RULE_CLOSE_QUOTE = regex.compile(
    r'([?!\.][\ ]*[\'")\]\p{Final_Punctuation}]+) +'
    r'([\'"([¿¡\p{Initial_Punctuation}]*[\ ]*[\p{Uppercase_Letter}\p{Other_Letter}])',
    _U,
)
_RULE_PUNCT_QUOTE = regex.compile(
    r'([?!\.]) +([\'"[¿¡\p{Initial_Punctuation}]+[\ ]*[\p{Uppercase_Letter}\p{Other_Letter}])',
    _U,
)
_WORD_SPLIT = regex.compile(r" +", _U)
_TRAILING_DOT = regex.compile(r"([\w\.\-]*)([\'\"\)\]\%\p{Final_Punctuation}]*)(\.+)$", _U)
_ACRONYM = regex.compile(r"(\.)[\p{Uppercase_Letter}\p{Other_Letter}\-]+(\.+)$", _U)
_NEXT_STARTS_SENTENCE = regex.compile(
    r'^([ ]*[\'"([¿¡\p{Initial_Punctuation}]*[ ]*[\p{Uppercase_Letter}\p{Other_Letter}0-9])', _U
)
_NEXT_STARTS_DIGIT = regex.compile(r"^[0-9]+", _U)
_MULTI_SPACE = regex.compile(r" +")

_PREFIX_DEFAULT = 1
_PREFIX_NUMERIC_ONLY = 2


def py_split_sentences(text: str, prefixes: dict | None = None) -> List[str]:
    if text is None or not text:
        return []
    if prefixes is None:
        prefixes = non_breaking_prefixes()

    text = _RULE_QM_EXCL.sub(r"\1\n\2", text)
    text = _RULE_ELLIPSIS.sub(r"\1\n\2", text)
    text = _RULE_CLOSE_QUOTE.sub(r"\1\n\2", text)
    text = _RULE_PUNCT_QUOTE.sub(r"\1\n\2", text)

    words = _WORD_SPLIT.split(text)
    for i in range(len(words) - 1):
        # _TRAILING_DOT ends in (\.+)$, and `$` also matches before a
        # final newline: only a word ending in "." or ".\n" can match
        w = words[i]
        if w[-1:] != "." and w[-2:] != ".\n":
            continue
        m = _TRAILING_DOT.search(w)
        if m:
            prefix, starting_punct = m.group(1), m.group(2)
            is_honorific = bool(
                prefix
                and prefixes.get(prefix) == _PREFIX_DEFAULT
                and not starting_punct
            )
            if is_honorific:
                pass  # known abbreviation: never break
            elif _ACRONYM.search(words[i]):
                pass  # upper-case acronym like "T.C.": never break
            elif _NEXT_STARTS_SENTENCE.search(words[i + 1]):
                is_numeric_nb = bool(
                    prefix
                    and prefixes.get(prefix) == _PREFIX_NUMERIC_ONLY
                    and not starting_punct
                    and _NEXT_STARTS_DIGIT.search(words[i + 1])
                )
                if not is_numeric_nb:
                    words[i] = words[i] + "\n"

    out = _MULTI_SPACE.sub(" ", " ".join(words))
    out = out.replace("\n ", "\n").replace(" \n", "\n").strip()
    return out.split("\n")


# prefixes parsed once per python worker (non_breaking_prefixes is cached)
split_sentences = arrow_map(py_split_sentences, ArrayType(StringType()))


def explode_sentences(df, text_col: str = "text", id_cols: tuple = ("url",)):
    """documents -> one row per sentence: (id_cols..., sent_id, sentence).

    Narrow map + generate — no shuffle; Catalyst prunes unused document
    columns out of the parquet scan.
    """
    return (
        df.select(*id_cols, F.posexplode(split_sentences(text_col)).alias("sent_id", "sentence"))
    )
