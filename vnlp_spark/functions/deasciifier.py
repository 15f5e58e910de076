"""Turkish deasciification (reference P4, normalizer.py:129-154).

Algorithm: Deniz Yüret's emacs turkish-mode decision lists, as published in
Emre Sevinç's public ``turkish-deasciifier`` package (the reference vendors
it as ``_deasciifier.py``; the ~13.5k-entry context-pattern table is shipped
here as data — ``resources/deasciifier_patterns.json.gz``).

For each ASCII-ambiguous character (c, g, i, o, s, u) the decision list is
probed with every substring of the +-10-character context window that
contains the cursor; the lowest-|rank| hit decides whether the character
toggles to its Turkish counterpart.  Left context uses *already corrected*
characters (upcased where accented), right context uses raw input —
faithful to the original scanning order.

Spark surface: an Arrow UDF over token arrays; a bounded per-worker LRU
on the per-token kernel (web text is Zipfian; the cache turns the
per-char Python loop into a near-dictionary lookup for hot tokens).
"""
from __future__ import annotations

import string
from functools import lru_cache
from typing import List

from pyspark.sql.types import ArrayType, StringType

from ..resources import deasciifier_patterns
from ._udf import arrow_map

_CONTEXT = 10

_ASCIIFY = {
    "ç": "c", "Ç": "C", "ğ": "g", "Ğ": "G", "ö": "o", "Ö": "O",
    "ü": "u", "Ü": "U", "ı": "i", "İ": "I", "ş": "s", "Ş": "S",
}
_TOGGLE = {
    "c": "ç", "C": "Ç", "g": "ğ", "G": "Ğ", "o": "ö", "O": "Ö",
    "u": "ü", "U": "Ü", "i": "ı", "I": "İ", "s": "ş", "S": "Ş",
}
_TOGGLE.update({v: k for k, v in list(_TOGGLE.items())})

# context char maps (original: _deasciifier.py:13513-13546)
_DOWNCASE_ASCIIFY = {}
_UPCASE_ACCENTS = {}
for _ch in string.ascii_uppercase:
    _DOWNCASE_ASCIIFY[_ch] = _ch.lower()
    _DOWNCASE_ASCIIFY[_ch.lower()] = _ch.lower()
    _UPCASE_ACCENTS[_ch] = _ch.lower()
    _UPCASE_ACCENTS[_ch.lower()] = _ch.lower()
for _lo, _up, _ascii in [
    ("ç", "Ç", "c"), ("ğ", "Ğ", "g"), ("ö", "Ö", "o"),
    ("ş", "Ş", "s"), ("ü", "Ü", "u"),
]:
    _DOWNCASE_ASCIIFY[_lo] = _ascii
    _DOWNCASE_ASCIIFY[_up] = _ascii
    _UPCASE_ACCENTS[_lo] = _ascii.upper()
    _UPCASE_ACCENTS[_up] = _ascii.upper()
_DOWNCASE_ASCIIFY["ı"] = "i"
_DOWNCASE_ASCIIFY["İ"] = "i"
_UPCASE_ACCENTS["ı"] = "I"
_UPCASE_ACCENTS["İ"] = "i"


def _get_context(turkish: str, point: int, size: int = _CONTEXT) -> str:
    s = " " * size + "X" + " " * size
    i = size + 1
    space = False
    index = point + 1
    # right context: raw characters, stop at first non-letter run
    while i < len(s) and not space and index < len(turkish):
        x = _DOWNCASE_ASCIIFY.get(turkish[index], False)
        if not x:
            if not space:
                i += 1
                space = True
        else:
            s = s[:i] + x + s[i + 1:]
            i += 1
            space = False
        index += 1
    s = s[:i]
    # left context: corrected characters, accented letters upcased
    i = size - 1
    space = False
    index = point - 1
    while i >= 0 and index >= 0:
        x = _UPCASE_ACCENTS.get(turkish[index], False)
        if not x:
            if not space:
                i -= 1
                space = True
        else:
            s = s[:i] + x + s[i + 1:]
            i -= 1
            space = False
        index -= 1
    return s


def _match_pattern(dlist: dict, turkish: str, point: int) -> bool:
    rank = 2 * len(dlist)
    ctx = _get_context(turkish, point)
    length = len(ctx)
    start = 0
    while start <= _CONTEXT:
        end = _CONTEXT + 1
        while end <= length:
            r = dlist.get(ctx[start:end], False)
            if r and abs(r) < abs(rank):
                rank = r
            end += 1
        start += 1
    return rank > 0


def _needs_correction(patterns: dict, turkish: str, ch: str, point: int) -> bool:
    tr = _ASCIIFY.get(ch, ch)
    pl = patterns.get(tr.lower(), False)
    m = _match_pattern(pl, turkish, point) if pl is not False else False
    if tr == "I":
        return (not m) if ch == tr else m
    return m if ch == tr else (not m)


def py_deasciify_token(token: str, patterns: dict | None = None) -> str:
    if patterns is None:
        patterns = deasciifier_patterns()
    turkish = token
    for i in range(len(turkish)):
        c = turkish[i]
        if _needs_correction(patterns, turkish, c, i):
            turkish = turkish[:i] + _TOGGLE.get(c, c) + turkish[i + 1:]
    return turkish


_TOKEN_MEMO_MAX = 8192


@lru_cache(maxsize=_TOKEN_MEMO_MAX)
def _deasciify_token_cached(token: str) -> str:
    return py_deasciify_token(token, deasciifier_patterns())


def py_deasciify(tokens: List[str]) -> List[str]:
    return [_deasciify_token_cached(t) for t in tokens]


# array<string> tokens -> deasciified array<string>
deasciify = arrow_map(py_deasciify, ArrayType(StringType()))
