"""Turkish text normalization — the deterministic scalar layer.

Ops P1/P2/P3/P9/P10 of the reference (vnlp/normalizer/normalizer.py:39-127,
part_of_speech_tagger/_treestack_utils.py:185-190,390-398) expressed as
**native Spark Column expressions** so they stay inside whole-stage codegen
— no Python round-trip.  P1/P2/P3/P9 also have a ``py_*`` pure-Python
twin used for parity tests and inside composite Arrow UDFs.

Byte-parity notes
-----------------
- Plain ``lower()`` is wrong for Turkish dotted/dotless I (``İ``→``i``,
  ``I``→``ı``); we translate the seven special uppercase letters first, then
  lower-case the remainder — same order as the reference.
- ``remove_punctuations`` keeps exactly ``str.isalnum()`` characters plus
  space.  Java's ``\\p{L}\\p{N}`` matches Python's isalnum for the practical
  web-text alphabet; the parity test sweeps the full fixture corpus.
- ``remove_accent_marks`` intentionally maps uppercase accented vowels to
  *lowercase* targets except  ``Â``→``A`` — reproducing the reference table
  verbatim (normalizer.py:113-124).
"""
from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# P1 ---------------------------------------------------------------------
_TR_UPPER = "İIĞÜÖŞÇ"
_TR_LOWER = "iığüöşç"


def turkish_lower(col: Column | str) -> Column:
    """Turkish-aware lowercase (reference P1, normalizer.py:39-72)."""
    return F.lower(F.translate(F.col(col) if isinstance(col, str) else col, _TR_UPPER, _TR_LOWER))


def turkish_lower_sql(expr: str) -> str:
    """``turkish_lower`` as Spark SQL text over the expression ``expr``."""
    return f"lower(translate({expr}, '{_TR_UPPER}', '{_TR_LOWER}'))"


def py_turkish_lower(text: str) -> str:
    for k, v in zip(_TR_UPPER, _TR_LOWER):
        text = text.replace(k, v)
    return text.lower()


# P2 ---------------------------------------------------------------------
_PUNCT_RE = r"[^\p{L}\p{N} ]"


def remove_punctuations(col: Column | str) -> Column:
    """Keep unicode alphanumerics + space (reference P2, normalizer.py:74-92)."""
    return F.regexp_replace(F.col(col) if isinstance(col, str) else col, _PUNCT_RE, "")


def py_remove_punctuations(text: str) -> str:
    return "".join(t for t in text if (t.isalnum() or t == " "))


# P3 ---------------------------------------------------------------------
_ACCENT_SRC = "âôîêûÂÔÎÊÛ"
_ACCENT_DST = "aoıeuAoıeu"


def remove_accent_marks(col: Column | str) -> Column:
    """Strip non-Turkish accent marks (reference P3, normalizer.py:94-127)."""
    return F.translate(F.col(col) if isinstance(col, str) else col, _ACCENT_SRC, _ACCENT_DST)


def py_remove_accent_marks(text: str) -> str:
    table = dict(zip(_ACCENT_SRC, _ACCENT_DST))
    return "".join(table.get(c, c) for c in text)


# P9 ---------------------------------------------------------------------
def digits_to_zero(col: Column | str) -> Column:
    """Every digit -> ``0`` for embedding lookup (reference P9,
    _treestack_utils.py:390-398)."""
    return F.regexp_replace(F.col(col) if isinstance(col, str) else col, r"\d", "0")


def py_digits_to_zero(text: str) -> str:
    return "".join("0" if c.isdigit() else c for c in text)


# P10 --------------------------------------------------------------------
def preprocess_word(col: Column | str) -> Column:
    """Embedding-lookup pre-norm: curly apostrophe -> straight, Turkish
    lowercase, digits -> 0 (reference P10, _treestack_utils.py:185-190)."""
    c = F.col(col) if isinstance(col, str) else col
    return digits_to_zero(turkish_lower(F.translate(c, "’", "'")))
