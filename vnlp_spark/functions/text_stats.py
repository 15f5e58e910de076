"""Web-scale text analytics: language-ID, quality scoring, token counting,
document fingerprinting.

These are the training-data-pipeline additions layered over the reference's
text stack.  Everything here is a **native Column expression** (JVM-side,
whole-stage codegen, ANSI-SQL-expressible for the DuckDB oracle) — there is
no Python in the hot path.
"""
from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# --- token counting -----------------------------------------------------

def whitespace_token_count(col: Column | str) -> Column:
    """Number of whitespace-delimited tokens."""
    return F.size(F.split(F.trim(_c(col)), r"\s+"))


# --- quality scoring ----------------------------------------------------

def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are not unicode alnum/space."""
    c = _c(col)
    clean = F.regexp_replace(c, r"[^\p{L}\p{N} ]", "")
    return (F.length(c) - F.length(clean)) / F.greatest(F.length(c), F.lit(1))


def digit_ratio(col: Column | str) -> Column:
    c = _c(col)
    no_digits = F.regexp_replace(c, r"\d", "")
    return (F.length(c) - F.length(no_digits)) / F.greatest(F.length(c), F.lit(1))


def mean_word_length(col: Column | str) -> Column:
    c = _c(col)
    no_space = F.regexp_replace(c, r"\s", "")
    return F.length(no_space) / F.greatest(whitespace_token_count(c), F.lit(1))


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic: long-enough docs with low punct
    and digit noise and plausible word lengths score high.  Mirrors the
    C4/Gopher-style length+symbol filters used for LLM corpus cleaning."""
    c = _c(col)
    n_tokens = whitespace_token_count(c)
    len_score = F.least(n_tokens / F.lit(50.0), F.lit(1.0))
    punct_pen = F.lit(1.0) - F.least(punct_ratio(c) * 4, F.lit(1.0))
    digit_pen = F.lit(1.0) - F.least(digit_ratio(c) * 4, F.lit(1.0))
    wl = mean_word_length(c)
    wl_score = F.when((wl >= 3) & (wl <= 12), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round(len_score * 0.4 + punct_pen * 0.25 + digit_pen * 0.15 + wl_score * 0.2, 6)


# --- language identification -------------------------------------------

_TR_CHARS = "ğüşıöçĞÜŞİÖÇ"
# high-frequency Turkish function words (subset of the static stopword list)
_TR_MARKERS = ["ve", "bir", "bu", "da", "de", "için", "ile", "çok", "daha", "ama"]


def turkish_char_ratio(col: Column | str) -> Column:
    c = _c(col)
    without = F.translate(c, _TR_CHARS, "")
    return (F.length(c) - F.length(without)) / F.greatest(F.length(c), F.lit(1))


def turkish_marker_ratio(col: Column | str) -> Column:
    """Fraction of whitespace tokens that are high-frequency Turkish
    function words (lower-cased comparison)."""
    toks = F.split(F.lower(F.trim(_c(col))), r"\s+")
    # filter (not array_intersect, which dedups) so repeats count
    hits = F.size(F.filter(toks, lambda t: t.isin(_TR_MARKERS)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def lang_id_turkish_score(col: Column | str) -> Column:
    """Char-class + marker-word heuristic score in [0,1]; >0.15 is a solid
    Turkish signal on web text (tested on the synthetic corpus)."""
    return F.round(turkish_char_ratio(col) * 3 + turkish_marker_ratio(col), 6)


# --- fingerprinting -----------------------------------------------------

def normalized_fingerprint(col: Column | str) -> Column:
    """MD5 of the normalization-canonical form (Turkish lowercase, punct
    stripped, whitespace collapsed).  Identical expression exists in DuckDB,
    so exact dedup is oracle-checkable end to end.  Turkish-aware lowering
    (translate 'İIĞÜÖŞÇ' first) matters twice: it is the linguistically
    correct canonicalization for this engine, and plain lower('İ') differs
    between engines (Spark emits i+U+0307, DuckDB emits i) which would
    silently break oracle parity."""
    from .normalizer import turkish_lower

    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(turkish_lower(_c(col)), r"[^\p{L}\p{N} ]", ""), r" +", " "
        )
    )
    return F.md5(F.encode(canon, "UTF-8"))


def rolling_hash_fingerprint(col: Column | str) -> Column:
    """Polynomial rolling-hash document fingerprint over Unicode codepoints:
    ``h = (h * 31 + codepoint) % 1_000_000_007`` folded left-to-right.

    Native ``aggregate`` over the char array — single projection, no UDF,
    and the identical fold is expressible in DuckDB ``list_reduce`` for the
    oracle.  The modulus keeps every intermediate below 2^35 so the math is
    overflow-exact on both engines (Spark longs would silently wrap,
    DuckDB would raise)."""
    chars = F.split(_c(col), "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: F.pmod(acc * F.lit(31) + F.ascii(ch), F.lit(1_000_000_007)),
    )
