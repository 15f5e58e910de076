"""Stopword removal + dynamic stopword detection.

Reference: vnlp/stopword_remover/stopword_remover.py.

Spark mapping (SURVEY J1/A1/A2/W3):
- static drop over exploded tokens = literal ``isin`` filter (the list is
  ~270 entries — Catalyst compiles it to a hash set in codegen; no join, no
  shuffle, fully pushdown-friendly).  An anti-join variant is provided for
  user-supplied lists too big to inline.
- dynamic detection = distributed hash aggregate for the frequency table,
  then the knee-point second-derivative math on the (vocabulary-sized)
  head of the curve — numerically identical to the reference's numpy code,
  including its tie handling (``amount_of_max`` extension).
"""
from __future__ import annotations

from typing import List

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..resources import stop_words


def drop_stop_words(df: DataFrame) -> DataFrame:
    """Filter rows whose ``token`` is a static stopword (reference
    stopword_remover.py:120-142; list per turkish_stop_words.txt)."""
    return df.filter(~F.col("token").isin(sorted(set(stop_words()))))


def drop_stop_words_from_array(col: Column | str) -> Column:
    """array<string> variant: keeps order, no explode needed."""
    words = sorted(set(stop_words()))
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(c, lambda t: ~t.isin(words))


def py_drop_stop_words(tokens: List[str], extra: List[str] | None = None) -> List[str]:
    words = set(stop_words()) | set(extra or [])
    return [t for t in tokens if t not in words]


def knee_point_cut(tokens_sorted: np.ndarray, counts_sorted: np.ndarray) -> List[str]:
    """Reference knee-point math (stopword_remover.py:62-101) on a
    frequency table already sorted (count desc, token desc — matching
    numpy's ``argsort()[::-1]`` tie order over alphabetically-sorted
    uniques)."""
    cnts = counts_sorted.astype(np.float64)
    if len(cnts) < 3:
        raise ValueError("Number of unique tokens must be at least 3 for Dynamic Stop Word Detection.")
    with np.errstate(divide="ignore", invalid="ignore"):
        diffs_one = np.diff(cnts)
        pct_change_one = np.abs(diffs_one / cnts[:-1])
        diffs_two = np.diff(pct_change_one)
        pct_change_two = np.abs(diffs_two / pct_change_one[:-1])
    pct_change_two = pct_change_two[~np.isnan(pct_change_two)]
    argmax_second_der = int(np.argmax(pct_change_two))
    amount_of_max = int(np.sum(counts_sorted == counts_sorted[argmax_second_der]))
    return tokens_sorted[: argmax_second_der + amount_of_max].tolist()


def py_dynamically_detect_stop_words(tokens: List[str], rare_words_freq: int = 0) -> List[str]:
    """Single-node twin of the reference API, for parity tests."""
    unq, cnts = np.unique(np.asarray(tokens, dtype=object), return_counts=True)
    order = cnts.argsort()[::-1]
    unq, cnts = unq[order], cnts[order]
    detected = knee_point_cut(unq, cnts)
    detected += unq[cnts <= rare_words_freq].tolist()
    return detected


def dynamically_detect_stop_words(df: DataFrame, rare_words_freq: int = 0) -> List[str]:
    """Distributed dynamic stopword detection over a ``token`` column.

    The frequency table is computed with a (partial+final) hash aggregate;
    only its head — the top 200,000 tokens by count — is collected for
    the knee-point math.  The knee of a Zipfian curve always sits in the
    head, so this is exact whenever the vocabulary fits the head and a
    tight approximation far beyond; rare-word detection stays fully
    distributed.
    """
    freq = df.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    head = (
        freq.orderBy(F.desc("cnt"), F.desc("token"))
        .limit(200_000)
        .collect()
    )
    tokens_sorted = np.array([r["token"] for r in head], dtype=object)
    counts_sorted = np.array([r["cnt"] for r in head], dtype=np.int64)
    detected = knee_point_cut(tokens_sorted, counts_sorted)
    if rare_words_freq > 0:
        rare = freq.filter(F.col("cnt") <= rare_words_freq).select("token").collect()
        detected += [r["token"] for r in rare]
    return detected


def token_frequencies(df: DataFrame) -> DataFrame:
    """Descending frequency table of a ``token`` column (reference A1+O1)
    — partial/final hash aggregate, shuffle only on the (small) distinct
    token keys."""
    return (
        df.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.col("token"))
    )
