"""Token validity predicate (reference P7, normalizer.py:258-271).

A token is valid Turkish iff the morphological candidate generator finds a
non-Unknown analysis OR the token is in the 111,899-word lexicon.

Spark mapping (SURVEY J2): the lexicon half is a broadcast-hash left-semi
join when used relationally; the combined predicate runs as an Arrow UDF
(the candidate generator is Python) over a bounded per-worker LRU of
token verdicts.  Both forms provided.
"""
from __future__ import annotations

from functools import lru_cache
from typing import List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BooleanType

from .. import resources
from ..functions._udf import arrow_map
from .morphology import _engine

_TOKEN_MEMO_MAX = 8192


@lru_cache(maxsize=_TOKEN_MEMO_MAX)
def py_is_token_valid_turkish(token: str) -> bool:
    gen, _ = _engine()
    valid_by_analyzer = gen.get_analysis_candidates(token)[0][-1] != "Unknown"
    return valid_by_analyzer or token in resources.known_words()


def py_tokens_validity(tokens: List[str]) -> List[bool]:
    return [py_is_token_valid_turkish(t) for t in tokens]


# string token -> boolean validity
is_token_valid_turkish = arrow_map(py_is_token_valid_turkish, BooleanType())
# array<string> -> array<boolean> (per-token validity)
tokens_validity = arrow_map(py_tokens_validity, ArrayType(BooleanType()))


def filter_valid_tokens(df: DataFrame, token_col: str = "token") -> DataFrame:
    """Relational form: keep rows whose token is lexicon-valid via a
    broadcast left-semi join (the analyzer half then refines the misses)."""
    spark = df.sparkSession
    lex = spark.createDataFrame([(w,) for w in resources.known_words()], [token_col])
    in_lex = df.join(F.broadcast(lex), token_col, "left_semi")
    missing = df.join(F.broadcast(lex), token_col, "left_anti")
    refined = missing.filter(is_token_valid_turkish(token_col))
    return in_lex.unionByName(refined)
