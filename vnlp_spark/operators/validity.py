"""Token validity predicate (reference P7, normalizer.py:258-271).

A token is valid Turkish iff the morphological candidate generator finds a
non-Unknown analysis OR the token is in the 111,899-word lexicon.

Spark mapping (SURVEY J2): the combined predicate runs as an Arrow UDF
(the candidate generator is Python) over a bounded per-worker LRU of
token verdicts.
"""
from __future__ import annotations

from functools import lru_cache
from typing import List

from pyspark.sql.types import ArrayType, BooleanType

from .. import resources
from ..functions._udf import arrow_map
from .morphology import _real_candidates

_TOKEN_MEMO_MAX = 8192


@lru_cache(maxsize=_TOKEN_MEMO_MAX)
def py_is_token_valid_turkish(token: str) -> bool:
    return bool(_real_candidates(token)) or token in resources.known_words()


def py_tokens_validity(tokens: List[str]) -> List[bool]:
    return [py_is_token_valid_turkish(t) for t in tokens]


# string token -> boolean validity
is_token_valid_turkish = arrow_map(py_is_token_valid_turkish, BooleanType())
# array<string> -> array<boolean> (per-token validity)
tokens_validity = arrow_map(py_tokens_validity, ArrayType(BooleanType()))
