"""Named-entity recognition: token labels + mention-span assembly.

Reference surface: ``NamedEntityRecognizer.predict(sentence)`` -> [(token,
label)] with label ∈ {O, PER, LOC, ORG} (vnlp/named_entity_recognizer/
named_entity_recognizer.py:32-78); span merging of adjacent same-label
tokens mirrors the displacy converter (named_entity_recognizer/utils.py:
39-66), which is the mention basis for entity linking.

The reference's SPUContext GRU weights live on S3 and are not in this
repository, so labeling here is a deterministic gazetteer+orthography
labeler with the same I/O contract (``tokens -> labels``).  Signals, in
priority order:

1. typed gazetteer hit (LOC/PER/ORG lists, case-normalized)
2. ALL-CAPS tokens (len ≥ 2) -> ORG
3. organization head-word after an entity (Takımı, Bankası, ...) -> ORG,
   and it retypes the pending span (VNGRS AI Takımı -> one ORG span)
4. capitalized non-sentence-initial token, or any token carrying a
   proper-noun apostrophe suffix -> entity; default type PER
5. ORG/LOC/PER continuation: capitalized token following an entity token
   keeps that label

Spark mapping: Arrow UDFs (``functions/_udf.arrow_map``), one row per
tokenized sentence; gazetteer is a process-local singleton in the Python worker.
"""
from __future__ import annotations

import re
from typing import List, Tuple

from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..functions._udf import arrow_map
from .morphology import _base, _typed_gazetteer

_UPPER_RE = re.compile(r"^[A-ZÇĞİIÖŞÜ]")
_ALL_CAPS_RE = re.compile(r"^[A-ZÇĞİIÖŞÜ]{2,}$")
_HAS_LETTER_RE = re.compile(r"[A-Za-zçğıöşüÇĞİIÖŞÜ]")


def py_ner_tags(tokens: List[str]) -> List[str]:
    _per, typed, orgkeys = _typed_gazetteer()
    labels: List[str] = []
    for idx, token in enumerate(tokens):
        label = "O"
        if not _HAS_LETTER_RE.search(token):
            labels.append("O")
            continue
        base = _base(token)
        has_apos = "'" in token or "’" in token
        capitalized = bool(_UPPER_RE.match(token))
        prev = labels[idx - 1] if idx > 0 else "O"
        if base in typed:
            label = typed[base]
        elif _ALL_CAPS_RE.match(token.split("'")[0]):
            label = "ORG"
        elif base in orgkeys or any(
            len(base) - d > 3 and base[: len(base) - d] in orgkeys
            for d in (1, 2, 3)
        ):
            # orgkey + <=3 suffix chars (Bankası -> Bankasında): constant
            # prefix probes instead of a scan over the orgkey set
            # organization head word: only an entity continuation, never alone
            if prev != "O":
                label = "ORG"
                # retype the pending span (VNGRS AI Takımı -> ORG), but a
                # gazetteer-typed person boundary ends the mention (Murat
                # Türkiye İş Bankası'nda: Murat stays PER)
                j = idx - 1
                while j >= 0 and labels[j] != "O":
                    if typed.get(_base(tokens[j])) == "PER":
                        break
                    labels[j] = "ORG"
                    j -= 1
        elif capitalized and (idx > 0 or has_apos):
            label = prev if prev != "O" else "PER"
        elif capitalized and idx == 0:
            label = "O"  # sentence-initial capitalization is not a signal
        labels.append(label)
    return labels


def py_ner_pairs(tokens: List[str]) -> List[Tuple[str, str]]:
    """The reference's predict() output shape: [(token, label)]."""
    return list(zip(tokens, py_ner_tags(tokens)))


def py_ner_mentions(tokens: List[str]) -> List[dict]:
    """Adjacent same-label tokens merged into mention spans (reference
    span logic, named_entity_recognizer/utils.py:39-66)."""
    labels = py_ner_tags(tokens)
    mentions = []
    start = None
    for i, lab in enumerate(labels + ["O"]):
        cur = labels[start] if start is not None else None
        if start is None:
            if lab != "O":
                start = i
        elif lab != cur:
            mentions.append(
                {
                    "mention": " ".join(tokens[start:i]),
                    "label": cur,
                    "first_tok": start,
                    "last_tok": i - 1,
                }
            )
            start = i if lab != "O" else None
    return mentions


_MENTION_SCHEMA = ArrayType(
    StructType(
        [
            StructField("mention", StringType()),
            StructField("label", StringType()),
            StructField("first_tok", IntegerType()),
            StructField("last_tok", IntegerType()),
        ]
    )
)


# array<string> tokens -> array<string> labels (O/PER/LOC/ORG)
ner_tags = arrow_map(py_ner_tags, ArrayType(StringType()))
# array<string> tokens -> array<struct<mention,label,first_tok,last_tok>>
ner_mentions = arrow_map(py_ner_mentions, _MENTION_SCHEMA)
