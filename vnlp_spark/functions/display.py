"""displaCy-format output converters (SURVEY F2 + the NER span half of F1).

Reference surface: ``dp_pos_to_displacy_format(dp_result, pos_result)``
(vnlp/dependency_parser/utils.py:4-48) and ``ner_to_displacy_format(text,
ner_result)`` (vnlp/named_entity_recognizer/utils.py:4-67) — the dicts
displaCy renders.  Re-implemented from the output contract:

- DP: ``{"words": [{text, tag}], "arcs": [{start, end, label, dir}]}``
  with 0-based indices, root arcs omitted, and start <= end (direction
  encoded in ``dir``) — byte-equal to the reference on every parse.
- NER: ``{"text", "ents": [{start, label, end}], "title": None}`` with
  char spans; adjacent same-label tokens merge into one span.  Token
  offsets here come from a LEFT-TO-right cursor (``str.find`` from the
  previous token's end), not the reference's per-word ``re.finditer``:
  the reference regex-injects the raw word (a word like ``a.b`` or
  ``(x)`` changes meaning as a pattern) and scans from position 0; the
  cursor matcher is literal and ordered, and agrees with the reference
  on text whose tokens contain no regex metacharacters (differentially
  tested in tests/test_reference_parity.py).

Spark shape: per-sentence formatting is presentation, not analytics — an
Arrow UDF emits the dicts as JSON strings (Arrow-friendly) for export
sinks; the heavy lifting (parse/NER) stays in the annotation stage.
"""
from __future__ import annotations

import json
from typing import List, Optional, Sequence, Tuple

from pyspark.sql.types import StringType

from ._udf import arrow_map


def dp_to_displacy(
    dp_result: Sequence[Tuple[int, str, int, str]],
    pos_result: Optional[Sequence[Tuple[str, str]]] = None,
) -> dict:
    """[(idx, token, head, deprel)] (+ optional [(token, upos)]) ->
    displaCy dependency dict."""
    words = []
    arcs = []
    tags = [p[1] for p in pos_result] if pos_result is not None else [""] * len(dp_result)
    for (idx, token, head, label), tag in zip(dp_result, tags):
        words.append({"text": token, "tag": tag})
        src, dst = idx - 1, head - 1
        if dst < 0:
            continue  # root arc is not drawn
        if src <= dst:
            arcs.append({"start": src, "end": dst, "label": label, "dir": "right"})
        else:
            arcs.append({"start": dst, "end": src, "label": label, "dir": "left"})
    return {"words": words, "arcs": arcs}


def _token_spans(text: str, tokens: List[str]) -> List[Optional[Tuple[int, int]]]:
    """Char span of each token via a strictly left-to-right cursor; None
    when a token cannot be located after the cursor (e.g. tokenizer-
    normalized quotes).  No backwards rescan — a from-0 fallback could
    move the cursor back over consumed text and hand later tokens
    earlier occurrences."""
    spans: List[Optional[Tuple[int, int]]] = []
    cursor = 0
    for tok in tokens:
        at = text.find(tok, cursor)
        if at < 0:
            spans.append(None)
            continue
        spans.append((at, at + len(tok)))
        cursor = at + len(tok)
    return spans


def ner_to_displacy(text: str, ner_result: Sequence[Tuple[str, str]]) -> dict:
    """[(token, label)] -> displaCy entity dict with char spans; adjacent
    same-label entity tokens merge into one span.

    Reference-faithful control flow (named_entity_recognizer/utils.py:
    39-66), reproduced quirk-for-quirk: the continuation lookahead reads
    the NEXT element of the FULL ner_result; a non-alpha token is skipped
    for span assignment only and changes no state (so "Ahmet , Veli" is
    two PER ents even though ","'s own iteration is a no-op); an
    "O"-labeled alpha token also changes no state (a pending continuation
    span stays open with its original start).  Deviation: a token whose
    span cannot be located is skipped like a non-alpha token instead of
    crashing (the reference indexes into an empty location list there)."""
    spans_by_word = iter(
        _token_spans(text, [w for w, _ in ner_result if any(c.isalpha() for c in w)])
    )
    out = {"text": text, "ents": [], "title": None}
    ent: dict = {}
    is_continuation = False
    for idx, (word, label) in enumerate(ner_result):
        if not any(c.isalpha() for c in word):
            continue  # no state change, exactly like the reference
        span = next(spans_by_word)
        if span is None:
            continue  # deviation: unlocatable token, no state change
        start, end = span
        if label != "O":
            if not is_continuation:
                ent = {"start": start, "label": label}
            nxt = ner_result[idx + 1][1] if idx + 1 < len(ner_result) else None
            if nxt == label:
                is_continuation = True
            else:
                ent["end"] = end
                out["ents"].append(ent)
                ent = {}
                is_continuation = False
    return out


def py_dp_displacy_json(arcs: list, upos: Optional[list]) -> str:
    """arcs [{idx, token, head, deprel}] (+ upos, or None) -> displaCy JSON."""
    dp = [(r["idx"], r["token"], r["head"], r["deprel"]) for r in arcs]
    pos = list(zip([r["token"] for r in arcs], upos)) if upos is not None else None
    return json.dumps(dp_to_displacy(dp, pos), ensure_ascii=False)


def py_ner_displacy_json(text: str, tokens: Optional[list],
                         labels: Optional[list]) -> Optional[str]:
    """(sentence, tokens, labels) -> displaCy entity JSON; null without
    tokens or labels."""
    if tokens is None or labels is None:
        return None
    return json.dumps(ner_to_displacy(text, list(zip(tokens, labels))), ensure_ascii=False)


# (arcs array<struct<idx,token,head,deprel>>, upos array<string>) -> JSON
dp_displacy_json = arrow_map(py_dp_displacy_json, StringType())
# (sentence, tokens, labels) -> JSON
ner_displacy_json = arrow_map(py_ner_displacy_json, StringType())
