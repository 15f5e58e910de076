"""CharNER — character-level alternative NER (reference M3).

Reference semantics (vnlp/named_entity_recognizer/charner.py):
- a stacked char-level BiGRU tags EVERY CHARACTER with an entity class;
- a token's label is the MODE of its characters' labels (decode at
  charner.py:123-157);
- texts longer than 256 chars are recursively halved at the nearest space
  and processed piecewise (charner.py:174-192).

The trained weights are S3-hosted and unavailable offline; the char
scorer here is the deterministic gazetteer labeler projected down to
char level, run through the reference's own mode-decode + halving control
flow so the operator's structure (and its cost profile) is faithful.  The
``char_scores`` hook is the swap point for the real BiGRU over char
ids.
"""
from __future__ import annotations

from collections import Counter
from typing import List, Tuple

from pyspark.sql.types import ArrayType, StringType

from ..functions._udf import arrow_map
from .ner import py_ner_tags

MAX_CHARS = 256  # reference halving threshold (charner.py:174)


def _char_labels(text: str, tokens: List[str]) -> List[str]:
    """Default char scorer: token-level surrogate labels broadcast to each
    token's characters (spaces get 'O')."""
    labels = py_ner_tags(tokens)
    out = []
    ti = 0
    i = 0
    n = len(text)
    for tok, lab in zip(tokens, labels):
        start = text.find(tok, i)
        if start < 0:
            continue
        out.extend(["O"] * (start - i))
        out.extend([lab] * len(tok))
        i = start + len(tok)
    out.extend(["O"] * (n - i))
    return out


def _decode_mode(text: str, tokens: List[str], char_labels: List[str]) -> List[Tuple[str, str]]:
    """Token label = mode of its chars' labels (charner.py:123-157)."""
    pairs = []
    i = 0
    for tok in tokens:
        start = text.find(tok, i)
        if start < 0:
            pairs.append((tok, "O"))
            continue
        span = char_labels[start: start + len(tok)]
        label = Counter(span).most_common(1)[0][0] if span else "O"
        pairs.append((tok, label))
        i = start + len(tok)
    return pairs


def _split_at_space(text: str) -> Tuple[str, str]:
    mid = len(text) // 2
    left = text.rfind(" ", 0, mid)
    if left <= 0:
        left = mid
    return text[:left], text[left + 1:]


def py_charner(text: str) -> List[Tuple[str, str]]:
    """text -> [(token, label)] with recursive halving over 256 chars
    (reference charner.py:159-207)."""
    if not text:
        return []
    if len(text) > MAX_CHARS:
        a, b = _split_at_space(text)
        return py_charner(a) + py_charner(b)
    from ..functions.tokenizer import py_word_punct_tokenize

    tokens = py_word_punct_tokenize(text)  # CharNER uses WordPunct (charner.py:166)
    chars = _char_labels(text, tokens)
    return _decode_mode(text, tokens, chars)


def py_charner_pairs(text: str) -> List[str]:
    """text -> 'token\\x01label' pairs (flat encoding keeps the column
    Arrow-friendly; split downstream with substring_index)."""
    return [tok + "\x01" + lab for tok, lab in py_charner(text)]


charner_pairs = arrow_map(py_charner_pairs, ArrayType(StringType()))


def charner_char_ids(text: str) -> List[int]:
    """Character featurization for the real BiGRU swap point, using the
    reference's REAL CharNER_char_tokenizer vocabulary (vendored as data;
    reloaded there via tf.keras tokenizer_from_json).  Keras
    texts_to_sequences semantics with num_words=150 + oov_token='<OOV>':
    chars with id >= num_words (or unseen) map to the OOV id."""
    from .. import resources

    vocab = resources.keras_vocab("charner_char")
    wi = vocab["word_index"]
    num_words = vocab["num_words"] or (max(wi.values()) + 1)
    oov_id = wi[vocab["oov_token"]]
    out = []
    for ch in text:
        i = wi.get(ch, oov_id)
        out.append(i if i < num_words else oov_id)
    return out
