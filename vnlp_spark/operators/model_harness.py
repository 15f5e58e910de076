"""Featurization twins of the reference's neural annotators (T4/T5).

``tokenize_single_word`` (vnlp/utils.py:65-73) and
``process_word_context`` (vnlp/utils.py:76-133) build the fixed-shape id
matrices the reference's GRU models consume.  The executor side of those
models — weights broadcast once, the model rebuilt once per Python worker,
whole Arrow batches scored per call — is
``operators/spu_context.make_spu_context_tagger_udf(weights=...)``.
"""
from __future__ import annotations

from typing import List

import numpy as np


def tokenize_single_word(word: str, word_index: dict, max_pieces: int = 8) -> List[int]:
    """Reference T4 (vnlp/utils.py:65-73): word -> up to ``max_pieces``
    subword/char ids, PRE-padded with zeros to fixed width.  ``word_index``
    is a plain {piece: id} vocabulary (the reference loads it from a Keras
    tokenizer JSON; only the dict is needed — no TF).

    For REAL SentencePiece unigram ids (S4) use operators.subword:
    ``tokenize_single_word_spm`` runs Viterbi over the reference's own
    vendored 16k model — this char-id variant remains as the
    vocabulary-free fallback."""
    ids = [word_index.get(ch, 0) for ch in word][:max_pieces]
    return [0] * (max_pieces - len(ids)) + ids


def process_word_context(
    word_idx: int,
    token_ids: List[List[int]],
    sentence_max_len: int = 40,
    piece_width: int = 8,
) -> "np.ndarray":
    """Reference T5 (vnlp/utils.py:76-133): for the token at ``word_idx``,
    build (current, left-context, right-context) fixed-shape int matrices.
    Left context is PRE-padded (older tokens drop first), right context is
    POST-padded — the exact shapes the GRU annotators consume.  Returns a
    (1 + 2*sentence_max_len, piece_width) int32 matrix."""
    cur = np.asarray(token_ids[word_idx], dtype=np.int32).reshape(1, piece_width)
    left = token_ids[max(0, word_idx - sentence_max_len): word_idx]
    right = token_ids[word_idx + 1: word_idx + 1 + sentence_max_len]
    lpad = np.zeros((sentence_max_len - len(left), piece_width), dtype=np.int32)
    rpad = np.zeros((sentence_max_len - len(right), piece_width), dtype=np.int32)
    lmat = np.vstack([lpad, np.asarray(left, dtype=np.int32).reshape(-1, piece_width)]) \
        if left else lpad
    rmat = np.vstack([np.asarray(right, dtype=np.int32).reshape(-1, piece_width), rpad]) \
        if right else rpad
    return np.vstack([lmat, cur, rmat])
