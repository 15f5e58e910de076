"""Model-op harness: broadcast weights + per-executor init + Arrow batches.

This is the single pattern behind all eight of the reference's neural
annotators (SURVEY §2.9): ship the weight arrays to executors once, build
the model once per Python worker, then score whole Arrow batches.  The
reference loads pickled numpy weight lists (e.g. spu_context_ner.py:118-126)
into Keras GRUs; here the forward pass is pure NumPy so executors need no
TF — a GRU stack is just matmuls, and batched matmul over an Arrow batch
is exactly the vectorization the reference approximates with
``model.predict(batch)``.

Offline constraint: the reference's trained weights live on S3 and are not
available in this environment, so the default weights are deterministic
surrogates (seeded Glorot init).  The harness, broadcast path, batching,
and decode logic are real and benchmarked; swapping in real weights is a
file change (``GRUModel.from_arrays``).

Usage:
    model = GRUModel.surrogate(vocab=VOCAB, dim=32, hidden=64, out=1, seed=7)
    bc = spark.sparkContext.broadcast(model.arrays())     # once per job
    udf = make_sequence_scorer_udf(bc)                    # iterator UDF
    df.select(udf("tokens"))                              # batched scoring
"""
from __future__ import annotations

from typing import Iterator, List

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


def _sigmoid(x):
    return 1.0 / (1.0 + np.exp(-x))


def _glorot(rng, shape):
    limit = np.sqrt(6.0 / (shape[0] + shape[1]))
    return rng.uniform(-limit, limit, size=shape).astype(np.float32)


class GRUModel:
    """Minimal GRU encoder + dense sigmoid head, NumPy forward only.

    Weight layout mirrors a Keras GRU cell: kernel ``W`` (dim, 3*hidden) /
    recurrent ``U`` (hidden, 3*hidden) / bias (3*hidden) with z|r|h gate
    order, plus an embedding matrix and a dense head — the same arrays the
    reference pickles (stemmer_morph_analyzer.py:102-107 etc.).
    """

    def __init__(self, emb, W, U, b, Wo, bo):
        self.emb, self.W, self.U, self.b, self.Wo, self.bo = emb, W, U, b, Wo, bo
        self.hidden = U.shape[0]

    @classmethod
    def surrogate(cls, vocab: int, dim: int, hidden: int, out: int, seed: int = 7):
        rng = np.random.default_rng(seed)
        return cls(
            emb=_glorot(rng, (vocab, dim)),
            W=_glorot(rng, (dim, 3 * hidden)),
            U=_glorot(rng, (hidden, 3 * hidden)),
            b=np.zeros(3 * hidden, dtype=np.float32),
            Wo=_glorot(rng, (hidden, out)),
            bo=np.zeros(out, dtype=np.float32),
        )

    def arrays(self) -> List[np.ndarray]:
        return [self.emb, self.W, self.U, self.b, self.Wo, self.bo]

    @classmethod
    def from_arrays(cls, arrays: List[np.ndarray]) -> "GRUModel":
        return cls(*arrays)

    def encode_batch(self, id_batches: List[List[int]]) -> np.ndarray:
        """Run the GRU over a batch of variable-length id sequences with
        post-padding; returns final hidden states (batch, hidden).

        The whole batch advances one timestep per loop iteration — one
        (batch, dim) x (dim, 3h) matmul per step, so Python-level work is
        O(max_len), not O(total tokens)."""
        if not id_batches:
            return np.zeros((0, self.hidden), dtype=np.float32)
        n = len(id_batches)
        max_len = max(1, max(len(s) for s in id_batches))
        ids = np.zeros((n, max_len), dtype=np.int64)
        mask = np.zeros((n, max_len), dtype=np.float32)
        for i, seq in enumerate(id_batches):
            ids[i, : len(seq)] = np.asarray(seq, dtype=np.int64) % self.emb.shape[0]
            mask[i, : len(seq)] = 1.0
        x = self.emb[ids]  # (n, t, dim)
        h = np.zeros((n, self.hidden), dtype=np.float32)
        H = self.hidden
        for t in range(max_len):
            gx = x[:, t, :] @ self.W + self.b
            gh = h @ self.U
            z = _sigmoid(gx[:, :H] + gh[:, :H])
            r = _sigmoid(gx[:, H: 2 * H] + gh[:, H: 2 * H])
            hh = np.tanh(gx[:, 2 * H:] + r * gh[:, 2 * H:])  # reset-after GRU
            h_new = (1 - z) * h + z * hh
            m = mask[:, t:t + 1]
            h = m * h_new + (1 - m) * h
        return h

    def score_batch(self, id_batches: List[List[int]]) -> np.ndarray:
        h = self.encode_batch(id_batches)
        return _sigmoid(h @ self.Wo + self.bo).reshape(len(id_batches), -1)


def hash_token_ids(tokens: List[str], vocab: int) -> List[int]:
    """Deterministic token -> id featurization (hashing trick) used when no
    trained tokenizer vocabulary is available.  crc32, NOT python hash():
    hash() is salted per interpreter and would disagree across executors."""
    import zlib

    return [zlib.crc32(t.encode("utf-8")) % vocab for t in tokens]


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


def make_sequence_scorer_udf(broadcast_weights, vocab: int = 32768):
    """Iterator-of-Series pandas UDF: weights deserialize ONCE per Python
    worker (the prologue before the ``for`` loop), then every Arrow batch
    is scored with one batched forward pass — the executor-side shape of
    every reference model op."""

    @F.pandas_udf(DoubleType())
    def scorer(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        model = GRUModel.from_arrays(broadcast_weights.value)  # once per worker
        for token_arrays in batches:
            seqs = [
                hash_token_ids(list(ts) if ts is not None else [], vocab)
                for ts in token_arrays
            ]
            probs = model.score_batch(seqs)[:, 0].astype(float)
            yield pd.Series(probs)

    return scorer
