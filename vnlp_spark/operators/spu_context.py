"""The SPUContext annotator architecture, NumPy-exact (SURVEY M2/M4/M6).

This is the reference's ACTUAL context-model shape
(named_entity_recognizer/_spu_context_utils.py:10-107, shared by the PoS
and DP variants): four GRU-stack branches joined by dense layers,

    word_rnn:      (8 piece ids)  -> frozen 16k x 128 embedding -> GRU stack
    left_context:  (40 x 8 ids)   -> TimeDistributed(word_rnn) -> GRU stack
    right_context: (40 x 8 ids)   -> TimeDistributed(word_rnn) -> GRU stack
                                     (go_backwards)
    prev_entity:   (40 x (n+1))   -> one-hot label history -> GRU stack
    concat(4 x units) -> Dense(2u, relu) -> Dense(u, relu) -> softmax(n+1)

decoded autoregressively per token (the predicted label of token t-1
enters token t's prev-entity input — spu_context_ner.py:147-161).

Faithfulness notes:
- No masking anywhere: the reference's Embedding has no mask_zero, so
  pad rows flow through the GRUs as real inputs.  This implementation
  reproduces that, including the constant "all-pad word" encoding.
- TimeDistributed(word_rnn) re-encodes every context slot per token; here
  each token is encoded ONCE per sentence and context windows are
  gathered from that table plus the pad constant — mathematically
  identical (word_rnn is stateless across slots), and the reason this
  forward is tractable: per-sentence cost drops from O(L * 81) to O(L)
  word encodings.
- Weights are seeded Glorot surrogates by default (the trained arrays
  are S3-only); ``from_arrays`` accepts real weights in the documented
  layout below.  With surrogates the outputs are deterministic but not
  linguistically meaningful — the architecture, featurization (real
  SentencePiece ids), batching, and decode loop are the real thing.

Spark shape: broadcast ``arrays()``; the UDF rebuilds the model once per
worker and advances all sentences of an Arrow batch one token-step per
Python loop (the only vectorization the autoregressive semantics allow —
SURVEY W2).
"""
from __future__ import annotations

from typing import Iterator, List, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql.functions import arrow_udf

TOKEN_PIECE_MAX_LEN = 8
SENTENCE_MAX_LEN = 40


def _sigmoid(x):
    return 1.0 / (1.0 + np.exp(-x))


def _glorot(rng, shape):
    limit = np.sqrt(6.0 / (shape[0] + shape[1]))
    return rng.uniform(-limit, limit, size=shape).astype(np.float32)


class _GRUStack:
    """Two stacked GRU layers (reference NUM_RNN_STACKS=2): layer 1
    returns sequences, layer 2 the final state.  ``go_backwards``
    consumes the sequence reversed, like Keras."""

    def __init__(self, weights: List[np.ndarray], go_backwards: bool = False):
        # weights: [W1, U1, b1, W2, U2, b2]
        self.layers = [tuple(weights[i : i + 3]) for i in (0, 3)]
        self.go_backwards = go_backwards
        self.units = weights[1].shape[0]

    @staticmethod
    def init_weights(rng, in_dim: int, units: int) -> List[np.ndarray]:
        out = []
        for d in (in_dim, units):
            out += [
                _glorot(rng, (d, 3 * units)),
                _glorot(rng, (units, 3 * units)),
                np.zeros(3 * units, dtype=np.float32),
            ]
        return out

    @staticmethod
    def _cell_seq(x, W, U, b, return_seq):
        n, t, _ = x.shape
        H = U.shape[0]
        h = np.zeros((n, H), dtype=np.float32)
        seq = np.zeros((n, t, H), dtype=np.float32) if return_seq else None
        for step in range(t):
            gx = x[:, step, :] @ W + b
            gh = h @ U
            z = _sigmoid(gx[:, :H] + gh[:, :H])
            r = _sigmoid(gx[:, H : 2 * H] + gh[:, H : 2 * H])
            hh = np.tanh(gx[:, 2 * H :] + r * gh[:, 2 * H :])
            h = (1 - z) * h + z * hh
            if return_seq:
                seq[:, step, :] = h
        return (seq, h) if return_seq else (None, h)

    def __call__(self, x: np.ndarray) -> np.ndarray:
        """(n, t, d) -> (n, units) final state.

        Keras sets ``go_backwards=True`` on EACH stacked layer
        (reference create_rnn_stacks): a backward layer reverses its own
        input and returns the sequence in processing (reversed) order, so
        layer 2 must reverse layer 1's output again before consuming it.
        Reversing only once would feed layer 2 the states in the opposite
        order and silently break the trained-weight swap contract
        (ADVICE r02)."""
        (W1, U1, b1), (W2, U2, b2) = self.layers
        if self.go_backwards:
            x = x[:, ::-1, :]
        seq, _ = self._cell_seq(x, W1, U1, b1, return_seq=True)
        if self.go_backwards:
            seq = seq[:, ::-1, :]
        _, h = self._cell_seq(seq, W2, U2, b2, return_seq=False)
        return h


class SPUContextModel:
    """The 4-branch SPUContext model, NumPy forward only."""

    def __init__(self, emb, word_w, left_w, right_w, prev_w, fc1, fc1b, fc2, fc2b, out, outb):
        self.emb = emb
        self.word = _GRUStack(word_w)
        self.left = _GRUStack(left_w)
        self.right = _GRUStack(right_w, go_backwards=True)
        self.prev = _GRUStack(prev_w)
        self.fc1, self.fc1b = fc1, fc1b
        self.fc2, self.fc2b = fc2, fc2b
        self.out, self.outb = out, outb
        self.n_labels = out.shape[1]  # = ENTITY_VOCAB_SIZE + 1 (0 is Keras pad)
        self._pad_word_enc = None

    @classmethod
    def surrogate(cls, vocab: int = 16000, emb_dim: int = 32, units: int = 32,
                  n_labels: int = 5, seed: int = 17,
                  fc_units_multiplier=(2, 1)):
        """Seeded surrogate with the reference topology at configurable
        width (reference production config: emb_dim=128, units=256,
        vocab=16000 — spu_context_ner.py:70-80)."""
        rng = np.random.default_rng(seed)
        emb = _glorot(rng, (vocab, emb_dim))
        word_w = _GRUStack.init_weights(rng, emb_dim, units)
        left_w = _GRUStack.init_weights(rng, units, units)
        right_w = _GRUStack.init_weights(rng, units, units)
        prev_w = _GRUStack.init_weights(rng, n_labels, units)
        fc1 = _glorot(rng, (4 * units, units * fc_units_multiplier[0]))
        fc2 = _glorot(rng, (units * fc_units_multiplier[0], units * fc_units_multiplier[1]))
        out = _glorot(rng, (units * fc_units_multiplier[1], n_labels))
        return cls(
            emb, word_w, left_w, right_w, prev_w,
            fc1, np.zeros(fc1.shape[1], dtype=np.float32),
            fc2, np.zeros(fc2.shape[1], dtype=np.float32),
            out, np.zeros(out.shape[1], dtype=np.float32),
        )

    def arrays(self) -> List[np.ndarray]:
        return (
            [self.emb]
            + [w for s in (self.word, self.left, self.right, self.prev)
               for layer in s.layers for w in layer]
            + [self.fc1, self.fc1b, self.fc2, self.fc2b, self.out, self.outb]
        )

    @classmethod
    def from_arrays(cls, arrays: List[np.ndarray]) -> "SPUContextModel":
        emb = arrays[0]
        stacks = [arrays[1 + i * 6 : 1 + (i + 1) * 6] for i in range(4)]
        fc = arrays[25:]
        return cls(emb, stacks[0], stacks[1], stacks[2], stacks[3], *fc)

    # --- forward ---------------------------------------------------------

    def encode_words(self, piece_ids: np.ndarray) -> np.ndarray:
        """(n, 8) piece ids -> (n, units) word encodings (the word_rnn)."""
        x = self.emb[piece_ids % self.emb.shape[0]]
        return self.word(x)

    def pad_word_encoding(self) -> np.ndarray:
        """word_rnn over the all-pad id row — the constant the reference
        implicitly computes for every empty context slot."""
        if self._pad_word_enc is None:
            self._pad_word_enc = self.encode_words(
                np.zeros((1, TOKEN_PIECE_MAX_LEN), dtype=np.int64)
            )[0]
        return self._pad_word_enc

    def tag_sentences(
        self,
        piece_batches: Sequence[Sequence[Sequence[int]]],
        sentence_max_len: int = SENTENCE_MAX_LEN,
    ) -> List[List[int]]:
        """Batch of sentences (each a list of 8-wide piece-id rows) ->
        label ids per token.  All sentences advance one token-step per
        loop; each consumes its own previous argmax (W2)."""
        n = len(piece_batches)
        if n == 0:
            return []
        lens = [len(s) for s in piece_batches]
        max_len = max(1, max(lens))
        U = self.word.units
        # one pass of the word encoder over EVERY token of the batch
        flat = [row for s in piece_batches for row in s]
        tok_enc = (
            self.encode_words(np.asarray(flat, dtype=np.int64))
            if flat else np.zeros((0, U), dtype=np.float32)
        )
        pad = self.pad_word_encoding()
        # per-sentence encoding table padded to max_len, pad rows = pad const
        table = np.tile(pad, (n, max_len, 1))
        pos = 0
        for i, L in enumerate(lens):
            if L:
                table[i, :L, :] = tok_enc[pos : pos + L]
            pos += L

        S = sentence_max_len
        out = [[0] * L for L in lens]
        preds = np.zeros((n, max_len), dtype=np.int64)
        for w in range(max_len):
            active = [i for i, L in enumerate(lens) if w < L]
            if not active:
                break
            a = np.asarray(active)
            cur = table[a, w, :]
            # left context: slots [pad]*(S-w) + tokens[max(0,w-S):w]
            left = np.tile(pad, (len(a), S, 1))
            lo = max(0, w - S)
            width = w - lo
            if width:
                left[:, S - width :, :] = table[a, lo:w, :]
            # right context: tokens[w+1 : w+1+S] then pads
            right = np.tile(pad, (len(a), S, 1))
            for j, i in enumerate(active):
                upto = min(lens[i], w + 1 + S)
                width_r = max(0, upto - (w + 1))
                if width_r:
                    right[j, :width_r, :] = table[i, w + 1 : w + 1 + width_r, :]
            # previous-label one-hots, pre-padded + pre-truncated like the
            # reference (last S predictions, right-aligned)
            prev = np.zeros((len(a), S, self.n_labels), dtype=np.float32)
            if w:
                hist = preds[a][:, max(0, w - S) : w]
                eye = np.eye(self.n_labels, dtype=np.float32)
                prev[:, S - hist.shape[1] :, :] = eye[hist]
            feats = np.concatenate(
                [cur, self.left(left), self.right(right), self.prev(prev)], axis=1
            )
            x = np.maximum(feats @ self.fc1 + self.fc1b, 0)
            x = np.maximum(x @ self.fc2 + self.fc2b, 0)
            logits = x @ self.out + self.outb
            labels = np.argmax(logits, axis=1)
            preds[a, w] = labels
            for j, i in enumerate(active):
                out[i][w] = int(labels[j])
        return out


def make_spu_context_tagger_udf(spark, n_labels: int = 5, units: int = 32,
                                emb_dim: int = 32, seed: int = 17,
                                sentence_max_len: int = SENTENCE_MAX_LEN,
                                weights=None):
    """array<string> tokens -> array<int> label ids through the FULL
    SPUContext architecture: real SentencePiece piece ids (S4/T4),
    4-branch GRU forward, autoregressive decode.  Weights broadcast once;
    model + encoder rebuilt once per Python worker.

    ``weights``: an ``SPUContextModel.arrays()`` payload (e.g. from
    ``spu_context_train.distill_ner_model_bptt``) — trained arrays drop
    in here; omitted, a seeded surrogate is broadcast.  Pass the SAME
    ``sentence_max_len`` the weights were trained with."""
    from pyspark.sql.types import ArrayType, IntegerType

    from .subword import parse_spm_model

    if weights is None:
        model = SPUContextModel.surrogate(
            vocab=16000, emb_dim=emb_dim, units=units, n_labels=n_labels,
            seed=seed,
        )
        weights = model.arrays()
    bc_weights = spark.sparkContext.broadcast(weights)
    bc_pieces = spark.sparkContext.broadcast(parse_spm_model())

    arrow_type = pa.list_(pa.int32())

    @arrow_udf(ArrayType(IntegerType()))
    def tagger(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        from .subword import SpmUnigramEncoder, spm_tokenize_tokens

        m = SPUContextModel.from_arrays(bc_weights.value)  # once per worker
        enc = SpmUnigramEncoder(bc_pieces.value)
        for token_arrays in batches:
            rows = token_arrays.to_pylist()
            pieces = [[] if ts is None else spm_tokenize_tokens(ts, enc) for ts in rows]
            tags = m.tag_sentences(pieces, sentence_max_len=sentence_max_len)
            yield pa.array(
                [None if ts is None else t for ts, t in zip(rows, tags)], type=arrow_type
            )

    return tagger
