"""SentencePiece unigram subword encoding (SURVEY S4/T4) — pure Python.

The reference featurizes every word through a SentencePiece **unigram**
model before the GRU annotators (``spm.SentencePieceProcessor`` at
spu_context_ner.py:56, encode in utils.py:65-73).  The ``sentencepiece``
wheel is not installable here, but the model FILE ships with the
reference snapshot (``resources/SPU_word_tokenizer_16k.model``) and is an
ordinary protobuf (the public ``sentencepiece_model.proto`` schema), so
this module re-implements the two pieces actually needed, from the
published algorithm (Kudo 2018, "Subword Regularization"):

- ``parse_spm_model``: a ~40-line protobuf wire-format reader that
  extracts ``pieces[(text, score, type)]`` — piece id = list index,
  exactly the ids the reference's embedding matrix rows use.
- ``SpmUnigramEncoder``: Viterbi segmentation maximizing the sum of
  piece log-probs (ties broken toward longer first pieces, unknown
  characters emitted as ``unk_id`` with the standard unk penalty of 10
  below the minimum piece score), after NFKC normalization and the
  default ``add_dummy_prefix`` space marker ('▁', U+2581).

With the real model file this produces real 16k-vocab piece ids, so the
featurization contract of M2/M4/M6/M8 (ids -> embedding rows -> GRU) is
complete end to end; only the trained GRU weights remain S3-only.

Spark shape: the encoder dict is broadcast once; encoding runs inside
Arrow-batched iterator UDFs (``make_spm_ids_udf``, the SPUContext tagger),
with the encoder rebuilt once per Python worker.
"""
from __future__ import annotations

import struct
import unicodedata
from typing import Iterator, List, Tuple

import pyarrow as pa

_NORMAL, _UNKNOWN, _CONTROL = 1, 2, 3
_UNK_PENALTY = 10.0
_SPACE = "▁"

# the reference's own released unigram model, vendored gzipped as package
# DATA (like the stopword/stem lexicons) so the repo runs standalone
DEFAULT_SPM_MODEL = None  # resolved to the packaged copy in _model_bytes


def _model_bytes(path: str | None) -> bytes:
    if path is not None:
        return open(path, "rb").read()
    import gzip
    import os

    packaged = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "resources",
        "spu_word_tokenizer_16k.model.gz",
    )
    with gzip.open(packaged, "rb") as f:
        return f.read()


def _read_varint(b: bytes, i: int) -> Tuple[int, int]:
    x = s = 0
    while True:
        c = b[i]
        i += 1
        x |= (c & 0x7F) << s
        if not c & 0x80:
            return x, i
        s += 7


def parse_spm_model(path: str | None = None) -> List[Tuple[str, float, int]]:
    """ModelProto -> [(piece, score, type)] in id order (public schema:
    repeated SentencePiece pieces = 1 {piece=1:string, score=2:float,
    type=3:enum}).  Other top-level fields are skipped.  ``path=None``
    loads the vendored packaged model."""
    data = _model_bytes(path)
    pieces: List[Tuple[str, float, int]] = []
    i = 0
    while i < len(data):
        tag, i = _read_varint(data, i)
        field, wire = tag >> 3, tag & 7
        if wire == 2:
            ln, i = _read_varint(data, i)
            payload, i = data[i : i + ln], i + ln
            if field == 1:
                j, piece, score, typ = 0, "", 0.0, _NORMAL
                while j < len(payload):
                    t2, j = _read_varint(payload, j)
                    f2, w2 = t2 >> 3, t2 & 7
                    if w2 == 2:
                        l2, j = _read_varint(payload, j)
                        if f2 == 1:
                            piece = payload[j : j + l2].decode("utf-8")
                        j += l2
                    elif w2 == 5:
                        if f2 == 2:
                            score = struct.unpack("<f", payload[j : j + 4])[0]
                        j += 4
                    elif w2 == 0:
                        v, j = _read_varint(payload, j)
                        if f2 == 3:
                            typ = v
                    elif w2 == 1:
                        j += 8
                pieces.append((piece, score, typ))
        elif wire == 0:
            _, i = _read_varint(data, i)
        elif wire == 5:
            i += 4
        elif wire == 1:
            i += 8
    return pieces


class SpmUnigramEncoder:
    """Viterbi unigram encoder over a parsed SentencePiece vocabulary."""

    def __init__(self, pieces: List[Tuple[str, float, int]]):
        self.vocab = {}
        self.unk_id = 1
        max_len = 1
        for pid, (piece, score, typ) in enumerate(pieces):
            if typ == _UNKNOWN:
                self.unk_id = pid
            if typ != _NORMAL:
                continue  # control/unk pieces never match input
            self.vocab[piece] = (pid, score)
            max_len = max(max_len, len(piece))
        self.max_piece_len = max_len
        scores = [s for (_pid, s) in self.vocab.values()]
        self.unk_score = (min(scores) if scores else 0.0) - _UNK_PENALTY
        self.vocab_size = len(pieces)

    @classmethod
    def from_model_file(cls, path: str | None = None) -> "SpmUnigramEncoder":
        return cls(parse_spm_model(path))

    def normalize(self, text: str) -> str:
        """NFKC + whitespace -> '▁' + dummy-prefix marker (the library's
        default nmt_nfkc pipeline minus its rare control-char rules)."""
        t = unicodedata.normalize("NFKC", text)
        t = " ".join(t.split())  # collapse whitespace runs
        return _SPACE + t.replace(" ", _SPACE)

    def encode_as_pieces(self, text: str) -> List[str]:
        if not text:
            return []
        s = self.normalize(text)
        n = len(s)
        NEG = float("-inf")
        best = [NEG] * (n + 1)
        back: List[Tuple[int, str | None]] = [(0, None)] * (n + 1)
        best[0] = 0.0
        for i in range(n):
            if best[i] == NEG:
                continue
            matched = False
            for ln in range(min(self.max_piece_len, n - i), 0, -1):
                sub = s[i : i + ln]
                hit = self.vocab.get(sub)
                if hit is None:
                    continue
                matched = True
                cand = best[i] + hit[1]
                if cand > best[i + ln]:
                    best[i + ln] = cand
                    back[i + ln] = (i, sub)
            if not matched or best[i + 1] == NEG:
                # unknown single char fallback keeps the lattice connected
                cand = best[i] + self.unk_score
                if cand > best[i + 1]:
                    best[i + 1] = cand
                    back[i + 1] = (i, None)
        out: List[str] = []
        i = n
        while i > 0:
            j, piece = back[i]
            out.append(piece if piece is not None else s[j:i])
            i = j
        return out[::-1]

    def encode_as_ids(self, text: str) -> List[int]:
        return [
            self.vocab[p][0] if p in self.vocab else self.unk_id
            for p in self.encode_as_pieces(text)
        ]


def tokenize_single_word_spm(
    word: str, encoder: SpmUnigramEncoder, max_pieces: int = 8
) -> List[int]:
    """Reference utils.py:65-73 verbatim semantics: encode_as_ids, then
    keras pad_sequences(maxlen=8, padding='pre', truncating='pre') —
    keep the LAST ``max_pieces`` ids, zero-pad on the left."""
    ids = encoder.encode_as_ids(word)[-max_pieces:]
    return [0] * (max_pieces - len(ids)) + ids


def spm_tokenize_tokens(
    tokens: List[str], encoder: SpmUnigramEncoder, max_pieces: int = 8
) -> List[List[int]]:
    """T4 over a tokenized sentence: one 8-wide pre-padded id row per
    token — the exact per-word featurization the reference's context
    models consume (spu_context_ner.py:56-67 + utils.py:65-73)."""
    return [tokenize_single_word_spm(t, encoder, max_pieces) for t in tokens]


def make_spm_ids_udf(spark, model_path: str | None = None, max_pieces: int = 8):
    """array<string> tokens -> array<array<int>> (n_tokens x max_pieces).

    The parsed piece list (16k entries, ~1 MB) is broadcast once; each
    Python worker rebuilds the Viterbi encoder a single time (iterator
    UDF prologue) and then encodes whole Arrow batches."""
    from pyspark.sql.functions import arrow_udf

    bc = spark.sparkContext.broadcast(parse_spm_model(model_path))
    arrow_type = pa.list_(pa.list_(pa.int32()))

    @arrow_udf("array<array<int>>")
    def spm_ids(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        encoder = SpmUnigramEncoder(bc.value)  # once per worker
        for token_arrays in batches:
            yield pa.array(
                [
                    None if ts is None
                    else spm_tokenize_tokens(ts, encoder, max_pieces)
                    for ts in token_arrays.to_pylist()
                ],
                type=arrow_type,
            )

    return spm_ids
