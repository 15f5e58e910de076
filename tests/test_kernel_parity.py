"""Parity hash of the annotation kernel.

Every KG job annotates through ``pipeline.annotate_sentence``
(tokenize + morphology + NER + parse).  This test hashes its outputs
``(tokens, analyses, mentions, arcs)`` over three fixed inputs — the
synthetic corpus's sentence pool, the frozen gold sentence texts and a
seeded fuzz corpus — and compares the digest with a committed constant.
A kernel refactor (rule-pass fusion, cache layout, hoisted imports) must
leave ``KERNEL_SHA256`` unchanged; a change that means to alter output
updates the constant and says why.
"""
import hashlib
import random
import time

from vnlp_spark.plans.corpus import SENTENCE_POOL
from vnlp_spark.plans.gold_ud_blind_data import load_split
from vnlp_spark.plans.pipeline import annotate_sentence

KERNEL_SHA256 = "26c9c8ecb8b73d1e384f6b52f6e08ccfb125a2a11fb297ee68bde37f060b471c"

N_FUZZ = 2500

# code-point ranges the fuzz draws from: ASCII, Turkish letters, Latin-1,
# combining marks, general punctuation, CJK and emoji (no surrogates)
_UNICODE_RANGES = [
    (0x20, 0x7E),
    (0xA0, 0xFF),
    (0x11E, 0x11F),
    (0x130, 0x131),
    (0x15E, 0x15F),
    (0x300, 0x36F),
    (0x2000, 0x206F),
    (0x4E00, 0x4E4F),
    (0x1F300, 0x1F64F),
]
_TURKISH = "çğıöşüÇĞİÖŞÜ"


def _gold_texts() -> list:
    # the 200 texts of blind-51..60, the splits KERNEL_SHA256 was pinned on
    return [e["text"] for i in range(51, 61) for e in load_split(f"blind{i}")]


def _fuzz_corpus(n: int = N_FUZZ) -> list:
    """Pool word salad, some of it past the parser's 40-token limit, with
    random Unicode spliced between and inside words."""
    rng = random.Random(0)
    words = [w for s in SENTENCE_POOL for w in s.split()]
    out = []
    for _ in range(n):
        toks = [rng.choice(words) for _ in range(rng.randint(1, 48))]
        for _ in range(rng.randint(0, 4)):
            lo, hi = rng.choice(_UNICODE_RANGES)
            junk = "".join(chr(rng.randint(lo, hi)) for _ in range(rng.randint(1, 3)))
            i = rng.randrange(len(toks))
            if rng.random() < 0.5:
                toks.insert(i, junk)
            else:
                w = toks[i]
                j = rng.randint(0, len(w))
                toks[i] = w[:j] + junk + w[j:]
        if rng.random() < 0.2:
            toks.append(rng.choice(_TURKISH) * rng.randint(1, 3))
        out.append(" ".join(toks) + rng.choice(["", ".", "!", "?", " ...", "'"]))
    return out


def kernel_digest() -> str:
    h = hashlib.sha256()
    for corpus in (list(SENTENCE_POOL), _gold_texts(), _fuzz_corpus()):
        for sentence in corpus:
            h.update(repr(annotate_sentence(sentence)).encode("utf-8"))
            h.update(b"\n")
    return h.hexdigest()


def test_kernel_parity_hash():
    # time the kernel cold: gold scoring elsewhere in the session fills the
    # sentence cache with these texts
    annotate_sentence.cache_clear()
    t0 = time.monotonic()
    digest = kernel_digest()
    assert time.monotonic() - t0 < 30
    assert digest == KERNEL_SHA256
