"""The deterministic adversarial text corpus shared by the differential
parity tests and the operator digests (the ``corpus`` fixture in
conftest.py): Turkish, English, numeric, punctuation and abbreviation
words drawn by a seeded RNG."""
from __future__ import annotations

import random

_TR_WORDS = [
    "üniversite", "sınav", "çalışıyorlardı", "öğrenci", "İstanbul", "Ankara",
    "Türkiye", "güzel", "şehir", "ağaç", "gölge", "yıldız", "ışık", "köprü",
    "Boğaziçi", "Fenerbahçe", "Galatasaray", "TÜBİTAK", "doğa", "şiir",
    "müze", "deniz", "balık", "kahvaltı", "çay", "kahve", "pazartesi",
    "İzmir'de", "Oğuz'un", "Astra'sı", "Takımı'nda", "baştan", "şimdi",
]
_EN_WORDS = [
    "the", "quick", "brown", "fox", "jumps", "Dr.", "Prof.", "vb.", "vs.",
    "T.C.", "No.", "data", "model", "can't", "won't", "it's", "I'm",
    "they're", "we've", "you'll", "o'clock", "'90s",
]
_NUMBERS = [
    "0", "3", "29", "100", "1000", "1010", "1996", "2023", "123456",
    "3,5", "1,15", "0,5", "12,75", "1.000", "1.000.000", "25.000",
    "%50", "%3,5", "7/24", "3.14", "-5", "+90", "0531", "10:30", "1-0",
]
_PUNCT_BITS = [
    '"quoted"', "'tek'", "(paren)", "[brack]", "{brace}", "<tag>",
    "a,b", "x:y", "end.", "wow!", "ne?", "üç...", "dash--dash",
    "a;b", "c@d", "e#f", "g$h", "i%j", "k&l", "son,", "iki:",
    '"Merhaba dünya!"', "''eski''", "``yeni``", "bir'", "'iki",
]
_ABBREVS = ["Dr.", "Prof.", "Av.", "Sn.", "vb.", "vs.", "örn.", "No.", "Tel.", "T.C."]


def _mk_sentence(rng: random.Random) -> str:
    n = rng.randint(3, 14)
    pool_choices = (_TR_WORDS, _EN_WORDS, _NUMBERS, _PUNCT_BITS, _ABBREVS)
    weights = (10, 4, 3, 3, 1)
    words = []
    for _ in range(n):
        pool = rng.choices(pool_choices, weights=weights)[0]
        words.append(rng.choice(pool))
    s = " ".join(words)
    if rng.random() < 0.5:
        s = s[:1].upper() + s[1:]
    s += rng.choice([".", ".", "!", "?", "...", "", " .", ".\"", "?'"])
    return s


def _mk_document(rng: random.Random) -> str:
    k = rng.randint(1, 6)
    sep = rng.choice([" ", " ", "  ", "\n"])
    return sep.join(_mk_sentence(rng) for _ in range(k))


def adversarial_corpus() -> list:
    """9,000 word-salad sentences, 2,500 multi-sentence documents, the
    synthetic sentence pool and ten hand-picked splitter cases."""
    rng = random.Random(42)
    sentences = [_mk_sentence(rng) for _ in range(9000)]
    documents = [_mk_document(rng) for _ in range(2500)]
    from vnlp_spark.plans.corpus import SENTENCE_POOL, _EN_SENTENCES

    fixed = list(SENTENCE_POOL) + list(_EN_SENTENCES) + [
        "",
        " ",
        "tek",
        "Dr. Ahmet geldi. Sonra gitti.",
        "Saat 10.30'da buluştuk. Ertesi gün 3.5 km yürüdük.",
        'O, "gel" dedi. Ben de gittim!',
        "1. maddeyi okudum. 2. maddeye geçtim.",
        "Hiç bitmeyen cümle",
        "A.B.D. ile T.C. anlaştı. Prof. Dr. Oğuz imzaladı.",
        "Çok   boşluklu   cümle burada. Sonra ne oldu?",
    ]
    return sentences + documents + fixed
