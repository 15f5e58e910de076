"""Seeded input generator for the KG-construction benchmark.

Every input is a pure function of (workload, seed, slice index), built
from the frozen lists in ``data/`` and nothing else in the repository.
A run is split into disjoint slices: slice ``WARMUP`` is the fixed
warm-up slice (gold ``# text =`` lines, the same for every workload and
seed), and slices 0, 1, ... are the timed passes and the staged-job
probe.  No two slices share a URL, no timed slice holds a
warm-up sentence, and in ``open-vocab`` no two sentence instances of the
other slices are equal.

The program only ever sees the parquet table written by ``write_slice``:
``(url: string, warc_ts: timestamp, html: binary, text: string,
lang: string)``.
"""
from __future__ import annotations

import datetime as _dt
import gzip
import os
import random
import re
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")

WORKLOADS = ("crawl-pooled", "open-vocab")
WARMUP = -1
WARMUP_DOCS = 48

_EPOCH = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)
_HOSTS = ("haber.example.com.tr", "gazete.example.com.tr", "forum.example.org",
          "blog.example.net", "magaza.example.com", "ansiklopedi.example.org")
_SECTIONS = ("gundem", "ekonomi", "spor", "kultur", "teknoloji", "yasam",
             "dunya", "saglik", "egitim", "otomobil")
_TOKEN_RE = re.compile(r"\w+(?:['’]\w+)?|[^\w\s]")
_SLOT_RE = re.compile(r"\{([PN])(?::(\w+))?\}")
_OOV_SYLLABLES = ("ka", "zir", "pel", "mo", "tug", "vra", "leş", "fon", "ziy",
                  "ork", "bü", "nak", "ğel", "xo", "qen", "wa", "jır", "pto")


def _lines(name: str) -> list:
    path = os.path.join(DATA, name)
    opener = gzip.open if name.endswith(".gz") else open
    with opener(path, "rt", encoding="utf-8") as f:
        return [ln.rstrip("\n") for ln in f
                if ln.strip() and not ln.startswith("#")]


@dataclass
class Lists:
    """The frozen word and sentence lists, loaded once per process."""

    pool_tr: list = field(default_factory=list)
    pool_en: list = field(default_factory=list)
    gold: list = field(default_factory=list)
    names: list = field(default_factory=list)
    nouns: list = field(default_factory=list)
    templates: list = field(default_factory=list)

    @classmethod
    def load(cls) -> "Lists":
        pool = [ln.split("\t", 1) for ln in _lines("pool.txt")]
        return cls(
            pool_tr=[s for lang, s in pool if lang == "TR"],
            pool_en=[s for lang, s in pool if lang == "EN"],
            gold=_lines("gold_text.txt"),
            names=_lines("names.txt.gz"),
            nouns=_lines("nouns.txt.gz"),
            templates=_lines("templates.txt"),
        )


# --- Turkish suffixes (vowel harmony and final-consonant devoicing) -------
_BACK = set("aıou")
_VOWELS = set("aeıioöuü")
_VOICELESS = set("çfhkpsşt")


def _last_vowel(word: str) -> str:
    for ch in reversed(word.lower()):
        if ch in _VOWELS:
            return ch
    return "e"


def _suffix(word: str, case: str) -> str:
    v = _last_vowel(word)
    a = "a" if v in _BACK else "e"
    i = {"a": "ı", "ı": "ı", "o": "u", "u": "u"}.get(v, {"ö": "ü", "ü": "ü"}.get(v, "i"))
    last = word[-1].lower()
    vowel_end = last in _VOWELS
    d = "t" if last in _VOICELESS else "d"
    return {
        "acc": ("y" if vowel_end else "") + i,
        "dat": ("y" if vowel_end else "") + a,
        "loc": d + a,
        "abl": d + a + "n",
        "gen": ("n" if vowel_end else "") + i + "n",
        "pl": "l" + a + "r",
    }[case]


def _inflect(word: str, case: str | None, proper: bool) -> str:
    if not case:
        return word
    return word + ("'" if proper else "") + _suffix(word, case)


def _oov_word(rng: random.Random) -> str:
    return "".join(rng.choice(_OOV_SYLLABLES) for _ in range(rng.randint(2, 4)))


# --- per-workload sentence sources -----------------------------------------
class _OpenVocab:
    """Template sentences with name and noun slots from the frozen lists.
    A small share of noun slots is an out-of-lexicon pseudo-word, and a
    small share of sentences chains clauses past the parser's 40-token
    limit.  Sentences are unique within a run."""

    OOV_SHARE = 0.04
    LONG_SHARE = 0.03

    def __init__(self, lists: Lists):
        self.lists = lists
        self.seen: set = set()

    def _fill(self, rng: random.Random, template: str) -> str:
        def slot(m):
            kind, case = m.group(1), m.group(2)
            if kind == "P":
                return _inflect(rng.choice(self.lists.names), case, True)
            word = (_oov_word(rng) if rng.random() < self.OOV_SHARE
                    else rng.choice(self.lists.nouns))
            return _inflect(word, case, False)

        return _SLOT_RE.sub(slot, template)

    def sentence(self, rng: random.Random) -> str:
        while True:
            if rng.random() < self.LONG_SHARE:
                clauses = []
                while sum(len(_TOKEN_RE.findall(c)) for c in clauses) < 44:
                    clauses.append(self._fill(rng, rng.choice(self.lists.templates))[:-1])
                s = ", ".join(clauses[:-1]) + " ve " + clauses[-1] + "."
            else:
                s = self._fill(rng, rng.choice(self.lists.templates))
            if s not in self.seen:
                self.seen.add(s)
                return s

    def doc(self, rng: random.Random):
        return "tr", [self.sentence(rng) for _ in range(rng.randint(1, 10))]


class _CrawlPooled:
    """Zipf-skewed draws from the 30-sentence pool, as boilerplate-heavy
    crawl text is; a tenth of the pages are English (filtered out by the
    job's language predicate)."""

    EN_SHARE = 0.1

    def __init__(self, lists: Lists):
        self.lists = lists
        self.weights = [1.0 / (r + 1) for r in range(len(lists.pool_tr))]

    def doc(self, rng: random.Random):
        n = rng.randint(1, 12)
        if rng.random() < self.EN_SHARE:
            return "en", [rng.choice(self.lists.pool_en) for _ in range(n)]
        return "tr", rng.choices(self.lists.pool_tr, self.weights, k=n)


def _html(rng: random.Random, url: str, sentences: list) -> bytes:
    """Crawl-like page chrome around the text, several times its size, so
    a scan that reads ``html`` shows in the input bytes."""
    title = " ".join(sentences[0].split()[:6])
    nav = "".join(
        f'<li class="nav-item"><a href="/{s}/" data-track="nav-{s}-{rng.randrange(1 << 20):05x}">{s.title()}</a></li>'
        for s in rng.sample(_SECTIONS, 6))
    body = "".join(f'<p class="article-p" data-i="{i}">{s}</p>\n' for i, s in enumerate(sentences))
    cfg = ",".join(f'"k{j}":"{rng.randrange(1 << 40):010x}"' for j in range(8))
    return (
        '<!DOCTYPE html><html lang="tr"><head><meta charset="utf-8">'
        f'<title>{title}</title><link rel="canonical" href="{url}">'
        '<link rel="stylesheet" href="/static/css/main.min.css?v=20240101">'
        f'<script>window.__CFG__={{{cfg}}};</script></head><body>'
        f'<header class="site-header"><nav><ul class="nav">{nav}</ul></nav></header>'
        f'<main><article class="post"><h1 class="post-title">{title}</h1>\n{body}</article>'
        '<aside class="sidebar"><div class="widget">Çok okunanlar</div>'
        f'<div class="ad-slot" id="ad-{rng.randrange(1 << 30):08x}"></div></aside></main>'
        f'<footer class="site-footer">© 2024 {url.split("/")[2]} · Tüm hakları saklıdır.'
        f'{nav}</footer><script src="/static/js/app.min.js" defer></script></body></html>'
    ).encode("utf-8")


@dataclass
class Doc:
    url: str
    warc_ts: _dt.datetime
    html: bytes
    text: str
    lang: str
    sentences: list


class Generator:
    """Makes the slices of one run.  Slices must be requested in order
    (``WARMUP`` first, then 0, 1, ...): open-vocab uniqueness is kept
    across every slice made by one generator."""

    def __init__(self, workload: str, seed: int, lists: Lists | None = None):
        if workload not in WORKLOADS:
            raise ValueError(f"unknown workload {workload!r}")
        self.workload = workload
        self.seed = seed
        self.lists = lists or Lists.load()
        self.source = (_OpenVocab if workload == "open-vocab" else _CrawlPooled)(self.lists)

    def _rng(self, slice_idx: int) -> random.Random:
        return random.Random(f"{self.workload}/{self.seed}/{slice_idx}")

    def _doc(self, rng: random.Random, slice_idx: int, i: int, lang: str, sentences: list) -> Doc:
        host = rng.choice(_HOSTS)
        tag = "w" if slice_idx == WARMUP else str(slice_idx)
        url = f"https://{host}/{rng.choice(_SECTIONS)}/{tag}-{i}-{rng.randrange(1 << 32):08x}"
        ts = _EPOCH + _dt.timedelta(seconds=rng.randrange(365 * 86400))
        return Doc(url, ts, _html(rng, url, sentences), " ".join(sentences), lang, sentences)

    def slice(self, slice_idx: int, n_docs: int) -> list:
        rng = self._rng(slice_idx)
        docs = []
        if slice_idx == WARMUP:
            # fixed: independent of workload and seed, so set-up time
            # compares across both
            wrng = random.Random("warmup")
            gold = self.lists.gold
            for i in range(WARMUP_DOCS):
                sents = wrng.sample(gold, wrng.randint(1, 6))
                docs.append(self._doc(wrng, WARMUP, i, "tr", sents))
            return docs
        for i in range(n_docs):
            lang, sents = self.source.doc(rng)
            docs.append(self._doc(rng, slice_idx, i, lang, sents))
        return docs


def write_slice(docs: list, path: str, n_files: int) -> int:
    """Write ``docs`` as a parquet directory of ``n_files`` files (so the
    scan splits across cores); returns the bytes written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ])
    os.makedirs(path, exist_ok=True)
    n_files = max(1, min(n_files, len(docs)))
    written = 0
    for k in range(n_files):
        part = docs[k::n_files]
        table = pa.table({
            "url": [d.url for d in part],
            "warc_ts": [d.warc_ts for d in part],
            "html": [d.html for d in part],
            "text": [d.text for d in part],
            "lang": [d.lang for d in part],
        }, schema=schema)
        fname = os.path.join(path, f"part-{k:05d}.parquet")
        pq.write_table(table, fname)
        written += os.path.getsize(fname)
    return written


def tokens(text: str) -> list:
    """A program-independent word/punctuation split for input descriptors."""
    return _TOKEN_RE.findall(text)


def descriptors(warmup: list, slices: list) -> dict:
    """Input properties the program's caches depend on, over the Turkish
    documents of the timed slices (in pass order, after the warm-up):

    - ``repeat_sentence_share``: sentence instances equal to an earlier one;
    - ``new_token_share``: token instances whose surface form is first seen;
    - ``html_bytes_per_doc``: mean size of the ``html`` column.
    """
    seen_tok = {t for d in warmup for t in tokens(d.text)}
    seen_sent: set = set()
    n_sent = rep_sent = n_tok = new_tok = html = n_docs = 0
    for docs in slices:
        for d in docs:
            n_docs += 1
            html += len(d.html)
            if d.lang != "tr":
                continue
            for s in d.sentences:
                n_sent += 1
                rep_sent += s in seen_sent
                seen_sent.add(s)
            for t in tokens(d.text):
                n_tok += 1
                if t not in seen_tok:
                    new_tok += 1
                    seen_tok.add(t)
    return {
        "input.repeat_sentence_share": rep_sent / max(n_sent, 1),
        "input.new_token_share": new_tok / max(n_tok, 1),
        "input.html_bytes_per_doc": html / max(n_docs, 1),
    }
