"""Corpus-wide differential parity vs the RUNNABLE reference text layer.

The reference's deterministic modules need no TF/S3 and are loaded here
directly by file path (importlib / source-exec, bypassing the
TF-importing package ``__init__``):

- sentence splitter   /root/reference/vnlp/sentence_splitter/sentence_splitter.py
- tokenizers          /root/reference/vnlp/tokenizer/tokenizer.py
- Normalizer statics  /root/reference/vnlp/normalizer/normalizer.py
- deasciifier         /root/reference/vnlp/normalizer/_deasciifier.py
- stopword remover    /root/reference/vnlp/stopword_remover/stopword_remover.py

Every function is swept over a deterministic adversarial corpus of >10k
sentences / documents and asserted BYTE-IDENTICAL to this repo's
python-layer twins (the exact code the Arrow UDFs run per batch),
upgrading the BASELINE "byte-identical extracted text per url" invariant
from ~20 hand goldens to corpus-wide proof.
"""
from __future__ import annotations

import hashlib
import importlib.util
import os
import random
import sys

import pytest

from tests.adversarial_corpus import _EN_WORDS, _NUMBERS, _TR_WORDS

REF = "/root/reference/vnlp"

# content pins for every reference file this suite EXECUTES: the snapshot
# is untrusted public content, so a mutated file must fail loudly instead
# of running inside the test process (ADVICE r02)
_REF_SHA256 = {
    "normalizer/_deasciifier.py":
        "f40bf3cd6809beb8c9f9efefaf7d898ac13993a512ae2a0c411df98d4ce3cabd",
    "dependency_parser/utils.py":
        "7271c608a1393611cc52288b5a45f2a4158a7f8f0f5e8479aa4288dbc393f0d1",
    "named_entity_recognizer/utils.py":
        "3f0ca0cce6c551be8e3efa0b55e0a8a16e2b049f625c9edb590ada9d110e0be4",
    "sentence_splitter/sentence_splitter.py":
        "4cb9383b2400a443e225690cc06a9578bdb798f47a4c32f01fad5330446af739",
    "stopword_remover/stopword_remover.py":
        "165d0c38ad4dfc42dc4dfbe0d85f7d2822b33d335940784277722dced72f7ce1",
    "tokenizer/tokenizer.py":
        "0237d16a0493583c5e3d88372893298e4a13d751b03ed161efceb1faec9d7047",
    "stemmer_morph_analyzer/_yildiz_analyzer.py":
        "d1b3f112b1405799fc15ef0b455358a6c03fbe6fe10036f932f283fd7306e669",
}


def _load_by_path(name: str, relpath: str):
    path = f"{REF}/{relpath}"
    if not os.path.exists(path):
        pytest.skip(f"reference snapshot absent: {path}")
    with open(path, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()
    assert digest == _REF_SHA256[relpath], (
        f"reference file {relpath} changed on disk (sha256 {digest}); "
        "refusing to exec an unpinned snapshot"
    )
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def ref_tokenizer():
    return _load_by_path("ref_tokenizer", "tokenizer/tokenizer.py")


@pytest.fixture(scope="module")
def ref_splitter():
    mod = _load_by_path("ref_sentence_splitter", "sentence_splitter/sentence_splitter.py")
    return mod.SentenceSplitter()


@pytest.fixture(scope="module")
def ref_stopwords():
    mod = _load_by_path("ref_stopword_remover", "stopword_remover/stopword_remover.py")
    return mod.StopwordRemover()


@pytest.fixture(scope="module")
def ref_normalizer():
    """The reference Normalizer class with its TF-importing dependencies
    stripped: exec the module source minus the StemmerAnalyzer import, with
    the path-loaded Deasciifier injected, then instantiate via __new__ (the
    static/stateless methods under test never touch instance state)."""
    deasc = _load_by_path("ref_deasciifier", "normalizer/_deasciifier.py")
    path = f"{REF}/normalizer/normalizer.py"
    with open(path, encoding="utf-8") as f:
        src = f.read()
    src = src.replace("from ._deasciifier import Deasciifier", "")
    src = src.replace("from ..stemmer_morph_analyzer import StemmerAnalyzer", "")
    ns = {
        "Deasciifier": deasc.Deasciifier,
        "StemmerAnalyzer": None,
        "__file__": path,
        "__name__": "ref_normalizer",
    }
    exec(compile(src, path, "exec"), ns)
    cls = ns["Normalizer"]
    return cls.__new__(cls)


def test_corpus_size(corpus):
    assert len(corpus) >= 10000


# --- tokenizers ----------------------------------------------------------

def test_treebank_tokenize_parity(ref_tokenizer, corpus):
    from vnlp_spark.functions.tokenizer import py_treebank_tokenize

    diffs = [
        t for t in corpus
        if ref_tokenizer.TreebankWordTokenize(t) != py_treebank_tokenize(t)
    ]
    assert diffs == [], f"{len(diffs)} treebank diffs; first: {diffs[:3]!r}"


def test_word_punct_tokenize_parity(ref_tokenizer, corpus):
    from vnlp_spark.functions.tokenizer import py_word_punct_tokenize

    diffs = [
        t for t in corpus
        if ref_tokenizer.WordPunctTokenize(t) != py_word_punct_tokenize(t)
    ]
    assert diffs == [], f"{len(diffs)} wordpunct diffs; first: {diffs[:3]!r}"


# --- sentence splitter ---------------------------------------------------

def test_sentence_split_parity(ref_splitter, corpus):
    from vnlp_spark.functions.sentence_splitter import py_split_sentences

    diffs = [
        t for t in corpus
        if ref_splitter.split_sentences(t) != py_split_sentences(t)
    ]
    assert diffs == [], f"{len(diffs)} splitter diffs; first: {diffs[:3]!r}"


# --- normalizer statics --------------------------------------------------

def test_lower_case_parity(ref_normalizer, corpus):
    from vnlp_spark.functions.normalizer import py_turkish_lower

    diffs = [t for t in corpus if ref_normalizer.lower_case(t) != py_turkish_lower(t)]
    assert diffs == [], f"{len(diffs)} lower diffs; first: {diffs[:3]!r}"


def test_remove_punctuations_parity(ref_normalizer, corpus):
    from vnlp_spark.functions.normalizer import py_remove_punctuations

    diffs = [
        t for t in corpus
        if ref_normalizer.remove_punctuations(t) != py_remove_punctuations(t)
    ]
    assert diffs == [], f"{len(diffs)} punct diffs; first: {diffs[:3]!r}"


def test_remove_accent_marks_parity(ref_normalizer, corpus):
    from vnlp_spark.functions.normalizer import py_remove_accent_marks

    accented = ["merhâbâ gûzel yîlkî atî", "Âli Îstanbul'a gitti", "ûzûm çôk tâze"]
    diffs = [
        t for t in corpus + accented
        if ref_normalizer.remove_accent_marks(t) != py_remove_accent_marks(t)
    ]
    assert diffs == [], f"{len(diffs)} accent diffs; first: {diffs[:3]!r}"


def test_deasciify_parity(ref_normalizer, corpus):
    from vnlp_spark.functions.deasciifier import py_deasciify

    rng = random.Random(7)
    token_lists = []
    for t in corpus[:4000]:
        toks = t.split()
        if not toks:
            continue
        # asciify a random subset so the decision lists actually fire
        toks = [
            "".join(
                {"ç": "c", "ğ": "g", "ı": "i", "ö": "o", "ş": "s", "ü": "u",
                 "Ç": "C", "Ğ": "G", "İ": "I", "Ö": "O", "Ş": "S", "Ü": "U"}.get(c, c)
                for c in w
            )
            if rng.random() < 0.7 else w
            for w in toks
        ]
        token_lists.append(toks)
    token_lists.append("boyle sey gormedim duymadim".split())
    token_lists.append(["yatirdim"])
    diffs = [
        toks for toks in token_lists
        if ref_normalizer.deasciify(list(toks)) != py_deasciify(list(toks))
    ]
    assert diffs == [], f"{len(diffs)} deasciify diffs; first: {diffs[:3]!r}"


def _parses_negative(token: str) -> bool:
    """True when the reference's comma-decimal transform turns the token
    into a NEGATIVE float — the one input class where the reference's
    _int_to_words never terminates (digit-count loop `num //= 10` reaches
    -1, not 0), so byte parity is undefined and the token must be skipped
    when calling the reference."""
    t = token.replace(".", "_").replace(",", ".") if any(c.isnumeric() for c in token) else token
    try:
        return float(t) < 0
    except ValueError:
        return False


def test_convert_numbers_to_words_parity(ref_normalizer, corpus):
    from vnlp_spark.functions.numbers import py_convert_numbers_to_words

    token_lists = [t.split() for t in corpus[:3000]] + [
        _NUMBERS,
        ["1000", "1010", "1996", "0", "1000000", "1234567890123"],
        ["3,14159", "0,000001", "99,999999"],
        "sabah 2 yumurta yedim ve tartıldığımda 1,15 kilogram aldığımı gördüm".split(),
    ]
    token_lists = [[w for w in toks if not _parses_negative(w)] for toks in token_lists]
    diffs = [
        toks for toks in token_lists
        if ref_normalizer.convert_numbers_to_words(list(toks))
        != py_convert_numbers_to_words(list(toks))
    ]
    assert diffs == [], f"{len(diffs)} num2words diffs; first: {diffs[:3]!r}"


def test_negative_numbers_terminate():
    """The reference hangs forever on negative numeric tokens; this engine
    must terminate (documented deviation in functions/numbers.py)."""
    from vnlp_spark.functions.numbers import py_convert_numbers_to_words

    assert py_convert_numbers_to_words(["-5"]) == ["eksi", "beş"]
    assert py_convert_numbers_to_words(["-1000"]) == ["eksi", "bin"]


# --- stopwords -----------------------------------------------------------

def test_static_stopword_parity(ref_stopwords, corpus):
    from vnlp_spark.operators.stopwords import py_drop_stop_words

    diffs = [
        t for t in corpus
        if ref_stopwords.drop_stop_words(t.split()) != py_drop_stop_words(t.split())
    ]
    assert diffs == [], f"{len(diffs)} stopword diffs; first: {diffs[:3]!r}"


def test_dynamic_stopword_parity(ref_stopwords, corpus):
    from vnlp_spark.operators.stopwords import py_dynamically_detect_stop_words

    rng = random.Random(9)
    for trial in range(20):
        # frequency-skewed token stream (dynamic detection needs repeats)
        vocab = rng.sample(_TR_WORDS + _EN_WORDS, 20)
        tokens = []
        for rank, w in enumerate(vocab):
            tokens += [w] * max(1, int(60 / (rank + 1)) + rng.randint(0, 3))
        rng.shuffle(tokens)
        ref = ref_stopwords.dynamically_detect_stop_words(list(tokens))
        got = py_dynamically_detect_stop_words(list(tokens))
        assert sorted(ref) == sorted(got), f"trial {trial}: {sorted(ref)} != {sorted(got)}"
    # the reference's own doc example
    doc_tokens = (
        "ben bugün gidip aşı olacağım sonra da eve gelip telefon açacağım aşı "
        "nasıl etkiledi eve gelip anlatırım aşı olmak bu dönemde çok ama ama "
        "ama ama çok önemli"
    ).split()
    assert sorted(ref_stopwords.dynamically_detect_stop_words(doc_tokens)) == sorted(
        py_dynamically_detect_stop_words(doc_tokens)
    )


# --- displaCy converters (F2 + NER span half of F1) ----------------------

@pytest.fixture(scope="module")
def ref_dp_utils():
    return _load_by_path("ref_dp_utils", "dependency_parser/utils.py")


@pytest.fixture(scope="module")
def ref_ner_utils():
    return _load_by_path("ref_ner_utils", "named_entity_recognizer/utils.py")


def test_dp_displacy_parity(ref_dp_utils, corpus):
    from vnlp_spark.functions.display import dp_to_displacy
    from vnlp_spark.functions.tokenizer import py_treebank_tokenize
    from vnlp_spark.operators.dep_parser import py_parse_tokens
    from vnlp_spark.operators.pos import py_pos_tags

    checked = 0
    for t in corpus[:800]:
        tokens = py_treebank_tokenize(t)
        arcs = py_parse_tokens(tokens)
        if not arcs:
            continue
        pos = list(zip(tokens, py_pos_tags(tokens)))
        assert dp_to_displacy(arcs, pos) == ref_dp_utils.dp_pos_to_displacy_format(
            arcs, pos
        ), t
        assert dp_to_displacy(arcs) == ref_dp_utils.dp_pos_to_displacy_format(arcs), t
        checked += 1
    assert checked >= 300


def test_ner_displacy_parity(ref_ner_utils):
    """Cursor-based span finder vs the reference's finditer approach on
    regex-metacharacter-free sentences (where both are well-defined; the
    reference regex-injects raw words — see display.py docstring)."""
    import re

    from vnlp_spark.functions.display import ner_to_displacy
    from vnlp_spark.functions.tokenizer import py_treebank_tokenize
    from vnlp_spark.operators.ner import py_ner_pairs
    from vnlp_spark.plans.corpus import SENTENCE_POOL

    checked = 0
    for t in SENTENCE_POOL:
        tokens = py_treebank_tokenize(t)
        if any(re.escape(w) != w for w in tokens if any(c.isalpha() for c in w)):
            continue
        pairs = py_ner_pairs(tokens)
        assert ner_to_displacy(t, pairs) == ref_ner_utils.ner_to_displacy_format(
            t, pairs
        ), t
        checked += 1
    assert checked >= 10


# --- morphological candidate generator (M1a) -----------------------------

@pytest.fixture(scope="module")
def ref_candidate_generator():
    """The reference's TurkishStemSuffixCandidateGenerator with this
    repo's suffix fixture injected (the snapshot lacks Suffixes&Tags.txt,
    so both sides share one suffix table; stems + exact lookup load from
    the reference's own files).  What's differentially tested is the
    candidate-generation ALGORITHM."""
    mod = _load_by_path("ref_yildiz", "stemmer_morph_analyzer/_yildiz_analyzer.py")
    from vnlp_spark import resources

    G = mod.TurkishStemSuffixCandidateGenerator
    ref = G.__new__(G)
    ref.case_sensitive = True
    ref.asciification = False
    ref.suffix_normalization = False
    ref.suffix_dic = {k: list(v) for k, v in resources.suffix_dict().items()}
    ref.stem_dic = {}
    ref.read_stem_list()
    ref.exact_lookup_table = {}
    ref.read_exact_lookup_table()
    return ref


def test_candidate_generator_parity(ref_candidate_generator, corpus):
    from vnlp_spark.functions.tokenizer import py_treebank_tokenize
    from vnlp_spark.operators.morphology import CandidateGenerator

    mine = CandidateGenerator()
    vocab = set()
    for t in corpus:
        vocab.update(py_treebank_tokenize(t))
    vocab.update([
        "kitaplarımızdan", "evdekiler", "gözlükçü", "İstanbul'daki",
        "koşuyordum", "anlamadım", "güzelleştirdik", "123", "xyzabc",
    ])
    same = ref_crash = 0
    diffs = []
    for w in sorted(vocab):
        nb = sorted((r, s, tuple(t)) for r, s, t in mine.get_analysis_candidates(w))
        try:
            na = sorted(
                (r, s, tuple(t))
                for r, s, t in ref_candidate_generator.get_analysis_candidates(w)
            )
        except KeyError:
            # the reference crashes on e.g. a trailing apostrophe ("bir'");
            # this engine must return (and does) instead of failing a task
            ref_crash += 1
            continue
        if na == nb:
            same += 1
        else:
            diffs.append((w, na[:2], nb[:2]))
    assert diffs == [], f"{len(diffs)} candidate diffs; first: {diffs[:3]!r}"
    assert same >= 300 and ref_crash <= 5


# --- frozen digests (run with or without the reference snapshot) ---------
#
# The parity tests above need the reference checkout; these pin the same
# code paths to committed digests so a refactor of the splitter or the
# candidate generator is checked on any machine.  A change that means to
# alter output updates the constant and says why.

SPLIT_SHA256 = "e06b2422b04885af6601da1133140a9f6720cf57917eb4a670ada73be30d0f7c"
CANDIDATE_SHA256 = "b02368edf767e24c5e8bdaaea95e5dd0e139a5b1801ed6cfa69d624105c4ddfb"

_CANDIDATE_EDGE_WORDS = [
    "ΣΟΦΊΑ", "Σίσυφος", "İSTANBUL'DA", "ﬁrma", "İİİ", "hissi", "ağzım",
    "bana", "kitabı",
]


def _pool_tokens() -> list:
    from vnlp_spark.functions.tokenizer import py_treebank_tokenize
    from vnlp_spark.plans.corpus import SENTENCE_POOL

    return list(dict.fromkeys(
        w for s in SENTENCE_POOL for w in py_treebank_tokenize(s)))


def _candidate_words(corpus) -> list:
    from vnlp_spark.functions.tokenizer import py_treebank_tokenize

    words = [w for t in corpus for w in py_treebank_tokenize(t)]
    for w in _pool_tokens():
        words += [w, w + "ların", w + "'den", w.upper()]
    return list(dict.fromkeys(words + _CANDIDATE_EDGE_WORDS))


# a word that ends in ".\n" (the `$` of the trailing-dot rule matches
# before a final newline) only arises from a newline before a space
_SPLIT_EDGE_DOCS = [
    "Bitti.\n Sonra geldi.", "Dr.\n Ahmet geldi.", "Saat 10.\n 30'da.",
    "A.\n\n B geldi.", "son.\r\n Yeni gün.", "T.C.\n Ankara.",
    "üç...\n Dört.", "bitti.\n\n", ".\n .\n X",
]


def test_sentence_split_digest(corpus):
    from vnlp_spark.functions.sentence_splitter import py_split_sentences

    h = hashlib.sha256()
    for t in corpus + _SPLIT_EDGE_DOCS:
        h.update(repr(py_split_sentences(t)).encode("utf-8"))
        h.update(b"\n")
    assert h.hexdigest() == SPLIT_SHA256


def test_candidate_generator_digest(corpus):
    import copy

    from vnlp_spark.operators.morphology import CandidateGenerator, _engine
    from vnlp_spark.plans.corpus import SENTENCE_POOL
    from vnlp_spark.plans.gold_ud_blind_data import available_splits, load_split
    from vnlp_spark.plans.pipeline import annotate_sentence

    gen = CandidateGenerator()
    h = hashlib.sha256()
    for w in _candidate_words(corpus):
        h.update(repr((w, gen.get_analysis_candidates(w))).encode("utf-8"))
        h.update(b"\n")
    assert h.hexdigest() == CANDIDATE_SHA256

    # memoized candidate lists are shared by every caller: a kernel pass
    # must leave them exactly as the generator built them
    kernel_gen = _engine()[0]
    pool = _pool_tokens()
    before = copy.deepcopy([kernel_gen.get_analysis_candidates(w) for w in pool])
    texts = list(SENTENCE_POOL) + [
        e["text"] for name in available_splits() for e in load_split(name)]
    # sentences other tests annotated would be cache hits: run the kernel
    annotate_sentence.cache_clear()
    for t in texts:
        annotate_sentence(t)
    assert [kernel_gen.get_analysis_candidates(w) for w in pool] == before
