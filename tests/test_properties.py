"""Property-based tests (hypothesis) for the deterministic text layer and
the annotation kernel — inputs the reference's golden fixtures never
cover."""
import hypothesis.strategies as st
from hypothesis import example, given, settings

from vnlp_spark.functions.deasciifier import py_deasciify_token
from vnlp_spark.functions.normalizer import (
    py_remove_accent_marks,
    py_remove_punctuations,
    py_turkish_lower,
)
from vnlp_spark.functions.numbers import py_convert_numbers_to_words
from vnlp_spark.functions.sentence_splitter import py_split_sentences
from vnlp_spark.functions.tokenizer import py_treebank_tokenize, py_word_punct_tokenize
from vnlp_spark.operators.dep_parser import MAX_TOKENS
from vnlp_spark.operators.morphology import py_analyze_tokens
from vnlp_spark.plans.corpus import SENTENCE_POOL
from vnlp_spark.plans.pipeline import annotate_sentence

turkish_text = st.text(
    alphabet="abcçdefgğhıijklmnoöprsştuüvyzABCÇDEFGĞHIİJKLMNOÖPRSŞTUÜVYZ .,!?'\"0123456789",
    max_size=200,
)


@given(turkish_text)
@settings(max_examples=200, deadline=None)
def test_split_sentences_preserves_nonspace_chars(text):
    # splitting only rewrites whitespace: the multiset of non-space
    # characters survives
    out = " ".join(py_split_sentences(text))
    assert sorted(out.replace(" ", "")) == sorted(text.replace(" ", "").replace("\n", ""))


@given(turkish_text)
@settings(max_examples=200, deadline=None)
def test_tokenizers_never_crash_and_cover_text(text):
    for tok in (py_treebank_tokenize, py_word_punct_tokenize):
        toks = tok(text)
        assert all(isinstance(t, str) and t for t in toks)


@given(turkish_text)
@settings(max_examples=100, deadline=None)
def test_lower_idempotent(text):
    once = py_turkish_lower(text)
    assert py_turkish_lower(once) == once


@given(turkish_text)
@settings(max_examples=100, deadline=None)
def test_remove_punct_idempotent_and_clean(text):
    out = py_remove_punctuations(text)
    assert py_remove_punctuations(out) == out
    assert all(c.isalnum() or c == " " for c in out)


@given(turkish_text)
@settings(max_examples=100, deadline=None)
def test_accent_removal_leaves_no_accents(text):
    out = py_remove_accent_marks(text)
    assert not set(out) & set("âôîêûÂÔÎÊÛ")


@given(st.text(alphabet="abcçdefgğhıijklmnoöprsştuüvyz", min_size=1, max_size=20))
@settings(max_examples=100, deadline=None)
def test_deasciify_total_and_length_preserving(token):
    out = py_deasciify_token(token)
    assert len(out) == len(token)


@given(st.lists(st.text(alphabet="0123456789,.", min_size=1, max_size=12), max_size=6))
@settings(max_examples=150, deadline=None)
def test_numbers_to_words_total(tokens):
    out = py_convert_numbers_to_words(tokens)
    assert isinstance(out, list)
    assert all(isinstance(t, str) for t in out)


@given(st.lists(st.text(alphabet="abcçdefgğhıijklmnoöprsştuüvyzABCÇDEFGĞHIİ'", min_size=1, max_size=15), min_size=1, max_size=10))
@settings(max_examples=100, deadline=None)
def test_morphology_total_one_analysis_per_token(tokens):
    out = py_analyze_tokens(tokens)
    assert len(out) == len(tokens)
    assert all("+" in a for a in out)


# pool words, random Turkish-alphabet strings and punctuation, up to past
# the parser's token limit
kernel_words = st.lists(
    st.one_of(
        st.sampled_from(sorted({w for s in SENTENCE_POOL for w in s.split()})),
        st.text(alphabet="abcçdefgğhıijklmnoöprsştuüvyzABCÇDEFGĞHIİJKLMNOÖPRSŞTUÜVYZ'",
                min_size=1, max_size=12),
        st.sampled_from(list(".,;:!?'\"()-…")),
    ),
    min_size=1,
    max_size=48,
)


@given(kernel_words)
@example(["hem", "hem", "Ali", "hem", "Veli", "geldi", "."])
@settings(max_examples=300, deadline=None)
def test_annotate_sentence_total(words):
    # the kernel annotates any token list: one analysis per token, an arc
    # per token numbered 1..n up to the parser's limit and None past it,
    # each arc's head inside 0..n and never the token itself, and every
    # mention span inside the tokens
    tokens, analyses, mentions, arcs = annotate_sentence(" ".join(words))
    n = len(tokens)
    assert len(analyses) == n
    if n > MAX_TOKENS:
        assert arcs is None
    else:
        assert [arc[0] for arc in arcs] == list(range(1, n + 1))
        for idx, _word, head, _rel in arcs:
            assert 0 <= head <= n and head != idx
    for _mention, _label, first_tok, last_tok in mentions:
        assert 0 <= first_tok <= last_tok < len(tokens)
