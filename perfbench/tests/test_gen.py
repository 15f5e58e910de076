"""The generator: determinism per seed, disjoint slices, and the input
properties each workload is chosen for."""
import pytest

import gen
import run


@pytest.fixture(scope="module")
def lists():
    return gen.Lists.load()


def _slices(lists, workload, seed, n_slices, n_docs):
    g = gen.Generator(workload, seed, lists)
    return g.slice(gen.WARMUP, 0), [g.slice(k, n_docs) for k in range(n_slices)]


def _rows(docs):
    return [(d.url, d.warc_ts, d.html, d.text, d.lang) for d in docs]


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_same_seed_same_inputs(lists, workload):
    a = _slices(lists, workload, 3, 3, 50)
    b = _slices(lists, workload, 3, 3, 50)
    c = _slices(lists, workload, 4, 3, 50)
    assert [_rows(s) for s in a[1]] == [_rows(s) for s in b[1]]
    assert _rows(a[0]) == _rows(b[0])
    assert [_rows(s) for s in a[1]] != [_rows(s) for s in c[1]]


def test_warmup_slice_is_fixed(lists):
    a = gen.Generator("crawl-pooled", 1, lists).slice(gen.WARMUP, 0)
    b = gen.Generator("open-vocab", 2, lists).slice(gen.WARMUP, 0)
    assert _rows(a) == _rows(b)
    assert len(a) == gen.WARMUP_DOCS


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_slices_are_disjoint(lists, workload):
    warm, slices = _slices(lists, workload, 9, run.MIN_PASSES[True] + run.SPARE_SLICES + 1, 300)
    urls = [d.url for s in [warm] + slices for d in s]
    assert len(urls) == len(set(urls))
    warm_sents = {x for d in warm for x in d.sentences}
    sents = [x for s in slices for d in s for x in d.sentences]
    assert not warm_sents & set(sents)
    if workload == "open-vocab":
        assert len(sents) == len(set(sents))


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_descriptor_ranges(lists, workload):
    warm, slices = _slices(lists, workload, 5, run.MIN_PASSES[True],
                           run.PASS_DOCS[workload])
    d = gen.descriptors(warm, slices)
    text_bytes = sum(len(x.text.encode()) for s in slices for x in s) / sum(map(len, slices))
    assert d["input.html_bytes_per_doc"] >= 3 * text_bytes
    if workload == "crawl-pooled":
        assert d["input.repeat_sentence_share"] >= 0.8
    else:
        assert d["input.repeat_sentence_share"] == 0
        assert d["input.new_token_share"] >= 0.2


def test_open_vocab_has_long_and_unknown_tokens(lists):
    _, (docs,) = _slices(lists, "open-vocab", 1, 1, 1000)
    sents = [x for d in docs for x in d.sentences]
    long_share = sum(len(gen.tokens(s)) > 40 for s in sents) / len(sents)
    assert 0.01 <= long_share <= 0.06
    vocab = set(lists.nouns) | {n.lower() for n in lists.names}
    words = [t for s in sents for t in gen.tokens(s) if t.isalpha() and t.islower()]
    assert any(w not in vocab for w in words)
