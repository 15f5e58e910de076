"""SPUContext 4-branch architecture: forward faithfulness, autoregressive
decode, and the Spark UDF path."""
import numpy as np
import pyspark.sql.functions as F
import pytest

from vnlp_spark.operators.spu_context import (
    SENTENCE_MAX_LEN,
    SPUContextModel,
    make_spu_context_tagger_udf,
)
from vnlp_spark.operators.subword import SpmUnigramEncoder, spm_tokenize_tokens


@pytest.fixture(scope="module")
def model():
    return SPUContextModel.surrogate(units=16, emb_dim=16, n_labels=5, seed=17)


@pytest.fixture(scope="module")
def enc():
    return SpmUnigramEncoder.from_model_file()


def _naive_tag(model, pieces, S=SENTENCE_MAX_LEN):
    """Reference-literal per-token forward: every context slot re-encoded
    through word_rnn exactly as TimeDistributed does
    (_spu_context_utils.py:110-160), no sharing, one token at a time."""
    L = len(pieces)
    out = []
    preds = []
    pad_row = [0] * len(pieces[0]) if L else []
    for w in range(L):
        cur = model.encode_words(np.asarray([pieces[w]], dtype=np.int64))
        left_rows = [pad_row] * max(0, S - w) + list(pieces[max(0, w - S):w])
        right_rows = list(pieces[w + 1 : w + 1 + S])
        right_rows += [pad_row] * (S - len(right_rows))
        left_enc = model.encode_words(np.asarray(left_rows, dtype=np.int64))[None]
        right_enc = model.encode_words(np.asarray(right_rows, dtype=np.int64))[None]
        prev = np.zeros((1, S, model.n_labels), dtype=np.float32)
        hist = preds[max(0, w - S):w]
        if hist:
            prev[0, S - len(hist):, :] = np.eye(model.n_labels, dtype=np.float32)[hist]
        feats = np.concatenate(
            [cur, model.left(left_enc), model.right(right_enc), model.prev(prev)],
            axis=1,
        )
        x = np.maximum(feats @ model.fc1 + model.fc1b, 0)
        x = np.maximum(x @ model.fc2 + model.fc2b, 0)
        label = int(np.argmax(x @ model.out + model.outb, axis=1)[0])
        preds.append(label)
        out.append(label)
    return out


def test_batched_forward_equals_reference_literal_forward(model, enc):
    """The encode-once + gather optimization must be numerically identical
    to the reference's re-encode-every-slot semantics."""
    sents = [
        spm_tokenize_tokens(["Ahmet", "dün", "İstanbul'da", "mağaza", "açtı", "."], enc),
        spm_tokenize_tokens(["Galatasaray", "Fenerbahçe'yi", "yendi", "."], enc),
        spm_tokenize_tokens(["Kısa", "."], enc),
    ]
    fast = model.tag_sentences(sents)
    for s, f in zip(sents, fast):
        assert _naive_tag(model, s) == f


def test_tag_sentences_shapes_and_determinism(model, enc):
    sents = [
        spm_tokenize_tokens(["Bu", "bir", "deneme", "cümlesi", "."], enc),
        [],
        spm_tokenize_tokens(["Tek"], enc),
    ]
    tags = model.tag_sentences(sents)
    assert [len(t) for t in tags] == [5, 0, 1]
    assert tags == model.tag_sentences(sents)
    assert all(0 <= x < model.n_labels for t in tags for x in t)
    # weight round-trip
    assert tags == SPUContextModel.from_arrays(model.arrays()).tag_sentences(sents)


def test_long_sentence_beyond_context_window(model, enc):
    toks = ["kelime"] * (SENTENCE_MAX_LEN + 10)
    sents = [spm_tokenize_tokens(toks, enc)]
    tags = model.tag_sentences(sents)
    assert len(tags[0]) == SENTENCE_MAX_LEN + 10


def test_spu_context_udf(spark):
    from vnlp_spark.functions.tokenizer import treebank_tokenize
    from vnlp_spark.plans.corpus import generate_web_pages

    docs = generate_web_pages(spark, 20)
    udf = make_spu_context_tagger_udf(spark, units=16, emb_dim=16)
    df = docs.select(treebank_tokenize("text").alias("tokens"))
    rows = df.select("tokens", udf("tokens").alias("labels")).collect()
    assert len(rows) > 0
    for r in rows:
        assert len(r["labels"]) == len(r["tokens"])
    # deterministic across executions
    rows2 = df.select("tokens", udf("tokens").alias("labels")).collect()
    assert sorted(map(repr, rows)) == sorted(map(repr, rows2))


def test_spu_context_annotate_stage(spark):
    """annotate_stage runs the full 4-branch architecture on the KG plan's
    sentence rows: same schema as the heuristic annotated rows,
    deterministic, shuffle-free."""
    import io
    from contextlib import redirect_stdout

    from vnlp_spark.plans.corpus import generate_web_pages
    from vnlp_spark.plans.pipeline import annotate_stage, run_kg_pipeline

    docs = generate_web_pages(spark, 15)
    kg = run_kg_pipeline(docs)
    ann = annotate_stage(kg.sentences)
    buf = io.StringIO()
    with redirect_stdout(buf):
        ann.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan
    heur = kg.annotated
    assert ann.schema == heur.schema

    def snap(df):
        return sorted(
            (r["url"], r["sent_id"], r["m"])
            for r in df.select(
                "url", "sent_id", F.to_json("mentions").alias("m")
            ).collect()
        )

    first = snap(ann)
    assert first == snap(annotate_stage(kg.sentences))
    assert len(first) > 0


def test_backward_stack_matches_keras_per_layer_reversal():
    """Keras stacks set go_backwards=True on EACH layer: layer 1 returns
    its sequence in processing (reversed) order and layer 2 reverses its
    input again.  Pin _GRUStack(go_backwards=True) against that explicit
    per-layer computation (ADVICE r02: a single up-front reversal feeds
    layer 2 the states in the wrong order)."""
    from vnlp_spark.operators.spu_context import _GRUStack

    rng = np.random.default_rng(3)
    units, d, t = 4, 3, 6
    w = _GRUStack.init_weights(rng, d, units)
    # make weights non-symmetric so order errors can't cancel
    w = [a + 0.1 * np.arange(a.size, dtype=np.float32).reshape(a.shape) / a.size
         for a in w]
    stack = _GRUStack(w, go_backwards=True)
    x = rng.standard_normal((2, t, d)).astype(np.float32)

    # explicit Keras semantics, layer by layer
    (W1, U1, b1), (W2, U2, b2) = stack.layers
    seq1, _ = _GRUStack._cell_seq(x[:, ::-1, :], W1, U1, b1, return_seq=True)
    _, h2 = _GRUStack._cell_seq(seq1[:, ::-1, :], W2, U2, b2, return_seq=False)
    np.testing.assert_allclose(stack(x), h2, rtol=1e-6)

    # and show the single-reversal variant is a DIFFERENT function
    _, h_single = _GRUStack._cell_seq(seq1, W2, U2, b2, return_seq=False)
    assert not np.allclose(h2, h_single)
