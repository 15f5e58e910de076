"""Output pins for every Python-UDF operator of the library.

Each Column function runs over one fixed frame: the adversarial
``corpus`` texts with their treebank tokens (tokenized in plain Python,
so the input does not depend on the UDFs), plus a null, an empty, a
whitespace-only, an emoji, a 5,000-character and a 46-token text.  Each
output is pinned by (row count, null count, ``bit_xor(xxhash64(id, out))``;
the row id keeps equal values on different rows from cancelling), so a
change to how an operator crosses the Python boundary cannot alter
a single value unnoticed.  The vector operators read a native
``sin(id * i)`` vector per row; ``ivf_topk`` and the multimodal stages
are pinned over all their output columns.
"""
from __future__ import annotations

import pyspark.sql.functions as F

from vnlp_spark.functions.deasciifier import deasciify
from vnlp_spark.functions.display import dp_displacy_json, ner_displacy_json
from vnlp_spark.functions.numbers import convert_numbers_to_words
from vnlp_spark.functions.sentence_splitter import split_sentences
from vnlp_spark.functions.tokenizer import (
    py_treebank_tokenize,
    treebank_tokenize,
    word_punct_tokenize,
)
from vnlp_spark.operators.charner import charner_pairs
from vnlp_spark.operators.dep_parser import dependency_parse
from vnlp_spark.operators.entity_resolution import _damerau_levenshtein_udf
from vnlp_spark.operators.morphology import analyze_morphology
from vnlp_spark.operators.multimodal import extract_features, sample_frames, synth_media
from vnlp_spark.operators.ner import mentions_from_labels, ner_mentions, ner_tags
from vnlp_spark.operators.pos import pos_tags
from vnlp_spark.operators.sentiment import sentiment_label, sentiment_proba
from vnlp_spark.operators.similarity import (
    fixed_unit_centroids,
    ivf_topk,
    make_ivf_cell_udf,
    make_lsh_bucket_udf,
)
from vnlp_spark.operators.spu_context import make_spu_context_tagger_udf
from vnlp_spark.operators.subword import make_spm_ids_udf
from vnlp_spark.operators.validity import is_token_valid_turkish, tokens_validity
from vnlp_spark.plans.corpus import SENTENCE_POOL

DIM = 16

# (rows, nulls, bit_xor(xxhash64(id, out))) per Column function and
# (rows, bit_xor(xxhash64(all columns))) per whole-frame operator, computed
# while the operators still ran as pandas UDFs and mapInPandas stages
PINS = {
    "split_sentences": (11549, 1, 3864789461145273917),
    "treebank_tokenize": (11549, 1, 4624658365371831817),
    "word_punct_tokenize": (11549, 1, -4644776520096098410),
    "charner_pairs": (11549, 1, 5658043941209123898),
    "sentiment_proba": (11549, 1, 1297873810024570360),
    "sentiment_label": (11549, 1, 2571783706293037447),
    "deasciify": (11549, 1, 6597013070506619203),
    "convert_numbers_to_words": (11549, 1, 951596554808111432),
    "analyze_morphology": (11549, 1, -325386780519548137),
    "pos_tags": (11549, 1, 8485401718676065958),
    "ner_tags": (11549, 1, -8617592437038191283),
    "dependency_parse": (11549, 1325, -4554050503836432546),
    "dependency_parse_partial_analyses": (11549, 1325, -4554050503836432546),
    "ner_mentions": (11549, 1, -6169971633590171730),
    "mentions_from_labels": (11549, 1, -6169971633590171730),
    "dp_displacy_json": (11549, 1325, 3873208477900544871),
    "ner_displacy_json": (11549, 1, -2495349436464349792),
    "is_token_valid_turkish": (11549, 5, 4146855028191268986),
    "tokens_validity": (11549, 1, 8381415554320599116),
    "damerau_levenshtein": (11549, 0, 7733680422761802963),
    "spm_ids": (11549, 1, -5948302280376458611),
    "spu_context_tagger": (11549, 1, -1206715962300918977),
    "lsh_bucket": (11549, 0, -8416436542028707701),
    "ivf_cell": (11549, 0, -2315143514253523169),
    "ivf_topk": (50, -4181594763075034828),
    "extract_features": (60, 2778015138925621950),
    "sample_frames": (131, 7094059877323773771),
}


def _edge_texts() -> list:
    long_text = ""
    i = 0
    while len(long_text) < 5000:
        long_text += SENTENCE_POOL[i % len(SENTENCE_POOL)] + " "
        i += 1
    return [
        None,
        "",
        "   ",
        "Merhaba 😀 dünya! 🎉🎉 İstanbul'a gittik.",
        long_text[:5000],
        " ".join(["kedi"] * 45) + ".",
    ]


def _frame(spark, corpus):
    texts = list(corpus) + _edge_texts()
    rows = [
        (i, t, None if t is None else py_treebank_tokenize(t))
        for i, t in enumerate(texts)
    ]
    vec = F.transform(F.sequence(F.lit(1), F.lit(DIM)), lambda i: F.sin(F.col("id") * i))
    return spark.createDataFrame(rows, "id long, text string, tokens array<string>") \
        .withColumn("vec", F.when(F.col("text").isNotNull(), vec))


def _digest(df, cols) -> tuple:
    h = df.select(F.xxhash64(*cols).alias("h"))
    return tuple(h.selectExpr("count(1)", "bit_xor(h)").first())


def test_operator_digests(spark, corpus):
    df = _frame(spark, corpus)
    centroids = fixed_unit_centroids(DIM, 8)
    annotated = df.select(
        "*",
        analyze_morphology("tokens").alias("analyses"),
        pos_tags("tokens").alias("upos"),
        ner_tags("tokens").alias("labels"),
    ).withColumn("arcs", dependency_parse("tokens", "analyses"))
    first, second = F.get("tokens", 0), F.get("tokens", 1)
    outputs = {
        "split_sentences": split_sentences("text"),
        "treebank_tokenize": treebank_tokenize("text"),
        "word_punct_tokenize": word_punct_tokenize("text"),
        "charner_pairs": charner_pairs("text"),
        "sentiment_proba": sentiment_proba("text"),
        "sentiment_label": sentiment_label("text"),
        "deasciify": deasciify("tokens"),
        "convert_numbers_to_words": convert_numbers_to_words("tokens"),
        "analyze_morphology": F.col("analyses"),
        "pos_tags": F.col("upos"),
        "ner_tags": F.col("labels"),
        "dependency_parse": F.col("arcs"),
        "dependency_parse_partial_analyses": dependency_parse(
            "tokens", F.when(F.col("id") % 2 == 0, F.col("analyses"))),
        "ner_mentions": ner_mentions("tokens"),
        "mentions_from_labels": mentions_from_labels("tokens", "labels"),
        "dp_displacy_json": dp_displacy_json(
            "arcs", F.when(F.col("id") % 3 != 0, F.col("upos"))),
        "ner_displacy_json": ner_displacy_json("text", "tokens", "labels"),
        "is_token_valid_turkish": is_token_valid_turkish(first),
        "tokens_validity": tokens_validity("tokens"),
        "damerau_levenshtein": _damerau_levenshtein_udf(first, second),
        "spm_ids": make_spm_ids_udf(spark)("tokens"),
        "spu_context_tagger": make_spu_context_tagger_udf(
            spark, units=16, emb_dim=16)("tokens"),
        "lsh_bucket": make_lsh_bucket_udf(DIM)("vec"),
        "ivf_cell": make_ivf_cell_udf(centroids)("vec"),
    }
    out = annotated.select("id", *[c.alias(n) for n, c in outputs.items()])
    aggs = [F.count(F.lit(1))]
    for n in outputs:
        aggs += [F.count_if(F.col(n).isNull()), F.bit_xor(F.xxhash64("id", n))]
    got_row = out.agg(*aggs).first()
    got = {
        n: (got_row[0], got_row[1 + 2 * k], got_row[2 + 2 * k])
        for k, n in enumerate(outputs)
    }

    queries = df.filter(F.col("id") < 10).select(
        F.col("id").alias("query_id"), F.col("vec").alias("query_vec"))
    corpus_vecs = df.filter(F.col("vec").isNotNull()).select(
        F.col("id").alias("vec_id"), F.col("vec").alias("embedding"))
    topk = ivf_topk(corpus_vecs, queries, dim=DIM, k=5, n_cells=8, n_probe=2,
                    centroids=centroids)
    got["ivf_topk"] = _digest(topk, topk.columns)
    media = synth_media(spark, 60)
    feats = extract_features(media, fake=True)
    got["extract_features"] = _digest(feats, feats.columns)
    frames = sample_frames(media, every_ms=1000, fake=True)
    got["sample_frames"] = _digest(frames, frames.columns)

    bad = {n: (got[n], PINS.get(n)) for n in got if got[n] != PINS.get(n)}
    assert not bad, bad
