"""Spark-side parity: the Column/Arrow-UDF surface must agree byte-for-byte
with the pure-Python cores on a mixed corpus (the per-url byte-identical
invariant), and native expressions must match Python semantics."""
import pyspark.sql.functions as F
import pytest

from vnlp_spark.functions import deasciifier, normalizer, sentence_splitter, text_stats, tokenizer
from vnlp_spark.functions.numbers import convert_numbers_to_words, py_convert_numbers_to_words
from vnlp_spark.operators import morphology, stopwords

CORPUS = [
    "Üniversite sınavlarına canla başla çalışıyorlardı.",
    "Şimdi baştan başla.",
    'Av. Meryem Beşer, 3.5 yıldır süren dava ile ilgili dedi ki, "Duruşma bitti, dava lehimize sonuçlandı." Bu harika bir haber.',
    "Benim adım Melikşah, 29 yaşındayım, İstanbul'da ikamet ediyorum ve VNGRS AI Takımı'nda çalışıyorum.",
    "Oğuz'un kırmızı bir Astra'sı vardı.",
    "Test karakterleri: İIĞÜÖŞÇ",
    "noktalamalı test cümlesidir...",
    "merhâbâ gûzel yîlkî atî",
    "Geldi mi? Evet geldi. Dr. Ahmet T.C. vatandaşı.",
    "number 3 and 1,15 and 2.000 here",
    "",
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame([(i, t) for i, t in enumerate(CORPUS)], ["id", "text"]).cache()


def _col_vs_py(docs, column, pyfn):
    rows = docs.select("id", column.alias("out")).orderBy("id").collect()
    for r, text in zip(rows, CORPUS):
        assert r["out"] == pyfn(text), f"mismatch on {text!r}: {r['out']!r} != {pyfn(text)!r}"


def test_turkish_lower_native_parity(docs):
    _col_vs_py(docs, normalizer.turkish_lower("text"), normalizer.py_turkish_lower)


def test_remove_punctuations_native_parity(docs):
    _col_vs_py(docs, normalizer.remove_punctuations("text"), normalizer.py_remove_punctuations)


def test_remove_accents_native_parity(docs):
    _col_vs_py(docs, normalizer.remove_accent_marks("text"), normalizer.py_remove_accent_marks)


def test_digits_to_zero_native_parity(docs):
    _col_vs_py(docs, normalizer.digits_to_zero("text"), normalizer.py_digits_to_zero)


def test_split_sentences_udf_parity(docs):
    _col_vs_py(
        docs,
        sentence_splitter.split_sentences("text"),
        sentence_splitter.py_split_sentences,
    )


def test_treebank_udf_parity(docs):
    _col_vs_py(docs, tokenizer.treebank_tokenize("text"), tokenizer.py_treebank_tokenize)


# each tokenizes differently under Java's (?U)\\w: combining mark, zero-width
# joiner, superscript digit, vulgar fraction
WORDPUNCT_EDGES = ["Kafe\u0301 açık", "a\u200db", "x²y", "İstanbul'da 3½ saat"]


def test_wordpunct_udf_parity(spark):
    texts = CORPUS + WORDPUNCT_EDGES
    df = spark.createDataFrame(list(enumerate(texts)), ["id", "text"])
    rows = df.select("id", tokenizer.word_punct_tokenize("text").alias("out")).orderBy("id").collect()
    assert [r["out"] for r in rows] == [tokenizer.py_word_punct_tokenize(t) for t in texts]


def test_deasciify_udf_parity(spark):
    data = [(0, "boyle sey gormedim duymadim".split()), (1, ["yatirdim"]), (2, ["Opusmegi", "cagristiran"])]
    df = spark.createDataFrame(data, ["id", "tokens"])
    rows = df.select("id", deasciifier.deasciify("tokens").alias("out")).orderBy("id").collect()
    from vnlp_spark.functions.deasciifier import py_deasciify

    for r, (_, toks) in zip(rows, data):
        assert r["out"] == py_deasciify(toks)


def test_numbers_udf_parity(spark):
    data = [(0, ["sabah", "2", "yumurta"]), (1, ["1,15", "kilo"]), (2, ["1000", "x", "3.5"])]
    df = spark.createDataFrame(data, ["id", "tokens"])
    rows = df.select("id", convert_numbers_to_words("tokens").alias("out")).orderBy("id").collect()
    for r, (_, toks) in zip(rows, data):
        assert r["out"] == py_convert_numbers_to_words(toks)


def test_morphology_udf_golden(spark):
    df = spark.createDataFrame(
        [(0, ["Üniversite", "sınavlarına", "canla", "başla", "çalışıyorlardı", "."])],
        ["id", "tokens"],
    )
    out = df.select(morphology.analyze_morphology("tokens").alias("analyses")).collect()[0]["analyses"]
    assert out == [
        "üniversite+Noun+A3sg+Pnon+Nom",
        "sınav+Noun+A3pl+P3sg+Dat",
        "can+Noun+A3sg+Pnon+Ins",
        "baş+Noun+A3sg+Pnon+Ins",
        "çalış+Verb+Pos+Prog1+A3pl+Past",
        ".+Punc",
    ]


def test_stopword_filter_spark(spark):
    toks = "acaba bugün kahvaltıda kahve yerine çay mı içsem ya da neyse süt içeyim".split()
    df = spark.createDataFrame([(i, t) for i, t in enumerate(toks)], ["pos", "token"])
    kept = [r["token"] for r in stopwords.drop_stop_words(df).orderBy("pos").collect()]
    assert kept == "bugün kahvaltıda kahve çay içsem süt içeyim".split()


def test_dynamic_stopwords_spark_matches_py(spark):
    toks = (
        "ben bugün gidip aşı olacağım sonra da eve gelip telefon açacağım "
        "aşı nasıl etkiledi eve gelip anlatırım aşı olmak bu dönemde çok "
        "ama ama ama ama çok önemli"
    ).split()
    df = spark.createDataFrame([(t,) for t in toks], ["token"])
    detected = stopwords.dynamically_detect_stop_words(df)
    assert set(detected) == {"ama", "aşı", "çok", "eve", "gelip"}


def test_quality_and_langid_columns(docs):
    out = docs.select(
        text_stats.quality_score("text").alias("q"),
        text_stats.lang_id_turkish_score("text").alias("tr"),
        text_stats.whitespace_token_count("text").alias("n"),
        text_stats.normalized_fingerprint("text").alias("fp"),
    ).collect()
    for r in out:
        assert r["q"] is None or 0.0 <= r["q"] <= 1.0
        assert r["fp"] is None or len(r["fp"]) == 32
    # Turkish rows should outscore the English-ish row
    scores = {t: r["tr"] for t, r in zip(CORPUS, docs.select(text_stats.lang_id_turkish_score("text").alias("tr")).collect())}
