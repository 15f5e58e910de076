"""Deterministic synthetic Common-Crawl-style Turkish web corpus.

Matches the BASELINE input_hint shape exactly:
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.

Generation is **fully native and distributed** — ``spark.range`` plus
xxhash64-derived selections, no driver-side loop, no Python UDF — so the
same generator scales from sf0.001 tests to arbitrarily large benchmark
corpora with perfect determinism (content is a pure function of doc id).

The sentence pool embeds the reference's golden sentences (so pipeline
parity is exercised end to end) plus entity-bearing templates with a
Zipf-skewed head-entity distribution (İstanbul/Türkiye/Ankara dominate),
which is what makes the entity joins' skew handling measurable.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

GOLDEN_SENTENCES = [
    "Üniversite sınavlarına canla başla çalışıyorlardı.",
    "Şimdi baştan başla.",
    "Benim adım Melikşah, 29 yaşındayım, İstanbul'da ikamet ediyorum ve VNGRS AI Takımı'nda çalışıyorum.",
    "Oğuz'un kırmızı bir Astra'sı vardı.",
    "Onun için yol arkadaşlarımızı titizlikle seçer, kendilerini iyice sınarız.",
]

# entity-bearing templates; head entities repeat with Zipfian weight
_TEMPLATE_SENTENCES = [
    "Ahmet dün İstanbul'da yeni bir mağaza açtı.",
    "Mehmet geçen yıl Ankara'da üniversiteyi bitirdi.",
    "Ayşe sabah Türkiye'nin en büyük köprüsünü gördü.",
    "Fatma akşam İstanbul'dan Ankara'ya gitti.",
    "Mustafa Galatasaray maçını arkadaşlarıyla izledi.",
    "Zeynep Fenerbahçe kulübüne üye oldu.",
    "Ali TÜBİTAK projesini başarıyla tamamladı.",
    "Hasan İzmir'de denize girdi.",
    "Elif Boğaziçi Üniversitesi'nde ders veriyor.",
    "Murat Türkiye İş Bankası'nda çalışıyor.",
    "Emre İstanbul Belediyesi'nin yeni parkını gezdi.",
    "Selin Ankara'daki müzeyi çok beğendi.",
    "Kaan Trabzon'dan taze balık getirdi.",
    "Merve Avrupa turuna İstanbul'dan başladı.",
    "Osman Türkiye'nin güneyinde tatil yaptı.",
    "Deniz TRT belgeselini büyük bir keyifle izledi.",
    "Ceren İstanbul Boğazı'nda tekne turuna katıldı.",
    "Burak Almanya'dan Türkiye'ye kesin dönüş yaptı.",
    "Pınar Kadıköy'de küçük bir kafe işletiyor.",
    "Arda Beşiktaş'tan Üsküdar'a vapurla geçti.",
    "Yusuf akşam yemeğini ailesiyle yedi.",
    "Kitapları okumak insanı zenginleştirir.",
    "Hava bugün çok güzel ve güneşli.",
    "Yeni teknoloji ürünleri hızla yayılıyor.",
    "Ekonomi haberleri gündemi belirliyor.",
]

_EN_SENTENCES = [
    "The quick brown fox jumps over the lazy dog.",
    "Markets rallied after the announcement on Tuesday.",
    "Researchers published new findings about language models.",
]

SENTENCE_POOL = GOLDEN_SENTENCES + _TEMPLATE_SENTENCES
MAX_SENTS_PER_DOC = 12


def generate_web_pages(
    spark: SparkSession,
    n_docs: int,
    n_partitions: int | None = None,
    unique_tail: bool = False,
) -> DataFrame:
    """n_docs synthetic pages, 90% Turkish, deterministic in n_docs.

    ``unique_tail=True`` appends a per-document unique sentence (numeric
    id tokens), making every document's sentence set distinct — use for
    compute-bound benchmarking where sentence-dedup/caching must not
    collapse the workload."""
    if n_partitions is None:
        n_partitions = max(8, spark.sparkContext.defaultParallelism)
    pool_tr = F.array(*[F.lit(s) for s in SENTENCE_POOL])
    pool_en = F.array(*[F.lit(s) for s in _EN_SENTENCES])

    df = spark.range(0, n_docs, 1, n_partitions)
    # multi-arg xxhash64 (no id arithmetic — would overflow long under ANSI
    # at trillion-doc ids)
    h = lambda j: F.xxhash64(F.col("id"), F.lit(42), F.lit(j))  # noqa: E731
    is_tr = F.pmod(h(0), F.lit(100)) < 90
    n_sents = (F.pmod(h(1), F.lit(MAX_SENTS_PER_DOC)) + 1).cast("int")

    # Zipf-ish skew: half of all sentence draws collapse onto the first 6
    # pool entries (the İstanbul/Türkiye-heavy head), half spread uniformly.
    def pick(j):
        u = F.pmod(h(10 + j), F.lit(1000))
        head = F.pmod(u, F.lit(6)) + 1
        tail = F.pmod(u, F.lit(len(SENTENCE_POOL))) + 1
        idx_tr = F.when(u < 500, head).otherwise(tail)
        idx_en = F.pmod(u, F.lit(len(_EN_SENTENCES))) + 1
        sent = F.when(is_tr, F.element_at(pool_tr, idx_tr.cast("int"))).otherwise(
            F.element_at(pool_en, idx_en.cast("int"))
        )
        if unique_tail:
            # prefix a unique record marker INTO every sentence: boundaries
            # survive (capitalized start, original final punctuation) but no
            # two sentence instances are equal -> sentence-level caching and
            # dedup get zero hits; the workload is true per-sentence compute
            sent = F.concat(
                F.lit("Kayıt "),
                F.pmod(h(40 + j), F.lit(1_000_000_000)).cast("string"),
                F.lit(" uyarınca "),
                sent,
            )
        return sent

    sent_cols = F.array(*[pick(j) for j in range(MAX_SENTS_PER_DOC)])
    text = F.concat_ws(" ", F.slice(sent_cols, 1, n_sents))

    return df.select(
        F.concat(F.lit("https://tr.example.com/page/"), F.col("id")).alias("url"),
        (F.timestamp_seconds(F.lit(1700000000) + F.pmod(h(2), F.lit(86400 * 180)))).alias("warc_ts"),
        F.when(F.pmod(h(3), F.lit(10)) < 3, F.encode(text, "UTF-8")).alias("html"),
        text.alias("text"),
        F.when(is_tr, F.lit("tr")).otherwise(F.lit("en")).alias("lang"),
    )


def docs_to_web_pages(docs: DataFrame) -> DataFrame:
    """Adapter: the driver's ``documents`` fixture (doc_id, text, lang, …)
    -> the input_hint schema, so every pipeline stage runs unchanged on
    either table."""
    return docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
