"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-pipeline slice on sf0.001;
``queries()`` exposes one callable per implemented operator from
SURVEY.md §2 (plus the training-data-pipeline additions);
``oracle_sql()`` gives the DuckDB-equivalent SQL for every query that is
ANSI-SQL-expressible (same column names — the driver hash-compares values).

Oracle strategies, in increasing ingenuity:
- direct translation (aggregations, windows, joins, native text ops);
- algorithm replay with seeded constants inlined as SQL literals
  (LSH hyperplanes, IVF centroids, simhash bit votes, the Treebank
  regexp_replace chain, the Turkish number digit rules);
- invariant oracles where the contract is the check (multimodal
  unit-norm features).

Genuinely non-SQL-expressible ops (python-`regex` sentence splitting,
morphology/NER/parse + the KG stages built on them, decision-list
deasciification, trained word2vec, displaCy JSON) are registered without
an oracle and get rows-only checks; their semantics are covered instead
by the corpus-wide differential parity suite against the runnable
reference layer (tests/test_reference_parity.py) and the independent
UD-guideline gold (vnlp_spark/plans/gold_blind/*.conllu, scored by
vnlp_spark/plans/gold_ud.py).
"""
from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# --- helpers -------------------------------------------------------------

_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# Static stopword list, inlined into both Spark filters and oracle SQL so
# the two sides share one source of truth.
def _stopwords() -> list[str]:
    from vnlp_spark.resources import stop_words

    return sorted(stop_words())


def _sql_quote_list(words: list[str]) -> str:
    return ", ".join("'" + w.replace("'", "''") + "'" for w in words)


# --- flagship ------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full KG-construction pipeline (north rule) on the
    sf0.001 documents — sentence split → tokenize → morphology → NER →
    dependency parse → (subj, pred, obj) triple extraction."""
    from vnlp_spark.plans.corpus import docs_to_web_pages
    from vnlp_spark.plans.pipeline import run_kg_pipeline

    docs = docs_to_web_pages(_load(spark, "/root/testdata/sf0.001", "documents"))
    kg = run_kg_pipeline(docs, lang=None)
    return kg.triples.select(
        "url", "sent_id", "subj", "pred", "obj", "obl", "subj_type", "obj_type"
    )


# --- per-operator queries -----------------------------------------------

def _q_turkish_lower(spark, sf_dir):
    from vnlp_spark.functions.normalizer import turkish_lower

    return (
        _load(spark, sf_dir, "documents")
        .select("doc_id", turkish_lower("text").alias("text_lower"))
        .orderBy("doc_id")
    )


def _q_remove_punct(spark, sf_dir):
    from vnlp_spark.functions.normalizer import remove_punctuations

    return (
        _load(spark, sf_dir, "documents")
        .select("doc_id", remove_punctuations("text").alias("text_clean"))
        .orderBy("doc_id")
    )


def _q_remove_accents(spark, sf_dir):
    from vnlp_spark.functions.normalizer import remove_accent_marks

    return (
        _load(spark, sf_dir, "documents")
        .select("doc_id", remove_accent_marks("text").alias("text_noaccent"))
        .orderBy("doc_id")
    )


def _q_digits_to_zero(spark, sf_dir):
    from vnlp_spark.functions.normalizer import digits_to_zero

    return (
        _load(spark, sf_dir, "documents")
        .select("doc_id", digits_to_zero("text").alias("text_masked"))
        .orderBy("doc_id")
    )


def _q_lang_filter(spark, sf_dir):
    return (
        _load(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy("lang")
    )


def _q_token_frequency(spark, sf_dir):
    from vnlp_spark.operators.stopwords import token_frequencies

    docs = _load(spark, sf_dir, "documents")
    toks = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .filter(F.length("token") > 0)
    )
    return token_frequencies(toks).limit(200)


def _q_stopword_drop(spark, sf_dir):
    from vnlp_spark.operators.stopwords import token_frequencies

    docs = _load(spark, sf_dir, "documents")
    toks = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .filter(F.length("token") > 0)
        .filter(~F.col("token").isin(_stopwords()))
    )
    return token_frequencies(toks).limit(200)


def _q_token_count(spark, sf_dir):
    from vnlp_spark.functions.text_stats import whitespace_token_count

    return (
        _load(spark, sf_dir, "documents")
        .select("doc_id", whitespace_token_count("text").alias("n_tokens"))
        .orderBy("doc_id")
    )


def _q_doc_quality(spark, sf_dir):
    from vnlp_spark.functions.text_stats import punct_ratio, digit_ratio

    return (
        _load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.round(punct_ratio("text"), 6).alias("punct_ratio"),
            F.round(digit_ratio("text"), 6).alias("digit_ratio"),
        )
        .orderBy("doc_id")
    )


def _q_lang_id(spark, sf_dir):
    from vnlp_spark.functions.text_stats import turkish_char_ratio

    return (
        _load(spark, sf_dir, "documents")
        .select("doc_id", F.round(turkish_char_ratio("text"), 6).alias("tr_char_ratio"))
        .orderBy("doc_id")
    )


def _q_dedup_exact(spark, sf_dir):
    from vnlp_spark.functions.text_stats import normalized_fingerprint

    docs = _load(spark, sf_dir, "documents")
    return (
        docs.withColumn("fp", normalized_fingerprint("text"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_dupes"))
        .orderBy("keep_doc_id")
    )


def _q_doc_rolling_hash(spark, sf_dir):
    from vnlp_spark.functions.text_stats import rolling_hash_fingerprint

    return (
        _load(spark, sf_dir, "documents")
        .select("doc_id", rolling_hash_fingerprint("text").alias("rhash"))
        .orderBy("doc_id")
    )


def _q_ngram_jaccard_pairs(spark, sf_dir):
    from vnlp_spark.operators.dedup import ngram_jaccard_dedup

    # exact_blocked = the all-pairs-within-length-buckets audit twin the
    # DuckDB oracle replays; the default mode ("lsh") is the 100 TB path
    return ngram_jaccard_dedup(
        _load(spark, sf_dir, "documents"), min_jaccard=0.8, mode="exact_blocked"
    ).orderBy("a", "b")


def _q_pricing_summary(spark, sf_dir):
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def _q_top_suppliers(spark, sf_dir):
    li = _load(spark, sf_dir, "lineitem")
    sup = _load(spark, sf_dir, "supplier")
    return (
        li.groupBy("l_suppkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "revenue")
        .orderBy(F.desc("revenue"), "s_suppkey")
        .limit(20)
    )


def _q_events_by_type(spark, sf_dir):
    ev = _load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("event_type")
    )


def _q_embedding_norms(spark, sf_dir):
    emb = _load(spark, sf_dir, "embeddings")
    # cast float32 -> float64 BEFORE the multiply so Spark and the DuckDB
    # oracle run the bit-identical double computation in list order
    vec = F.col("embedding").cast("array<double>")
    dot = F.aggregate(
        F.zip_with(vec, vec, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        emb.select("vec_id", F.round(F.sqrt(dot), 5).alias("l2_norm"))
        .orderBy("vec_id")
    )


# Non-SQL-expressible (python-regex / morphology) — rows-only checks

def _q_sentences(spark, sf_dir):
    from vnlp_spark.functions.sentence_splitter import split_sentences

    return (
        _load(spark, sf_dir, "documents")
        .select("doc_id", F.posexplode(split_sentences("text")).alias("sent_id", "sentence"))
        .orderBy("doc_id", "sent_id")
    )


def _q_treebank_tokens(spark, sf_dir):
    from vnlp_spark.functions.tokenizer import treebank_tokenize

    return (
        _load(spark, sf_dir, "documents")
        .select("doc_id", F.posexplode(treebank_tokenize("text")).alias("tok_idx", "token"))
        .orderBy("doc_id", "tok_idx")
    )


def _q_morph_analyses(spark, sf_dir):
    from vnlp_spark.functions.tokenizer import treebank_tokenize
    from vnlp_spark.operators.morphology import analyze_morphology

    # no lang filter: the synthetic documents table has no 'tr' rows; the
    # analyzer is total (non-Turkish tokens fall back to Unknown analyses)
    return (
        _load(spark, sf_dir, "documents")
        .select("doc_id", treebank_tokenize("text").alias("tokens"))
        .select("doc_id", F.posexplode(analyze_morphology("tokens")).alias("tok_idx", "analysis"))
        .orderBy("doc_id", "tok_idx")
    )


def _q_regional_revenue(spark, sf_dir):
    """TPC-H Q5 shape: 6-table join, dims broadcast, one agg shuffle."""
    li = _load(spark, sf_dir, "lineitem")
    o = _load(spark, sf_dir, "orders")
    c = _load(spark, sf_dir, "customer")
    s = _load(spark, sf_dir, "supplier")
    n = _load(spark, sf_dir, "nation")
    r = _load(spark, sf_dir, "region")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("r_name", "n_name")
    )


def _q_quality_score(spark, sf_dir):
    from vnlp_spark.functions.text_stats import quality_score

    return (
        _load(spark, sf_dir, "documents")
        .select("doc_id", quality_score("text").alias("quality"))
        .orderBy("doc_id")
    )


def _q_events_user_deltas(spark, sf_dir):
    from pyspark.sql import Window

    ev = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "event_id",
            "user_id",
            F.round(F.col("value") - F.lag("value").over(w), 2).alias("value_delta"),
            F.row_number().over(w).alias("event_rank"),
        )
        .orderBy("event_id")
    )


def _q_events_sessionize(spark, sf_dir):
    """Gap-based sessionization — the clickstream/training-pipeline
    primitive: a user's new session starts when the inter-event gap
    exceeds 30 minutes.  Expressed as pure window functions (lag +
    conditional cumulative sum), so Catalyst plans ONE shuffle on
    user_id and the whole computation stays in whole-stage codegen; at
    100 TB the identical plan partitions by user and scales linearly
    (the streaming twin is a session window with watermarking in
    streaming/stream_kg.py)."""
    from pyspark.sql import Window

    ev = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NTZ -> timestamp -> double; gaps and durations are differences, so
    # the session-timezone offset cancels and matches DuckDB's epoch()
    sec = F.col("ts").cast("timestamp").cast("double")
    gap = sec - F.lag(sec).over(w)
    new_s = F.when(gap.isNull() | (gap > 1800.0), 1).otherwise(0)
    sess = ev.withColumn("new_s", new_s).withColumn(
        "session_no", F.sum("new_s").over(w).cast("long")
    )
    return (
        sess.groupBy("user_id", "session_no")
        .agg(
            F.count("*").alias("n_events"),
            # floor-to-whole-seconds before the cast: Spark HALF_UP round vs
            # DuckDB's C-rounding could disagree on an exact .x5 boundary;
            # floor() is identically defined in both engines (event ts are
            # whole-second anyway, so no information is lost)
            F.floor(F.max(sec) - F.min(sec)).cast("double").alias("duration_sec"),
        )
        .orderBy("user_id", "session_no")
    )


def _q_top_orders_per_customer(spark, sf_dir):
    from pyspark.sql import Window

    o = _load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
        .orderBy("o_custkey", "rk")
    )


def _corpus_docs(spark, sf_dir):
    """Deterministic Turkish web corpus in the BASELINE input_hint shape,
    sized to the sf under test (the driver's ``documents`` fixture is
    all-lowercase English — no Turkish entities to extract)."""
    from vnlp_spark.plans.corpus import generate_web_pages

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        n_docs = max(200, int(float(sf) * 200_000))
    except ValueError:
        n_docs = 2000
    return generate_web_pages(spark, n_docs)


def _q_ner_mentions(spark, sf_dir):
    from vnlp_spark.plans.pipeline import run_kg_pipeline

    kg = run_kg_pipeline(_corpus_docs(spark, sf_dir))
    return kg.mentions.orderBy("url", "sent_id", "first_tok")


def _q_pos_tags(spark, sf_dir):
    from vnlp_spark.functions.tokenizer import treebank_tokenize
    from vnlp_spark.operators.pos import pos_tags

    return (
        _load(spark, sf_dir, "documents")
        .select("doc_id", treebank_tokenize("text").alias("tokens"))
        .select("doc_id", F.posexplode(pos_tags("tokens")).alias("tok_idx", "upos"))
        .orderBy("doc_id", "tok_idx")
    )


def _q_dep_parses(spark, sf_dir):
    from vnlp_spark.functions.tokenizer import treebank_tokenize
    from vnlp_spark.operators.dep_parser import dependency_parse
    from vnlp_spark.operators.morphology import analyze_morphology

    df = (
        _load(spark, sf_dir, "documents")
        .select("doc_id", treebank_tokenize("text").alias("tokens"))
        .withColumn("analyses", analyze_morphology("tokens"))
        .select("doc_id", F.explode(dependency_parse("tokens", "analyses")).alias("arc"))
    )
    return df.select(
        "doc_id",
        F.col("arc.idx").alias("idx"),
        F.col("arc.token").alias("token"),
        F.col("arc.head").alias("head"),
        F.col("arc.deprel").alias("deprel"),
    ).orderBy("doc_id", "idx")


def _q_kg_triples(spark, sf_dir):
    from vnlp_spark.plans.corpus import docs_to_web_pages
    from vnlp_spark.plans.pipeline import run_kg_pipeline

    docs = docs_to_web_pages(_load(spark, sf_dir, "documents"))
    kg = run_kg_pipeline(docs, lang=None)
    return kg.triples.select("url", "sent_id", "subj", "pred", "obj", "obl").orderBy(
        "url", "sent_id", "pred", "subj", "obj", "obl"
    )


def _q_kg_entities(spark, sf_dir):
    from vnlp_spark.plans.pipeline import run_kg_pipeline

    kg = run_kg_pipeline(_corpus_docs(spark, sf_dir))
    return kg.entities.orderBy(F.desc("n_mentions"), "canon_key", "type")


def _q_kg_edges(spark, sf_dir):
    from vnlp_spark.plans.pipeline import run_kg_pipeline

    kg = run_kg_pipeline(_corpus_docs(spark, sf_dir))
    # epoch seconds instead of raw timestamp: value-identical across the
    # Spark session timezone and DuckDB, so the oracle hash is TZ-proof
    return (
        kg.edges.withColumn(
            "warc_epoch", F.col("warc_ts").cast("long")
        )
        .drop("warc_ts")
        .orderBy("url", "pred", "subj", "obj", "subj_id", "obj_id")
    )


def _q_sentiment(spark, sf_dir):
    from vnlp_spark.operators.sentiment import sentiment_proba

    return (
        _load(spark, sf_dir, "documents")
        .select("doc_id", F.round(sentiment_proba("text"), 4).alias("p_positive"))
        .orderBy("doc_id")
    )


def _q_deasciify(spark, sf_dir):
    from vnlp_spark.functions.deasciifier import deasciify

    return (
        _load(spark, sf_dir, "documents")
        .select("doc_id", F.split(F.col("text"), " ").alias("tokens"))
        .select("doc_id", F.concat_ws(" ", deasciify("tokens")).alias("text_deascii"))
        .orderBy("doc_id")
    )


def _q_numbers_to_words(spark, sf_dir):
    from vnlp_spark.functions.numbers import convert_numbers_to_words

    # the driver's documents fixture contains ZERO numeric tokens, so the
    # raw table would make this check vacuous (identity).  Prepend two
    # deterministic numeric tokens per doc — a 4-digit int (exercises the
    # yüz/bin digit rules incl. the 1000..1999 "bin" quirk) and an "a,bb"
    # decimal (exercises the virgül + leading/trailing-zero rules) — so
    # the oracle value-checks real conversions on every row.
    num_text = F.concat_ws(
        " ",
        F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"),
        F.concat(
            F.pmod(F.col("doc_id"), F.lit(97)).cast("string"),
            F.lit(","),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(100)).cast("string"), 2, "0"),
        ),
        F.col("text"),
    )
    return (
        _load(spark, sf_dir, "documents")
        .select("doc_id", F.split(num_text, " ").alias("tokens"))
        .select("doc_id", F.concat_ws(" ", convert_numbers_to_words("tokens")).alias("text_num2words"))
        .orderBy("doc_id")
    )


def _q_knn_bruteforce(spark, sf_dir):
    from vnlp_spark.operators.similarity import brute_force_topk

    emb = _load(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return brute_force_topk(emb, queries_df, k=5)


def _q_knn_lsh(spark, sf_dir):
    from vnlp_spark.operators.similarity import lsh_topk

    emb = _load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # n_planes=8 (256 buckets) so the probed candidate set is meaningfully
    # populated at fixture scale; the oracle replays the identical planes
    return lsh_topk(emb, queries_df, dim=dim, k=5, n_planes=8)


_W2V_PLANTED_PAIRS = 3
_W2V_PLANTED_REPEATS = 60


def _q_word2vec_similar(spark, sf_dir):
    """Distributed Word2Vec with a planted-synonym invariant oracle
    (VERDICT r02 #5): three synthetic word pairs are injected into the
    real corpus with IDENTICAL unique contexts, so each planted word's
    nearest neighbour in the trained space must be its partner — a
    value-checkable property of the training, robust to partitioning
    nondeterminism in the exact float values."""
    from vnlp_spark.operators.embeddings import most_similar, train_word2vec, vectors_table

    toks = (
        _load(spark, sf_dir, "documents")
        .select(F.split(F.lower(F.col("text")), r"\s+").alias("tokens"))
    )
    planted_rows = []
    for i in range(_W2V_PLANTED_PAIRS):
        ctx = [f"zzctxa{i}", f"zzctxb{i}", f"zzctxc{i}", f"zzctxd{i}"]
        for w in (f"zzsyna{i}", f"zzsynb{i}"):
            planted_rows += [
                (ctx[:2] + [w] + ctx[2:],)
            ] * _W2V_PLANTED_REPEATS
    planted = spark.createDataFrame(planted_rows, ["tokens"])
    model = train_word2vec(
        toks.union(planted), dim=16, min_count=2, max_iter=3, seed=42
    )
    # vocabulary-sized table; no .cache() — a cached DF would stay pinned
    # in the driver's session for every later query in the grading run
    vectors = vectors_table(model)
    queries = [f"zzsyna{i}" for i in range(_W2V_PLANTED_PAIRS)]
    sim = most_similar(vectors, queries, topn=1)
    return sim.select(
        "query_word",
        (F.col("word") == F.concat(F.lit("zzsynb"), F.substring("query_word", 7, 9)))
        .alias("top1_is_planted_partner"),
    ).orderBy("query_word")


def _q_knn_ivf(spark, sf_dir):
    from vnlp_spark.operators.similarity import fixed_unit_centroids, ivf_topk

    emb = _load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # fixed seeded centroids (not k-means-trained) so the oracle can inline
    # them and value-check the assign/probe/rerank machinery; the
    # production path uses train_coarse_quantizer (pytest-covered)
    return ivf_topk(
        emb, queries_df, dim=dim, k=5, n_cells=16, n_probe=4,
        centroids=fixed_unit_centroids(dim, 16, seed=7),
    )


def _q_minhash_dedup(spark, sf_dir):
    from vnlp_spark.operators.dedup import minhash_dedup

    return minhash_dedup(_load(spark, sf_dir, "documents")).orderBy("doc_id")


def _q_simhash_pairs(spark, sf_dir):
    from vnlp_spark.operators.dedup import simhash_candidate_pairs

    return simhash_candidate_pairs(_load(spark, sf_dir, "documents")).orderBy("a", "b")


def _q_embedding_near_dups(spark, sf_dir):
    from vnlp_spark.operators.similarity import embedding_near_dups

    emb = _load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])
    # the fixture vectors are random (true near-dups are vanishingly rare at
    # cos>=0.9), so plant deterministic near-copies of the first 20 vectors:
    # id' = id + 10^9, v' = v with one coordinate nudged
    planted = (
        emb.filter(F.col("vec_id") < 20)
        .select(
            (F.col("vec_id") + F.lit(1_000_000_000)).alias("vec_id"),
            F.concat(
                F.slice("embedding", 1, dim - 1),
                F.array((F.element_at("embedding", dim) + F.lit(0.01)).cast("float")),
            ).alias("embedding"),
        )
    )
    both = emb.select("vec_id", "embedding").unionByName(planted)
    return embedding_near_dups(both, dim=dim, min_cos=0.95).orderBy("a", "b")


def _q_multimodal_features(spark, sf_dir):
    from vnlp_spark.operators.multimodal import extract_features, synth_media

    media = synth_media(spark, 200)
    feats = extract_features(media)
    return feats.select(
        "doc_id", "kind", F.round(F.aggregate(F.col("feature").cast("array<double>"), F.lit(0.0), lambda a, x: a + x * x), 5).alias("feature_sq_norm")
    ).orderBy("doc_id")


def _q_token_validity(spark, sf_dir):
    from vnlp_spark.operators.validity import tokens_validity

    return (
        _load(spark, sf_dir, "documents")
        .select("doc_id", F.split(F.col("text"), " ").alias("tokens"))
        .select(
            "doc_id",
            F.size(F.filter(tokens_validity("tokens"), lambda v: v)).alias("n_valid"),
            F.size("tokens").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


def _q_charner(spark, sf_dir):
    from vnlp_spark.operators.charner import charner_pairs

    return (
        _load(spark, sf_dir, "documents")
        .select("doc_id", F.posexplode(charner_pairs("text")).alias("tok_idx", "pair"))
        .select(
            "doc_id",
            "tok_idx",
            F.substring_index("pair", "\x01", 1).alias("token"),
            F.substring_index("pair", "\x01", -1).alias("label"),
        )
        .orderBy("doc_id", "tok_idx")
    )


def _q_displacy_outputs(spark, sf_dir):
    """F2: displaCy-format JSON per document (DP arcs + NER entity spans)
    — presentation output, rows-only check (JSON dict key order is not a
    SQL-replayable contract)."""
    from vnlp_spark.functions.display import dp_displacy_json, ner_displacy_json
    from vnlp_spark.functions.tokenizer import treebank_tokenize
    from vnlp_spark.operators.dep_parser import dependency_parse
    from vnlp_spark.operators.morphology import analyze_morphology
    from vnlp_spark.operators.ner import ner_tags
    from vnlp_spark.operators.pos import pos_from_analyses

    df = (
        _load(spark, sf_dir, "documents")
        .select("doc_id", "text", treebank_tokenize("text").alias("tokens"))
        .withColumn("analyses", analyze_morphology("tokens"))
        .withColumn("arcs", dependency_parse("tokens", "analyses"))
        .withColumn("upos", pos_from_analyses("analyses"))
        .withColumn("labels", ner_tags("tokens"))
    )
    return df.select(
        "doc_id",
        dp_displacy_json("arcs", "upos").alias("dp_displacy"),
        ner_displacy_json("text", "tokens", "labels").alias("ner_displacy"),
    ).orderBy("doc_id")


def _q_er_similarity_link(spark, sf_dir):
    """J6 machinery value check: blocked char-3-gram Jaccard
    similarity join (the entity-resolution primitive behind
    link_mentions), on SQL-reproducible inputs — customer names as
    mentions, supplier names as candidate entities, blocked on their
    shared numeric suffix.  Deterministic ranking (jaccard desc, suppkey)
    instead of max_by so the oracle can replay it exactly."""
    from pyspark.sql import Window

    from vnlp_spark.operators.entity_resolution import char_ngrams, jaccard

    cust = (
        _load(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("mention"),
            F.substring("c_name", -3, 3).alias("_block"),
            char_ngrams(F.col("c_name")).alias("_grams"),
        )
    )
    supp = (
        _load(spark, sf_dir, "supplier")
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("entity"),
            F.substring("s_name", -3, 3).alias("_block"),
            char_ngrams(F.col("s_name")).alias("_cand_grams"),
        )
    )
    joined = cust.join(supp, on="_block").withColumn(
        "sim", F.round(jaccard(F.col("_grams"), F.col("_cand_grams")), 6)
    )
    w = Window.partitionBy("custkey").orderBy(F.desc("sim"), F.col("suppkey"))
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") == 1) & (F.col("sim") >= 0.3))
        .select("custkey", "mention", "suppkey", "entity", "sim")
        .orderBy("custkey")
    )


def _q_dynamic_stopwords(spark, sf_dir):
    from vnlp_spark.operators.stopwords import dynamically_detect_stop_words

    toks = (
        _load(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .filter(F.length("token") > 0)
    )
    detected = dynamically_detect_stop_words(toks)
    return spark.createDataFrame([(w,) for w in sorted(detected)], ["stopword"])


def _q_triple_pr(spark, sf_dir):
    """Two P/R rows: the corpus-pool pinned-fixture gate AND the
    independent UD-guideline gold (plans/gold_blind/tuning.conllu and
    heldout.conllu) — the honest number the VERDICT asked for alongside
    the fixture one."""
    from vnlp_spark.plans.evaluation import score_triples
    from vnlp_spark.plans.gold_ud import score_vs_ud_gold
    from vnlp_spark.plans.gold_ud_blind_data import load_split
    from vnlp_spark.plans.pipeline import run_kg_pipeline

    kg = run_kg_pipeline(_corpus_docs(spark, sf_dir), persist=True)
    pr = score_triples(kg.triples, kg.sentences)
    for df in (kg.annotated, kg.triples, kg.entities):
        df.unpersist()
    ud = score_vs_ud_gold(spark)
    held = score_vs_ud_gold(spark, load_split("heldout"))
    return spark.createDataFrame(
        [
            ("pinned_fixture", round(pr.precision, 4), round(pr.recall, 4),
             pr.n_gold, pr.n_pred, pr.n_hit),
            ("ud_tuning_gold", round(ud["precision"], 4), round(ud["recall"], 4),
             ud["n_gold"], ud["n_pred"], ud["n_hit"]),
            ("ud_heldout_gold", round(held["precision"], 4), round(held["recall"], 4),
             held["n_gold"], held["n_pred"], held["n_hit"]),
        ],
        ["gold_source", "precision", "recall", "n_gold", "n_pred", "n_hit"],
    ).orderBy("gold_source")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "turkish_lower": _q_turkish_lower,
        "remove_punctuations": _q_remove_punct,
        "remove_accent_marks": _q_remove_accents,
        "digits_to_zero": _q_digits_to_zero,
        "lang_filter_stats": _q_lang_filter,
        "token_frequency_topk": _q_token_frequency,
        "stopword_drop_topk": _q_stopword_drop,
        "token_count": _q_token_count,
        "doc_quality_ratios": _q_doc_quality,
        "lang_id_turkish": _q_lang_id,
        "dedup_exact": _q_dedup_exact,
        "doc_rolling_hash": _q_doc_rolling_hash,
        "ngram_jaccard_pairs": _q_ngram_jaccard_pairs,
        "pricing_summary": _q_pricing_summary,
        "top_suppliers": _q_top_suppliers,
        "events_by_type": _q_events_by_type,
        "embedding_norms": _q_embedding_norms,
        "regional_revenue": _q_regional_revenue,
        "quality_score": _q_quality_score,
        "events_user_deltas": _q_events_user_deltas,
        "events_sessionize": _q_events_sessionize,
        "top_orders_per_customer": _q_top_orders_per_customer,
        "sentence_split": _q_sentences,
        "treebank_tokens": _q_treebank_tokens,
        "morph_analyses": _q_morph_analyses,
        "ner_mentions": _q_ner_mentions,
        "pos_tags": _q_pos_tags,
        "dep_parses": _q_dep_parses,
        "kg_triples": _q_kg_triples,
        "kg_entities": _q_kg_entities,
        "kg_edges": _q_kg_edges,
        "sentiment_scores": _q_sentiment,
        "deasciify": _q_deasciify,
        "numbers_to_words": _q_numbers_to_words,
        "knn_bruteforce": _q_knn_bruteforce,
        "knn_lsh": _q_knn_lsh,
        "knn_ivf": _q_knn_ivf,
        "word2vec_similar": _q_word2vec_similar,
        "minhash_dedup": _q_minhash_dedup,
        "simhash_pairs": _q_simhash_pairs,
        "embedding_near_dups": _q_embedding_near_dups,
        "multimodal_features": _q_multimodal_features,
        "token_validity": _q_token_validity,
        "charner_tags": _q_charner,
        "displacy_outputs": _q_displacy_outputs,
        "er_similarity_link": _q_er_similarity_link,
        "dynamic_stopwords": _q_dynamic_stopwords,
        "triple_precision_recall": _q_triple_pr,
    }


# --- oracle generators for algorithm-replay checks ----------------------
#
# These oracles re-derive the SAME deterministic algorithm the Spark side
# runs (seeded hyperplanes / centroids inlined as SQL literals, hash and
# regex chains translated operator-for-operator) so DuckDB can value-check
# approximate-ANN and text plans end to end, not just row counts.


def _fmt_vec_sql(v) -> str:
    """A numpy vector as a DuckDB DOUBLE[] literal at full repr precision."""
    return "[" + ", ".join(repr(float(x)) for x in v) + "]::DOUBLE[]"


_COS_SQL = (
    "round(CASE WHEN sqrt(list_dot_product({a}, {a})) > 0 "
    "AND sqrt(list_dot_product({b}, {b})) > 0 "
    "THEN list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))) "
    "ELSE 0.0 END, 6)"
)


def _knn_lsh_oracle() -> str:
    from vnlp_spark.operators.similarity import lsh_planes

    n_planes = 8
    planes = lsh_planes(64, n_planes, 42)
    bucket_terms = " + ".join(
        f"(CASE WHEN list_dot_product(v, {_fmt_vec_sql(planes[:, b])}) > 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(n_planes)
    )
    probe_list = "[b0, " + ", ".join(
        f"xor(b0, {1 << b}::BIGINT)" for b in range(n_planes)
    ) + "]"
    cos = _COS_SQL.format(a="c.v", b="p.qv")
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (SELECT vec_id, v, ({bucket_terms})::BIGINT AS bucket FROM v),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket AS b0 FROM b WHERE vec_id < 3),
    probes AS (SELECT query_id, qv, unnest({probe_list}) AS bucket FROM q),
    joined AS (
      SELECT p.query_id, c.vec_id, {cos} AS cos_sim
      FROM b c JOIN probes p ON c.bucket = p.bucket
    )
    SELECT query_id, vec_id, cos_sim,
      row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
    FROM joined QUALIFY rank <= 5 ORDER BY query_id, rank
    """


def _knn_ivf_oracle() -> str:
    from vnlp_spark.operators.similarity import fixed_unit_centroids

    n_cells = 16
    cents = fixed_unit_centroids(64, n_cells, 7)
    cent_rows = ", ".join(f"({i}, {_fmt_vec_sql(cents[i])})" for i in range(n_cells))
    cos = _COS_SQL.format(a="c.v", b="q.v")
    # unit centroids: argmax_c dot(v/||v||, c) == argmax_c dot(v, c), and a
    # zero vector ties every dot at 0 -> first cell, matching numpy argmax
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cents(cid, c) AS (VALUES {cent_rows}),
    dots AS (SELECT vec_id, cid, list_dot_product(v.v, cents.c) AS d
             FROM v CROSS JOIN cents),
    assign AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
          row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rn
        FROM dots) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, cid AS cell FROM (
        SELECT vec_id, cid,
          row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rn
        FROM dots WHERE vec_id < 3) WHERE rn <= 4
    ),
    joined AS (
      SELECT p.query_id, c.vec_id, {cos} AS cos_sim
      FROM assign a
      JOIN v c ON a.vec_id = c.vec_id
      JOIN probes p ON a.cell = p.cell
      JOIN v q ON q.vec_id = p.query_id
    )
    SELECT query_id, vec_id, cos_sim,
      row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
    FROM joined QUALIFY rank <= 5 ORDER BY query_id, rank
    """


def _simhash_oracle() -> str:
    # replays simhash64: 60-bit token hash from the
    # top 15 md5 hex chars, per-bit +/-1 vote, sign pack; the all-pairs
    # hamming filter equals the Spark side's 4-segment pigeonhole blocking
    # by construction (any pair at distance <= 3 shares a segment)
    return """
    WITH toks AS (
      SELECT doc_id,
        unnest(regexp_split_to_array(
          lower(translate(trim(text), 'İIĞÜÖŞÇ', 'iığüöşç')), '\\s+')) AS t
      FROM documents
    ), th AS (
      SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM toks
    ), bitsum AS (
      SELECT doc_id, b.range AS bit,
        sum(CASE WHEN (h >> b.range::INT) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM th CROSS JOIN range(60) b GROUP BY doc_id, b.range
    ), sh AS (
      SELECT doc_id,
        sum(CASE WHEN s > 0 THEN (1::BIGINT << bit::INT) ELSE 0 END)::BIGINT AS sh
      FROM bitsum GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS a, b2.doc_id AS b,
        bit_count(xor(a.sh, b2.sh))::INT AS hamming
      FROM sh a JOIN sh b2 ON a.doc_id < b2.doc_id
    )
    SELECT a, b, hamming FROM pairs WHERE hamming <= 3 ORDER BY a, b
    """


def _sentiment_oracle() -> str:
    """Pinned pure-python fixture (gen_oracle_fixtures.py).  The scorer's
    earlier single-pass form was replayed live in DuckDB SQL; the
    clause-scoped rules added after the blind gold scoring (anchor flips,
    privatives, persistence verbs, contrast damping — operators/
    sentiment.py docstring) are not economically SQL-replayable, so this
    moved to the same Spark == pinned-CPython independence class as the
    other annotator oracles."""
    return (f"SELECT doc_id, p_positive FROM "
            f"read_parquet('{_fx('sentiment_scores')}') ORDER BY doc_id")


def _numbers_oracle() -> str:
    """Replays the digit-position rules of functions/numbers.py for the
    two synthesized tokens (4-digit int + a,bb decimal); the fixture text
    itself contains no numeric tokens (verified) so it passes through."""
    ones = ("['', ' bir', ' iki', ' üç', ' dört', ' beş', ' altı', ' yedi',"
            " ' sekiz', ' dokuz']")
    tens = ("['', ' on', ' yirmi', ' otuz', ' kırk', ' elli', ' altmış',"
            " ' yetmiş', ' seksen', ' doksan']")
    return f"""
    WITH nums AS (
      SELECT doc_id, text,
        doc_id % 10000 AS n4, doc_id % 97 AS a, doc_id % 100 AS b
      FROM documents
    ), words AS (
      SELECT doc_id, text, b,
        CASE WHEN n4 = 0 THEN 'sıfır' ELSE ltrim(
          (CASE WHEN n4 >= 1000 THEN
             (CASE WHEN n4 > 1999 THEN {ones}[(n4 // 1000)::INT + 1] ELSE '' END)
             || ' bin'
           ELSE '' END) ||
          (CASE WHEN (n4 // 100) % 10 = 1 THEN ' yüz'
                WHEN (n4 // 100) % 10 > 1 THEN {ones}[((n4 // 100) % 10)::INT + 1] || ' yüz'
                ELSE '' END) ||
          {tens}[((n4 // 10) % 10)::INT + 1] || {ones}[(n4 % 10)::INT + 1]
        ) END AS w4,
        CASE WHEN a = 0 THEN 'sıfır'
             ELSE ltrim({tens}[(a // 10)::INT + 1] || {ones}[(a % 10)::INT + 1]) END AS wa
      FROM nums
    ), dec AS (
      SELECT doc_id, text, w4, wa,
        CASE WHEN b = 0 THEN ''
             ELSE ' virgül ' ||
               (CASE WHEN b < 10 THEN 'sıfır ' ELSE '' END) ||
               ltrim(
                 CASE WHEN b % 10 = 0 THEN {ones}[(b // 10)::INT + 1]
                 ELSE {tens}[(b // 10)::INT + 1] || {ones}[(b % 10)::INT + 1] END)
        END AS wdec
      FROM words
    )
    SELECT doc_id, w4 || ' ' || wa || wdec || ' ' || text AS text_num2words
    FROM dec ORDER BY doc_id
    """


# RE2-safe twins of the Python-regex Treebank rules
# (vnlp_spark/functions/tokenizer.py, reference tokenizer.py:19-78): same
# order, \\g<0> rewritten as an explicit group, no lookarounds used.
_TREEBANK_RE2_MAIN = [
    (r'^"', "``"),
    (r"(``)", r" \1 "),
    (r"([ \(\[{<])(\"|'{2})", r"\1 `` "),
    (r"([:,])([^\d])", r" \1 \2"),
    (r"([:,])$", r" \1 "),
    (r"\.\.\.", " ... "),
    (r"([;@#$%&])", r" \1 "),
    (r'([^\.])(\.)([\]\)}>"\']*)\s*$', r"\1 \2\3 "),
    (r"([?!])", r" \1 "),
    (r"([^'])' ", r"\1 ' "),
    (r"([\]\[\(\)\{\}\<\>])", r" \1 "),
    (r"(--)", r" \1 "),
]
_TREEBANK_RE2_END = [
    (r"''", " '' "),
    (r'"', " '' "),
    (r"([^' ])('[sS]|'[mM]|'[dD]|') ", r"\1 \2 "),
    (r"([^' ])('ll|'LL|'re|'RE|'ve|'VE|n't|N'T) ", r"\1 \2 "),
]


def _sq(s: str) -> str:
    return s.replace("'", "''")


def _treebank_oracle() -> str:
    e = "text"
    for pat, rep in _TREEBANK_RE2_MAIN:
        e = f"regexp_replace({e}, '{_sq(pat)}', '{_sq(rep)}', 'g')"
    e = f"' ' || {e} || ' '"
    for pat, rep in _TREEBANK_RE2_END:
        e = f"regexp_replace({e}, '{_sq(pat)}', '{_sq(rep)}', 'g')"
    e = f"replace(replace({e}, '``', '\"'), '{_sq(chr(39) * 2)}', '\"')"
    return f"""
    WITH tb AS (
      SELECT doc_id,
        list_filter(regexp_split_to_array({e}, '\\s+'), x -> x <> '') AS toks
      FROM documents
    )
    SELECT doc_id,
      unnest(list_transform(range(len(toks)), i -> i::INT)) AS tok_idx,
      unnest(toks) AS token
    FROM tb ORDER BY doc_id, tok_idx
    """


# ---------------------------------------------------------------------
# Pinned-fixture oracles (VERDICT r03 items #1/#2).
#
# fixtures/*.parquet are expected outputs computed ONCE by the pure-python
# twin functions in a plain CPython process — no Spark, no Arrow
# (scripts/gen_oracle_fixtures.py documents the independence argument).
# For the deterministic annotators the oracle is a direct SELECT from the
# fixture (Spark == pinned pure-python).  For the KG chain only the
# ANNOTATED sentences are pinned; triple extraction, entity aggregation
# and the edge join are replayed as real DuckDB SQL, value-checking the
# Spark relational stages (operators/triples.py, entity_resolution.py,
# plans/pipeline.py edges_stage).  Entity ids come from a pinned
# (canon_key, type) -> xxhash64 map built by the Spark-bit-validated
# pure-python implementation (vnlp_spark/functions/hashing.py).

_FX_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def _fx(name: str) -> str:
    return os.path.join(_FX_DIR, f"{name}.parquet").replace("'", "''")


# mirror of entity_resolution.GENERIC_ORG_HEADS for the SQL replicas
_GENERIC_HEADS_SQL = (
    "'banka','bankası','üniversite','üniversitesi','bakanlık',"
    "'bakanlığı','ajans','ajansı','holding','jk','fk','kulüp','kulübü',"
    "'belediye','belediyesi','müdürlük','müdürlüğü','başkanlık',"
    "'başkanlığı','mahkeme','mahkemesi','kurum','kurumu','kurul',"
    "'kurulu','grup','grubu','borsa','borsası','federasyon',"
    "'federasyonu','dernek','derneği','vakıf','vakfı','oda','odası',"
    "'birlik','birliği','sigorta','sigortası','yolları','takım','takımı'"
)


def _head_key_sql(expr: str) -> str:
    """Apostrophe-stripped lowered last word of a surface, in DuckDB."""
    return (
        f"lower(translate(string_split_regex(string_split({expr}, ' ')[-1], "
        "'[''’]')[1], 'İIĞÜÖŞÇ', 'iığüöşç'))"
    )


def _canon_sql(expr: str) -> str:
    """canonical_key(surface) in DuckDB: turkish-lower of the
    apostrophe-stripped last space-separated word — except multiword
    surfaces with a GENERIC organizational head, which key by the
    clitic-stripped lowered FULL surface (entity_resolution.py:
    GENERIC_ORG_HEADS)."""
    head_key = _head_key_sql(expr)
    nonhead = (
        f"lower(translate(array_to_string(string_split({expr}, ' ')"
        f"[1:len(string_split({expr}, ' ')) - 1], ' '), "
        "'İIĞÜÖŞÇ', 'iığüöşç'))"
    )
    return (
        f"CASE WHEN len(string_split({expr}, ' ')) > 1 "
        f"AND {head_key} IN ({_GENERIC_HEADS_SQL}) "
        f"THEN {nonhead} || ' ' || {head_key} "
        f"ELSE {head_key} END"
    )


def _triples_sql_body(fixture: str, keep: str = "") -> str:
    """triples_sql (operators/triples.py) as DuckDB list
    lambdas: clause predicates = root/parataxis arcs; first nsubj/obj/obl
    child each (arcs are in idx order, so list order == Spark's
    element_at(filter(...), 1)); keep triples binding >=1 argument."""
    return f"""
ann AS (
  SELECT url{keep}, sent_id, arcs FROM read_parquet('{_fx(fixture)}')
  WHERE arcs IS NOT NULL
),
trip AS (
  SELECT url{keep}, sent_id, unnest(list_filter(list_transform(
      list_filter(arcs, a -> a.deprel IN ('root','parataxis')),
      p -> {{
        'subj': list_filter(arcs, x -> x.head = p.idx AND x.deprel = 'nsubj')[1].token,
        'pred': p.token,
        'obj':  list_filter(arcs, x -> x.head = p.idx AND x.deprel = 'obj')[1].token,
        'obl':  list_filter(arcs, x -> x.head = p.idx AND x.deprel = 'obl')[1].token
      }}),
    t -> t.subj IS NOT NULL OR t.obj IS NOT NULL OR t.obl IS NOT NULL)) AS t
  FROM ann
)"""


def _mentions_sql_body() -> str:
    """mentions_stage (plans/pipeline.py) as SQL: explode
    mentions, canon key = head-token root (analysis at last_tok) with
    apostrophe-stripped lowered surface fallback."""
    return f"""
annm AS (
  SELECT url, sent_id, analyses, unnest(mentions) AS m
  FROM read_parquet('{_fx("annotated_corpus")}')
),
mm AS (
  SELECT url, sent_id, m.mention AS mention, m.label AS label,
    m.first_tok AS first_tok, m.last_tok AS last_tok,
    CASE WHEN len(string_split(m.mention, ' ')) > 1
      AND {_head_key_sql('m.mention')} IN ({_GENERIC_HEADS_SQL})
    THEN {_canon_sql('m.mention')}
    ELSE coalesce(
      string_split(analyses[m.last_tok + 1], '+')[1],
      {_head_key_sql('m.mention')}
    ) END AS canon_key
  FROM annm
)"""


def _entities_sql_body() -> str:
    """build_entities (entity_resolution.py) as SQL: two-level
    canonical-surface aggregation (count-desc, surface-desc tie-break ==
    Spark's max_by struct ordering), ids from the pinned xxhash64 map."""
    return f"""
per_surface AS (
  SELECT canon_key, label, mention, count(*) AS surface_cnt
  FROM mm GROUP BY ALL
),
ents AS (
  SELECT canon_key, type, canonical, n_mentions FROM (
    SELECT canon_key, label AS type, mention AS canonical,
      CAST(sum(surface_cnt) OVER (PARTITION BY canon_key, label) AS BIGINT)
        AS n_mentions,
      row_number() OVER (PARTITION BY canon_key, label
                         ORDER BY surface_cnt DESC, mention DESC) AS rk
    FROM per_surface) WHERE rk = 1
),
eids AS (
  SELECT ei.entity_id, ents.canon_key, ents.canonical, ents.type,
         ents.n_mentions
  FROM ents JOIN read_parquet('{_fx("entity_ids")}') ei
    USING (canon_key, type)
)"""


def _fixture_select(name: str, cols: str, order: str) -> str:
    return f"SELECT {cols} FROM read_parquet('{_fx(name)}') ORDER BY {order}"


def _kg_triples_oracle() -> str:
    return (
        "WITH " + _triples_sql_body("annotated_docs")
        + """
SELECT url, sent_id, t.subj AS subj, t.pred AS pred, t.obj AS obj,
       t.obl AS obl
FROM trip
ORDER BY url, sent_id, pred, subj NULLS FIRST, obj NULLS FIRST,
         obl NULLS FIRST"""
    )


def _kg_entities_oracle() -> str:
    return (
        "WITH " + _mentions_sql_body() + "," + _entities_sql_body()
        + """
SELECT entity_id, canon_key, canonical, type, n_mentions
FROM eids ORDER BY n_mentions DESC, canon_key, type"""
    )


def _kg_edges_oracle() -> str:
    """edges_stage (pipeline.py) as SQL: resolve subj/obj via
    canonical surface keys against the entity table (join on canon_key
    only — type fan-out is part of the semantics), keep edges with >=1
    resolved endpoint."""
    return (
        "WITH "
        + _triples_sql_body("annotated_corpus", keep=", warc_epoch")
        + ","
        + _mentions_sql_body()
        + ","
        + _entities_sql_body()
        + f"""
,
tt AS (
  SELECT url, warc_epoch, t.subj AS subj, t.pred AS pred, t.obj AS obj
  FROM trip
)
SELECT es.entity_id AS subj_id, tt.subj, tt.pred,
       eo.entity_id AS obj_id, tt.obj, tt.url, tt.warc_epoch
FROM tt
LEFT JOIN eids es
  ON tt.subj IS NOT NULL AND es.canon_key = {_canon_sql('tt.subj')}
LEFT JOIN eids eo
  ON tt.obj IS NOT NULL AND eo.canon_key = {_canon_sql('tt.obj')}
WHERE es.entity_id IS NOT NULL OR eo.entity_id IS NOT NULL
ORDER BY url, pred, subj NULLS FIRST, obj NULLS FIRST,
         subj_id NULLS FIRST, obj_id NULLS FIRST"""
    )


def _ner_mentions_oracle() -> str:
    return (
        "WITH " + _mentions_sql_body()
        + """
SELECT url, sent_id, mention, label, first_tok, last_tok, canon_key
FROM mm ORDER BY url, sent_id, first_tok"""
    )


def oracle_sql() -> dict[str, str]:
    stop_list = _sql_quote_list(_stopwords())
    return {
        "turkish_lower": (
            "SELECT doc_id, lower(translate(text, 'İIĞÜÖŞÇ', 'iığüöşç')) AS text_lower "
            "FROM documents ORDER BY doc_id"
        ),
        "remove_punctuations": (
            r"SELECT doc_id, regexp_replace(text, '[^\p{L}\p{N} ]', '', 'g') AS text_clean "
            "FROM documents ORDER BY doc_id"
        ),
        "remove_accent_marks": (
            "SELECT doc_id, translate(text, 'âôîêûÂÔÎÊÛ', 'aoıeuAoıeu') AS text_noaccent "
            "FROM documents ORDER BY doc_id"
        ),
        "digits_to_zero": (
            r"SELECT doc_id, regexp_replace(text, '\d', '0', 'g') AS text_masked "
            "FROM documents ORDER BY doc_id"
        ),
        "lang_filter_stats": (
            # CAST: DuckDB sum(BIGINT) yields HUGEINT; Spark yields BIGINT —
            # values identical, the driver's hash is type-sensitive
            "SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars "
            "FROM documents GROUP BY lang ORDER BY lang"
        ),
        "token_frequency_topk": (
            "SELECT token, count(*) AS cnt FROM ("
            "  SELECT unnest(string_split(text, ' ')) AS token FROM documents"
            ") WHERE length(token) > 0 GROUP BY token "
            "ORDER BY cnt DESC, token LIMIT 200"
        ),
        "stopword_drop_topk": (
            "SELECT token, count(*) AS cnt FROM ("
            "  SELECT unnest(string_split(text, ' ')) AS token FROM documents"
            f") WHERE length(token) > 0 AND token NOT IN ({stop_list}) "
            "GROUP BY token ORDER BY cnt DESC, token LIMIT 200"
        ),
        "token_count": (
            r"SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens "
            "FROM documents ORDER BY doc_id"
        ),
        "doc_quality_ratios": (
            r"SELECT doc_id, "
            r"round((length(text) - length(regexp_replace(text, '[^\p{L}\p{N} ]', '', 'g'))) "
            r"  / greatest(length(text), 1)::DOUBLE, 6) AS punct_ratio, "
            r"round((length(text) - length(regexp_replace(text, '\d', '', 'g'))) "
            r"  / greatest(length(text), 1)::DOUBLE, 6) AS digit_ratio "
            "FROM documents ORDER BY doc_id"
        ),
        "lang_id_turkish": (
            "SELECT doc_id, round((length(text) - length(translate(text, 'ğüşıöçĞÜŞİÖÇ', ''))) "
            "  / greatest(length(text), 1)::DOUBLE, 6) AS tr_char_ratio "
            "FROM documents ORDER BY doc_id"
        ),
        "dedup_exact": (
            "SELECT md5(trim(regexp_replace(regexp_replace(lower(translate(text, 'İIĞÜÖŞÇ', 'iığüöşç')), '[^\\p{L}\\p{N} ]', '', 'g'), "
            "' +', ' ', 'g'))) AS fp, min(doc_id) AS keep_doc_id, count(*) AS n_dupes "
            "FROM documents GROUP BY fp ORDER BY keep_doc_id"
        ),
        "doc_rolling_hash": (
            "SELECT doc_id, list_reduce(list_prepend(0::BIGINT, "
            "  list_transform(string_split(text, ''), "
            "    c -> (CASE WHEN c = '' THEN 0 ELSE unicode(c) END)::BIGINT)), "
            "  (acc, c) -> (acc * 31 + c) % 1000000007) AS rhash "
            "FROM documents ORDER BY doc_id"
        ),
        "ngram_jaccard_pairs": (
            r"""
            WITH g AS (
              SELECT doc_id,
                list_distinct(list_transform(
                  range(1, greatest(length('^' || lower(translate(text, 'İIĞÜÖŞÇ', 'iığüöşç')) || '$') - 2, 1) + 1),
                  i -> substring('^' || lower(translate(text, 'İIĞÜÖŞÇ', 'iığüöşç')) || '$', i, 3))) AS grams,
                floor(length(text) / 20.0)::INT AS len_bucket
              FROM documents
            ), pairs AS (
              SELECT a.doc_id AS a, b.doc_id AS b,
                len(list_intersect(a.grams, b.grams)) AS inter,
                len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)) AS un
              FROM g a JOIN g b ON a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
            )
            SELECT a, b, round(inter / un::DOUBLE, 6) AS jaccard FROM pairs
            WHERE un > 0 AND inter / un::DOUBLE >= 0.8 ORDER BY a, b
            """
        ),
        "minhash_dedup": (
            # exact oracle for the LSH plan: true word-3-shingle Jaccard >=
            # 0.8 pairs -> min-id keeper map (LSH banding at 64 hashes / 16
            # bands has recall 1.0 on every true near-dup group in the
            # fixtures, verified at sf0.001 and sf0.01)
            r"""
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(lower(translate(trim(text), 'İIĞÜÖŞÇ', 'iığüöşç')), '\s+') AS t FROM documents
            ), sh AS (
              SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t)-2,1)+1),
                    i -> array_to_string(t[i:least(i+2, len(t))], ' '))) AS grams
              FROM toks
            ), pairs AS (
              SELECT a.doc_id AS a, b.doc_id AS b,
                len(list_intersect(a.grams, b.grams)) AS inter,
                len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)) AS un
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            ), verified AS (
              SELECT a, b FROM pairs WHERE un > 0 AND inter / un::DOUBLE >= 0.8
            ), keeper AS (
              SELECT b AS doc_id, min(a) AS keep_id FROM verified GROUP BY b
            )
            SELECT d.doc_id, coalesce(k.keep_id, d.doc_id) AS keep_id
            FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN keeper k USING (doc_id)
            ORDER BY d.doc_id
            """
        ),
        "embedding_near_dups": (
            # exact oracle for the multi-probe LSH plan: plant the same
            # near-copies, brute-force all-pairs cosine >= 0.95 (multi-probe
            # recall 1.0 on the fixtures, verified at sf0.001 and sf0.01)
            r"""
            WITH base AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), planted AS (
              SELECT vec_id + 1000000000 AS vec_id,
                list_append(v[1:len(v)-1], ((v[len(v)] + 0.01)::FLOAT)::DOUBLE) AS v
              FROM base WHERE vec_id < 20
            ), allv AS (
              SELECT * FROM base UNION ALL SELECT * FROM planted
            ), pairs AS (
              SELECT a.vec_id AS a, b.vec_id AS b,
                CASE WHEN sqrt(list_dot_product(a.v, a.v)) > 0 AND sqrt(list_dot_product(b.v, b.v)) > 0
                     THEN list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                     ELSE 0.0 END AS cs
              FROM allv a JOIN allv b ON a.vec_id < b.vec_id
            )
            SELECT a, b, round(cs, 6) AS cos_sim FROM pairs
            WHERE round(cs, 6) >= 0.95 ORDER BY a, b
            """
        ),
        "dynamic_stopwords": (
            # the reference's knee-point second-derivative cut
            # (stopword_remover.py:62-101) translated to window SQL,
            # including its quirks: pct-change NaNs (0/0) dropped BEFORE the
            # argmax, the compacted argmax index applied to the ORIGINAL
            # (cnt desc, token desc) order, and ties extended by
            # amount_of_max
            r"""
            WITH freq AS (
              SELECT token, count(*) AS cnt FROM (
                SELECT unnest(string_split(text, ' ')) AS token FROM documents
              ) WHERE length(token) > 0 GROUP BY token
            ), ordered AS (
              SELECT token, cnt, row_number() OVER (ORDER BY cnt DESC, token DESC) AS idx FROM freq
            ), d1 AS (
              SELECT token, cnt, idx,
                abs((lead(cnt) OVER w - cnt) / cnt::DOUBLE) AS pct1
              FROM ordered WINDOW w AS (ORDER BY idx)
            ), d2 AS (
              SELECT token, cnt, idx, pct1,
                lead(pct1) OVER w - pct1 AS diff2
              FROM d1 WINDOW w AS (ORDER BY idx)
            ), p2 AS (
              SELECT idx, cnt,
                CASE WHEN pct1 = 0 AND diff2 = 0 THEN NULL
                     WHEN pct1 = 0 THEN 'infinity'::DOUBLE
                     ELSE abs(diff2 / pct1) END AS pct2
              FROM d2 WHERE diff2 IS NOT NULL
            ), compacted AS (
              SELECT idx, cnt, pct2, row_number() OVER (ORDER BY idx) - 1 AS cidx
              FROM p2 WHERE pct2 IS NOT NULL
            ), am AS (
              SELECT min(cidx) AS argmax FROM compacted WHERE pct2 = (SELECT max(pct2) FROM compacted)
            ), cut AS (
              SELECT o.cnt AS cut_cnt, a.argmax FROM ordered o, am a WHERE o.idx = a.argmax + 1
            )
            SELECT token AS stopword FROM ordered, cut
            WHERE idx <= cut.argmax + (SELECT count(*) FROM ordered WHERE cnt = cut.cut_cnt)
            ORDER BY token
            """
        ),
        "pricing_summary": (
            "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, "
            "round(sum(l_extendedprice), 2) AS sum_base_price, "
            "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, "
            "count(*) AS count_order FROM lineitem "
            "WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
            "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
        ),
        "top_suppliers": (
            "SELECT s_suppkey, s_name, revenue FROM ("
            "  SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
            "  FROM lineitem GROUP BY l_suppkey"
            ") JOIN supplier ON l_suppkey = s_suppkey "
            "ORDER BY revenue DESC, s_suppkey LIMIT 20"
        ),
        "events_by_type": (
            "SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value "
            "FROM events GROUP BY event_type ORDER BY event_type"
        ),
        "embedding_norms": (
            "SELECT vec_id, round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 5) AS l2_norm "
            "FROM embeddings ORDER BY vec_id"
        ),
        "regional_revenue": (
            "SELECT r_name, n_name, "
            "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
            "count(*) AS n_lineitems "
            "FROM lineitem "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "GROUP BY r_name, n_name ORDER BY r_name, n_name"
        ),
        "quality_score": (
            r"""
            SELECT doc_id, round(
              least(n_tokens / 50.0, 1.0) * 0.4
              + (1.0 - least(punct_ratio * 4, 1.0)) * 0.25
              + (1.0 - least(digit_ratio * 4, 1.0)) * 0.15
              + (CASE WHEN wl >= 3 AND wl <= 12 THEN 1.0 ELSE 0.5 END) * 0.2
            , 6) AS quality FROM (
              SELECT doc_id,
                len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
                (length(text) - length(regexp_replace(text, '[^\p{L}\p{N} ]', '', 'g')))
                  / greatest(length(text), 1)::DOUBLE AS punct_ratio,
                (length(text) - length(regexp_replace(text, '\d', '', 'g')))
                  / greatest(length(text), 1)::DOUBLE AS digit_ratio,
                length(regexp_replace(text, '\s', '', 'g'))
                  / greatest(len(regexp_split_to_array(trim(text), '\s+')), 1)::DOUBLE AS wl
              FROM documents
            ) ORDER BY doc_id
            """
        ),
        "events_user_deltas": (
            "SELECT event_id, user_id, "
            "round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2) AS value_delta, "
            "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS event_rank "
            "FROM events ORDER BY event_id"
        ),
        "events_sessionize": (
            "WITH g AS ("
            "  SELECT user_id, event_id, epoch(ts) AS sec,"
            "  CASE WHEN lag(epoch(ts)) OVER "
            "         (PARTITION BY user_id ORDER BY ts, event_id) IS NULL"
            "       OR epoch(ts) - lag(epoch(ts)) OVER "
            "         (PARTITION BY user_id ORDER BY ts, event_id) > 1800.0"
            "       THEN 1 ELSE 0 END AS new_s"
            "  FROM events), "
            "s AS ("
            "  SELECT user_id, sec, sum(new_s) OVER "
            "    (PARTITION BY user_id ORDER BY sec, event_id "
            "     ROWS UNBOUNDED PRECEDING)::BIGINT AS session_no"
            "  FROM g) "
            "SELECT user_id, session_no, count(*) AS n_events, "
            "floor(max(sec) - min(sec))::DOUBLE AS duration_sec "
            "FROM s GROUP BY user_id, session_no "
            "ORDER BY user_id, session_no"
        ),
        "top_orders_per_customer": (
            "SELECT o_custkey, o_orderkey, o_totalprice, rk FROM ("
            "  SELECT o_custkey, o_orderkey, o_totalprice, "
            "  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk "
            "  FROM orders"
            ") WHERE rk <= 3 ORDER BY o_custkey, rk"
        ),
        "knn_bruteforce": (
            "SELECT query_id, vec_id, cos_sim, "
            "row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank FROM ("
            "  SELECT q.vec_id AS query_id, e.vec_id AS vec_id, "
            "  round(CASE WHEN sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) > 0 "
            "         AND sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) > 0 "
            "   THEN list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) / "
            "        (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * "
            "         sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))) "
            "   ELSE 0.0 END, 6) AS cos_sim "
            "  FROM embeddings e CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 3) q"
            ") QUALIFY rank <= 5 ORDER BY query_id, rank"
        ),
        "numbers_to_words": _numbers_oracle(),
        "er_similarity_link": (
            r"""
            WITH cg AS (
              SELECT c_custkey AS custkey, c_name AS mention,
                substring(c_name, length(c_name) - 2, 3) AS blk,
                list_distinct(list_transform(
                  range(1, greatest(length('^' || c_name || '$') - 2, 1) + 1),
                  i -> substring('^' || c_name || '$', i, 3))) AS grams
              FROM customer
            ), sg AS (
              SELECT s_suppkey AS suppkey, s_name AS entity,
                substring(s_name, length(s_name) - 2, 3) AS blk,
                list_distinct(list_transform(
                  range(1, greatest(length('^' || s_name || '$') - 2, 1) + 1),
                  i -> substring('^' || s_name || '$', i, 3))) AS grams
              FROM supplier
            ), joined AS (
              SELECT custkey, mention, suppkey, entity,
                round(CASE WHEN len(cg.grams) + len(sg.grams)
                             - len(list_intersect(cg.grams, sg.grams)) > 0
                  THEN len(list_intersect(cg.grams, sg.grams))
                     / (len(cg.grams) + len(sg.grams)
                        - len(list_intersect(cg.grams, sg.grams)))::DOUBLE
                  ELSE 0.0 END, 6) AS sim,
                row_number() OVER (PARTITION BY custkey
                                   ORDER BY CASE WHEN len(cg.grams) + len(sg.grams)
                                                   - len(list_intersect(cg.grams, sg.grams)) > 0
                                     THEN round(len(list_intersect(cg.grams, sg.grams))
                                        / (len(cg.grams) + len(sg.grams)
                                           - len(list_intersect(cg.grams, sg.grams)))::DOUBLE, 6)
                                     ELSE 0.0 END DESC, suppkey) AS rk
              FROM cg JOIN sg USING (blk)
            )
            SELECT custkey, mention, suppkey, entity, sim
            FROM joined WHERE rk = 1 AND sim >= 0.3 ORDER BY custkey
            """
        ),
        "word2vec_similar": (
            # planted-synonym invariant oracle: each injected word's
            # nearest trained neighbour must be its partner (the pairs
            # share identical unique contexts at 60 repeats, far above
            # anything the real corpus co-occurrence can produce)
            "SELECT 'zzsyna' || r.range AS query_word, "
            "TRUE AS top1_is_planted_partner "
            "FROM range(3) r ORDER BY query_word"
        ),
        # pinned-fixture oracles: Spark == pure-python expected outputs
        "sentence_split": _fixture_select(
            "sentence_split", "doc_id, sent_id, sentence", "doc_id, sent_id"
        ),
        "morph_analyses": _fixture_select(
            "morph_analyses", "doc_id, tok_idx, analysis", "doc_id, tok_idx"
        ),
        "pos_tags": _fixture_select(
            "pos_tags", "doc_id, tok_idx, upos", "doc_id, tok_idx"
        ),
        "dep_parses": _fixture_select(
            "dep_parses", "doc_id, idx, token, head, deprel", "doc_id, idx"
        ),
        "charner_tags": _fixture_select(
            "charner_tags", "doc_id, tok_idx, token, label", "doc_id, tok_idx"
        ),
        "token_validity": _fixture_select(
            "token_validity", "doc_id, n_valid, n_tokens", "doc_id"
        ),
        "deasciify": _fixture_select(
            "deasciify", "doc_id, text_deascii", "doc_id"
        ),
        "displacy_outputs": _fixture_select(
            "displacy_outputs", "doc_id, dp_displacy, ner_displacy", "doc_id"
        ),
        # KG chain: pinned annotations + REAL SQL replay of the relational
        # stages (triples / entities / edges)
        # constant-expectation oracle (round-5 #4): the three P/R rows are
        # deterministic on a frozen HEAD (pipeline + gold are both pinned
        # in-repo), so pinning them converts the former rows-only check
        # into a regression gate — any pipeline change that moves triple
        # P/R off 1.0, or changes the gold/pred/hit counts, breaks the
        # hash.  Valid at sf0.01 only, like every _fx fixture oracle here
        # (all generated from the sf0.01 tables): the two UD rows do not
        # depend on the scale factor, but the pinned_fixture count 5857
        # is the gold triples of the 2,000 docs _corpus_docs yields at
        # sf0.01 (it yields max(200, sf * 200,000)).  Counts verified by
        # driving the query in a fresh driver-sim process at sf0.01.
        "triple_precision_recall": (
            "SELECT * FROM (VALUES "
            "('pinned_fixture', 1.0::DOUBLE, 1.0::DOUBLE, "
            " 5857::BIGINT, 5857::BIGINT, 5857::BIGINT), "
            "('ud_tuning_gold', 1.0::DOUBLE, 1.0::DOUBLE, "
            " 454::BIGINT, 454::BIGINT, 454::BIGINT), "
            "('ud_heldout_gold', 1.0::DOUBLE, 1.0::DOUBLE, "
            " 64::BIGINT, 64::BIGINT, 64::BIGINT)"
            ") AS t(gold_source, precision, recall, n_gold, n_pred, n_hit) "
            "ORDER BY gold_source"
        ),
        "kg_triples": _kg_triples_oracle(),
        "kg_entities": _kg_entities_oracle(),
        "kg_edges": _kg_edges_oracle(),
        "ner_mentions": _ner_mentions_oracle(),
        "knn_lsh": _knn_lsh_oracle(),
        "knn_ivf": _knn_ivf_oracle(),
        "simhash_pairs": _simhash_oracle(),
        "sentiment_scores": _sentiment_oracle(),
        "treebank_tokens": _treebank_oracle(),
        "multimodal_features": (
            # invariant oracle: synth_media cycles kind by doc_id % 3 and
            # the pseudo-decode emits unit-norm features, so every row's
            # squared norm rounds to exactly 1.0 at 5 decimals — the check
            # covers row multiplicity, id/kind alignment through
            # mapInArrow, and the normalization contract
            "SELECT r.range AS doc_id, "
            "CASE (r.range % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' "
            "ELSE 'video' END AS kind, 1.0::DOUBLE AS feature_sq_norm "
            "FROM range(200) r ORDER BY doc_id"
        ),
    }
