"""Structured Streaming surface + skew-balancing evidence + featurization
utilities."""
import shutil
import tempfile

import numpy as np
import pyspark.sql.functions as F
import pytest

from vnlp_spark.operators.entity_resolution import salted_join
from vnlp_spark.operators.model_harness import process_word_context, tokenize_single_word
from vnlp_spark.plans.corpus import generate_web_pages
from vnlp_spark.streaming.stream_kg import (
    WEB_PAGE_SCHEMA,
    stream_triples,
    windowed_mention_counts,
)


@pytest.fixture(scope="module")
def landing_dir(spark):
    d = tempfile.mkdtemp(prefix="stream_landing_")
    generate_web_pages(spark, 120).write.parquet(d, mode="overwrite")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stream_triples_availablenow(spark, landing_dir):
    pages = spark.readStream.schema(WEB_PAGE_SCHEMA).parquet(landing_dir)
    assert pages.isStreaming
    q = (
        stream_triples(pages)
        .writeStream.format("memory")
        .queryName("stream_triples_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("select * from stream_triples_t")
    rows = out.collect()
    assert len(rows) > 0
    preds = {r["pred"] for r in rows}
    assert "seçer" in preds or "açtı" in preds
    # streaming output matches the batch pipeline on the same input
    from vnlp_spark.plans.pipeline import run_kg_pipeline

    batch = run_kg_pipeline(spark.read.parquet(landing_dir)).triples.count()
    assert len(rows) == batch


def test_windowed_mention_counts_with_watermark(spark, landing_dir):
    pages = spark.readStream.schema(WEB_PAGE_SCHEMA).parquet(landing_dir)
    q = (
        windowed_mention_counts(pages, window="1 hour", watermark="2 hours")
        .writeStream.format("memory")
        .queryName("stream_counts_t")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from stream_counts_t").collect()
    assert len(rows) > 0
    keys = {r["canon_key"] for r in rows}
    assert "istanbul" in keys
    assert all(r["window"]["start"] is not None for r in rows)


def test_salted_join_balances_hot_key(spark):
    # one key owns 90% of the big side: without salting every hot row
    # lands in one shuffle task; with salting they spread over n_salts
    big = spark.createDataFrame(
        [(i, "HOT" if i % 10 != 0 else f"k{i}") for i in range(2000)], ["v", "k"]
    )
    small = big.select("k").distinct().withColumn("payload", F.lit(1))
    joined = salted_join(big, small, "k", n_salts=8)
    assert joined.count() == 2000
    # the hot key's rows are spread across >1 salt bucket pre-join
    salted = big.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(8))
    )
    spread = (
        salted.filter(F.col("k") == "HOT").select("_salt").distinct().count()
    )
    assert spread == 8, "hot key must fan out across all salt buckets"


def test_tokenize_single_word_prepad():
    vocab = {"a": 1, "b": 2, "c": 3}
    assert tokenize_single_word("ab", vocab, 4) == [0, 0, 1, 2]
    assert tokenize_single_word("abcabc", vocab, 4) == [1, 2, 3, 1]
    assert tokenize_single_word("zz", vocab, 3) == [0, 0, 0]


def test_process_word_context_shapes():
    ids = [[0, 0, 1, 2]] * 5
    mat = process_word_context(2, ids, sentence_max_len=3, piece_width=4)
    assert mat.shape == (7, 4)
    assert mat.dtype == np.int32
    # left context pre-padded: first row is zeros when fewer than max tokens
    assert (mat[0] == 0).all()


def test_stateful_entity_totals_accumulate(spark, landing_dir):
    from vnlp_spark.streaming.stream_kg import stateful_entity_totals

    # maxFilesPerTrigger=1 forces multiple micro-batches over the same
    # landing dir, so totals must accumulate through the state store
    pages = (
        spark.readStream.schema(WEB_PAGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing_dir)
    )
    q = (
        stateful_entity_totals(pages)
        .writeStream.format("memory")
        .queryName("stateful_totals_t")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    out = spark.sql(
        "select canon_key, max(total_mentions) as total from stateful_totals_t group by canon_key"
    ).collect()
    got = {r["canon_key"]: r["total"] for r in out}
    assert got

    # ground truth from the batch pipeline on the same input
    from vnlp_spark.operators.entity_resolution import canonical_key
    from vnlp_spark.plans.pipeline import annotated_documents_stage

    batch = (
        annotated_documents_stage(spark.read.parquet(landing_dir), "tr")
        .select(F.explode("mentions").alias("m"))
        .select(canonical_key("m.mention").alias("canon_key"))
        .groupBy("canon_key").count()
    ).collect()
    expect = {r["canon_key"]: r["count"] for r in batch}
    assert got == expect


def test_stream_exact_dedup(spark, landing_dir):
    from vnlp_spark.streaming.stream_kg import stream_exact_dedup

    pages = spark.readStream.schema(WEB_PAGE_SCHEMA).parquet(landing_dir)
    # horizon wider than the corpus's warc_ts spread (180 days), so every
    # duplicate lands in-horizon and stream output == batch keeper set
    q = (
        stream_exact_dedup(pages, watermark="200 days")
        .writeStream.format("memory")
        .queryName("stream_dedup_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("select * from stream_dedup_t").collect()
    # one survivor per distinct canonical text == batch exact_dedup groups
    from vnlp_spark.operators.dedup import exact_dedup

    batch_groups = exact_dedup(
        spark.read.parquet(landing_dir), text_col="text", id_col="url"
    ).count()
    assert len(out) == batch_groups > 0
    assert set(out[0].asDict()) == {"url", "warc_ts", "html", "text", "lang"}
