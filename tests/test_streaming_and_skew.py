"""Structured Streaming surface + skew-balancing evidence."""
import io
import shutil
import statistics
import tempfile
from collections import Counter
from contextlib import redirect_stdout

import pyspark.sql.functions as F
import pytest

from vnlp_spark.operators.entity_resolution import build_entities
from vnlp_spark.plans.corpus import generate_web_pages
from vnlp_spark.plans.pipeline import edges_stage
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


@pytest.fixture(scope="module")
def windowed_counts(spark, landing_dir):
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
    return spark.sql("select * from stream_counts_t").collect()


def test_windowed_mention_counts_with_watermark(windowed_counts):
    rows = windowed_counts
    assert len(rows) > 0
    keys = {r["canon_key"] for r in rows}
    assert "istanbul" in keys
    assert all(r["window"]["start"] is not None for r in rows)


def test_windowed_mention_keys_are_entity_keys(spark, landing_dir, windowed_counts):
    """The stream keys a mention by its head token's root, as the batch
    entity table does: every windowed key names a batch entity (a
    surface-only key would give 'üniversiteyi' where the batch has
    'üniversite')."""
    from vnlp_spark.plans.pipeline import run_kg_pipeline

    entities = run_kg_pipeline(spark.read.parquet(landing_dir)).entities
    batch_keys = {r["canon_key"] for r in entities.select("canon_key").collect()}
    stream_keys = {r["canon_key"] for r in windowed_counts}
    assert stream_keys and stream_keys <= batch_keys, sorted(stream_keys - batch_keys)


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


# broadcast off, so both entity lookups are sort-merge joins, and skew
# thresholds small enough that the hot partition of a test-sized input
# counts as skewed (Spark's defaults: 256 MB and 64 MB)
_SKEW_CONF = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1k",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16k",
}


def test_edges_skew_split(spark):
    """One entity is the subject and object of 90% of the triples.  With
    broadcast off, AQE must split its partition in both edge joins: the
    final plan marks both sort-merge joins as skew-split, the largest
    output partition holds at most twice the median rows, and the edges
    equal the broadcast plan's."""
    n = 20_000
    triples = spark.createDataFrame(
        [
            (f"Ahmet{i}", "gördü", "İstanbul'u", f"http://t/{i}")
            if i % 10 == 0 else
            ("İstanbul'da", "açtı", "İstanbul'u", f"http://t/{i}")
            for i in range(n)
        ],
        "subj string, pred string, obj string, url string",
    ).selectExpr("*", "TIMESTAMP'2024-01-01 00:00:00' AS warc_ts")
    # aggregated on (canon_key, type), so the entity side has its own
    # exchange: AQE does not split a join side that reuses the other's
    entities = build_entities(spark.createDataFrame(
        [("istanbul", "LOC", "İstanbul")]
        + [(f"ahmet{i}", "PER", f"Ahmet{i}") for i in range(0, n, 10)],
        ["canon_key", "label", "mention"],
    ))

    saved = {k: spark.conf.get(k) for k in _SKEW_CONF}
    for k, v in _SKEW_CONF.items():
        spark.conf.set(k, v)
    try:
        skewed = edges_stage(triples, entities).withColumn(
            "_part", F.spark_partition_id())
        tagged = skewed.collect()
        # read after the action: the final adaptive plan
        plan = _plan(skewed)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)

    assert "isFinalPlan=true" in plan
    assert plan.count("SortMergeJoin(skew=true)") == 2, plan
    sizes = sorted(Counter(r["_part"] for r in tagged).values())
    assert sum(sizes) == n
    assert max(sizes) <= 2 * statistics.median(sizes), sizes

    broadcast = edges_stage(triples, entities)
    got = sorted(tuple(r)[:-1] for r in tagged)
    assert got == sorted(map(tuple, broadcast.collect()))
    assert "BroadcastHashJoin" in _plan(broadcast)


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

    # ground truth: the batch pipeline's mention rows on the same input
    from vnlp_spark.plans.pipeline import run_kg_pipeline

    batch = (
        run_kg_pipeline(spark.read.parquet(landing_dir)).mentions
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
