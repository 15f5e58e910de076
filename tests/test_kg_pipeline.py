"""End-to-end KG pipeline: synthetic corpus -> triples -> entities -> edges,
plus checkpoint/resume lineage and the entity-resolution join."""
import shutil
import tempfile

import pyspark.sql.functions as F
import pytest

from vnlp_spark.operators.entity_resolution import (
    build_entities,
    char_ngrams,
    jaccard,
    link_mentions,
)
from vnlp_spark.plans.corpus import generate_web_pages
from vnlp_spark.plans.lineage import StageRunner
from vnlp_spark.plans.pipeline import run_kg_pipeline


@pytest.fixture(scope="module")
def kg(spark):
    docs = generate_web_pages(spark, 200).cache()
    return run_kg_pipeline(docs)


def test_corpus_schema_and_determinism(spark):
    docs = generate_web_pages(spark, 50)
    assert [f.name for f in docs.schema.fields] == ["url", "warc_ts", "html", "text", "lang"]
    assert dict(docs.dtypes)["html"] == "binary"
    assert dict(docs.dtypes)["warc_ts"] == "timestamp"
    a = sorted(r["text"] for r in docs.collect())
    b = sorted(r["text"] for r in generate_web_pages(spark, 50).collect())
    assert a == b  # pure function of (n_docs, seed)
    langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    assert "tr" in langs


def test_pipeline_produces_triples(kg):
    triples = kg.triples
    rows = triples.collect()
    assert len(rows) > 0
    preds = {r["pred"] for r in rows}
    # golden-sentence clauses must surface
    assert "seçer" in preds and "sınarız" in preds
    gold_pairs = {(r["pred"], r["obj"]) for r in rows}
    assert ("seçer", "arkadaşlarımızı") in gold_pairs
    assert ("sınarız", "kendilerini") in gold_pairs


def test_entities_skew_and_types(kg):
    ents = {r["canon_key"]: r for r in kg.entities.collect()}
    assert "istanbul" in ents and ents["istanbul"]["type"] == "LOC"
    # Zipfian head entity dominates
    top = max(ents.values(), key=lambda r: r["n_mentions"])
    assert top["canon_key"] in ("istanbul", "türkiye", "ankara")
    assert ents["istanbul"]["entity_id"] is not None


def test_edges_resolved(kg):
    edges = kg.edges.collect()
    assert len(edges) > 0
    assert all(r["subj_id"] is not None or r["obj_id"] is not None for r in edges)


def test_entity_ids_deterministic(spark, kg):
    e1 = {r["canon_key"]: r["entity_id"] for r in kg.entities.collect()}
    docs = generate_web_pages(spark, 200)
    e2 = {
        r["canon_key"]: r["entity_id"]
        for r in run_kg_pipeline(docs).entities.collect()
    }
    assert e1 == e2


def test_char_ngrams_and_jaccard(spark):
    df = spark.createDataFrame([("istanbul", "istanbul"), ("istanbul", "istanbol")], ["a", "b"])
    out = df.select(jaccard(char_ngrams("a"), char_ngrams("b")).alias("j")).collect()
    assert out[0]["j"] == 1.0
    assert 0.3 < out[1]["j"] < 1.0


def test_link_mentions_similarity(spark):
    mentions = spark.createDataFrame(
        [("istanbul", "LOC", "İstanbul"), ("istanbol", "LOC", "İstanbol"), ("qqqq", "LOC", "Qqqq")],
        ["canon_key", "label", "mention"],
    )
    entities = build_entities(
        spark.createDataFrame(
            [("istanbul", "LOC", "İstanbul")] * 3, ["canon_key", "label", "mention"]
        )
    )
    linked = {r["canon_key"]: r["entity_id"] for r in link_mentions(mentions, entities).collect()}
    assert linked["istanbul"] is not None          # exact
    assert linked["istanbol"] == linked["istanbul"]  # near-dup linked by 3-gram jaccard
    assert linked["qqqq"] is None                  # unlinkable stays null


def test_stage_runner_resume(spark):
    tmp = tempfile.mkdtemp(prefix="vnlp_lineage_")
    try:
        runner = StageRunner(spark, tmp)
        docs = generate_web_pages(spark, 30)
        out1 = runner.run("docs", docs)
        n1 = out1.count()
        assert runner.is_done("docs")
        # resume: stage skipped (same rows), even with a different input df
        out2 = runner.run("docs", generate_web_pages(spark, 5))
        assert out2.count() == n1
        # force recompute picks up the new input
        out3 = runner.run("docs", generate_web_pages(spark, 5), force=True)
        assert out3.count() == 5
        lin = runner.lineage().collect()
        assert all(r["stage"] == "docs" for r in lin)
        assert sum(r["n_rows"] for r in lin) == 5
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_long_sentence_routed_not_crashing(spark):
    # >40-token sentence: parse refused (arcs null) but pipeline survives
    long_text = " ".join(["kedi"] * 45) + "."
    docs = spark.createDataFrame(
        [("u1", long_text, "tr")], ["url", "text", "lang"]
    ).withColumn("warc_ts", F.current_timestamp()).withColumn("html", F.lit(None).cast("binary"))
    kg = run_kg_pipeline(docs.select("url", "warc_ts", "html", "text", "lang"))
    assert kg.annotated.filter(F.col("arcs").isNull()).count() == 1
    assert kg.triples.count() == 0


def _edge_case_docs(spark):
    texts = [
        None,
        "",
        "   \n\t ",
        "Merhaba 😀 dünya! 🎉🎉 İstanbul'a gittik.",
        " ".join(["kedi"] * 45) + ".",
    ]
    return spark.createDataFrame(
        [(f"u{i}", t, "tr") for i, t in enumerate(texts)],
        "url string, text string, lang string",
    ).select(
        "url",
        F.current_timestamp().alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        "lang",
    )


@pytest.mark.parametrize("corpus", ["pooled", "unique_tail", "edge_cases"])
def test_kg_job_tables_match_lazy_plan(spark, tmp_path, corpus):
    """The staged kg_job and run_kg_pipeline run the same annotation UDF
    and relational stages: each of the six written tables equals the
    same field of the lazy plan by row count and order-insensitive
    digest."""
    from vnlp_spark.bin.kg_job import main

    if corpus == "edge_cases":
        docs = _edge_case_docs(spark)
    else:
        docs = generate_web_pages(spark, 400, unique_tail=corpus == "unique_tail")
    # written once, so both plans read the same warc_ts values
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    out = str(tmp_path / "kg_out")
    assert main(["--input", src, "--output", out, "--force"]) == 0
    kg = run_kg_pipeline(spark.read.parquet(src))

    def summary(df):
        h = df.select(F.xxhash64(*df.columns).alias("h"))
        return tuple(h.selectExpr("count(1)", "bit_xor(h)").first())

    for stage in ("sentences", "annotated", "mentions", "triples", "entities", "edges"):
        staged = spark.read.parquet(f"{out}/{stage}")
        lazy = getattr(kg, stage)
        assert staged.columns == lazy.columns, stage
        assert summary(staged) == summary(lazy), stage
    assert summary(kg.annotated)[0] > 0


def test_kg_job_end_to_end_with_resume(spark, tmp_path):
    """The spark-submit entry point end to end on synthetic input: all six
    stages + lineage written, and a second invocation resumes (skips
    completed stages) with identical outputs."""
    from vnlp_spark.bin.kg_job import main

    out = str(tmp_path / "kg_out")
    assert main(["--input", "synthetic:60", "--output", out]) == 0
    runner_dirs = {"sentences", "annotated", "mentions", "triples", "entities", "edges"}
    import os

    for d in runner_dirs:
        assert os.path.exists(os.path.join(out, d, "_SUCCESS")), d
        assert os.path.exists(os.path.join(out, "_lineage", d, "_SUCCESS")), d
    edges1 = sorted(map(tuple, spark.read.parquet(os.path.join(out, "edges")).collect()))
    # resume: everything already done -> same outputs, no recompute errors
    assert main(["--input", "synthetic:60", "--output", out]) == 0
    edges2 = sorted(map(tuple, spark.read.parquet(os.path.join(out, "edges")).collect()))
    assert edges1 == edges2 and len(edges1) > 0

