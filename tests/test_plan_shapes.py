"""Physical-plan assertions: the scale-critical optimizations must be
visible in the plans, not just intended."""
import io
from contextlib import redirect_stdout

import pyspark.sql.functions as F

from vnlp_spark.plans.corpus import generate_web_pages
from vnlp_spark.plans.pipeline import run_kg_pipeline


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_documents_scan_pushdown(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = docs.filter(F.col("lang") == "tr").select("doc_id", F.length("text").alias("len"))
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,tr)]" in plan
    # column pruning: the scan reads only the referenced columns
    assert "n_chars" not in plan.split("ReadSchema:")[1].splitlines()[0]


def test_edges_plan_broadcasts_entities(spark):
    kg = run_kg_pipeline(generate_web_pages(spark, 50))
    plan = _plan(kg.edges)
    assert "BroadcastHashJoin" in plan, "entity lookups must be broadcast joins"
    assert "SortMergeJoin" not in plan, "triple stream must not shuffle for entity lookup"


def test_annotation_is_single_python_node(spark):
    kg = run_kg_pipeline(generate_web_pages(spark, 50))
    plan = _plan(kg.annotated)
    assert plan.count("ArrowEvalPython (") == 1, (
        "split+tokenize+morph+NER+parse must fuse into ONE ArrowEvalPython node"
    )
    assert "Exchange" not in plan, "annotation must be a narrow (shuffle-free) lineage"


def test_triples_extraction_stays_native(spark):
    kg = run_kg_pipeline(generate_web_pages(spark, 50))
    plan = _plan(kg.triples)
    # one python node (annotation); triple extraction adds no python
    assert plan.count("ArrowEvalPython (") == 1


def test_edges_salted_fallback_matches_broadcast(spark):
    """entity_join='salted' (the too-big-to-broadcast path) must produce
    byte-identical edges with no broadcast of the entity table."""
    from vnlp_spark.plans.pipeline import edges_stage

    kg = run_kg_pipeline(generate_web_pages(spark, 80), persist=True)
    try:
        bcast = edges_stage(kg.triples, kg.entities, entity_join="broadcast")
        salted = edges_stage(kg.triples, kg.entities, entity_join="salted")
        # emulate an entities table too big for auto-broadcast (at test
        # scale Catalyst would otherwise auto-broadcast the salted side)
        threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = _plan(salted)
            assert "BroadcastHashJoin" not in plan, (
                "salted mode must not plan a broadcast entity join"
            )
            cols = bcast.columns
            b = sorted(map(tuple, salted.select(*cols).collect()))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        a = sorted(map(tuple, bcast.select(*cols).collect()))
        assert a == b and len(a) > 0
    finally:
        for df in (kg.annotated, kg.triples, kg.entities):
            df.unpersist()


def test_edges_auto_switch(spark):
    from vnlp_spark.plans.pipeline import edges_stage

    kg = run_kg_pipeline(generate_web_pages(spark, 50), persist=True)
    try:
        # tiny entity table -> auto picks broadcast
        auto_small = edges_stage(kg.triples, kg.entities, entity_join="auto")
        assert "BroadcastHashJoin" in _plan(auto_small)
        # force the over-threshold branch via the caller-supplied count
        auto_big = edges_stage(
            kg.triples, kg.entities, entity_join="auto", entities_rows=10_000_000
        )
        threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            assert "BroadcastHashJoin" not in _plan(auto_big)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    finally:
        for df in (kg.annotated, kg.triples, kg.entities):
            df.unpersist()


def test_kg_plan_gateway_round_trips(spark, tmp_path):
    """Building the lazy KG plan is cheap on the driver: the relational
    stages cross to the JVM as SQL strings, not one py4j round trip per
    Column-builder node (a Column-builder plan took 3,400-4,300 calls)."""
    from py4j.clientserver import ClientServerConnection

    path = str(tmp_path / "docs.parquet")
    generate_web_pages(spark, 50).write.parquet(path)
    docs = spark.read.parquet(path)
    docs.columns  # resolve the scan before counting

    calls = [0]
    send = ClientServerConnection.send_command

    def counting(self, *args, **kwargs):
        calls[0] += 1
        return send(self, *args, **kwargs)

    ClientServerConnection.send_command = counting
    try:
        kg = run_kg_pipeline(docs, persist=True)
    finally:
        ClientServerConnection.send_command = send
    try:
        assert 0 < calls[0] <= 500, f"{calls[0]} py4j round trips to build the KG plan"
    finally:
        for df in (kg.annotated, kg.triples, kg.entities):
            df.unpersist()
