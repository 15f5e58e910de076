"""Physical-plan assertions: the scale-critical optimizations must be
visible in the plans, not just intended."""
import io
import threading
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


def _executed_nodes(df) -> list:
    """Node names of ``df``'s executed physical plan, walked as a tree
    (not its string): the final adaptive plan, and each query stage's
    plan.  A reused exchange is a leaf; the plan it reuses is counted
    once, where it ran."""
    names, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        names.append(node.nodeName())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
        if names[-1] == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
        elif node.getClass().getSimpleName().endswith("QueryStageExec"):
            todo.append(node.plan())
    return names


def test_edges_broadcast_without_hint(spark, tmp_path):
    """edges_stage carries no broadcast hint: the planner broadcasts the
    entity table from its statistics alone.  Both the benchmarked plan
    (persisted, entities materialized first) and the lazy plan execute
    with broadcast entity lookups and no sort-merge join, in the initial
    adaptive plan as well as the final one (the executed plan's text
    prints both)."""
    path = str(tmp_path / "docs.parquet")
    generate_web_pages(spark, 80).write.parquet(path)

    kg = run_kg_pipeline(spark.read.parquet(path), persist=True)
    try:
        kg.entities.count()
        kg.edges.collect()
        persisted = _plan(kg.edges)
    finally:
        for df in (kg.annotated, kg.triples, kg.entities):
            df.unpersist()
    lazy = run_kg_pipeline(spark.read.parquet(path)).edges
    assert len(lazy.collect()) > 0
    # the lazy plan annotates twice, once for the entity aggregate and once
    # for the triple stream: the obj lookup reuses the subj lookup's
    # broadcast exchange instead of annotating a third time
    nodes = _executed_nodes(lazy)
    assert nodes[0] == "AdaptiveSparkPlan"
    assert nodes.count("ArrowEvalPython") == 2, nodes
    assert nodes.count("ReusedExchange") == 1, nodes

    for name, plan in (("persisted", persisted), ("lazy", _plan(lazy))):
        assert "isFinalPlan=true" in plan, name
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


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
    # py4j's finalizer thread sends the detach commands of Python proxies
    # that earlier tests dropped; only this thread's calls build the plan
    me = threading.get_ident()

    def counting(self, *args, **kwargs):
        if threading.get_ident() == me:
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
