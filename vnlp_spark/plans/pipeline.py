"""The end-to-end KG construction pipeline (north-rule contract).

documents(url, warc_ts, html, text, lang)
  -> filter lang='tr'                      (predicate pushdown to the scan)
  -> split / tokenize / morphology /       (T1/T3/M1/M2/M6; ONE fused
     NER mentions / parse + inline          Arrow UDF per document, narrow)
  -> triples                               (one SQL higher-order
                                            expression, native, narrow)
  -> entities + edges                      (hash aggregates + hash joins —
                                            the ONLY shuffles in the plan)

Scale notes: everything up to `triples` is a single narrow map lineage —
at 10^12 docs it parallelizes per input split with zero data movement.
The entity aggregate shuffles (key, type) pairs (vocabulary-sized), and
the edge join resolves subj/obj with plain equi-joins: the planner
broadcasts the entity table when its statistics say it is small, and
otherwise AQE splits the hot partitions of the triple side at runtime.
Column pruning keeps `html` out of every scan (only `text` is read).

Boundary costs are kept small on both sides.  On the driver, each
relational stage is built from SQL expression strings (``selectExpr`` /
``F.expr``), so a plan costs a few hundred py4j round trips instead of
one per Column-builder node.  On the workers, the one annotation UDF is
an ``arrow_map`` over ``py_annotate_document``: it runs once per distinct
document of an Arrow batch, each sentence goes through the worker's
bounded ``annotate_sentence`` cache, and the kernel's tuples become one
``pa.array(rows, type=...)`` call, with no pandas conversion of the
nested ``array<struct<...>>`` output.
"""
from __future__ import annotations

from dataclasses import dataclass
from functools import lru_cache

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..functions._udf import arrow_map
from ..functions.sentence_splitter import py_split_sentences
from ..functions.tokenizer import py_treebank_tokenize
from ..operators.dep_parser import ARC_SCHEMA, py_parse_tokens
from ..operators.entity_resolution import build_entities, canonical_key_sql
from ..operators.morphology import py_analyze_tokens
from ..operators.ner import _MENTION_SCHEMA, py_ner_mentions
from ..operators.triples import explode_triples
from ..resources import non_breaking_prefixes

_DOC_ANNOTATION_SCHEMA = ArrayType(
    StructType(
        [
            StructField("sent_id", IntegerType()),
            StructField("sentence", StringType()),
            StructField("tokens", ArrayType(StringType())),
            StructField("analyses", ArrayType(StringType())),
            StructField("mentions", ArrayType(_MENTION_SCHEMA.elementType)),
            StructField("arcs", ArrayType(ARC_SCHEMA.elementType)),
        ]
    )
)

# distinct sentences each python worker keeps annotated.  Repeats across
# Arrow batches are rare: in perfbench's seed-1 and seed-2 runs the cache
# hit 120 of about 117,000 crawl-pooled sentence rows that the per-batch
# memo missed, and none on open-vocab.  The bound caps what text that
# never repeats holds: about 7 MB per worker on open-vocab sentences
# (tracemalloc), inside the 10% py_peak_rss_mb bound.
SENTENCE_CACHE_MAX = 4096


@lru_cache(maxsize=SENTENCE_CACHE_MAX)
def annotate_sentence(sentence: str) -> tuple:
    """The annotation kernel of every KG job: tokenize + morphology + NER
    + parse of one sentence -> ``(tokens, analyses, mentions, arcs)``.
    The result is shared by every caller that asks for the same sentence,
    so callers must not mutate it."""
    tokens = py_treebank_tokenize(sentence)
    analyses = py_analyze_tokens(tokens)
    mentions = [
        (m["mention"], m["label"], m["first_tok"], m["last_tok"])
        for m in py_ner_mentions(tokens)
    ]
    arcs = py_parse_tokens(tokens, analyses=analyses)
    return tokens, analyses, mentions, arcs


def py_annotate_document(text: str) -> list:
    """One document -> its annotated sentence rows ``(sent_id, sentence,
    tokens, analyses, mentions, arcs)``: split, then ``annotate_sentence``
    per sentence."""
    return [
        (sid, sent) + annotate_sentence(sent)
        for sid, sent in enumerate(py_split_sentences(text, non_breaking_prefixes()))
    ]


# string text -> the document's annotated sentence rows, in ONE python
# pass per distinct document of a batch (a single ArrowEvalPython node for
# the whole annotation layer; callers inline the result)
_annotate_document_udf = arrow_map(py_annotate_document, _DOC_ANNOTATION_SCHEMA)


def sentences_stage(annotated: DataFrame) -> DataFrame:
    """Annotated sentence rows -> (url, warc_ts, sent_id, sentence): the
    ``sentences`` table of every KG job, lazy or staged."""
    return annotated.select("url", "warc_ts", "sent_id", "sentence")


def annotated_documents_stage(docs: DataFrame, lang: str | None = "tr") -> DataFrame:
    """documents -> fully annotated sentence rows in ONE python stage
    (split + tokenize + morphology + NER + parse fused per document): the
    heuristic annotation stage of every KG job, lazy or staged: (url,
    warc_ts, sent_id, sentence, tokens, analyses, mentions, arcs)."""
    if lang is not None:
        docs = docs.filter(F.col("lang") == lang)
    return docs.select("url", "warc_ts", F.inline(_annotate_document_udf("text")))


# perfbench's trace wrap list (perfbench/run.py ``_wrap_program``) looks this
# name up; nothing else reads it.
annotate_stage = annotated_documents_stage


def triples_stage(annotated: DataFrame) -> DataFrame:
    """-> flat (url, warc_ts, sent_id, subj, pred, obj, obl, subj_type, obj_type)."""
    return explode_triples(annotated)


# SQL text: the canonical key of an exploded mention ``m`` of an annotated
# row.  The head token's root (the analysis at ``last_tok`` up to its first
# ``+``) is preferred over the surface, so the entity table and the
# streaming aggregates give the mention "Ankara'da üniversiteyi" one key,
# 'üniversite'.
MENTION_KEY_SQL = canonical_key_sql(
    "m.mention", "split(try_element_at(analyses, m.last_tok + 1), '[+]')[0]")


def mentions_stage(annotated: DataFrame) -> DataFrame:
    """-> flat mention rows with canonical keys (``MENTION_KEY_SQL``)."""
    return annotated.selectExpr(
        "url", "sent_id", "analyses", "explode(mentions) AS m"
    ).selectExpr(
        "url",
        "sent_id",
        "m.mention AS mention",
        "m.label AS label",
        "m.first_tok AS first_tok",
        "m.last_tok AS last_tok",
        f"{MENTION_KEY_SQL} AS canon_key",
    )


def entities_stage(mentions: DataFrame) -> DataFrame:
    return build_entities(mentions)


def edges_stage(triples: DataFrame, entities: DataFrame) -> DataFrame:
    """Resolve triple arguments to entity ids -> edges table.

    Subject/object surfaces canonicalize with the same key function the
    entity table was built with, then look up their entity with a plain
    left equi-join each.  Spark chooses the join: a vocabulary-sized
    entity table is broadcast (its statistics fall under
    ``spark.sql.autoBroadcastJoinThreshold``), so the triple stream never
    shuffles; a bigger one goes through a sort-merge join whose Zipfian
    head partitions (İstanbul, Türkiye) AQE's skew join splits at runtime.
    """
    # subj/obj surfaces resolved via their canon keys against entities
    t = triples.selectExpr("*", *(
        f"CASE WHEN {arg} IS NOT NULL THEN {canonical_key_sql(arg)} END AS {arg}_key"
        for arg in ("subj", "obj")
    ))

    def rename(side: str):
        return entities.selectExpr(
            f"entity_id AS {side}_id", f"canon_key AS {side}_key", f"type AS {side}_etype"
        )

    e = t.join(rename("subj"), on=["subj_key"], how="left").join(
        rename("obj"), on=["obj_key"], how="left"
    )
    return e.select("subj_id", "subj", "pred", "obj_id", "obj", "url", "warc_ts").where(
        "subj_id IS NOT NULL OR obj_id IS NOT NULL")


@dataclass
class KGResult:
    sentences: DataFrame
    annotated: DataFrame
    mentions: DataFrame
    triples: DataFrame
    entities: DataFrame
    edges: DataFrame


def run_kg_pipeline(docs: DataFrame, lang: str | None = "tr",
                    persist: bool = False) -> KGResult:
    """Assemble the full logical plan (lazy — nothing executes here).

    Annotation runs as one fused python stage per document
    (``annotated_documents_stage``); ``sentences`` is a projection of it.

    ``persist=True`` caches the annotated sentences (MEMORY_AND_DISK):
    triples, entities, and edges all branch from that column set, so
    without it each downstream action re-runs the Arrow-UDF annotation
    chain — the dominant cost.  On a cluster the same role is played by
    the stage-boundary write (plans.lineage.StageRunner)."""
    annotated = annotated_documents_stage(docs, lang)
    sentences = sentences_stage(annotated)
    if persist:
        from pyspark import StorageLevel

        annotated = annotated.persist(StorageLevel.MEMORY_AND_DISK)
    mentions = mentions_stage(annotated)
    triples = triples_stage(annotated)
    entities = entities_stage(mentions)
    if persist:
        # triples feeds edges and is also consumed directly; entities is
        # broadcast into TWO joins (subj + obj) — without pinning, each
        # consumer re-derives them from `annotated`
        triples = triples.persist(StorageLevel.MEMORY_AND_DISK)
        entities = entities.persist(StorageLevel.MEMORY_AND_DISK)
    edges = edges_stage(triples, entities)
    return KGResult(sentences, annotated, mentions, triples, entities, edges)
