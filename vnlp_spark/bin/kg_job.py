"""spark-submit entry point for the KG construction job.

The production surface of the engine (reference analog: the ``vnlp`` CLI,
vnlp/bin/vnlp.py — re-shaped from per-sentence invocation into a staged,
checkpoint-resumable batch job per the north rule):

    spark-submit --py-files vnlp_spark.zip vnlp_spark/bin/kg_job.py \
        --input /data/crawl --output /data/kg

    # synthetic input for smoke/bench runs:
    spark-submit ... kg_job.py --input synthetic:20000 --output /tmp/kg

Turkish documents (``lang = 'tr'``) go through all six stages, each a
parquet table under --output, each resumable — an interrupted job re-runs
only incomplete stages; see plans/lineage.py:

    annotated -> sentences, mentions, triples -> entities -> edges
    plus _lineage/<stage>/ rows (bucket, n_rows, checksum, completed_ts)

``annotated`` runs ``annotated_documents_stage``, the one per-document
annotation UDF behind ``run_kg_pipeline`` too, so every table equals the
same field of the lazy plan.  ``sentences`` is a projection of the
written ``annotated`` table.

All model/lexicon resources ship inside the vnlp_spark package (the
--py-files zip), so executors need no network access (the reference's
lazy S3 download at utils.py:9-24 is replaced by packaged data).
"""
from __future__ import annotations

import argparse
import sys
import time


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="vnlp-spark KG construction job")
    p.add_argument("--input", required=True,
                   help="parquet dir with (url, warc_ts, html, text, lang) or 'synthetic:N'")
    p.add_argument("--output", required=True, help="output base dir (stage tables + lineage)")
    p.add_argument("--force", action="store_true", help="recompute even if stages are complete")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    from pyspark.sql import SparkSession

    # only stop the session on exit if this job created it (embedded
    # callers — tests, notebooks — keep theirs)
    owns_session = SparkSession.getActiveSession() is None
    spark = SparkSession.builder.appName("vnlp-kg-job").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from vnlp_spark.plans import pipeline as P
    from vnlp_spark.plans.lineage import StageRunner

    if args.input.startswith("synthetic:"):
        from vnlp_spark.plans.corpus import generate_web_pages

        docs = generate_web_pages(spark, int(args.input.split(":", 1)[1]))
    else:
        docs = spark.read.parquet(args.input)

    runner = StageRunner(spark, args.output)
    t0 = time.monotonic()

    annotated = runner.run("annotated", P.annotated_documents_stage(docs), force=args.force)
    runner.run("sentences", P.sentences_stage(annotated), force=args.force)
    mentions = runner.run("mentions", P.mentions_stage(annotated), force=args.force)
    triples = runner.run("triples", P.triples_stage(annotated), force=args.force)
    entities = runner.run("entities", P.entities_stage(mentions), force=args.force)
    runner.run("edges", P.edges_stage(triples, entities), force=args.force)

    n_triples = runner.row_count("triples")
    n_entities = runner.row_count("entities")
    n_edges = runner.row_count("edges")
    dt = time.monotonic() - t0
    print(
        f"[kg-job] done in {dt:.1f}s: {n_triples} triples, "
        f"{n_entities} entities, {n_edges} edges -> {args.output}",
        file=sys.stderr,
    )
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
