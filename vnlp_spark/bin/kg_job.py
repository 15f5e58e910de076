"""spark-submit entry point for the KG construction job.

The production surface of the engine (reference analog: the ``vnlp`` CLI,
vnlp/bin/vnlp.py — re-shaped from per-sentence invocation into a staged,
checkpoint-resumable batch job per the north rule):

    spark-submit --py-files vnlp_spark.zip vnlp_spark/bin/kg_job.py \
        --input /data/webpages --output /data/kg --lang tr

    # synthetic input for smoke/bench runs:
    spark-submit ... kg_job.py --input synthetic:20000 --output /tmp/kg

Stages (each a parquet table under --output, each resumable — an
interrupted job re-runs only incomplete stages; see plans/lineage.py):

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


STAGES = ("sentences", "annotated", "mentions", "triples", "entities", "edges")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="vnlp-spark KG construction job")
    p.add_argument("--input", required=True,
                   help="parquet dir with (url, warc_ts, html, text, lang) or 'synthetic:N'")
    p.add_argument("--output", required=True, help="output base dir (stage tables + lineage)")
    p.add_argument("--lang", default="tr", help="language filter ('' disables)")
    p.add_argument("--stages", default="all",
                   help=f"'all' or a comma list of {','.join(STAGES)}")
    p.add_argument("--force", action="store_true", help="recompute even if stages are complete")
    args = p.parse_args(argv)
    # a misspelled stage would match nothing: no table written, and the
    # final counts would run the whole lazy chain three times
    unknown = set() if args.stages == "all" else set(args.stages.split(",")) - set(STAGES)
    if unknown:
        p.error(f"unknown --stages {','.join(sorted(unknown))} (choose from {','.join(STAGES)})")
    return args


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

    wanted = STAGES if args.stages == "all" else args.stages.split(",")
    lang = args.lang or None
    runner = StageRunner(spark, args.output)
    t0 = time.monotonic()

    annotated = P.annotated_documents_stage(docs, lang)
    if "annotated" in wanted:
        annotated = runner.run("annotated", annotated, force=args.force)
    if "sentences" in wanted:
        runner.run("sentences", annotated.select("url", "warc_ts", "sent_id", "sentence"),
                   force=args.force)
    mentions = P.mentions_stage(annotated)
    if "mentions" in wanted:
        mentions = runner.run("mentions", mentions, force=args.force)
    triples = P.triples_stage(annotated)
    if "triples" in wanted:
        triples = runner.run("triples", triples, force=args.force)
    entities = P.entities_stage(mentions)
    if "entities" in wanted:
        entities = runner.run("entities", entities, force=args.force)
    edges = P.edges_stage(triples, entities)
    if "edges" in wanted:
        edges = runner.run("edges", edges, force=args.force)

    n_triples = runner.row_count("triples") if "triples" in wanted else triples.count()
    n_entities = runner.row_count("entities") if "entities" in wanted else entities.count()
    n_edges = runner.row_count("edges") if "edges" in wanted else edges.count()
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
