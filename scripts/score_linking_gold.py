"""Score link_mentions against the frozen linking gold (VERDICT r03 #6).

Builds the KB entities with build_entities (seed surfaces weighted by the
skewed counts), links every gold mention with link_mentions, and reports
linking precision / recall with per-miss detail.

The gold is plans/gold_blind/{split}_kb.tsv and {split}_links.tsv;
``--tuning`` adds the split's post-scoring pins, {split}_tuning.tsv (a
usage error for a split without one).

Run: python scripts/score_linking_gold.py [--split linking2] [--tuning]
"""
from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from vnlp_spark.operators.entity_resolution import (
    build_entities,
    canonical_key,
    initials_aliases,
    link_mentions,
)
from vnlp_spark.plans.gold_ud_blind_data import load_kb, load_links


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description="score link_mentions against a linking gold split")
    p.add_argument("--split", default="linking1")
    p.add_argument("--tuning", action="store_true", help="add the split's tuning pins")
    args = p.parse_args(argv)
    split = args.split
    kb, rows = load_kb(f"{split}_kb"), load_links(f"{split}_links")
    if args.tuning:
        try:
            rows = rows + load_links(f"{split}_tuning")
        except FileNotFoundError:
            p.error(f"split {split} has no tuning pins ({split}_tuning.tsv)")

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("linking-gold")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    seed_rows = [(surface, typ) for surface, typ, n in kb for _ in range(n)]
    seeds = spark.createDataFrame(seed_rows, "mention string, label string") \
        .withColumn("canon_key", canonical_key("mention"))
    entities = build_entities(seeds).cache()

    mentions = spark.createDataFrame(
        [(i, m, l, g) for i, (m, l, g) in enumerate(rows)],
        "mid int, mention string, label string, gold string",
    ).withColumn("canon_key", canonical_key("mention"))

    linked = link_mentions(mentions, entities,
                           aliases_df=initials_aliases(entities))
    result = (
        linked.join(
            entities.select(F.col("entity_id"), F.col("canon_key").alias("linked_key")),
            on="entity_id", how="left")
        .select("mid", "mention", "label", "gold", "linked_key")
        .orderBy("mid")
        .collect()
    )

    tp = fp = fn = tn = 0
    for r in result:
        if r["linked_key"] is not None:
            if r["gold"] is not None and r["linked_key"] == r["gold"]:
                tp += 1
            else:
                fp += 1
                print(f"FP  {r['mention']!r:32s} ({r['label']}) -> "
                      f"{r['linked_key']!r} (gold {r['gold']!r})")
        else:
            if r["gold"] is not None:
                fn += 1
                print(f"FN  {r['mention']!r:32s} ({r['label']}) unlinked "
                      f"(gold {r['gold']!r})")
            else:
                tn += 1
    prec = tp / max(1, tp + fp)
    rec = tp / max(1, tp + fn)
    print(f"\nlinking: P={prec:.3f} R={rec:.3f} "
          f"(tp={tp} fp={fp} fn={fn} tn={tn} of {len(result)})")
    spark.stop()


if __name__ == "__main__":
    main()
