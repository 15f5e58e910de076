"""Entity-linking quality pin (VERDICT r03 #6): the frozen linking gold
plus its post-scoring tuning pins must stay at P/R = 1.000.

First-run record (BENCH.md): P=1.000 R=0.797 — 12 FN across four
categories (ASCII-folded spellings broke the block prefix, fused
suffixes diluted Jaccard, transposition typos fell under every gram
threshold, abbreviations unreachable by similarity).  Fixed by general
rules: fold_key blocking/gramming, containment similarity, bounded
Damerau-Levenshtein verify, initials + curated club aliases."""
import pytest
from pyspark.sql import functions as F

from vnlp_spark.operators.entity_resolution import (
    build_entities,
    canonical_key,
    initials_aliases,
    link_mentions,
)
from vnlp_spark.plans.gold_ud_blind_data import load_kb, load_links

KB = load_kb("linking1_kb")
GOLD_LINKS = load_links("linking1_links")
TUNING_LINKS = load_links("linking1_tuning")


def test_linking_gold_and_tuning_exact(spark):
    seeds = spark.createDataFrame(
        [(s, t) for s, t, n in KB for _ in range(max(1, n // 10))],
        "mention string, label string",
    ).withColumn("canon_key", canonical_key("mention"))
    entities = build_entities(seeds)

    rows = GOLD_LINKS + TUNING_LINKS
    mentions = spark.createDataFrame(
        [(i, m, l, g) for i, (m, l, g) in enumerate(rows)],
        "mid int, mention string, label string, gold string",
    ).withColumn("canon_key", canonical_key("mention"))

    linked = link_mentions(mentions, entities,
                           aliases_df=initials_aliases(entities))
    result = linked.join(
        entities.select("entity_id", F.col("canon_key").alias("linked_key")),
        on="entity_id", how="left",
    ).select("mention", "label", "gold", "linked_key").collect()

    assert len(result) == len(rows)
    misses = [
        (r["mention"], r["gold"], r["linked_key"]) for r in result
        if r["linked_key"] != r["gold"]
    ]
    assert misses == [], f"linking misses: {misses}"


def test_score_script_rejects_tuning_without_pins(monkeypatch, capsys):
    """``--tuning`` on a split with no ``{split}_tuning.tsv`` is a usage
    error (exit 2) raised before any Spark session starts."""
    from scripts import score_linking_gold

    class NoSpark:
        def __getattr__(self, name):
            raise AssertionError("a Spark session was started")

    monkeypatch.setattr(score_linking_gold, "SparkSession", NoSpark())
    with pytest.raises(SystemExit) as exc:
        score_linking_gold.main(["--split", "linking2", "--tuning"])
    assert exc.value.code == 2
    assert "linking2_tuning.tsv" in capsys.readouterr().err
