"""Score a frozen sentiment gold split (plans/gold_blind/sentiment*.tsv).

Blind protocol: the gold file is committed BEFORE this script is first
run; the first run's number is recorded as-is in BENCH.md.

Reports overall accuracy plus the per-category breakdown (each gold row
carries its category: plain, negation, mixed, terse per polarity), and
the reference's published 0.947 for comparison (the reference's
vnlp/sentiment_analyzer/spu_context_bigru_sentiment.py:78).

Usage: python scripts/score_sentiment_gold.py [--split sentiment2]
"""
from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from vnlp_spark.operators.sentiment import py_sentiment, py_sentiment_proba  # noqa: E402
from vnlp_spark.plans.gold_ud_blind_data import load_sentiment  # noqa: E402


def main() -> None:
    split = sys.argv[sys.argv.index("--split") + 1] if "--split" in sys.argv else "sentiment1"
    gold_rows, cats = load_sentiment(split)
    preds = [py_sentiment(t) for t, _ in gold_rows]
    golds = [lbl for _, lbl in gold_rows]
    n_ok = sum(p == g for p, g in zip(preds, golds))
    print(f"overall accuracy: {n_ok}/{len(golds)} = {n_ok / len(golds):.3f}"
          f"   (reference published: 0.947)")
    for name in dict.fromkeys(cats):
        idx = [i for i, c in enumerate(cats) if c == name]
        ok = sum(preds[i] == golds[i] for i in idx)
        print(f"  {name:14s} {ok:3d}/{len(idx):<3d} = {ok / len(idx):.3f}")
    print("\nmisclassified:")
    for (text, gold), pred in zip(gold_rows, preds):
        if pred != gold:
            proba = py_sentiment_proba(text)
            print(f"  gold={gold} pred={pred} p={proba:.3f}  {text}")


if __name__ == "__main__":
    main()
