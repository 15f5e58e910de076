"""Score the annotation kernel against the frozen UD gold splits.

With no flag, prints every split's level line (``gold_ud.gold_levels``:
triples P/R, UPOS, UAS/LAS), exactly the block ``tests/test_gold_data.py``
pins.  With ``--split NAME``, prints that split's per-sentence diffs —
triples, UPOS (with the morphological analysis) and arcs, so misses are
attributable to morphology vs attachment — then its level line.

Usage:
    python scripts/gold_error_analysis.py                  # every split's level
    python scripts/gold_error_analysis.py --split heldout  # one split's diffs
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vnlp_spark.plans.gold_ud import gold_levels, level_line, score_split
from vnlp_spark.plans.gold_ud_blind_data import load_split


def print_diffs(name: str) -> None:
    score = score_split(load_split(name))
    for d in score["diffs"]:
        print(f"[{d['index']}] {d['text']}")
        if "tokens" in d:
            print(f"     TOKENIZATION MISMATCH, got: {d['tokens']}")
            continue
        if d["fp"]:
            print(f"     FP triples: {d['fp']}")
        if d["fn"]:
            print(f"     FN triples: {d['fn']}")
        for t, g, p, a in d["pos"]:
            print(f"     POS {t}: gold={g} pred={p}   [{a}]")
        for t, g, p in d["arcs"]:
            print(f"     ARC {t}: gold={g} pred={p}")
    print(level_line(name, score))


if __name__ == "__main__":
    if "--split" in sys.argv:
        print_diffs(sys.argv[sys.argv.index("--split") + 1])
    else:
        print("\n".join(gold_levels()))
