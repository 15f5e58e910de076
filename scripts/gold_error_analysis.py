"""Per-sentence error analysis of the triple pipeline against the UD gold.

Pure-python mirror of the engine's mining semantics (operators/triples.py:
root/parataxis predicates, first nsubj/obj/obj child by token order) run on
py_parse_tokens arcs, diffed against gold_triples_for — plus UPOS and arc
diffs so misses are attributable to morphology vs attachment.

Usage:
    python scripts/gold_error_analysis.py                  # tuning split
    python scripts/gold_error_analysis.py --split heldout  # any split in plans/gold_blind/
    python scripts/gold_error_analysis.py --quiet          # scores only
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vnlp_spark.functions.tokenizer import py_treebank_tokenize
from vnlp_spark.operators.dep_parser import py_parse_tokens
from vnlp_spark.operators.morphology import py_analyze_tokens
from vnlp_spark.operators.pos import upos_from_analysis
from vnlp_spark.plans.gold_ud import gold_triples_for
from vnlp_spark.plans.gold_ud_blind_data import load_split

_PRED_RELS = ("root", "parataxis")


def predicted_triples(tokens):
    """Mine (subj, pred, obj, obl) from the engine's own arcs with the same
    first-child-by-token-order semantics as operators/triples.py."""
    arcs = py_parse_tokens(tokens)
    if arcs is None:
        return []
    out = []
    for (idx, tok, head, rel) in arcs:
        if rel not in _PRED_RELS:
            continue

        def first_child(want):
            for (i, t, h, r) in arcs:
                if h == idx and r == want:
                    return t
            return None

        s, o, ob = first_child("nsubj"), first_child("obj"), first_child("obl")
        if s is not None or o is not None or ob is not None:
            out.append((s, tok, o, ob))
    return out


def run(entries, verbose=True):
    tp = fp = fn = 0
    pos_ok = pos_n = uas_ok = las_ok = arc_n = 0
    tok_mismatch = 0
    for si, e in enumerate(entries):
        toks = e["tokens"]
        if py_treebank_tokenize(e["text"]) != toks:
            tok_mismatch += 1
            if verbose:
                print(f"[{si}] TOKENIZATION MISMATCH: {e['text']}")
                print(f"     got: {py_treebank_tokenize(e['text'])}")
            continue
        gold = {(s, p, o) for (s, p, o, _ob) in gold_triples_for(e)}
        pred = {(s, p, o) for (s, p, o, _ob) in predicted_triples(toks)}
        tp += len(gold & pred)
        fp += len(pred - gold)
        fn += len(gold - pred)

        analyses = py_analyze_tokens(toks)
        from vnlp_spark.operators.pos import adjust_upos

        upos = adjust_upos(toks, [upos_from_analysis(a) for a in analyses], analyses)
        pos_diffs = [
            (toks[i], g, p, analyses[i])
            for i, (g, p) in enumerate(zip(e["upos"], upos))
            if g != p
        ]
        pos_n += len(toks)
        pos_ok += len(toks) - len(pos_diffs)
        arcs = py_parse_tokens(toks, upos=upos, analyses=analyses) or []
        arc_map = {idx: (h, r) for (idx, _t, h, r) in arcs}
        arc_diffs = []
        for i, (gh, gr) in enumerate(zip(e["heads"], e["deprels"]), start=1):
            arc_n += 1
            got = arc_map.get(i)
            if got and got[0] == gh:
                uas_ok += 1
                if got[1] == gr:
                    las_ok += 1
                    continue
            arc_diffs.append((toks[i - 1], f"{gh}:{gr}", f"{got[0]}:{got[1]}" if got else "-"))

        if verbose and (pred != gold or pos_diffs or arc_diffs):
            print(f"[{si}] {e['text']}")
            if pred - gold:
                print(f"     FP triples: {sorted(pred - gold, key=str)}")
            if gold - pred:
                print(f"     FN triples: {sorted(gold - pred, key=str)}")
            for t, g, p, a in pos_diffs:
                print(f"     POS {t}: gold={g} pred={p}   [{a}]")
            for t, g, p in arc_diffs:
                print(f"     ARC {t}: gold={g} pred={p}")
    prec = tp / (tp + fp) if tp + fp else 0.0
    rec = tp / (tp + fn) if tp + fn else 0.0
    print(
        f"\ntriples: P={prec:.3f} R={rec:.3f} (tp={tp} fp={fp} fn={fn})  "
        f"UPOS={pos_ok / pos_n:.3f}  UAS={uas_ok / arc_n:.3f} LAS={las_ok / arc_n:.3f}  "
        f"tok_mismatch={tok_mismatch}/{len(entries)}"
    )
    return prec, rec


if __name__ == "__main__":
    split = sys.argv[sys.argv.index("--split") + 1] if "--split" in sys.argv else "tuning"
    run(load_split(split), verbose="--quiet" not in sys.argv)
