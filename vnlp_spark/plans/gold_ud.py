"""Independently-annotated Turkish UD gold: triple mining and scoring.

The gold splits themselves are data files (``plans/gold_blind/*.conllu``,
read by ``gold_ud_blind_data.load_split``); ``UD_GOLD`` is the tuning
split.  Two consumers:

- ``score_vs_ud_gold``: runs the REAL pipeline over gold sentences and
  scores emitted (subj, pred, obj) triples against triples mined from the
  GOLD arcs (same root/parataxis + first-child mining semantics, applied
  to independent annotations) — the honest P/R next to the pinned-fixture
  number.
- ``annotator_scores``: token-level UPOS accuracy, UAS/LAS, and NER
  accuracy/F1 of the deterministic surrogate annotators against the
  gold, published in BENCH.md next to the reference's own published
  metrics.

ANNOTATION CONVENTIONS (authoritative for every UD split in
``plans/gold_blind/`` — annotate new splits against THIS list; the
blind-12 ``sonucunda`` incident was a drift from it):

- first-clause root; subtypes collapsed to base relations
- title-headed flat names (Doktor Çelik: title NOUN nsubj, name PROPN
  flat); 3-token runs chain flat to the title
- amod on the compound head (yeni ders PROGRAMI); conjuncts chain to
  the FIRST conjunct; a list comma attaches to its conjunct
- grammaticalized possessed postpositions as ADP/case — the closed
  list is pos.py _GRAMMAT_ADPS (sırasında, sonucunda, sayesinde,
  nedeniyle, boyunca, ...); SPATIAL relational nouns stay NOUN with
  an nmod host (arasında, altına, çevresinde), as do sonuç-free
  temporal nouns (zamanında, gününde = NOUN obl) AND the agentive
  passive "tarafından" (NOUN obl, agent as nmod — blind-16 incident)
- nominalized -mA/-DIk/-AcAk complements as ccomp hosting their own
  arguments; participle relatives as VERB + acl; converbs (-IncA,
  -Ip, -ArAk, -mAdAn) as advcl, -IncA hosting its own subject
- existential var/yok as ADJ root; copular predicative complements
  (ol-, kal-, görün-) as compound; zero-copula adjectives as root
- emphatic de/da: CCONJ, advmod on the focused word; sentence-initial
  contrastive CCONJ (Ancak, Fakat): cc on the clause predicate
- bare time AND frequency nouns (sabah, üçüncü kez) as obl
- adnominal "bir" is DET+det uniformly (yeni bir hastane, bir hafta
  içinde); comitative "birlikte" is ADV+advmod even after an Ins
"""
from __future__ import annotations

from typing import List

from .gold_ud_blind_data import load_split

UD_GOLD: List[dict] = load_split("tuning")

_PRED_RELS = ("root", "parataxis")


def gold_triples_for(entry: dict) -> List[tuple]:
    """Mine (subj, pred, obj, obl) from the GOLD arcs with the pipeline's
    extraction semantics (operators/triples.py: root/parataxis predicates,
    first nsubj/obj/obl child by token order).  The mining rule is shared
    with the engine; the ARCS it runs on are the independent annotations."""
    toks, heads, rels = entry["tokens"], entry["heads"], entry["deprels"]
    out = []
    for p in range(len(toks)):
        if rels[p] not in _PRED_RELS:
            continue

        def first_child(rel):
            for i in range(len(toks)):
                if heads[i] == p + 1 and rels[i] == rel:
                    return toks[i]
            return None

        subj, obj, obl = first_child("nsubj"), first_child("obj"), first_child("obl")
        if subj is not None or obj is not None or obl is not None:
            out.append((subj, toks[p], obj, obl))
    return out


def gold_documents(spark, entries=None):
    """One web-page row per gold sentence (input_hint schema)."""
    from pyspark.sql import functions as F

    entries = UD_GOLD if entries is None else entries
    rows = [(f"ud://{i}", entry["text"]) for i, entry in enumerate(entries)]
    df = spark.createDataFrame(rows, ["url", "text"])
    return df.select(
        "url",
        F.timestamp_seconds(F.lit(1700000000)).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        F.lit("tr").alias("lang"),
    )


def score_vs_ud_gold(spark, entries=None) -> dict:
    """Run the real pipeline over the gold sentences; P/R of emitted
    triples vs gold-arc-mined triples, matched on (url, subj, pred, obj).
    Pass ``load_split("heldout")`` as ``entries`` for the frozen held-out
    number (the headline metric; tuning never saw it)."""
    from .pipeline import run_kg_pipeline

    entries = UD_GOLD if entries is None else entries
    kg = run_kg_pipeline(gold_documents(spark, entries), lang="tr")
    pred = [
        (r["url"], r["subj"], r["pred"], r["obj"])
        for r in kg.triples.select("url", "subj", "pred", "obj").collect()
    ]
    gold = [
        (f"ud://{i}", s, p, o)
        for i, entry in enumerate(entries)
        for (s, p, o, _obl) in gold_triples_for(entry)
    ]
    gold_set = set(gold)
    hits = sum(1 for t in pred if t in gold_set)
    n_pred, n_gold = len(pred), len(gold)
    return {
        "precision": hits / n_pred if n_pred else 0.0,
        "recall": hits / n_gold if n_gold else 0.0,
        "n_gold": n_gold,
        "n_pred": n_pred,
        "n_hit": hits,
    }


def annotator_scores() -> dict:
    """Pure-python eval of the surrogate annotators against the tuning gold:
    UPOS accuracy, UAS/LAS, NER token accuracy + macro F1 over PER/LOC/ORG.
    Published in BENCH.md next to the reference's own numbers."""
    from ..functions.tokenizer import py_treebank_tokenize
    from ..operators.dep_parser import py_parse_tokens
    from ..operators.ner import py_ner_tags
    from ..operators.pos import py_pos_tags

    pos_ok = pos_n = 0
    uas_ok = las_ok = arc_n = 0
    ner_ok = ner_n = 0
    per_label = {lab: [0, 0, 0] for lab in ("PER", "LOC", "ORG")}  # tp, fp, fn
    tok_mismatch = 0
    for entry in UD_GOLD:
        toks = entry["tokens"]
        if py_treebank_tokenize(entry["text"]) != toks:
            tok_mismatch += 1
            continue
        pred_pos = py_pos_tags(toks)
        for g, p in zip(entry["upos"], pred_pos):
            pos_n += 1
            pos_ok += g == p
        # every gold token counts in the UAS/LAS denominator — a sentence
        # the parser declines (None) or under-covers scores its missing
        # arcs as wrong, it does not shrink the denominator
        arcs = py_parse_tokens(toks) or []
        arc_map = {idx: (head, rel) for (idx, _tok, head, rel) in arcs}
        for i, (g_head, g_rel) in enumerate(zip(entry["heads"], entry["deprels"]), start=1):
            arc_n += 1
            pred = arc_map.get(i)
            if pred is not None and pred[0] == g_head:
                uas_ok += 1
                if pred[1] == g_rel:
                    las_ok += 1
        pred_ner = py_ner_tags(toks)
        for g, p in zip(entry["ner"], pred_ner):
            ner_n += 1
            ner_ok += g == p
            for lab in per_label:
                tp_fp_fn = per_label[lab]
                if p == lab and g == lab:
                    tp_fp_fn[0] += 1
                elif p == lab:
                    tp_fp_fn[1] += 1
                elif g == lab:
                    tp_fp_fn[2] += 1
    f1s = {}
    for lab, (tp, fp, fn) in per_label.items():
        prec = tp / (tp + fp) if tp + fp else 0.0
        rec = tp / (tp + fn) if tp + fn else 0.0
        f1s[lab] = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {
        "n_sentences": len(UD_GOLD),
        "tokenization_mismatches": tok_mismatch,
        "upos_accuracy": pos_ok / pos_n if pos_n else 0.0,
        "uas": uas_ok / arc_n if arc_n else 0.0,
        "las": las_ok / arc_n if arc_n else 0.0,
        "ner_token_accuracy": ner_ok / ner_n if ner_n else 0.0,
        "ner_f1_per_label": f1s,
        "ner_f1_macro": sum(f1s.values()) / 3,
    }
