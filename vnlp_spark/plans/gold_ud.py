"""Independently-annotated Turkish UD gold: triple mining and scoring.

The gold splits themselves are data files (``plans/gold_blind/*.conllu``,
read by ``gold_ud_blind_data.load_split``); ``UD_GOLD`` is the tuning
split.  Two scorers, which check each other on tuning
(``tests/test_validity_charner_eval.py``):

- ``score_split``: pure Python.  Runs the annotation kernel of every KG
  job (``pipeline._annotate_sentence_cached``) once per gold sentence
  and takes triples P/R, UPOS accuracy, UAS/LAS and, on splits that
  carry NER, NER token accuracy and macro F1 from that one result.
  ``gold_levels`` renders its level line per split, which
  ``tests/test_gold_data.py`` pins and ``scripts/gold_error_analysis.py``
  prints.
- ``score_vs_ud_gold``: runs the Spark pipeline over the gold sentences
  and scores the emitted (subj, pred, obj) triples.

Both mine triples with ``gold_triples_for`` from the GOLD arcs (the
independent annotations) and compare them with what the engine emits.

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

from ..operators.ner import py_ner_tags
from ..operators.pos import adjust_upos
from ..operators.triples import _PRED_RELS
from .gold_ud_blind_data import available_splits, load_split
from .pipeline import _annotate_sentence_cached, run_kg_pipeline

UD_GOLD: List[dict] = load_split("tuning")


def gold_triples_for(entry: dict) -> List[tuple]:
    """Mine (subj, pred, obj, obl) from a sentence's arcs with the
    pipeline's extraction semantics (operators/triples.py: root/parataxis
    predicates, first nsubj/obj/obl child by token order).  ``entry``
    carries tokens / heads / deprels: a gold sentence, whose arcs are the
    independent annotations, or the kernel's parse of it."""
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




def _ratio(num: int, den: int) -> float:
    return num / den if den else 0.0


def score_split(entries: List[dict]) -> dict:
    """Score the annotation kernel of every KG job against one gold split.

    Each sentence runs once through ``_annotate_sentence_cached`` and every
    number comes from that one result: triples (``gold_triples_for`` over
    the gold arcs and the kernel's arcs alike, compared as (subj, pred,
    obj) sets), UPOS (``adjust_upos`` over the kernel's analyses, as
    ``py_pos_tags``), UAS/LAS over the kernel's arcs, and NER token
    accuracy and macro F1 (``py_ner_tags``) on sentences that carry NER.
    The macro averages the PER/LOC/ORG F1 of the labels that have gold or
    predicted tokens; an absent label's F1 is ``None``, and so is the
    macro of a split with no label at all.  A sentence the tokenizer
    splits differently from the gold is counted in ``tok_mismatch`` and
    not scored.  Every gold token counts in the UAS/LAS denominator: a
    parse the kernel refuses scores its arcs as wrong.  ``diffs`` holds
    one record per sentence with any difference from the gold."""
    cache: dict = {}
    tp = fp = fn = tok_mismatch = 0
    pos_ok = uas_ok = las_ok = n_tok = 0
    ner_ok = ner_n = 0
    per_label = {lab: [0, 0, 0] for lab in ("PER", "LOC", "ORG")}  # tp, fp, fn
    diffs = []
    for si, entry in enumerate(entries):
        tokens, analyses, _mentions, arcs = _annotate_sentence_cached(cache, entry["text"])
        if tokens != entry["tokens"]:
            tok_mismatch += 1
            diffs.append(dict(index=si, text=entry["text"], tokens=tokens))
            continue
        arcs = arcs or [(i + 1, tok, None, None) for i, tok in enumerate(tokens)]
        kernel = dict(tokens=tokens, heads=[a[2] for a in arcs], deprels=[a[3] for a in arcs])
        gold = {(s, p, o) for (s, p, o, _obl) in gold_triples_for(entry)}
        pred = {(s, p, o) for (s, p, o, _obl) in gold_triples_for(kernel)}
        tp += len(gold & pred)
        fp += len(pred - gold)
        fn += len(gold - pred)

        upos = adjust_upos(tokens, analyses)
        pos_diffs = [
            (tokens[i], g, p, analyses[i])
            for i, (g, p) in enumerate(zip(entry["upos"], upos))
            if g != p
        ]
        arc_diffs = []
        for i, (gh, gr) in enumerate(zip(entry["heads"], entry["deprels"])):
            _idx, _tok, h, r = arcs[i]
            uas_ok += h == gh
            las_ok += h == gh and r == gr
            if (h, r) != (gh, gr):
                arc_diffs.append((tokens[i], f"{gh}:{gr}", f"{h}:{r}" if h is not None else "-"))
        n_tok += len(tokens)
        pos_ok += len(tokens) - len(pos_diffs)

        if "ner" in entry:
            for g, p in zip(entry["ner"], py_ner_tags(tokens)):
                ner_n += 1
                ner_ok += g == p
                for lab, counts in per_label.items():
                    if p == lab and g == lab:
                        counts[0] += 1
                    elif p == lab:
                        counts[1] += 1
                    elif g == lab:
                        counts[2] += 1

        if pred != gold or pos_diffs or arc_diffs:
            diffs.append(dict(index=si, text=entry["text"], fp=sorted(pred - gold, key=str),
                              fn=sorted(gold - pred, key=str), pos=pos_diffs, arcs=arc_diffs))
    f1s = {}
    for lab, (ltp, lfp, lfn) in per_label.items():
        if ltp + lfp + lfn == 0:
            f1s[lab] = None  # neither gold nor predicted: nothing to score
            continue
        prec, rec = _ratio(ltp, ltp + lfp), _ratio(ltp, ltp + lfn)
        f1s[lab] = _ratio(2 * prec * rec, prec + rec)
    present = [f for f in f1s.values() if f is not None]
    return {
        "n_sentences": len(entries),
        "tok_mismatch": tok_mismatch,
        "tp": tp,
        "fp": fp,
        "fn": fn,
        "precision": _ratio(tp, tp + fp),
        "recall": _ratio(tp, tp + fn),
        "upos_accuracy": _ratio(pos_ok, n_tok),
        "uas": _ratio(uas_ok, n_tok),
        "las": _ratio(las_ok, n_tok),
        "ner_token_accuracy": _ratio(ner_ok, ner_n),
        "ner_f1_per_label": f1s,
        "ner_f1_macro": sum(present) / len(present) if present else None,
        "diffs": diffs,
    }


def level_line(name: str, s: dict) -> str:
    """One split's level: triples P/R, UPOS, UAS/LAS, tokenization
    mismatches."""
    return (
        f"{name:8s} triples: P={s['precision']:.3f} R={s['recall']:.3f} "
        f"(tp={s['tp']} fp={s['fp']} fn={s['fn']})  UPOS={s['upos_accuracy']:.3f}  "
        f"UAS={s['uas']:.3f} LAS={s['las']:.3f}  "
        f"tok_mismatch={s['tok_mismatch']}/{s['n_sentences']}"
    )


def gold_levels() -> List[str]:
    """The level line of every UD split, in ``available_splits`` order."""
    return [level_line(name, score_split(load_split(name))) for name in available_splits()]
