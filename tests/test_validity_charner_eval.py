"""Token-validity predicate, CharNER, and the triple P/R harness."""
import pytest

from vnlp_spark.operators.charner import py_charner
from vnlp_spark.operators.validity import py_is_token_valid_turkish


def test_token_validity():
    assert py_is_token_valid_turkish("üniversite")
    assert py_is_token_valid_turkish("kitap")
    assert py_is_token_valid_turkish("çalışıyorlardı")  # analyzer path
    assert not py_is_token_valid_turkish("zzzqqqxx")


def test_charner_basics():
    pairs = py_charner("Benim adım Melikşah, İstanbul'da ikamet ediyorum.")
    d = dict(pairs)
    assert d["Melikşah"] == "PER"
    assert d["İstanbul"] == "LOC"
    assert d["ikamet"] == "O"


def test_charner_recursive_halving():
    text = "Ahmet İstanbul gezisine çıktı ve orada üç gün kaldı. " * 8
    assert len(text) > 256
    pairs = py_charner(text)
    labels = {tok: lab for tok, lab in pairs}
    assert labels["Ahmet"] == "PER"
    assert labels["İstanbul"] == "LOC"
    # token count preserved across the halving recombination
    from vnlp_spark.functions.tokenizer import py_word_punct_tokenize

    assert len(pairs) == len(py_word_punct_tokenize(text))


def test_validity_spark(spark):
    from vnlp_spark.operators.validity import is_token_valid_turkish

    df = spark.createDataFrame(
        [(0, "üniversite"), (1, "zzzqqqxx"), (2, "kitap")], ["i", "token"]
    )
    out = {r["i"]: r["v"] for r in df.select("i", is_token_valid_turkish("token").alias("v")).collect()}
    assert out == {0: True, 1: False, 2: True}


def test_triple_pr_meets_target(spark):
    from vnlp_spark.plans.corpus import generate_web_pages
    from vnlp_spark.plans.evaluation import score_triples
    from vnlp_spark.plans.pipeline import run_kg_pipeline

    docs = generate_web_pages(spark, 300)
    kg = run_kg_pipeline(docs, persist=True)
    pr = score_triples(kg.triples, kg.sentences)
    assert pr.n_gold > 100
    assert pr.precision >= 0.95, f"precision {pr.precision}"
    assert pr.recall >= 0.95, f"recall {pr.recall}"
    for df in (kg.annotated, kg.triples, kg.entities):
        df.unpersist()


# --- independent UD-guideline gold (plans/gold_blind/*.conllu) -----------

def test_ud_gold_wellformed():
    from vnlp_spark.functions.tokenizer import py_treebank_tokenize
    from vnlp_spark.plans.gold_ud import UD_GOLD
    from vnlp_spark.plans.gold_ud_blind_data import available_splits, load_split

    assert len(UD_GOLD) >= 40
    assert all("ner" in e for e in UD_GOLD)
    for name in available_splits():
        for e in load_split(name):
            n = len(e["tokens"])
            assert len(e["upos"]) == n and len(e["heads"]) == n
            assert len(e["deprels"]) == n and len(e.get("ner", e["tokens"])) == n
            assert e["deprels"].count("root") == 1
            assert e["heads"].count(0) == 1
            for h in e["heads"]:
                assert 0 <= h <= n
            # no cycle: every token's head chain reaches the root
            for i in range(1, n + 1):
                seen = set()
                while i and i not in seen:
                    seen.add(i)
                    i = e["heads"][i - 1]
                assert i == 0, (name, e["text"])
            # gold tokens must be exactly what the pipeline's tokenizer emits
            assert py_treebank_tokenize(e["text"]) == e["tokens"], (name, e["text"])


def test_ud_gold_triple_mining():
    from vnlp_spark.plans.gold_ud import UD_GOLD, gold_triples_for

    # the reference DP golden sentence must mine the two published triples
    ref = [e for e in UD_GOLD if e["text"].startswith("Onun için")][0]
    triples = [(s, p, o) for (s, p, o, _obl) in gold_triples_for(ref)]
    assert (None, "seçer", "arkadaşlarımızı") in triples
    assert (None, "sınarız", "kendilerini") in triples
    # every gold sentence with an nsubj+root yields a triple
    total = sum(len(gold_triples_for(e)) for e in UD_GOLD)
    assert total >= 35


def test_annotator_scores_against_ud_gold():
    from vnlp_spark.plans.gold_ud import UD_GOLD, score_split

    s = score_split(UD_GOLD)
    assert s["tok_mismatch"] == 0
    # UPOS / UAS / LAS are pinned by the tuning level line (test_gold_data)
    assert round(s["ner_token_accuracy"], 4) == 0.9913
    assert round(s["ner_f1_macro"], 4) == 0.8299
    # the macro averages only the labels a split has (gold or predicted):
    # blind13's one label, PER, is all correct; blind17 has no entities
    from vnlp_spark.plans.gold_ud_blind_data import load_split

    b13 = score_split(load_split("blind13"))
    assert b13["ner_f1_per_label"] == {"PER": 1.0, "LOC": None, "ORG": None}
    assert b13["ner_f1_macro"] == 1.0
    b17 = score_split(load_split("blind17"))
    assert b17["ner_token_accuracy"] == 1.0
    assert b17["ner_f1_macro"] is None


def test_score_vs_ud_gold_runs(spark):
    from vnlp_spark.plans.gold_ud import UD_GOLD, score_split, score_vs_ud_gold

    r = score_vs_ud_gold(spark)
    assert 0.0 <= r["precision"] <= 1.0 and 0.0 <= r["recall"] <= 1.0
    assert r["n_gold"] >= 35 and r["n_pred"] > 0
    # the Spark plan and the pure-python kernel scorer agree on the gold
    s = score_split(UD_GOLD)
    assert (r["n_hit"], r["n_gold"]) == (s["tp"], s["tp"] + s["fn"])
