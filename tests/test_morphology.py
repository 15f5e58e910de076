"""Morphological analysis goldens (reference tests/test_general.py:18-40)
and candidate-generator behaviors (_yildiz_analyzer.py rules)."""
from vnlp_spark.operators.morphology import (
    CandidateGenerator,
    analysis_tags,
    py_analyze_sentence,
    py_analyze_tokens,
    to_lower,
    capitalize,
)


def test_stemmer_golden_sentence_1():
    assert py_analyze_sentence("Üniversite sınavlarına canla başla çalışıyorlardı.") == [
        "üniversite+Noun+A3sg+Pnon+Nom",
        "sınav+Noun+A3pl+P3sg+Dat",
        "can+Noun+A3sg+Pnon+Ins",
        "baş+Noun+A3sg+Pnon+Ins",
        "çalış+Verb+Pos+Prog1+A3pl+Past",
        ".+Punc",
    ]


def test_stemmer_golden_sentence_2():
    assert py_analyze_sentence("Şimdi baştan başla.") == [
        "şimdi+Adverb",
        "baş+Noun+A3sg+Pnon+Abl",
        "başla+Verb+Pos+Imp+A2sg",
        ".+Punc",
    ]


def test_exact_lookup_path():
    gen = CandidateGenerator()
    cands = gen.get_analysis_candidates("kendilerini")
    assert cands == [("kendi", "", ["Pron", "Reflex", "A3pl", "P3pl", "Acc"])]


def test_punct_and_number_candidates():
    gen = CandidateGenerator()
    assert gen.get_analysis_candidates(".")[0][2] == ["Punc"]
    num_tags = {tuple(t) if not isinstance(t, str) else t for _, _, t in gen.get_analysis_candidates("29")}
    assert any("Num" in t or "Time" in t for t in num_tags)


def test_unknown_fallback():
    gen = CandidateGenerator()
    assert gen.get_analysis_candidates("zzzqqqxx") == [("zzzqqqxx", "", "Unknown")]
    # the selection layer emits word+Unknown itself
    assert py_analyze_tokens(["zzzqqqxx", "geldi", "."])[0] == "zzzqqqxx+Unknown"


def test_consonant_derivation_candidates():
    # his+si -> hissi (doubled consonant rule, _yildiz_analyzer.py:199-209)
    gen = CandidateGenerator()
    roots = {r for r, _, _ in gen.get_analysis_candidates("hissi")}
    assert "his" in roots


def test_vowel_drop_candidates():
    # ağzım -> ağız (vowel drop rule, _yildiz_analyzer.py:228-265)
    gen = CandidateGenerator()
    roots = {r for r, _, _ in gen.get_analysis_candidates("ağzım")}
    assert "ağız" in roots


def test_soft_consonant_candidates():
    # kitabı -> kitap (consonant softening, _yildiz_analyzer.py:266-277)
    gen = CandidateGenerator()
    roots = {r for r, _, _ in gen.get_analysis_candidates("kitabı")}
    assert "kitap" in roots


def test_ban_san_transform():
    gen = CandidateGenerator()
    roots = {r for r, _, _ in gen.get_analysis_candidates("bana")}
    assert "ben" in roots


def test_turkish_case_helpers():
    assert to_lower("İIĞÜÖŞÇ") == "iığüöşç"
    assert capitalize("İSTANBUL") == "Istanbul"  # reference asciifies first char


def test_analysis_tags_keeps_a_caret_inside_the_root():
    # junk tokens can put a "^" inside the root; only the text after the
    # root is split into tags
    rec = analysis_tags("t^gürkiye+Noun+Prop+A3sg+Pnon+Dat")
    assert rec.tags[0] == rec.root == "t^gürkiye"
    assert rec.tags[1:] == ("Noun", "Prop", "A3sg", "Pnon", "Dat")
    assert "gürkiye" not in rec.tagset and "t" not in rec.tagset
    assert analysis_tags("git+Verb+Pos^DB+Noun+Inf2+A3sg+Pnon+Nom").tags == (
        "git", "Verb", "Pos", "DB", "Noun", "Inf2", "A3sg", "Pnon", "Nom")
