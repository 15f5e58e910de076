"""NER / PoS / DP golden-parity (reference tests/test_general.py:43-110)
and sentiment behavior."""
from vnlp_spark.functions.tokenizer import py_treebank_tokenize
from vnlp_spark.operators.dep_parser import py_parse_sentence, py_parse_tokens
from vnlp_spark.operators.ner import py_ner_mentions, py_ner_pairs
from vnlp_spark.operators.pos import py_pos_pairs
from vnlp_spark.operators.sentiment import py_sentiment, py_sentiment_proba

NER_SENT = (
    "Benim adım Melikşah, 29 yaşındayım, İstanbul'da ikamet ediyorum "
    "ve VNGRS AI Takımı'nda çalışıyorum."
)


def test_ner_golden():
    gold = [
        ("Benim", "O"), ("adım", "O"), ("Melikşah", "PER"), (",", "O"),
        ("29", "O"), ("yaşındayım", "O"), (",", "O"), ("İstanbul'da", "LOC"),
        ("ikamet", "O"), ("ediyorum", "O"), ("ve", "O"), ("VNGRS", "ORG"),
        ("AI", "ORG"), ("Takımı'nda", "ORG"), ("çalışıyorum", "O"), (".", "O"),
    ]
    assert py_ner_pairs(py_treebank_tokenize(NER_SENT)) == gold


def test_ner_mention_spans():
    mentions = py_ner_mentions(py_treebank_tokenize(NER_SENT))
    assert [(m["mention"], m["label"]) for m in mentions] == [
        ("Melikşah", "PER"),
        ("İstanbul'da", "LOC"),
        ("VNGRS AI Takımı'nda", "ORG"),
    ]
    assert mentions[2]["first_tok"] == 11 and mentions[2]["last_tok"] == 13


def test_pos_golden():
    gold = [
        ("Oğuz'un", "PROPN"), ("kırmızı", "ADJ"), ("bir", "DET"),
        ("Astra'sı", "PROPN"), ("vardı", "VERB"), (".", "PUNCT"),
    ]
    assert py_pos_pairs(py_treebank_tokenize("Oğuz'un kırmızı bir Astra'sı vardı.")) == gold


def test_dp_golden():
    # The reference's published output for this sentence roots the LAST
    # verb (sınarız, dependency_parser.py:61-71); the engine follows the
    # UD 2.9 comma-clause convention instead (first clause is root, the
    # comma attaches to the clause it introduces) for consistency with
    # the UD-guideline gold sets — a documented deviation.  The triple
    # basis (test below) is identical under both conventions.
    gold = [
        (1, "Onun", 6, "obl"), (2, "için", 1, "case"), (3, "yol", 4, "nmod"),
        (4, "arkadaşlarımızı", 6, "obj"), (5, "titizlikle", 6, "obl"),
        (6, "seçer", 0, "root"), (7, ",", 10, "punct"),
        (8, "kendilerini", 10, "obj"), (9, "iyice", 10, "advmod"),
        (10, "sınarız", 6, "parataxis"), (11, ".", 6, "punct"),
    ]
    got = py_parse_sentence(
        "Onun için yol arkadaşlarımızı titizlikle seçer, kendilerini iyice sınarız."
    )
    assert got == gold


def test_dp_refuses_over_40_tokens():
    # reference raises for >40 tokens (spu_context_dp.py:159-162); we
    # signal refusal with None so the pipeline can chunk/route upstream
    assert py_parse_tokens(["kedi"] * 41) is None
    assert py_parse_tokens(["kedi"] * 40) is not None


def test_triple_basis_from_golden_parse():
    arcs = py_parse_sentence(
        "Onun için yol arkadaşlarımızı titizlikle seçer, kendilerini iyice sınarız."
    )
    by_head: dict = {}
    for idx, tok, head, rel in arcs:
        by_head.setdefault(head, []).append((tok, rel))
    # FIXTURES.md gold triples: seçer->arkadaşlarımızı, sınarız->kendilerini
    assert ("arkadaşlarımızı", "obj") in by_head[6]
    assert ("kendilerini", "obj") in by_head[10]


def test_sentiment_polarity_direction():
    assert py_sentiment_proba("Yemekler harika ve servis çok güzeldi.") > 0.7
    assert py_sentiment_proba("Berbat bir deneyimdi, her şey kötüydü.") < 0.3
    assert py_sentiment("Harika!") == 1
    assert py_sentiment("Rezalet bir hizmet.") == 0


def test_sentiment_negation_flip():
    pos = py_sentiment_proba("Yemek güzeldi.")
    neg = py_sentiment_proba("Yemek güzel değil.")
    assert pos > 0.5 > neg


def test_sentiment_rule_categories_pinned():
    """Fresh tuning sentences (NOT from the frozen gold set) pinning each
    general rule added after the first blind scoring — see BENCH.md."""
    cases = [
        ("Kurulum sorunsuzdu, beş dakikada bitti.", 1),   # privative -sIz flip
        ("Garson çok saygısızdı.", 0),                    # privative on positive base
        ("Hiçbir arıza çıkarmadı.", 1),                   # negated verb flips near anchor
        ("Ürünü hiç beğenmedik.", 0),                     # negation on polarity stem itself
        ("Gürültüsü hiç kesilmedi.", 0),                  # persistence verb: no flip
        ("Kokusu bir türlü gitmiyor.", 0),                # bare negated persistence verb
        ("Hizmet hiç profesyonel değildi.", 0),           # değil flips near anchor
        ("Harika değil mi?", 1),                          # tag question skipped
        ("Leke diye bir şey yok.", 1),                    # existential yok frame
        ("Bir daha asla gelmem.", 0),                     # refusal frame
        ("Oda küçüktü ama manzara muhteşemdi.", 1),       # contrast damping (pos tail)
        ("Servis hızlıydı fakat yemekler berbattı.", 0),  # contrast damping (neg tail)
        ("Ayakkabı dar geldi.", 0),                       # size-misfit frame
        ("Tatil unutulmazdı.", 1),                        # stem-remainder negation test
        ("Yemek lezzetliydi.", 1),                        # -mAk infinitive not negation
        ("Resmen harikaydı.", 1),                         # -mAn adverb not negation
        ("Fiyatı makuldü.", 1),
        ("Hiçbir zorluk yaşamadım.", 1),                  # hiç + experiencer negation
        # pins for the rules added after the split-2 first run
        ("Arızayı aynı gün giderdiler.", 1),              # resolution verb flips anchor
        ("Sorunu bir türlü çözemediler.", 0),             # negated resolution persists
        ("Her kuruşunu hak ediyor.", 1),                  # praise frame
        ("Telefonu suratımıza kapattılar.", 0),           # hang-up frame
        ("Toplantıya geç kaldılar.", 0),                  # geç + verb frame = late
        ("Hafta sonu güzel geçti.", 1),                   # free verb geç- not "late"
        ("Ekran ilk haftada çatladı.", 0),                # open-class lexicon growth
        ("Paket sapasağlam ulaştı.", 1),
        # pins for the rules added after the split-3 first run
        ("Temizleyici çok etkiliydi.", 1),                # agentive guard: no misfire
        ("Montajcı vidaları gevşek bıraktı.", 0),         # open-class growth (neg)
        ("Kask başıma tam oturdu, hiç zorlanmadan taktım.", 1),  # -mAdAn converb flip
        ("Fiyatına fazlasıyla değiyor.", 1),              # değ- forms survive değiş- split
        ("Randevuyu habersiz değiştirdiler, program iptal oldu.", 0),
        # ^ değiş- no longer masks the negative (was +1 via "değ" prefix)
        ("Kahve lekesi çıkmadı.", 0),                     # removal verb persists defect
        ("Halıdaki izi tamamen çıkardılar.", 1),          # non-negated removal resolves
        ("Performansı hiç düşmedi.", 1),                  # degrade verb: quality held
        ("Titreme olmadı.", 1),                           # -mA nominal absence frame
        ("Mesajlarımızı görmezden geldiler.", 0),         # -mAzdAn gel- ignore frame
        ("Modem tekrar kapandı.", 0),                     # recurrence frame
        ("Bu fiyatı gerçekten hak etti.", 1),             # hak etti form
        ("Danışman tüm sorularımızı çözdü.", 1),          # bare resolution praise
    ]
    bad = [(t, g, py_sentiment(t)) for t, g in cases if py_sentiment(t) != g]
    assert not bad, bad
