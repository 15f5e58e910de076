"""Part-of-speech tagging (UD UPOS tags).

Reference surface: ``PoSTagger.predict(sentence)`` -> [(token, upos)]
(vnlp/part_of_speech_tagger/part_of_speech_tagger.py:36-62).  The
reference's TreeStack variant derives PoS from the stemmer's morphological
tags (treestack_pos.py) — exactly the architecture used here: run the
morphological disambiguator, then map the analysis's final PoS tag to UD
UPOS.  This replaces the unavailable S3-hosted GRU with a deterministic
two-stage pipeline (morphology -> tag map) and keeps the same Spark shape:
one Arrow-UDF row per tokenized sentence.

The morph->UPOS mapping follows the reference tagsets (morph tags per
_yildiz_analyzer.py TAG_FLAG_MAP; UPOS per the PoS model's label set).
"""
from __future__ import annotations

from functools import lru_cache
from typing import List, Tuple

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from ..functions._udf import arrow_map
from .morphology import SPATIAL_ROOTS as _SPATIAL_ROOTS
from .morphology import TITLE_ROLES as _TITLES
from .morphology import (
    _CAP_RE,
    _DEGREE_ADVS,
    _GENUINE_IN_FINAL_STEMS,
    _GRAMMAT_ADPS,
    _LOAN_I_ACC_ADJS,
    _MATERIAL_NOUNS,
    _MORPH_TO_UPOS,
    _SUBORD_TAGS,
    _TEMPORAL_ADVS,
    _TEMPORAL_ROOTS,
    _TRANSITIVE_ROOTS,
    _case_of,
    _engine,
    _is_possessed,
    _real_candidates,
    _typed_gazetteer,
    _unknown_fallback_candidates,
    py_analyze_tokens,
    to_lower,
    upos_from_analysis,
)

# lexicalized terrain/ground -lIk ADJECTIVES (dictionary adjectives, not
# productive abstract -lIk nouns like işsizlik/kuraklık): attributive
# before an unpossessed nominal (ormanlık ALANDA, kayalık BÖLGEDE)
_TERRAIN_LIK_ADJS = {
    "ormanlık", "kayalık", "çamlık", "sazlık", "kumluk", "taşlık",
    "çalılık", "ağaçlık", "fundalık", "makilik", "bataklık", "yeşillik",
}

@lru_cache(maxsize=200_000)
def _readings(token: str) -> frozenset:
    """Coarse reading classes available for a token, from the candidate
    generator (cached; used for context disambiguation in the adjusted-POS
    layer and the parser — 'can this word be a bare adjective / a plain
    noun / both Acc and P3sg+Nom?')."""
    gen, _dis = _engine()
    # out-of-lexicon stems (kaçakçıları): the selection layer analyzes
    # these through the nominal-inflection fallback, so the reading
    # classes must come from the same candidate set or the Acc /
    # P3sg+Nom homography would silently never be re-resolved
    cands = _real_candidates(token) or _unknown_fallback_candidates(token)
    out = set()
    for _root, _suffix, tags in cands:
        # genitive-shaped junk stems from the reference list (durumun):
        # their suffixed readings shadow the base-stem paradigm and must
        # not contribute reading classes (durumun+u would add a bogus
        # p3nom to the overt-Acc surface durum+unu) — mirror of the
        # disambiguator's junk-root penalty
        if (_suffix and tags[0] == "Noun"
                and _root[-2:] in ("ın", "in", "un", "ün")
                and len(_root) - 2 >= 4
                and _root[:-2] in gen.stem_dic
                and _root not in _GENUINE_IN_FINAL_STEMS):
            continue
        tset = set(tags)
        if tags[0] == "Adj" and len(tags) == 1:
            out.add("bare_adj")
        # nominal reading classes look at the FINAL derivation segment:
        # kayıp+lar+ı parses as Adj^DB+Noun+A3pl+P3sg/Acc — the derived
        # nominal carries the same Acc / P3sg+Nom homography as a plain
        # noun and must be re-resolvable the same way (ve KAYIPLARI
        # buldu -> obj)
        if "DB" in tags:
            fseg = tags[len(tags) - 1 - tags[::-1].index("DB") + 1:]
        else:
            fseg = tags
        if fseg and fseg[0] == "Noun" and "Prop" not in tset:
            if "Acc" in tset:
                out.add("acc")
            if "Nom" in tset and tset & {"P3sg", "P3pl"}:
                out.add("p3nom")
            if "Nom" in tset and "Pnon" in tset and "A3sg" in tset:
                out.add("bare_noun")
        if "Ness" in tset:
            out.add("ness")  # -lHk deverbal action noun (hazırlık)
        if (tags[0] == "Noun" and "Prop" not in tset
                and tset & {"P3sg", "P3pl"} and "Loc" in tset):
            out.add("p3loc")  # possessed locative reading (yer+i+nde)
        if (tags[0] == "Verb" and "Zero" not in tset
                and tset & {"Aor", "Past", "Prog1", "Fut", "Narr"}):
            out.add("finite")  # a real finite-verb reading exists (alındı)
        if "DB" in tags:
            fseg2 = tags[len(tags) - 1 - tags[::-1].index("DB") + 1:]
            if (fseg2 and fseg2[0] == "Adj"
                    and set(fseg2) & {"With", "Without", "Rel"}
                    and _harmonic_split(_root, _suffix)):
                # a derivational adjective reading exists alongside the
                # lexicalized noun (ün+lü 'famous' vs ünlü 'celebrity');
                # harmony-invalid splits (va+li for 'vali') don't count
                out.add("adj_deriv")
    return frozenset(out)


_HARMONY_I = {"a": "ı", "ı": "ı", "e": "i", "i": "i",
              "o": "u", "u": "u", "ö": "ü", "ü": "ü"}


def _harmonic_split(root: str, suffix: str) -> bool:
    """Fourfold (-I type) vowel harmony between a root's last vowel and
    its suffix's first vowel; permissive when either has no vowel or the
    suffix vowel is not I-type."""
    rv = next((c for c in reversed(root) if c in "aeıioöuü"), None)
    sv = next((c for c in suffix if c in "aeıioöuü"), None)
    if rv is None or sv is None or sv not in "ıiuü":
        return True
    return _HARMONY_I[rv] == sv


# existential predicates: var/yok (+ copular tense) are ADJ roots in the
# UD Turkish treebanks, not the homophonous verb imperatives
_EXISTENTIALS = {"var", "yok", "vardır", "yoktur"}

# negative copular particle and its inflected closed paradigm
_NEG_COPULAS = {"değil", "değildi", "değilmiş", "değildir", "değilse",
                "değiller", "değildir", "değillerdi"}
# past/evidential existentials (vardı, yokmuş) keep the finite-verb
# reading: the reference's published PoS output tags "vardı" VERB
# (part_of_speech_tagger.py:52-57)

import re as _re

_LARCA_RE = _re.compile(r"l[ae]rc[ae]$")
_ORDINAL_RE = _re.compile(r"(inci|ıncı|uncu|üncü|nci|ncı|ncu|ncü)$")

# measure-unit roots whose -lIk derivative after a numeral is the measure
# adjective (bin YILLIK mezar, iki KİŞİLİK masa, kırk DAKİKALIK gecikme)
_UNIT_ROOTS = {
    "yıl", "ay", "gün", "hafta", "saat", "dakika", "saniye", "kişi",
    "metre", "kilometre", "kilo", "ton", "litre", "dönem", "sayfa",
    "sezon", "gece", "aylar", "yüzyıl", "asır",
}

# quantifier/indefinite pronouns the morph table reads as plain nouns
_LEX_PRONOUNS = {
    "herkes", "herkese", "herkesi", "herkesin", "herkesten", "herkesle",
    "kimse", "kimseye", "kimseyi", "kimsenin", "kimseden",
    "hepsi", "hepsine", "hepsini", "birbirine", "birbirini", "birbiriyle",
    "onlar", "onları", "onlara", "onların", "onlarla", "onlardan",
}

# frequent adjectives the reference stem list tags Noun-only (net,
# direkt, kalabalık): the vendored lexicon cannot be edited (candidate-
# generator parity), so the ADJUSTED-POS layer supplies the adjectival
# reading for the bare uninflected surface / zero-copula predicate
_LOAN_ADJS = {"net", "komple", "direkt", "süper", "ekstra", "kalabalık"}

# role nouns whose citation form doubles as an adjective (usta işçi vs
# USTA mayayı yoğurdu): sentence-initially before a case-marked nominal
# the role-noun subject reading wins — an adjective cannot modify a
# case-marked object from outside its NP
_ROLE_NOUN_ADJS = {"usta", "görevli", "yetkili", "sorumlu"}

# core qualitative adjectives (Turkish grammar's primary nitelik
# sıfatları): citation-form adjectives so frequent that their accidental
# P3sg segmentation homographs (yeni = yen+P3sg 'its sleeve') are
# essentially nonexistent in prose — exempt from possessed-noun re-reads,
# unlike genuinely live participial homographs (kurulu = kurul+P3sg)
_CORE_ADJS = {
    "yeni", "eski", "iyi", "kötü", "güzel", "büyük", "küçük", "uzun",
    "kısa", "yüksek", "düşük", "genç", "yaşlı", "hızlı", "yavaş",
    "kolay", "zor", "önemli", "ciddi", "boş", "temiz", "sıcak", "soğuk",
    "taze", "geniş", "dar", "ağır", "hafif", "ucuz", "pahalı",
    # kuru's p3nom homograph (kur+u 'its exchange rate') must never turn
    # an attributive use into a chain link (Bahçıvan KURU dalları kesti)
    "kuru",
}


def _zero_cop_class(analysis: str) -> str:
    """Lexical class of a zero-copula predicate: "Adj" when the ROOT
    segment is adjectival (soğuk+Adj^DB+Noun...^DB+Verb+Zero — UD keeps
    the adjectival predicate reading) or the root is a curated
    Noun-only-lexicon adjective; "Noun" when the pre-copula segment is
    nominal (evdeydi, öğretmenim); "" otherwise.  Root segments carry
    their POS at index 1, later ^DB segments at index 0."""
    gs = analysis.replace("^", "+").split("+DB+")
    if len(gs) < 2:
        return ""
    pre = gs[-2]
    parts = pre.split("+")
    pre_set = set(parts)
    # the adjectival root only shines through an intermediate BARE
    # nominal (soğuktu: Adj -> Noun+Pnon+Nom -> Zero); a case/possessive-
    # marked nominal is a real nominal predicate (yaşındayım: P3sg+Loc)
    pre_bare = pre is gs[0] or {"Pnon", "Nom"} <= pre_set
    if pre_bare and (
        gs[0].split("+")[1:2] == ["Adj"]
        or to_lower(gs[0].split("+")[0]) in _LOAN_ADJS
    ):
        return "Adj"
    pos = parts[1] if len(gs) == 2 and len(parts) > 1 else parts[0]
    if pos == "Adj":
        return "Adj"
    return "Noun" if pos in ("Noun", "Num") else ""


@lru_cache(maxsize=50_000)
def _common_noun_stem(low: str) -> bool:
    """Is the surface a plain common-noun stem in the lexicon (either
    case variant)?  Drives the sentence-initial Prop demotion."""
    from .. import resources
    from .morphology import capitalize

    sd = resources.stem_dict()
    tags = sd.get(low) or sd.get(capitalize(low))
    return bool(tags) and any(t == "Noun" for t in tags)


_AGENTIVE_SUFFIXES = ("cı", "ci", "cu", "cü", "çı", "çi", "çu", "çü")


@lru_cache(maxsize=50_000)
def _agentive_common(low: str) -> bool:
    """Is the surface an agentive -CI occupation noun (sözcü, oyuncu,
    satıcı) — a common stem whose -CI base is itself a known stem?
    Gazetteer homographs of this class (Sözcü the paper vs sözcü
    'spokesperson') read as the occupation sentence-initially, the
    same way temporal homographs (Sabah) read as the time noun."""
    if len(low) < 4 or not low.endswith(_AGENTIVE_SUFFIXES):
        return False
    return _common_noun_stem(low) and _common_noun_stem(low[:-2])


# adjectives that also work adverbially directly before a verb
_ADVERBIAL_ADJS = {
    "yorgun", "olumsuz", "olumlu", "hızlı", "yavaş", "iyi", "kötü",
    "doğru", "kolay", "zor", "güzel", "sessiz", "rahat", "mutlu",
}


class ParseState:
    """One sentence as the UPOS and parse rules see it, built once.

    Holds the tokens and analyses; each per-token feature, derived once
    (``lows``, ``tagsets``, ``roots`` and the analysis's own case and
    possession, ``base_case`` / ``base_poss``); the mutable ``upos``,
    ``eff_case``, ``eff_poss``, ``heads`` and ``rels``; and the clause
    scalars the parse rules set for the rules after them.  A rule binds
    the fields it reads to locals on entry."""

    __slots__ = (
        "tokens", "analyses", "n", "lows", "tagsets", "roots", "base_case",
        "base_poss", "morph_upos", "upos", "has_finite_verb", "last_content",
        "eff_case", "eff_poss", "heads", "rels", "subord", "converb", "cond",
        "redup_converb", "finite", "copular", "narr_acl0", "narr_acl_mid",
        "cop_aux", "cop_conj", "root", "preds", "corr_first", "corr_cc_idx",
        "juxt_mod", "run_head", "run_member", "subj_of",
    )

    def __init__(self, tokens: List[str], analyses: List[str]):
        n = self.n = len(tokens)
        self.tokens, self.analyses = tokens, analyses
        self.lows = [to_lower(t) for t in tokens]
        tagsets = self.tagsets = [set(a.replace("^", "+").split("+"))
                                  for a in analyses]
        parts = [a.split("+") for a in analyses]
        self.roots = [p[0] for p in parts]
        # the case reads the "+"-split tags, where a "Nom^DB" group is no
        # Nom; the possessive reads the "^"-split ``tagsets``
        self.base_case = [_case_of(set(p)) for p in parts]
        self.base_poss = [_is_possessed(tokens[i], tagsets[i])
                          for i in range(n)]
        # the morph-derived UPOS, which some UPOS rules read after ``upos``
        # has moved on
        morph_upos = self.morph_upos = [upos_from_analysis(a)
                                        for a in analyses]
        self.upos = list(morph_upos)
        self.has_finite_verb = any(
            u == "VERB" and not tagsets[i] & _SUBORD_TAGS
            for i, u in enumerate(morph_upos)
        )
        self.last_content = next(
            (i for i in range(n - 1, -1, -1) if morph_upos[i] != "PUNCT"), -1
        )
        self.eff_case = list(self.base_case)
        self.eff_poss = list(self.base_poss)
        self.heads = [-1] * n
        self.rels = [""] * n


# sentence-initial role-noun/adjective homograph directly before a
# case-marked (or Acc-readable) nominal is the clause subject, not
# an attributive adjective (USTA mayayı yoğurdu, GÖREVLİ afişleri
# astı); before a bare-Nom nominal the attributive reading stands
# (usta işçiler, görevli memurlar)
def _role_noun_subject(s):
    tokens, n, lows, base_case = s.tokens, s.n, s.lows, s.base_case
    morph_upos, upos = s.morph_upos, s.upos
    if (
        n > 1
        and morph_upos[0] == "ADJ"
        and lows[0] in _ROLE_NOUN_ADJS
        and morph_upos[1] in ("NOUN", "PROPN")
        and (base_case[1] not in ("Nom", "")
             or "acc" in _readings(tokens[1]))
    ):
        morph_upos[0] = "NOUN"
        upos[0] = "NOUN"

def _lexical_context(s):
    # one walk over the tokens: the first of the four branch groups that
    # matches a token decides it, as one if/elif chain would
    lows, tagsets = s.lows, s.tagsets
    for i in range(s.n):
        low = lows[i]
        tags = tagsets[i]
        (_lexical_homographs(s, i, low, tags)
         or _lexical_function_words(s, i, low, tags)
         or _lexical_modifiers(s, i, low, tags)
         or _lexical_case_frames(s, i, low, tags))

def _lexical_homographs(s, i: int, low: str, tags: set) -> bool:
    tokens, analyses, n, lows, tagsets = s.tokens, s.analyses, s.n, s.lows, s.tagsets
    roots, base_case, base_poss, upos = s.roots, s.base_case, s.base_poss, s.upos
    if low in _EXISTENTIALS:
        upos[i] = "ADJ"
    elif (
        upos[i] == "NOUN"
        and low in _LOAN_ADJS
        and "Pnon" in tags
        and "Nom" in tags
        and low == to_lower(roots[i])
    ):
        # bare loan adjective the lexicon tags Noun-only (net cevap,
        # net hatırlayamadı); inflected forms keep the noun reading
        upos[i] = "ADJ"
    elif (
        i > 0
        and (upos[i] in ("ADJ", "NOUN")
             # participle-homograph surnames (Duran, Koşan): the
             # capitalized token after a title is the name, not an
             # -An relative
             or (upos[i] == "VERB" and "PresPart" in tags))
        and _CAP_RE.match(tokens[i])
        and "Prop" not in tags
        and (lows[i - 1].split("'")[0] in _TITLES
             # POSSESSED title forms select persons too (belediye
             # BAŞKANI Akın, kulüp müdürü Aydın): match by root
             or (roots[i - 1] in _TITLES
                 and "P3sg" in tagsets[i - 1]))
        and upos[i - 1] == "NOUN"
        and (_CAP_RE.match(tokens[i - 1])
             or roots[i - 1] in _TITLES)
    ):
        # a capitalized token directly after a capitalized title is
        # the person's NAME even when the lexicon only knows it as a
        # common word (Doktor AYDIN — aydın 'enlightened' stays an
        # adjective elsewhere); titles select persons
        upos[i] = "PROPN"
    elif (
        upos[i] == "NOUN"
        and "Pnon" in tags and "Nom" in tags and "A3sg" in tags
        and low == to_lower(roots[i])
        and "adj_deriv" in _readings(tokens[i])
        and i + 1 < n
        and (
            (upos[i + 1] in ("NOUN", "PROPN")
             and base_case[i + 1] in ("Nom", "")
             and "Pnon" in tagsets[i + 1])
            # determiner 'bir' may intervene between the attributive
            # homograph and its nominal host (ÜNLÜ bir mimar) — the
            # host may then carry any case, the DET proves the
            # adnominal frame
            or (upos[i + 1] == "DET" and i + 2 < n
                and upos[i + 2] in ("NOUN", "PROPN"))
            # a GENITIVE host is a possessor needing its own head:
            # the homograph modifies the possessor, not the clause
            # (ÜNLÜ ressamın tabloları) — the noun-argument reading
            # would leave the genitive chain adjective-less
            or (upos[i + 1] in ("NOUN", "PROPN")
                and base_case[i + 1] == "Gen"
                and i + 2 < n
                and upos[i + 2] in ("NOUN", "PROPN")
                and {"P3sg", "P3pl"} & tagsets[i + 2])
        )
    ):
        # whole-word noun with a derivational-adjective homograph
        # (ünlü 'celebrity' vs ün+lü 'famous') directly before a
        # bare-Nom nominal host: the attributive reading stands
        # (ÜNLÜ yazarlar); before a case-marked nominal the noun
        # keeps its argument reading (Ünlü şarkıyı söyledi)
        upos[i] = "ADJ"
    elif (
        upos[i] == "ADJ"
        and i == 0
        and analyses[i].count("+") == 1
        and i + 1 < n
        and upos[i + 1] in ("NOUN", "PROPN")
        and base_case[i + 1] in ("Dat", "Loc", "Abl", "Ins")
        # an ADP-governed oblique keeps the attributive reading: the
        # adjective modifies the postposition's complement (AŞIRI
        # sıcaklara rağmen festival ...)
        and not (i + 2 < n and upos[i + 2] == "ADP")
        and any(
            upos[j] == "NOUN"
            and base_case[j] in ("Nom", "")
            and not base_poss[j]
            for j in range(i + 2, n)
        )
        # ... and the verb must be TRANSITIVE for the later bare
        # nominal to be its object; before an intransitive the later
        # nominal is the subject and the adjective attributive
        # (SON yıllarda turizm hızla gelişti)
        and any(
            upos[j] == "VERB"
            and (roots[j] in _TRANSITIVE_ROOTS
                 or "Caus" in tagsets[j])
            for j in range(i + 2, n)
        )
    ):
        # sentence-initial citation-adjective homograph before a
        # case-marked oblique, with ANOTHER bare nominal later
        # filling the object slot, is the clause subject (BELGESEL
        # izleyicilerden büyük ilgi gördü); with no later bare
        # nominal the attributive reading stands (YABANCI liderlerle
        # görüştü — pro-drop subject)
        upos[i] = "NOUN"
    elif (
        upos[i] == "ADJ"
        and i == 0
        and analyses[i].count("+") == 1
        and i + 1 < n
        and upos[i + 1] in ("NOUN", "PROPN")
        and base_case[i + 1] == "Gen"
        and not any(
            upos[j] in ("NOUN", "PROPN", "PRON")
            and base_case[j] in ("Nom", "")
            for j in range(i + 2, n)
        )
        and any(
            upos[j] == "VERB"
            and not tagsets[j]
            & {"A1sg", "A2sg", "A1pl", "A2pl"}
            for j in range(i + 1, n)
        )
    ):
        # sentence-initial citation adjective before a GENITIVE
        # possessor, with NO other subject candidate in the clause
        # and a 3rd-person predicate, is the clause subject —
        # the attributive reading would leave it subjectless
        # (BELGESEL yönetmenin uzun uğraşlarıyla tamamlandı)
        upos[i] = "NOUN"
    elif (
        upos[i] == "VERB"
        and "Zero" in tags
        and _zero_cop_class(analyses[i]) == "Adj"
        and roots[i] not in ("var", "yok")
        and not tags & {"A1sg", "A2sg", "A1pl", "A2pl"}
    ):
        # zero-copula 3rd-person adjectival predicate keeps ADJ in UD
        # (soğuktu, kaplıydı, önemlidir, kalabalıktı); var/yok stay
        # VERB per the reference's published PoS output
        upos[i] = "ADJ"
    elif (
        upos[i] == "VERB"
        and "Zero" in tags
        and _zero_cop_class(analyses[i]) == "Noun"
        and roots[i] not in ("var", "yok")
        # a live finite-verb reading means the zero-copula nominal
        # is a misanalysis (alındı = al+Pass+Past, not 'was a
        # receipt'): keep VERB
        and "finite" not in _readings(tokens[i])
    ):
        # zero-copula NOMINAL predicate is a noun in UD (29
        # yaşındayım, evdeydi, öğretmenim)
        upos[i] = "NOUN"
    elif low in _NEG_COPULAS:
        # the negative copular particle and its inflected forms
        # (karar kolay bir karar DEĞİL; hazır değildi): AUX in UD
        # regardless of the lexicon's Verb/Conj readings
        upos[i] = "AUX"
    elif (
        low == "olarak"
        and i > 0
        and upos[i - 1] in ("NOUN", "PROPN", "ADJ", "NUM")
    ):
        # grammaticalized 'as'-postposition over a bare nominal
        # (başkan OLARAK seçti): ADP; the literal ol- converb
        # reading survives clause-initially and after verbs
        upos[i] = "ADP"
    elif (
        low == "yerine"
        and i > 0
        and "Inf" in tagsets[i - 1]
    ):
        # 'instead of V-ing' (artırmak YERİNE): grammaticalized ADP
        # over the infinitive clause; after plain nominals the
        # literal possessed noun stays (yerine koydu)
        upos[i] = "ADP"
    elif (
        low == "ki"
        and i > 0
        and upos[i - 1] == "VERB"
        and any(upos[j] == "VERB" for j in range(i + 1, n))
    ):
        # post-verbal complementizer ki (diyor Kİ fiyatlar düşecek):
        # SCONJ; the coordinating/discourse ki elsewhere stays CCONJ
        upos[i] = "SCONJ"
    else:
        return False
    return True

def _lexical_function_words(s, i: int, low: str, tags: set) -> bool:
    tokens, analyses, n, lows, tagsets = s.tokens, s.analyses, s.n, s.lows, s.tagsets
    roots, base_case, morph_upos, upos = s.roots, s.base_case, s.morph_upos, s.upos
    has_finite_verb = s.has_finite_verb
    if (
        low in _GRAMMAT_ADPS
        and i > 0
        and upos[i - 1] in ("NOUN", "PROPN", "PRON", "NUM")
    ):
        # grammaticalized postposition after its complement (yağmur
        # yüzünden, yol boyunca); sentence-initial or verb-adjacent
        # occurrences keep the literal nominal reading
        upos[i] = "ADP"
    elif (
        low == "ilgili"
        and i > 0
        and base_case[i - 1] == "Ins"
    ):
        # frozen frame "X-ylA ilgili" ('concerning X') is adjectival
        upos[i] = "ADJ"
    elif low == "hiç":
        upos[i] = "ADV"
    elif (
        low in ("yasak", "serbest")
        and upos[i] == "NOUN"
        and all(upos[j] == "PUNCT" for j in range(i + 1, n))
        and any(upos[j] == "VERB"
                and "Inf" in tagsets[j]
                for j in range(i))
    ):
        # zero-copula prohibition/permission predicate over an
        # infinitive csubj is the adjective (ateş yakmak YASAK)
        upos[i] = "ADJ"
    elif (
        low == "doğrudan"
        and upos[i] == "ADJ"
        and i + 1 < n
        and not (upos[i + 1] in ("NOUN", "PROPN")
                 and base_case[i + 1] in ("Nom", ""))
    ):
        # 'doğrudan' is the lexicalized adverb 'directly' except in
        # the attributive frame before a bare nominal (doğrudan
        # UÇUŞ vs ürünleri DOĞRUDAN tüketiciye ulaştırmak)
        upos[i] = "ADV"
    elif (
        low in _TERRAIN_LIK_ADJS
        and upos[i] == "NOUN"
        and i + 1 < n
        and upos[i + 1] in ("NOUN", "PROPN")
        and not ("P3sg" in analyses[i + 1] or "P3pl" in analyses[i + 1])
    ):
        # lexicalized terrain/ground -lIk adjectives: before an
        # UNPOSSESSED nominal they are attributive (ORMANLIK alanda,
        # KAYALIK bölgede); a possessed next nominal keeps the noun
        # as izafet modifier, and abstract -lIk nouns (işsizlik,
        # kuraklık) are not in the closed class so subject uses are
        # untouched
        upos[i] = "ADJ"
    elif (
        low in ("neden", "niçin", "niye", "nasıl")
        and upos[i] in ("NOUN", "ADJ")
        and any(t == "?" for t in tokens[i + 1:])
    ):
        # interrogative adverb in a question sentence (Toplantı NEDEN
        # ertelendi?); 'neden' the noun ('reason') keeps its reading
        # in declaratives
        upos[i] = "ADV"
    elif (
        low in _TEMPORAL_ADVS
        and upos[i] in ("NOUN", "ADJ", "ADP", "ADV")
        # a chosen possessed SEGMENTATION is the relational noun, not
        # the lexicalized adverb (yıl SONUNDA = son+P3sg+Loc izafet)
        and not (roots[i] != low
                 and "P3sg" in tags)
    ):
        # önce/sonra after an ablative or time NP stay postpositions
        if low in ("önce", "sonra") and i > 0 and (
            base_case[i - 1] == "Abl"
            or morph_upos[i - 1] in ("NOUN", "NUM")
            # converb clause complement: ulaşmadan önce, yemeden önce
            or "WithoutHavingDoneSo" in analyses[i - 1]
        ):
            upos[i] = "ADP"
        elif (
            low in ("erken", "geç")
            and upos[i] == "ADJ"
            and i + 1 < n
            and upos[i + 1] in ("NOUN", "PROPN")
            # ... only before a TEMPORAL host (erken SAATLERDE,
            # erken yaşta) or a bare-Nom nominal (erken seçim); a
            # case-marked NON-temporal noun is a verb argument and
            # erken is the manner adverb (erken YOLA çıktı)
            and (roots[i + 1] in _TEMPORAL_ROOTS
                 or roots[i + 1] in ("yaş", "saat", "dönem", "vakit", "tarih")
                 or base_case[i + 1] in ("Nom", ""))
        ):
            # adnominal use keeps the adjective (erken SAATLERDE)
            pass
        else:
            upos[i] = "ADV"
    elif low in _DEGREE_ADVS:
        nxt = upos[i + 1] if i + 1 < n else ""
        if nxt in ("ADJ", "ADV", "VERB") or (
            i + 1 < n and lows[i + 1] in _DEGREE_ADVS
        ):
            upos[i] = "ADV"
    elif upos[i] == "NOUN" and (
        "PastPart" in tags
        or ("FutPart" in tags
            and base_case[i] in ("Acc", "Dat", "Loc", "Abl"))
        or ("Inf2" in tags
            and base_case[i] in ("Acc", "Dat", "Loc", "Abl")
            and i > 0
            # the emphatic particle is transparent for the argument
            # frame (hizmetleri DE sunmaya) — same skip as the parser
            and (lambda pv: (
                base_case[pv] in ("Acc", "Dat", "Loc", "Abl", "Ins", "Gen")
                # Acc / P3sg+Nom homographs to the left count — the
                # parser resolves them to Acc under this very clause
                # (ağaçları BUDAMAYA başladı); same gate as the parser
                or ("acc" in _readings(tokens[pv])
                    and upos[pv] in ("NOUN", "PRON"))
                # incorporated bare-Nom object with a subject
                # candidate further left (Firma ... ek PRİM ödemeyi
                # planlıyor) — same gate as the parser.  Only for
                # UNPOSSESSED -mA forms: a POSSESSED Inf2 after a
                # bare nominal is the lexicalized izafet compound
                # (kurtarma ÇALIŞMASINI başlattı = the rescue
                # operation, a noun), while its Gen-subject twin
                # stays the ccomp verb via the case disjunct above
                or (upos[pv] == "NOUN"
                    and base_case[pv] in ("Nom", "")
                    and "Pnon" in tagsets[pv]
                    and (not tags & {"P1sg", "P2sg", "P3sg",
                                     "P1pl", "P2pl", "P3pl"}
                         # light-verb roots keep the VERB reading:
                         # their bare left nominal is the complex's
                         # own argument (ceza ALMASINA rağmen,
                         # zarar ETMESİNE rağmen), not an izafet
                         # modifier
                         or roots[i]
                         in ("et", "ol", "yap", "ver", "al", "kıl"))
                    and any(
                        upos[j] in ("NOUN", "PROPN", "PRON")
                        and base_case[j] in ("Nom", "")
                        for j in range(0, pv)))
            ))(next((k for k in range(i - 1, -1, -1)
                     if lows[k] not in ("de", "da")),
                    i - 1)))
        # a bare-Nom possessed -mA nominalization with its own
        # GENITIVE subject on the left is a clausal subject, still a
        # verb (Projenin zamanında BİTMESİ herkesi sevindirdi); the
        # matrix predicate must exist for it to be the subject OF
        or ("Inf2" in tags
            and base_case[i] in ("Nom", "")
            and tags & {"P3sg", "P3pl"}
            and has_finite_verb
            and any(base_case[j] == "Gen" for j in range(i)))
    ):
        # case-marked participles are subordinate verbs, not nominals
        # (yapacağını söyledi, anlattığı konu); bare FutPart nominals
        # stay nominal (gelecek hafta), and an -mA verbal noun with no
        # left argument of its own is a lexicalized nominal (Konuşmayı
        # ... dinleyeceğim) — same gate the parser applies
        upos[i] = "VERB"
    elif (
        low in ("gelecek", "önümüzdeki", "geçtiğimiz")
        and i + 1 < n
        and roots[i + 1] in _TEMPORAL_ROOTS
    ):
        # lexicalized temporal modifiers (gelecek ay, önümüzdeki hafta)
        upos[i] = "ADJ"
    elif low in _LEX_PRONOUNS:
        upos[i] = "PRON"
    elif (
        upos[i] == "DET"
        and low in ("bu", "şu", "o")
        and not (i + 1 < n
                 and upos[i + 1] in ("NOUN", "PROPN", "ADJ", "NUM",
                                    "DET")
                 # a following pronoun cannot be determined even if
                 # its own conversion has not run yet
                 and lows[i + 1] not in _LEX_PRONOUNS)
    ):
        # a demonstrative with nothing to determine is the pronoun
        # (BU onların kararı; Bunu gördüm -> already PRON by case)
        upos[i] = "PRON"
    else:
        return False
    return True

def _lexical_modifiers(s, i: int, low: str, tags: set) -> bool:
    tokens, n, lows, tagsets, roots = s.tokens, s.n, s.lows, s.tagsets, s.roots
    base_case, upos = s.base_case, s.upos
    if (
        low == "ile"
        and upos[i] == "CCONJ"
        and not (
            i > 0 and i + 1 < n
            and upos[i - 1] == "PROPN" and upos[i + 1] == "PROPN"
        )
    ):
        # comitative/instrumental "ile" is a postposition (ekibi İLE
        # toplantı yaptı); only a proper-name pair coordinates
        # (Ali ile Ayşe)
        upos[i] = "ADP"
    elif (
        upos[i] == "NOUN"
        and i + 1 < n
        and upos[i + 1] == "VERB"
        and roots[i + 1] in ("ol", "kal",
                                                 "görün")
        and "bare_adj" in _readings(tokens[i])
    ):
        # noun/adjective homograph before a copular verb is the
        # predicative adjective (EMEKLİ oldu, rahatsız görünüyor)
        upos[i] = "ADJ"
    elif (
        low in ("bütün", "tüm", "çoğu", "birçok", "birkaç", "bazı")
        and i + 1 < n and upos[i + 1] in ("NOUN", "PROPN", "ADJ")
        # a PARTITIVE quantifier headed by a genitive host is a
        # pronoun, not a determiner (Katılımcıların ÇOĞU öneriyi
        # destekledi); only the bare adnominal use is DET
        and not (i > 0 and base_case[i - 1] == "Gen")
    ):
        # quantifiers are determiners in UD (bütün gün, ÇOĞU
        # izleyici)
        upos[i] = "DET"
    elif (
        low == "neden"
        and upos[i] == "NOUN"
        and "Pnon" in tags
        and base_case[i] in ("Nom", "")
        and i + 1 < n
        # the next token may be a nominalized verb whose own NOUN ->
        # VERB rewrite runs later in this pass: read the analysis
        and (upos[i + 1] == "VERB"
             or "Verb" in tagsets[i + 1])
    ):
        # the bare interrogative directly before a verb is the
        # wh-adverb 'why' (fiyatların NEDEN arttığını açıkladı);
        # the noun 'cause' is possessed/case-marked/determined
        upos[i] = "ADV"
    elif (
        low == "tek"
        and upos[i] == "NUM"
        and i + 1 < n
        and upos[i + 1] in ("NOUN", "PROPN")
        # the reduplication 'tek tek' keeps NUM for the later
        # ADV-pair rewrite
        and lows[i + 1] != "tek"
        and not (i > 0 and lows[i - 1] == "tek")
    ):
        # 'tek' before ANY noun is the adjective 'single/sole'
        # (TEK başına taşıyamadı, takımın TEK golü, TEK şeride
        # düşürüldü) — TDK lists tek as sıfat; the numeral reading
        # has no adnominal use
        upos[i] = "ADJ"
    elif (
        low == "ancak"
        and upos[i] == "CCONJ"
        and i > 0
        and not any(upos[j] == "VERB" for j in range(i))
        # a zero-copula PRESENT first conjunct has no VERB but is
        # still a complete clause (Hava güzel ANCAK deniz soğuk):
        # a bare predicate-capable ADJ/NOUN directly on the left
        # preceded by a bare-Nom subject keeps the coordination
        and not (
            i >= 2
            and upos[i - 1] in ("ADJ", "NOUN")
            and base_case[i - 1] in ("Nom", "")
            # a POSSESSED Nom nominal is the Acc-ambiguous OBJECT
            # shape, not a bare predicate (Çevirmen raporu ANCAK
            # sabah bitirdi keeps the focalizer reading)
            and not (tagsets[i - 1]
                     & {"P1sg", "P2sg", "P3sg",
                        "P1pl", "P2pl", "P3pl"})
            and any(upos[j] in ("NOUN", "PROPN", "PRON")
                    and base_case[j] in ("Nom", "")
                    for j in range(i - 1))
        )
    ):
        # mid-sentence 'ancak' with no finite first conjunct before
        # it is the focalizer 'only' (hatayı ANCAK gece fark etti);
        # clause coordination needs a complete clause on its left
        # (üretim arttı ANCAK ihracat azaldı), and sentence-initial
        # contrastive Ancak keeps its cc reading (i > 0 guard)
        upos[i] = "ADV"
    elif (
        low == "ne"
        and sum(1 for t in lows if t == "ne") >= 2
        and i + 1 < n and upos[i + 1] in ("NOUN", "PROPN", "ADJ",
                                         "VERB", "NUM")
    ):
        # doubled 'ne' is the negative correlative coordinator
        # (NE zam NE ek ödeme önerdi), not the interrogative pronoun
        upos[i] = "CCONJ"
    elif (
        upos[i] == "ADJ"
        and tags & {"With", "Without"}
        and not (i + 1 < n and upos[i + 1] in ("ADJ", "DET", "NUM")
                 or (i + 1 < n and upos[i + 1] in ("NOUN", "PROPN")
                     and base_case[i + 1] in ("Nom", "")
                     # ... unless that bare-Nom noun is itself a
                     # dual attributive feeding a later nominal
                     # (GÖREVLİ kışlık lastikleri çıkardı): the -lI
                     # word cannot stack over another modifier, so
                     # it exits to the zero-derived subject
                     and not ("bare_adj" in _readings(tokens[i + 1])
                              and i + 2 < n
                              and upos[i + 2] in ("NOUN", "PROPN")
                              and i == 0)))
        # before a CASE-MARKED noun the -lI word is attributive when
        # the clause subject is already filled to its left
        # (Teknisyenler ARIZALI hattı onardı); with no earlier
        # subject candidate it is the zero-derived subject itself
        # (MAHALLELİ yolu kapattı)
        and not (
            i + 1 < n and upos[i + 1] in ("NOUN", "PROPN")
            and base_case[i + 1] not in ("Nom", "")
            and any(
                upos[j] in ("NOUN", "PROPN", "PRON")
                and base_case[j] in ("Nom", "")
                and roots[j] not in _TEMPORAL_ROOTS
                for j in range(0, i)
            )
        )
        and not all(upos[j] == "PUNCT" for j in range(i + 1, n))
        and not (i + 1 < n
                 and (upos[i + 1] == "VERB"
                      # the nominalized-verb NOUN -> VERB rewrite runs
                      # later in this pass: a copular/verbal host read
                      # from the analysis counts (riskli OLDUĞUNU
                      # savunuyor keeps the predicative adjective)
                      or "Verb" in tagsets[i + 1]))
        # a conjunct chain of adjectives closing the sentence is a
        # zero-copula coordinated predicate: every token after this
        # one being CCONJ/ADJ/PUNCT keeps the adjective reading
        # (uygulama hem HIZLI hem güvenli.)
        and not all(upos[j] in ("CCONJ", "ADJ", "PUNCT")
                    for j in range(i + 1, n))
        # ... and so is a coordinated zero-copula CLAUSE tail, where
        # a bare-Nom subject follows the CCONJ (Yemek LEZZETLİ ama
        # porsiyon küçük.)
        and not (i + 1 < n and upos[i + 1] == "CCONJ"
                 and all(upos[j] in ("CCONJ", "ADJ", "PUNCT")
                         or (upos[j] in ("NOUN", "PROPN")
                             and base_case[j] in ("Nom", "")
                             and j + 1 < n and upos[j + 1] == "ADJ")
                         for j in range(i + 1, n)))
        # manner-frame hosts keep their attributive adjective even
        # case-marked (dikkatli ŞEKİLDE, sakin BİÇİMDE)
        and not (i + 1 < n and upos[i + 1] == "NOUN"
                 and roots[i + 1] in ("şekil", "biçim", "tarz", "üslup")
                 and base_case[i + 1] in ("Loc", "Ins"))
    ):
        # -lH/-sHz adjective not modifying anything nominal is a
        # zero-derived noun (Mahalleli ... rahatsız oldu); but keep
        # the adjective reading in predicative position (yol ...
        # daha güvenli.), before copular/psych verbs (mantıklı
        # geldi) and directly before ANY verb — there the later
        # ADJ-before-VERB pass decides between argument (readings-
        # backed nouns: Yaşlı düştü) and manner adverb (derived-only
        # adjectives: ayrıntılı ANLATTI)
        upos[i] = "NOUN"
    else:
        return False
    return True

def _lexical_case_frames(s, i: int, low: str, tags: set) -> bool:
    tokens, n, lows, tagsets, roots = s.tokens, s.n, s.lows, s.tagsets, s.roots
    base_case, base_poss, morph_upos = s.base_case, s.base_poss, s.morph_upos
    upos, has_finite_verb, last_content = s.upos, s.has_finite_verb, s.last_content
    if (
        upos[i] == "NOUN"
        and "Pnon" in tags
        and "Nom" in tags
        and i + 1 < n
        and upos[i + 1] in ("NOUN", "PROPN")
        and base_case[i + 1] in ("Nom", "")
        # a POSSESSED head selects the izafet noun-modifier reading
        # instead (dolu YAĞIŞI, kar yağışı): bare-noun modifiers
        # need possessed heads, so the homograph stays the noun
        and not base_poss[i + 1]
        and not (i + 2 < n and upos[i + 2] in ("NOUN", "PROPN")
                 # a grammaticalized postposition surface is no
                 # nominal-chain member — it will be rewritten ADP
                 # over the host, which keeps the homograph
                 # attributive (KAÇAK avlanma nedeniyle)
                 and lows[i + 2] not in _GRAMMAT_ADPS
                 and (base_case[i + 2] in ("Nom", "")
                      or base_poss[i + 2]
                      # an overtly case-marked POSSESSED tail is a
                      # chain too (SEYİS yarış atını eyerledi: the
                      # izafet object ends the chain, the homograph
                      # is the subject)
                      or tagsets[i + 2]
                      & {"P1sg", "P2sg", "P3sg",
                         "P1pl", "P2pl", "P3pl"})
                 # ... unless that third nominal is a light-verb
                 # nominal (EK personel talep etti): the chain ends
                 # at the light-verb complex, the homograph modifies
                 and not (i + 3 < n and upos[i + 3] == "VERB"
                          and roots[i + 3] in ("et", "yap", "ol")))
        and "bare_adj" in _readings(tokens[i])
        and low not in _MATERIAL_NOUNS
        and not (low in _TITLES and _CAP_RE.match(tokens[i]))
    ):
        # noun/adjective homograph directly before a BARE nominal is
        # the adjective (taze balık); before a case-marked nominal
        # (Bakan projenin ... söyledi) or a longer nominal chain
        # (Karar kurul tarafından ...) the noun reading stands;
        # capitalized titles stay nominal (Bakan Ege ... inceledi);
        # material nouns modify as NOUN+nmod (cam kavanoz)
        upos[i] = "ADJ"
    elif (
        upos[i] == "NOUN"
        and "Pnon" in tags
        and "Nom" in tags
        and i + 1 < n
        and upos[i + 1] in ("NOUN", "PROPN")
        and (base_case[i + 1] not in ("Nom", "")
             # ... or a P3sg+Nom head the parser's re-read will
             # resolve to Acc: an ambiguous object after the dual,
             # with a left subject and a transitive/LVC frame, is
             # case-marked in effect (Kaportacı EZİK çamurluğu
             # tamir etti)
             or ("P3sg" in tagsets[i + 1]
                 and "acc" in _readings(tokens[i + 1])
                 and any(
                     upos[j] == "NOUN"
                     and base_case[j] in ("Nom", "")
                     and not base_poss[j]
                     for j in range(i))))
        and "bare_adj" in _readings(tokens[i])
        and low not in _MATERIAL_NOUNS
        # the complement slot of the agentive-passive frame and the
        # grammaticalized postpositions is NOMINAL: the homograph is
        # the agent/complement, never attributive over the frame
        # word itself (açılışı BAKAN tarafından yapıldı)
        and lows[i + 1] != "tarafından"
        and lows[i + 1] not in _GRAMMAT_ADPS
        # mid-sentence capitals are names; a SENTENCE-INITIAL capital
        # is attributive when a later bare nominal can be the subject
        # (YABANCI yatırımcılarla görüşmeler sürüyor), the subject
        # itself otherwise (HASTA doktora gitti)
        and (not _CAP_RE.match(tokens[i])
             or (i == 0
                 # titles stay the subject (BAKAN mühendislerle ...)
                 and low not in _TITLES
                 and any(
                     upos[j] == "NOUN"
                     and base_case[j] in ("Nom", "")
                     and not base_poss[j]
                     # an LVC nominal is not a subject candidate
                     # (ziyaret ETTİ)
                     and not (j + 1 < n and upos[j + 1] == "VERB"
                              and roots[j + 1] in ("et", "yap", "ol"))
                     for j in range(i + 2, n))))
        # a possessed SPATIAL relational host takes the bare noun as
        # its nmod, not an amod (kağıt ÜZERİNDE kusursuz görünüyor)
        and not (roots[i + 1] in _SPATIAL_ROOTS
                 and "P3sg" in tagsets[i + 1])
        and "Agt" not in tags
        # a lexicalized adverb surface (yakında, önceden) is about
        # to be rewritten ADV: the homograph then has no nominal to
        # modify and stays the subject noun (hasta YAKINDA iyileşecek)
        and lows[i + 1] not in _TEMPORAL_ADVS
        # an ablative comparative frame keeps the noun: the Abl is
        # the predicate's standard of comparison, not an argument
        # the homograph must escape (Bu KUMAŞ diğerinden daha
        # yumuşak)
        and not (base_case[i + 1] == "Abl"
                 and i + 2 < n
                 and lows[i + 2] in _DEGREE_ADVS)
    ):
        # noun/adjective homograph before a CASE-MARKED nominal it
        # cannot compound with is the adjective (yabancı liderlerle
        # görüştü); capitalized mentions and agent nouns stand
        upos[i] = "ADJ"
    elif upos[i] == "ADJ" and "PresPart" in tags:
        # -An participles heading a relative clause are VERBs in UD
        # (kaybolan köpek, bekleyen adam); lexicalized whole-word
        # adjectives (geçen ay) carry no PresPart tag and stay ADJ
        upos[i] = "VERB"
    elif upos[i] == "NUM" and _LARCA_RE.search(low):
        # -lArcA distributives quantify like adjectives in UD
        # (yüzlerce bina)
        upos[i] = "ADJ"
    elif (
        upos[i] == "NUM"
        and i + 1 < n
        and morph_upos[i + 1] == "VERB"
        and roots[i + 1] in ("ol", "gel")
        and _ORDINAL_RE.search(low)
    ):
        # ordinal + light verb: birinci oldu -> nominal compound
        upos[i] = "NOUN"
    elif (
        upos[i] == "NUM"
        and _ORDINAL_RE.search(low)
        and i + 1 < n
        and upos[i + 1] in ("NOUN", "PROPN")
    ):
        # adnominal ordinals are adjectives in UD (sezonun ÜÇÜNCÜ
        # galibiyetini aldı)
        upos[i] = "ADJ"
    elif (
        upos[i] == "NOUN"
        and low[-3:] in ("lık", "lik", "luk", "lük")
        and low[:-3] in _UNIT_ROOTS
        and i > 0
        and upos[i - 1] == "NUM"
        and i + 1 < n
        and upos[i + 1] in ("DET", "NOUN", "PROPN", "ADJ")
    ):
        # NUM + unit-noun + -lIk is the measure adjective (bin
        # YILLIK bir mezar, iki KİŞİLİK masa, üç GÜNLÜK gezi) —
        # the bare -lIk nominal reading needs no numeral
        upos[i] = "ADJ"
    elif (
        upos[i] == "NOUN"
        and i == last_content
        and not has_finite_verb
        and (
            "Agt" in tags
            or (i > 0 and upos[i - 1] == "ADV"
                and "bare_adj" in _readings(tokens[i]))
        )
    ):
        # copular (verbless) predicate position prefers the adjectival
        # reading: -CH agent predicates (kuraklıktan şikayetçi) and
        # adverb-modified homographs (tamamen dolu)
        upos[i] = "ADJ"
    elif (
        upos[i] == "PROPN"
        and i == 0
        and "'" not in tokens[i]
        and "’" not in tokens[i]
        and not (i + 1 < n and upos[i + 1] in ("NOUN", "PROPN")
                 and _CAP_RE.match(tokens[i + 1]))
        and (low not in _typed_gazetteer()[1]
             # gazetteer names that are also TEMPORAL nouns (Sabah
             # the paper vs sabah 'morning') or agentive occupation
             # nouns (Sözcü the paper vs sözcü 'spokesperson') read
             # as the common noun sentence-initially before
             # lowercase text
             or low in _TEMPORAL_ROOTS
             or _agentive_common(low))
        and _common_noun_stem(low)
    ):
        # sentence-initial capitalization is not a Prop signal: a
        # common-noun homograph outside the gazetteer reads as the
        # noun (Sanatçı ... söyledi, Sabah ... yedik); capitalized
        # RUNS (Ziraat Bankası) and gazetteer names stay proper
        upos[i] = "NOUN"
    else:
        return False
    return True

# a capitalized token right after a capitalized title is the person's
# name, even when its lowercase surface is an adjective/common-noun
# homograph (Profesör Aydın, Doktor Çelik) -> PROPN
def _name_after_title(s):
    tokens, n, lows, upos = s.tokens, s.n, s.lows, s.upos
    for i in range(1, n):
        if (
            upos[i] in ("ADJ", "NOUN")
            and _CAP_RE.match(tokens[i])
            and lows[i - 1] in _TITLES
            and upos[i - 1] in ("NOUN", "PROPN")
            and _CAP_RE.match(tokens[i - 1])
        ):
            upos[i] = "PROPN"

# mention runs: >=2 adjacent capitalized nominals are proper nouns
# (Ziraat Bankası, Boğaziçi Köprüsü'nden); titles keep their common
# reading (Profesör Orhan); apostrophe-cliticized capitals are proper
# everywhere (İstanbul'dan)
def _capitalized_runs(s):
    tokens, analyses, n, lows = s.tokens, s.analyses, s.n, s.lows
    base_poss, upos = s.base_poss, s.upos
    for i in range(n):
        if not _CAP_RE.match(tokens[i]):
            continue
        # a mid-sentence capitalized ADJECTIVE next to a capitalized
        # name is a surname homograph (Doçent Ece AYDIN), not an
        # attributive adjective; sentence-initial ADJ stays out
        if upos[i] not in ("NOUN", "PROPN") and not (
            upos[i] == "ADJ" and i > 0
            # -ki relatives of place names (Ankara'daki) are real
            # adjectives, not surname homographs
            and "Rel" not in analyses[i]
            and "'" not in tokens[i] and "’" not in tokens[i]
        ):
            continue
        low = lows[i]
        if ("'" in tokens[i] or "’" in tokens[i]) and upos[i] == "NOUN":
            upos[i] = "PROPN"
            continue
        # a sentence-initial common-noun homograph stays NOUN when the
        # capitalized neighbor is itself the izafet modifier of a following
        # lowercase possessed nominal (Şirket İzmir FUARINDA ... tanıttı ->
        # Şirket is the subject, "İzmir fuarında" its own constituent);
        # capitalized-possessed continuations (Ziraat Bankası) still run
        fwd_izafet = (
            i == 0
            and i + 2 < n
            and _common_noun_stem(low)
            and not _CAP_RE.match(tokens[i + 2])
            and upos[i + 2] in ("NOUN", "PROPN")
            and base_poss[i + 2]
        )
        neighbor_cap = (
            (i + 1 < n and upos[i + 1] in ("NOUN", "PROPN")
             and _CAP_RE.match(tokens[i + 1]) and lows[i + 1] not in _TITLES
             and not fwd_izafet)
            or (i > 0 and upos[i - 1] in ("NOUN", "PROPN")
                and _CAP_RE.match(tokens[i - 1]))
        )
        if neighbor_cap and low not in _TITLES:
            upos[i] = "PROPN"

# a capitalized typed-gazetteer name is a proper noun even standalone
# (İZMİR limanına ... — the morph table has no entry for it, so the
# chosen analysis falls to Unknown/NOUN); titles and sentence-initial
# temporal homographs (Sabah) keep their common reading
def _gazetteer_names(s):
    tokens, n, lows, base_poss, upos = s.tokens, s.n, s.lows, s.base_poss, s.upos
    for i in range(n):
        if (
            upos[i] == "NOUN"
            and _CAP_RE.match(tokens[i])
            and lows[i].split("'")[0] in _typed_gazetteer()[1]
            and lows[i] not in _TITLES
            and not (i == 0 and (lows[i] in _TEMPORAL_ROOTS
                                 or _agentive_common(lows[i])))
            # a SENTENCE-INITIAL gazetteer homograph whose common-noun
            # reading feeds a lowercase izafet head keeps the common
            # reading (ZİRAAT odası üreticilere fide dağıttı); the
            # name reading needs a capitalized continuation (Ziraat
            # Bankası) or a mid-sentence capital
            and not (i == 0 and i + 1 < n
                     and upos[i + 1] == "NOUN"
                     and not _CAP_RE.match(tokens[i + 1])
                     and base_poss[i + 1])
        ):
            upos[i] = "PROPN"

# zincirleme izafet: a whole-word-Adj homograph with a live P3sg+Nom
# segmentation between a bare compound modifier and another possessed-
# readable nominal is the possessed-Noun chain link (yönetim KURULU
# üyeleri = kurul+P3sg, not kurulu 'assembled') — mirror of the
# parser's eff_case/eff_poss re-read
def _chain_link_noun(s):
    tokens, analyses, n, lows = s.tokens, s.analyses, s.n, s.lows
    base_case, base_poss, upos = s.base_case, s.base_poss, s.upos
    for i in range(1, n - 1):
        if (
            upos[i] == "ADJ"
            and analyses[i].count("+") == 1
            and analyses[i].endswith("+Adj")
            and "p3nom" in _readings(tokens[i])
            and lows[i] not in _CORE_ADJS
            # the asker/resim/din loan-î trio reads attributive before a
            # nominal (resmi RAKAMLARI açıkladı): their izafet-head uses
            # are rare, unlike kurul/oda/tarih/merkez (morphology.py's
            # sub-class rule chose the Adj deliberately)
            and lows[i] not in ("askeri", "resmi", "dini",
                                            "madeni")
            and upos[i - 1] == "NOUN"
            and base_case[i - 1] in ("Nom", "")
            and not base_poss[i - 1]
            and upos[i + 1] in ("NOUN", "PROPN", "PRON")
            and "p3nom" in _readings(tokens[i + 1])
        ):
            upos[i] = "NOUN"

# a loan-î whole-word adjective before a case-marked OBLIQUE nominal
# with an otherwise objectless transitive finite verb is the hidden
# accusative object (erimiş MADENİ kalıba döktü = maden+Acc) —
# mirror of the parser's upos/eff_case re-read
def _loan_i_object(s):
    analyses, n, lows, tagsets, roots = s.analyses, s.n, s.lows, s.tagsets, s.roots
    base_case, base_poss, upos = s.base_case, s.base_poss, s.upos
    for i in range(1, n - 1):
        if (
            upos[i] == "ADJ"
            and analyses[i].count("+") == 1
            and analyses[i].endswith("+Adj")
            and lows[i] in _LOAN_I_ACC_ADJS
            and upos[i + 1] in ("NOUN", "PROPN")
            and base_case[i + 1] in ("Dat", "Loc", "Abl", "Ins")
            and not (i + 2 < n and upos[i + 2] == "ADP")
        ):
            v = next((j for j in range(i + 1, n) if upos[j] == "VERB"),
                     None)
            if (
                v is not None
                and roots[v] in _TRANSITIVE_ROOTS
                # bare-object ACTIVITY verbs need no object: the loan-î
                # word before their oblique stays attributive (resmi
                # TATİLDE çalıştı)
                and roots[v] not in ("oyna", "çalış",
                                                         "yüz")
                and "Pass" not in tagsets[v]
                and not any(base_case[j] == "Acc"
                            for j in range(n) if j != i)
                and not any(upos[j] in ("NOUN", "PROPN")
                            and base_case[j] in ("Nom", "")
                            and not base_poss[j]
                            for j in range(i + 1, v))
                and any(upos[j] in ("PROPN", "PRON")
                        or (upos[j] == "NOUN"
                            and base_case[j] in ("Nom", "")
                            and not base_poss[j])
                        for j in range(i))
            ):
                upos[i] = "NOUN"

# whole-word-Adj / possessed-locative homographs directly before the
# verb with a nominal to their left are the locative adverbial
# (olayları YERİNDE inceledi) — mirror of the parser's re-read
def _possessed_locative(s):
    tokens, analyses, n, roots, upos = s.tokens, s.analyses, s.n, s.roots, s.upos
    for i in range(1, n - 1):
        if (
            upos[i] == "ADJ"
            and analyses[i].count("+") == 1
            and analyses[i].endswith("+Adj")
            and "p3loc" in _readings(tokens[i])
            and (upos[i + 1] == "VERB"
                 or (i + 2 < n and upos[i + 1] == "NOUN"
                     and upos[i + 2] == "VERB"
                     and roots[i + 2] in ("et", "yap", "ol")))
            and upos[i - 1] in ("NOUN", "PROPN", "PRON", "NUM")
        ):
            upos[i] = "NOUN"

# loan -î adjective homographs of Acc/P3sg segmentations (resmi =
# resmî / resim+Acc) directly before a case-marked nominal, with the
# object slot claimed by an earlier Acc-capable nominal, are the
# attributive adjective — mirror of the parser's re-read
def _loan_i_attributive(s):
    tokens, analyses, n, lows, tagsets = s.tokens, s.analyses, s.n, s.lows, s.tagsets
    roots, base_case, upos = s.roots, s.base_case, s.upos
    for i in range(1, n - 1):
        if (
            upos[i] == "NOUN"
            and roots[i] != lows[i]
            and (tagsets[i] & {"Acc"}
                 or ("Nom" in analyses[i]
                     and tagsets[i]
                     & {"P3sg", "P3pl"}))
            and "bare_adj" in _readings(tokens[i])
            and upos[i + 1] in ("NOUN", "PROPN")
            and base_case[i + 1] in ("Dat", "Loc", "Abl", "Ins",
                                              "Gen")
            and any(
                upos[j] in ("NOUN", "PROPN", "PRON")
                and "acc" in _readings(tokens[j])
                for j in range(0, i)
            )
        ):
            upos[i] = "ADJ"

# the same loan -î class directly before determiner "bir" + a
# non-temporal nominal is attributive outright (Bu anlaşma TARİHİ
# bir adımdır) — mirror of the parser's re-read; "toplantı tarihi
# bir gün önce" keeps the date reading (gün is temporal)
def _loan_i_before_bir(s):
    tokens, analyses, n, lows, tagsets = s.tokens, s.analyses, s.n, s.lows, s.tagsets
    roots, upos = s.roots, s.upos
    for i in range(1, n - 2):
        if (
            upos[i] == "NOUN"
            and roots[i] != lows[i]
            and (tagsets[i] & {"Acc"}
                 or ("Nom" in analyses[i]
                     and tagsets[i]
                     & {"P3sg", "P3pl"}))
            and "bare_adj" in _readings(tokens[i])
            and lows[i + 1] == "bir"
            and upos[i + 2] in ("NOUN", "PROPN")
            and roots[i + 2] not in _TEMPORAL_ROOTS
            and upos[i - 1] in ("NOUN", "PROPN", "PRON", "NUM")
        ):
            upos[i] = "ADJ"

# agentive -IcI derivations (yüzücü, satıcı) are profession NOUNS
# unless they stand directly before the nominal they would modify
# (temizleyici madde keeps ADJ; yüzücü MİLLİ takıma -> NOUN subject)
def _agentive_nouns(s):
    tokens, analyses, n, tagsets = s.tokens, s.analyses, s.n, s.tagsets
    base_case, upos = s.base_case, s.upos
    for i in range(n):
        if (
            upos[i] == "ADJ"
            and analyses[i].endswith("+Adj+Agt")
            and (i + 1 >= n or upos[i + 1] not in ("NOUN", "PROPN")
                 # a case-marked (or Acc-readable) nominal is a clause
                 # argument, not a modifiable head (İZLEYİCİ finali
                 # beğendi)
                 or base_case[i + 1] not in ("Nom", "")
                 or "acc" in _readings(tokens[i + 1])
                 # a bare-Nom nominal already feeding its own izafet
                 # head is saturated — the Agt word exits to the
                 # profession-noun subject (GENÇ YÜZÜCÜ kulaç rekorunu)
                 or (i + 2 < n and upos[i + 2] in ("NOUN", "PROPN")
                     and "Pnon" in analyses[i + 1]
                     and "Nom" in analyses[i + 1]
                     and {"P3sg", "P3pl"} & tagsets[i + 2]))
        ):
            # ... but a sentence-final zero-copula predicate keeps the
            # adjectival reading (çok ETKİLEYİCİ.) unless a determiner
            # marks the nominal use (iyi bir YÜZÜCÜ.)
            pred_final = all(upos[j] == "PUNCT" for j in range(i + 1, n))
            if pred_final and not (i > 0 and upos[i - 1] in ("DET", "NUM")):
                continue
            upos[i] = "NOUN"

# a bare whole-word noun with a citation-Adj twin directly before
# determiner "bir" + a nominal is attributive (İLERİ bir tarihe
# erteledi): a noun cannot modify across the determiner
def _adjective_before_bir(s):
    tokens, analyses, n, lows, roots = s.tokens, s.analyses, s.n, s.lows, s.roots
    upos = s.upos
    for i in range(n - 2):
        if (
            upos[i] == "NOUN"
            and roots[i] == lows[i]
            and "Pnon" in analyses[i] and "Nom" in analyses[i]
            and "bare_adj" in _readings(tokens[i])
            and lows[i + 1] == "bir"
            and upos[i + 1] == "DET"
            and upos[i + 2] in ("NOUN", "PROPN")
            and not _CAP_RE.match(tokens[i])
        ):
            upos[i] = "ADJ"

# the -ArAk converb of git- lexicalizes as the degree adverb
# 'increasingly' directly before a predicate, unless git- keeps its
# own Dat/Abl goal argument (okula GİDEREK alıştı keeps the converb;
# fiyatlar GİDEREK artıyor is the adverb)
def _giderek_adverb(s):
    analyses, n, lows, base_case, upos = s.analyses, s.n, s.lows, s.base_case, s.upos
    for i in range(n - 1):
        if (
            upos[i] == "VERB"
            and lows[i] == "giderek"
            and "ByDoingSo" in analyses[i]
            and upos[i + 1] in ("VERB", "ADJ", "ADV")
            and not (i > 0 and base_case[i - 1] in ("Dat", "Abl"))
        ):
            upos[i] = "ADV"

# a bare whole-word noun with a citation-Adj twin directly before an
# UNPOSSESSED bare nominal is the attributive adjective — bare-noun
# modifiers need possessed heads (izafet), adjectives do not
# (GENÇ yüzücü seçildi -> amod; maaş ARTIŞI istedi keeps the compound)
def _attributive_before_bare(s):
    tokens, analyses, n, lows, tagsets = s.tokens, s.analyses, s.n, s.lows, s.tagsets
    roots, base_case, base_poss, upos = s.roots, s.base_case, s.base_poss, s.upos
    for i in range(n - 1):
        if (
            upos[i] == "NOUN"
            and roots[i] == lows[i]
            and "Pnon" in analyses[i] and "Nom" in analyses[i]
            and "bare_adj" in _readings(tokens[i])
            and upos[i + 1] == "NOUN"
            and base_case[i + 1] in ("Nom", "")
            and not base_poss[i + 1]
            # the bare nominal must be a claimable head, not the
            # complement of a following postposition or the tarafından
            # agent frame (Karar KURUL tarafından alındı keeps Karar
            # the subject) — UNLESS the clause already has a subject
            # candidate to the left, in which case the homograph really
            # is attributive on the ADP/agent complement (Köprü YABANCI
            # mühendisler tarafından inşa edildi)
            and not (i + 2 < n
                     and (upos[i + 2] == "ADP"
                          or lows[i + 2] == "tarafından")
                     and not any(upos[j] in ("NOUN", "PROPN", "PRON")
                                 for j in range(i)))
            # ... and not when the bare nominal is itself the bare
            # MODIFIER of a following OVERTLY case-marked possessed
            # head (SEYİS yarış atını eyerledi): that izafet chain is
            # unambiguous and claims the bare nominal, so the homograph
            # exits to the subject.  An ambiguous P3sg+NOM tail (Genç
            # şirket üretimi hızla artırdı) keeps the attributive
            # reading — the chain there is not yet resolved
            and not (i == 0 and i + 2 < n
                     and upos[i + 2] in ("NOUN", "PROPN")
                     and tagsets[i + 2]
                     & {"P1sg", "P2sg", "P3sg",
                        "P1pl", "P2pl", "P3pl"}
                     and base_case[i + 2]
                     in ("Acc", "Dat", "Loc", "Abl", "Gen", "Ins"))
        ):
            upos[i] = "ADJ"

# out-of-lexicon stems ending in a harmony-consistent With suffix
# (-lI) are derived adjectives in attributive or zero-copula
# predicate position (oldukça KULLANIŞLI. / kullanışlı cihaz) — the
# nominal-inflection fallback cannot produce derivations, so the
# adjectival reading is supplied here
def _unknown_li_adjectives(s):
    analyses, n, lows, upos = s.analyses, s.n, s.lows, s.upos
    for i in range(n):
        if upos[i] != "NOUN" or "Unknown" not in analyses[i]:
            continue
        low = lows[i]
        if len(low) < 5 or low[-2:] not in ("lı", "li", "lu", "lü"):
            continue
        stem_vowels = [c for c in low[:-2] if c in "aeıioöuü"]
        if not stem_vowels:
            continue
        harmony = {"a": "lı", "ı": "lı", "e": "li", "i": "li",
                   "o": "lu", "u": "lu", "ö": "lü", "ü": "lü"}
        if low[-2:] != harmony[stem_vowels[-1]]:
            continue
        attributive = i + 1 < n and upos[i + 1] in ("NOUN", "PROPN")
        pred_final = (
            all(upos[j] == "PUNCT" for j in range(i + 1, n))
            and not any(upos[j] == "VERB" for j in range(n))
        )
        if attributive or pred_final:
            upos[i] = "ADJ"

# a dual noun/adjective homograph in zero-copula FIRST-CONJUNCT
# predicate position — after a bare-Nom subject, before a CCONJ
# whose coordinated tail is itself a zero-copula clause — is the
# adjective (Yemekler TAZE ama servis yavaş.)
def _first_conjunct_adjective(s):
    tokens, analyses, n, lows, roots = s.tokens, s.analyses, s.n, s.lows, s.roots
    base_case, upos = s.base_case, s.upos
    for i in range(1, n - 1):
        if (upos[i] == "NOUN"
                and roots[i] == lows[i]
                and "Pnon" in analyses[i] and "Nom" in analyses[i]
                and "bare_adj" in _readings(tokens[i])
                and upos[i - 1] in ("NOUN", "PROPN")
                and base_case[i - 1] in ("Nom", "")
                and upos[i + 1] == "CCONJ"
                and not any(upos[j] == "VERB" for j in range(n))
                and all(upos[j] in ("CCONJ", "ADJ", "PUNCT")
                        or (upos[j] in ("NOUN", "PROPN")
                            and base_case[j] in ("Nom", "")
                            and j + 1 < n and upos[j + 1] in ("ADJ",
                                                             "NOUN"))
                        for j in range(i + 1, n))):
            upos[i] = "ADJ"

# a dual homograph fronted by a correlative particle whose PAIRED
# conjunct is an adjective, in a verbless clause, is the adjective
# (Yeni perde hem ŞIK hem kullanışlı) — the correlative pair
# coordinates like categories
def _correlative_adjective(s):
    tokens, n, lows, upos = s.tokens, s.n, s.lows, s.upos
    for i in range(1, n):
        if (upos[i] == "NOUN"
                and "bare_adj" in _readings(tokens[i])
                and lows[i - 1] in ("hem", "ne", "ya",
                                                "gerek")
                and not any(upos[j] == "VERB" for j in range(n))):
            pair = next(
                (j for j in range(i + 1, n - 1)
                 if lows[j] == lows[i - 1]),
                None,
            )
            if pair is not None and upos[pair + 1] == "ADJ":
                upos[i] = "ADJ"

# reduplicated adjectives quantify the verb phrase adverbially
# (bol bol kitap okudum)
def _reduplicated_adjectives(s):
    tokens, n, upos = s.tokens, s.n, s.upos
    for i in range(n - 1):
        if (upos[i] == upos[i + 1] and upos[i] in ("ADJ", "NUM")
                and tokens[i] == tokens[i + 1]):
            upos[i] = upos[i + 1] = "ADV"

# reduplicated bare-Nom nouns are manner adverbials too (dakika
# dakika aktardı, kapı kapı dolaştı) — the doubling, not the noun,
# carries the function; a following nominal head blocks the rewrite
def _reduplicated_nouns(s):
    tokens, analyses, n, upos = s.tokens, s.analyses, s.n, s.upos
    for i in range(n - 1):
        if (
            upos[i] == upos[i + 1] == "NOUN"
            and tokens[i] == tokens[i + 1]
            and "Pnon" in analyses[i] and "Nom" in analyses[i]
            and "Pnon" in analyses[i + 1] and "Nom" in analyses[i + 1]
            and not (i + 2 < n and upos[i + 2] in ("NOUN", "PROPN"))
        ):
            upos[i] = upos[i + 1] = "ADV"

# bare "geri" directly before a verb is the directional particle
# (geri döndü, geri dönüştürerek, geri verdi) — the noun reading
# needs case or possession
def _geri_particle(s):
    analyses, n, lows, upos = s.analyses, s.n, s.lows, s.upos
    for i in range(n - 1):
        if (
            upos[i] == "NOUN"
            and lows[i] == "geri"
            and "Pnon" in analyses[i] and "Nom" in analyses[i]
            and upos[i + 1] == "VERB"
        ):
            upos[i] = "ADV"

# temporal-manner adjectives directly before a LIGHT-VERB complex
# scope over the whole predicate, not the event nominal (erken FARK
# ETTİ, geç KARAR VERDİ): the nominal fills the verb's own slot and
# takes no adnominal in this frame
def _manner_before_light_verb(s):
    n, lows, roots, upos = s.n, s.lows, s.roots, s.upos
    for i in range(n - 2):
        if (
            upos[i] == "ADJ"
            and lows[i] in ("erken", "geç", "çabuk")
            and upos[i + 1] == "NOUN"
            and upos[i + 2] == "VERB"
            and roots[i + 2] in ("et", "yap", "ol",
                                                     "ver", "kıl")
        ):
            upos[i] = "ADV"

# an adjective directly before a verb is its argument noun or its manner
# adverb
def _adjective_before_verb(s):
    tokens, n, lows, roots, base_case = s.tokens, s.n, s.lows, s.roots, s.base_case
    upos = s.upos
    for i in range(n - 1):
        if upos[i] == "ADJ" and upos[i + 1] == "VERB":
            nxt_root = roots[i + 1]
            if nxt_root in ("ol", "et", "kal", "görün", "tut"):
                continue  # predicative complement: rahatsız oldu,
                # açık kaldı, modern görünüyor, sabit tuttu — keep/
                # appearance verbs take predicative adjectives, never
                # manner adverbs
            if nxt_root in ("gel", "dur") and i > 0 and (
                base_case[i - 1] == "Dat"
            ):
                continue  # psych-verb frame: bana mantıklı geldi
            low = lows[i]
            if ("bare_noun" in _readings(tokens[i])
                    and low not in _ADVERBIAL_ADJS
                    # loan adjectives' bare_noun reading is an artifact of
                    # the Noun-only lexicon entry, not evidence of
                    # argumenthood (net, direkt — NOT kalabalık, whose
                    # noun reading 'crowd' is live)
                    and low not in ("net", "komple", "direkt", "süper",
                                    "ekstra")):
                # homograph directly before the verb is an argument
                # (taze balık getirdi -> balık NOUN)
                upos[i] = "NOUN"
            else:
                # adjective used adverbially (yorgun döndüm)
                upos[i] = "ADV"

# a material/degree juxtaposition noun whose CHOSEN analysis is the
# bare citation adjective still modifies as NOUN+nmod before a
# nominal (blind-36 convention: cam kavanoz, DEMİR kapıları,
# rekor katılım) — the Adj reading is the lexicon's artifact
def _material_nouns(s):
    analyses, n, lows, upos = s.analyses, s.n, s.lows, s.upos
    for i in range(n - 1):
        if (
            upos[i] == "ADJ"
            and analyses[i].count("+") == 1
            and analyses[i].endswith("+Adj")
            and lows[i] in _MATERIAL_NOUNS
            and upos[i + 1] in ("NOUN", "PROPN")
        ):
            upos[i] = "NOUN"


# adjust_upos's passes in order; the parser runs them too, on the same
# ParseState, before its own PARSE_RULES
UPOS_RULES = (
    _role_noun_subject, _lexical_context, _name_after_title, _capitalized_runs,
    _gazetteer_names, _chain_link_noun, _loan_i_object, _possessed_locative,
    _loan_i_attributive, _loan_i_before_bir, _agentive_nouns,
    _adjective_before_bir, _giderek_adverb, _attributive_before_bare,
    _unknown_li_adjectives, _first_conjunct_adjective, _correlative_adjective,
    _reduplicated_adjectives, _reduplicated_nouns, _geri_particle,
    _manner_before_light_verb, _adjective_before_verb, _material_nouns,
)


def adjust_upos(tokens: List[str], analyses: List[str]) -> List[str]:
    """Context repairs on the morph-derived UPOS (gold tuning-split error
    clusters): temporal/degree adverbs read as nominals, case-marked
    participles as subordinate verbs, noun/adjective homographs resolved
    by the following token.  Shared by py_pos_tags and the parser."""
    s = ParseState(tokens, analyses)
    for rule in UPOS_RULES:
        rule(s)
    return s.upos


def py_pos_tags(tokens: List[str]) -> List[str]:
    return adjust_upos(tokens, py_analyze_tokens(tokens))


def py_pos_pairs(tokens: List[str]) -> List[Tuple[str, str]]:
    return list(zip(tokens, py_pos_tags(tokens)))


# array<string> tokens -> array<string> UPOS tags
pos_tags = arrow_map(py_pos_tags, ArrayType(StringType()))


def pos_from_analyses(col: Column | str) -> Column:
    """Derive UPOS **natively** from an already-materialized analyses
    column (array<string>) — no second Python pass when morphology ran
    upstream.  Same semantics as ``upos_from_analysis``, expressed with
    JVM string functions inside whole-stage codegen."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, _upos_sql)


def _upos_sql(a: Column) -> Column:
    tags = F.split(a, r"\+")
    after_db = F.element_at(F.split(a, "\\^DB\\+"), -1)
    first_tag = F.when(a.contains("^DB"), F.split(after_db, r"\+")[0]).otherwise(tags[1])
    second_tag = F.when(a.contains("^DB"), F.split(after_db, r"\+")[1]).otherwise(tags[2])
    mapping = F.create_map(*[F.lit(x) for kv in _MORPH_TO_UPOS.items() for x in kv])
    return F.when(
        (first_tag == "Noun") & (second_tag == "Prop"), F.lit("PROPN")
    ).when(
        (first_tag == "Noun") & (second_tag == "Time"), F.lit("NUM")
    ).otherwise(F.coalesce(mapping[first_tag], F.lit("X")))
