"""Compose the morphotactic core of the suffix table.

The committed ``vnlp_spark/resources/suffix_tags_fixture.txt.gz`` is the
source of truth and a strict superset of this script's output (52,458
against 33,816 rows): later rounds extended the committed table in
place for gaps found in gold error analysis, negative, passive and
causative participles and verbal nouns among them.  This script never
writes there; it writes only to the path named on its command line, for
inspecting or diffing the generated core against the committed table.

The reference's full suffix dictionary (``Suffixes&Tags.txt``, consumed at
_yildiz_analyzer.py:85-96) is absent from the snapshot
(/root/reference/.MISSING_LARGE_BLOBS).  This script composes a fixture
table from standard Turkish morphotactics.  Output format matches the
reference loader: one ``surface_suffix<TAB>tag_string`` row per reading;
``DB`` elements mark derivation boundaries (rendered ``^DB`` in analyses).

Round-3 expansion (gold error analysis showed whole verb families falling
to Unknown): voice chains (passive -Hl/-n/-Hn, causative -t/-Ht/-DHr,
verbalizers -lAş/-lAn), participles (-An/-yAn, -DHk/-DHğH+poss+case,
-AcAk/-AcAğH+poss+case), adjectivizers (-lH, -sHz, locative -ki), copula
person/tense endings on nominal predicates, and Adj-rooted zero-derivation
twins of the nominal paradigm (Turkish adjectives decline like nouns:
belgesel+ini).  All of these are table DATA consumed identically by this
repo's generator and the reference's (tests/test_reference_parity.py
injects this table into the reference's TurkishStemSuffixCandidateGenerator
and asserts candidate parity).

Usage: python scripts/gen_suffix_fixture.py OUT.txt.gz
"""
from __future__ import annotations

import argparse
import gzip

# Harmony classes: the high vowel (H) and low vowel (A) that a suffix takes
# depend on the preceding vowel.  The root's harmony is unknown at table-build
# time, so the first morpheme enumerates all four classes; subsequent
# morphemes follow the chain.
CLASSES = [("ı", "a"), ("i", "e"), ("u", "a"), ("ü", "e")]
_VOWELS = "aeıioöuü"


def nominal_paradigm():
    """(surface, tags) rows for the nominal inflection paradigm
    number x possessive x case, plus copular person/tense extensions on
    predicate-capable cases and the locative-relative ``-ki``."""
    rows = set()

    def add_case_row(surface, tags, case, state_high="i", state_ends_vowel=False):
        tags = tags + [case]
        if surface:
            rows.add((surface, "+".join(tags)))
            ends_vowel = surface[-1] in _VOWELS
            last_v = next((c for c in reversed(surface) if c in _VOWELS), None)
        else:
            # bare root (null nominal suffix): copula attaches directly
            # (şikayetçi+yiz, kapalı+ydı); harmony from the paradigm state
            ends_vowel = state_ends_vowel
            last_v = None
        # harmony for following morphemes tracks the last vowel
        high = {"a": "ı", "ı": "ı", "o": "u", "u": "u", "e": "i", "i": "i",
                "ö": "ü", "ü": "ü"}[last_v] if last_v else state_high
        low = "a" if high in "ıu" else "e"
        if case == "Loc":
            # evdeki / Ankara'daki / yanındaki -> relative adjective
            rows.add((surface + "ki", "+".join(tags + ["DB", "Adj", "Rel"])))
        if case in ("Nom", "Loc"):
            buf = "y" if ends_vowel else ""
            cop = {
                "Pres+A1sg": buf + high + "m" if not ends_vowel else "y" + high + "m",
                "Pres+A2sg": "s" + high + "n",
                "Pres+A1pl": (buf or "") + high + "z" if not ends_vowel else "y" + high + "z",
                "Pres+A2pl": "s" + high + "n" + high + "z",
                "Pres+Cop+A3sg": ("d" + high + "r") if ends_vowel else ("d" + high + "r"),
            }
            for ptag, s in cop.items():
                rows.add((surface + s, "+".join(tags + ["DB", "Verb", "Zero", ptag])))
            # past copula ydH / dH / tH (+ person_k); the t-variant is the
            # voicing assimilation after voiceless finals (soğuktu, gençti)
            pasts = [("y" if ends_vowel else "") + "d" + high]
            if not ends_vowel:
                pasts.append("t" + high)
                rows.add((surface + "t" + high + "r",
                          "+".join(tags + ["DB", "Verb", "Zero", "Pres+Cop+A3sg"])))
            for past in pasts:
                for ptag, ps in (("A1sg", "m"), ("A2sg", "n"), ("A3sg", ""),
                                 ("A1pl", "k"), ("A2pl", "n" + high + "z")):
                    rows.add((surface + past + ps,
                              "+".join(tags + ["DB", "Verb", "Zero", "Past", ptag])))

    def expand(state, surface, tags_so_far, stage):
        high, low, ends_vowel, after_p3 = state
        # stage: 0=start (may take PL), 1=may take POSS, 2=case
        if stage <= 0:
            s = "l" + low + "r"
            expand((high, low, False, False), surface + s, tags_so_far + ["A3pl"], 1)
            expand(state, surface, tags_so_far + ["A3sg"], 1)
        elif stage == 1:
            num = tags_so_far[-1]
            expand(state, surface, tags_so_far + ["Pnon"], 2)
            if num == "A3pl" and surface.endswith("r"):
                # lAr + H  -> P3pl/P3sg reading of "ları/leri"
                expand((high, low, True, True), surface + high,
                       tags_so_far[:-1] + ["A3sg", "P3pl"], 2)
                expand((high, low, True, True), surface + high,
                       tags_so_far + ["P3sg"], 2)
            poss = {
                "P1sg": "m" if ends_vowel else high + "m",
                "P2sg": "n" if ends_vowel else high + "n",
                "P3sg": ("s" + high) if ends_vowel else high,
                "P1pl": ("m" + high + "z") if ends_vowel else (high + "m" + high + "z"),
                "P2pl": ("n" + high + "z") if ends_vowel else (high + "n" + high + "z"),
            }
            for tag, s in poss.items():
                p3 = tag in ("P3sg",)
                expand((high, low, s[-1] in _VOWELS, p3), surface + s,
                       tags_so_far + [tag], 2)
        elif stage == 2:
            add_case_row(surface, list(tags_so_far), "Nom", high, ends_vowel)
            if after_p3:
                case = {
                    "Acc": ["n" + high],
                    "Dat": ["n" + low],
                    "Loc": ["nd" + low],
                    "Abl": ["nd" + low + "n"],
                    "Gen": ["n" + high + "n"],
                    "Ins": ["yl" + low],
                }
            elif ends_vowel:
                case = {
                    "Acc": ["y" + high],
                    "Dat": ["y" + low],
                    "Loc": ["d" + low],
                    "Abl": ["d" + low + "n"],
                    "Gen": ["n" + high + "n"],
                    "Ins": ["yl" + low],
                }
            else:
                case = {
                    "Acc": [high],
                    "Dat": [low],
                    "Loc": ["d" + low, "t" + low],
                    "Abl": ["d" + low + "n", "t" + low + "n"],
                    "Gen": [high + "n"],
                    "Ins": ["l" + low],
                }
            for tag, forms in case.items():
                for s in forms:
                    add_case_row(surface + s, list(tags_so_far), tag)

    for high, low in CLASSES:
        for ends_vowel in (True, False):
            expand((high, low, ends_vowel, False), "", ["Noun"], 0)

    # drop the empty-surface Nom-family rows (handled by the "null" entry)
    return {(s, t) for (s, t) in rows if s}


def _finite_bodies(high, low, ends_vowel):
    """(surface, tags) of finite tense+person bodies for one harmony state.
    Returned tags OMIT the leading 'Verb' (composed by callers)."""
    rows = set()
    person_z = {"A1sg": high + "m", "A2sg": "s" + high + "n", "A3sg": "",
                "A1pl": high + "z", "A2pl": "s" + high + "n" + high + "z",
                "A3pl": "l" + low + "r"}
    person_k = {"A1sg": "m", "A2sg": "n", "A3sg": "", "A1pl": "k",
                "A2pl": "n" + high + "z", "A3pl": "l" + low + "r"}

    tenses = []
    # Prog1: -Hyor after consonant, -yor after (narrowed) vowel
    prog = ("yor" if ends_vowel else high + "yor")
    tenses.append(("Prog1", prog, ("u", "a")))
    if not ends_vowel:
        tenses.append(("Prog1", "yor", ("u", "a")))  # narrowed-stem twin
    # Aorist: -r (vowel stems), -Ar / -Hr (consonant stems)
    if ends_vowel:
        tenses.append(("Aor", "r", (high, low)))
    else:
        tenses.append(("Aor", low + "r", (high, low)))
        tenses.append(("Aor", high + "r", (high, low)))
    # Future: -AcAk / -yAcAk
    fut = ("y" if ends_vowel else "") + low + "c" + low + "k"
    tenses.append(("Fut", fut, (high, low)))
    # Past: -DH
    for d in (("d",) if ends_vowel else ("d", "t")):
        tenses.append(("Past", d + high, (high, low)))
    # Evidential: -mHş
    tenses.append(("Narr", "m" + high + "ş", (high, low)))

    for tense, tsurf, (h2, l2) in tenses:
        pz = {"A1sg": h2 + "m", "A2sg": "s" + h2 + "n", "A3sg": "",
              "A1pl": h2 + "z", "A2pl": "s" + h2 + "n" + h2 + "z",
              "A3pl": "l" + l2 + "r"}
        persons = person_k if tense == "Past" else pz
        for ptag, psurf in persons.items():
            base = tsurf
            # Fut + vowel-initial person: k -> ğ (yapacağım)
            if tense == "Fut" and psurf[:1] and psurf[0] in _VOWELS:
                base = tsurf[:-1] + "ğ"
            rows.add((base + psurf, f"Pos+{tense}+{ptag}"))
        # tense + (y)DH + person_k  (Tense+Past+Person: -ıyordu, -ecekti,
        # -mişti).  Harmony comes from the tense suffix's own last vowel
        # (yor -> du, not *dı), and D devoices to t after a voiceless
        # final (ecek+ti, miş+ti) — both were wrong in the round-2 table
        # (generated *ıyordı / *ecekdi), which sent every -iyordu /
        # -ecekti / -mişti form to Unknown (blind-split miss category).
        last_tv = next((c for c in reversed(tsurf) if c in _VOWELS), h2)
        h3 = {"a": "ı", "ı": "ı", "e": "i", "i": "i",
              "o": "u", "u": "u", "ö": "ü", "ü": "ü"}[last_tv]
        l3 = "a" if h3 in "ıu" else "e"
        glue = "y" if tsurf[-1] in _VOWELS else ""
        dpast = ("t" if tsurf[-1] in "fstkçşhp" else "d") + h3
        person_k3 = {"A1sg": "m", "A2sg": "n", "A3sg": "", "A1pl": "k",
                     "A2pl": "n" + h3 + "z", "A3pl": "l" + l3 + "r"}
        for ptag, psurf in person_k3.items():
            rows.add((tsurf + glue + dpast + psurf,
                      f"Pos+{tense}+Past+{ptag}"))
        # compound evidential -(y)mHş (geliyormuş) and conditional -(y)sA
        # (gelecekse, geldiyse); evidential only on non-Narr non-Past
        # bases (the converse orders are -mişti / -diyse, covered above)
        if tense in ("Prog1", "Fut", "Aor"):
            for ptag, psurf in {"A1sg": h3 + "m", "A2sg": "s" + h3 + "n",
                                "A3sg": "", "A1pl": h3 + "z",
                                "A2pl": "s" + h3 + "n" + h3 + "z",
                                "A3pl": "l" + l3 + "r"}.items():
                rows.add((tsurf + glue + "m" + h3 + "ş" + psurf,
                          f"Pos+{tense}+Narr+{ptag}"))
        for ptag, psurf in person_k3.items():
            rows.add((tsurf + glue + "s" + l3 + psurf,
                      f"Pos+{tense}+Cond+{ptag}"))
        # compound past: tense + lAr + dH (A3pl+Past, e.g. -ıyorlardı);
        # the final vowel harmonizes with lAr, not with the tense vowel
        rows.add((tsurf + "l" + l3 + "rd" + ("ı" if l3 == "a" else "i"),
                  f"Pos+{tense}+A3pl+Past"))

    # negative: -mA + tense
    neg = "m" + low
    for ptag, psurf in person_z.items():
        rows.add((neg + "z" + psurf, f"Neg+Aor+{ptag}"))           # -mAz
        rows.add((neg + "d" + high + (person_k[ptag] if ptag in person_k else ""),
                  f"Neg+Past+{ptag}"))                              # -mAdH
        rows.add((neg + "y" + low + "c" + low +
                  ("ğ" if psurf[:1] and psurf[0] in _VOWELS else "k") + psurf,
                  f"Neg+Fut+{ptag}"))                               # -mAyAcAk
    for ptag, psurf in person_k.items():
        rows.add((neg + "d" + high + psurf, f"Neg+Past+{ptag}"))
    # -mHyor (negative progressive: gelmiyor)
    for ptag, psurf in {"A1sg": "um", "A2sg": "sun", "A3sg": "",
                        "A1pl": "uz", "A2pl": "sunuz", "A3pl": "lar"}.items():
        rows.add(("m" + high + "yor" + psurf, f"Neg+Prog1+{ptag}"))

    # infinitive / imperatives
    rows.add(("m" + low + "k", "Pos+Inf"))
    rows.add((high + "n", "Pos+Imp+A2pl"))
    rows.add((high + "n" + high + "z", "Pos+Imp+A2pl"))

    # abilitative ------------------------------------------------------
    # positive -(y)Abil + tense (gidebilir, yapabilirler): 'bil' is a
    # fixed i/e-class consonant-final stem
    abil = ("y" if ends_vowel else "") + low + "bil"
    pz_ie = {"A1sg": "im", "A2sg": "sin", "A3sg": "", "A1pl": "iz",
             "A2pl": "siniz", "A3pl": "ler"}
    pz_yor = {"A1sg": "um", "A2sg": "sun", "A3sg": "", "A1pl": "uz",
              "A2pl": "sunuz", "A3pl": "lar"}
    pk_ie = {"A1sg": "m", "A2sg": "n", "A3sg": "", "A1pl": "k",
             "A2pl": "niz", "A3pl": "ler"}
    for ptag, ps in pk_ie.items():
        rows.add((abil + "di" + ps, f"Able+Pos+Past+{ptag}"))
    for ptag, ps in pz_ie.items():
        rows.add((abil + "ir" + ps, f"Able+Pos+Aor+{ptag}"))
        rows.add((abil + "miş" + ps, f"Able+Pos+Narr+{ptag}"))
        fut = "eceğ" if ps and ps[0] in _VOWELS else "ecek"
        rows.add((abil + fut + ps, f"Able+Pos+Fut+{ptag}"))
    for ptag, ps in pz_yor.items():
        rows.add((abil + "iyor" + ps, f"Able+Pos+Prog1+{ptag}"))
    # negative -(y)AmA + tense (gidemedi, yapamadı, okuyamaz,
    # gelemeyecek, gidemiyor); harmony continues in the stem's A-class
    ama = ("y" if ends_vowel else "") + low + "m" + low
    h2 = "ı" if low == "a" else "i"
    pz2 = {"A1sg": h2 + "m", "A2sg": "s" + h2 + "n", "A3sg": "",
           "A1pl": h2 + "z", "A2pl": "s" + h2 + "n" + h2 + "z",
           "A3pl": "l" + low + "r"}
    pk2 = {"A1sg": "m", "A2sg": "n", "A3sg": "", "A1pl": "k",
           "A2pl": "n" + h2 + "z", "A3pl": "l" + low + "r"}
    for ptag, ps in pk2.items():
        rows.add((ama + "d" + h2 + ps, f"Able+Neg+Past+{ptag}"))
    for ptag, ps in pz2.items():
        rows.add((ama + "z" + ps, f"Able+Neg+Aor+{ptag}"))
        rows.add((ama + "m" + h2 + "ş" + ps, f"Able+Neg+Narr+{ptag}"))
        fut = "y" + low + "c" + low + ("ğ" if ps and ps[0] in _VOWELS else "k")
        rows.add((ama + fut + ps, f"Able+Neg+Fut+{ptag}"))
    for ptag, ps in pz_yor.items():
        rows.add((ama[:-1] + h2 + "yor" + ps, f"Able+Neg+Prog1+{ptag}"))
    rows.add((ama + "m", "Able+Neg+Aor+A1sg"))  # gidemem

    # converbs (adverbial subordination) -------------------------------
    yy = "y" if ends_vowel else ""
    rows.add((yy + high + "nc" + low, "Pos+When"))          # -(y)HncA
    rows.add((yy + high + "p", "Pos+AfterDoingSo"))         # -(y)Hp
    rows.add((yy + low + "r" + low + "k", "Pos+ByDoingSo"))  # -(y)ArAk
    rows.add(("m" + low + "d" + low + "n", "Neg+WithoutHavingDoneSo"))
    # -ken on aorist/progressive (çalışırken, koşarken, giderken)
    if ends_vowel:
        rows.add(("rken", "Pos+Aor+While"))
    else:
        rows.add((low + "rken", "Pos+Aor+While"))
        rows.add((high + "rken", "Pos+Aor+While"))
        rows.add((high + "yorken", "Pos+Prog1+While"))

    # participles ------------------------------------------------------
    # present participle -An / -yAn  -> adjective (bekleyen, gelen)
    pres = ("y" if ends_vowel else "") + low + "n"
    rows.add((pres, "Pos+DB+Adj+PresPart"))
    # past participle -DHk family: bare adj (anlattık okul is rare; the
    # possessed forms are what web text uses) + poss + case
    for d in (("d",) if ends_vowel else ("d", "t")):
        stemk = d + high + "k"
        stemg = d + high + "ğ"
        rows.add((stemk, "Pos+DB+Adj+PastPart"))
        # bare (unpossessed) case-marked -DHk nominals: yedikten (sonra),
        # anlattıkta — the -DHktAn sonra adverbial frame
        for ctag, cs in (("Abl", "t" + low + "n"), ("Loc", "t" + low)):
            rows.add((stemk + cs,
                      f"Pos+DB+Noun+PastPart+A3sg+Pnon+{ctag}"))
        for ptag, ps in (("P1sg", high + "m"), ("P2sg", high + "n"),
                         ("P3sg", high), ("P1pl", high + "m" + high + "z")):
            base = stemg + ps
            rows.add((base, f"Pos+DB+Noun+PastPart+A3sg+{ptag}+Nom"))
            after_p3 = ptag == "P3sg"
            n = "n" if after_p3 else ""
            ev = base[-1] in _VOWELS
            cases = {
                "Acc": (n if after_p3 else ("y" if ev else "")) + high,
                "Dat": (n if after_p3 else ("y" if ev else "")) + low,
                "Loc": n + "d" + low,
                "Abl": n + "d" + low + "n",
            }
            for ctag, cs in cases.items():
                rows.add((base + cs, f"Pos+DB+Noun+PastPart+A3sg+{ptag}+{ctag}"))
    # future participle -AcAk possessed forms (yapacağını)
    futk = ("y" if ends_vowel else "") + low + "c" + low + "k"
    futg = futk[:-1] + "ğ"
    rows.add((futk, "Pos+DB+Adj+FutPart"))
    for ptag, ps in (("P1sg", high + "m"), ("P2sg", high + "n"), ("P3sg", high)):
        base = futg + ps
        rows.add((base, f"Pos+DB+Noun+FutPart+A3sg+{ptag}+Nom"))
        after_p3 = ptag == "P3sg"
        n = "n" if after_p3 else ""
        cases = {
            "Acc": (n if after_p3 else "") + high,
            "Dat": (n if after_p3 else "") + low,
            "Loc": n + "d" + low,
            "Abl": n + "d" + low + "n",
        }
        for ctag, cs in cases.items():
            rows.add((base + cs, f"Pos+DB+Noun+FutPart+A3sg+{ptag}+{ctag}"))
    # verbal noun -mA + poss + case (okuma, okuması, okumasını, okumaya,
    # okumada, okumayla).  Harmony after the -mA vowel is ı/i — the
    # round-2 table used the class high vowel and emitted *durmasu.
    # No Abl row: -mAdAn is the WithoutHavingDoneSo converb.
    ma = "m" + low
    h2 = "ı" if low == "a" else "i"
    rows.add((ma, "Pos+DB+Noun+Inf2+A3sg+Pnon+Nom"))
    for ctag, cs in {"Acc": "y" + h2, "Dat": "y" + low, "Loc": "d" + low,
                     "Ins": "yl" + low, "Gen": "n" + h2 + "n"}.items():
        rows.add((ma + cs, f"Pos+DB+Noun+Inf2+A3sg+Pnon+{ctag}"))
    rows.add((ma + "s" + h2, "Pos+DB+Noun+Inf2+A3sg+P3sg+Nom"))
    for ctag, cs in {"Acc": "n" + h2, "Dat": "n" + low, "Loc": "nd" + low,
                     "Abl": "nd" + low + "n",
                     "Gen": "n" + h2 + "n"}.items():
        rows.add((ma + "s" + h2 + cs, f"Pos+DB+Noun+Inf2+A3sg+P3sg+{ctag}"))
    rows.add((ma + "k", "Pos+Inf"))
    # -Hş verbal noun (dönüş, gidiş)
    vn = ("ş" if ends_vowel else high + "ş")
    rows.add((vn, "Pos+DB+Noun+Inf3+A3sg+Pnon+Nom"))
    # -(y)HcH agent/quality adjective (etkileyici, yüzücü, kalıcı)
    agt = ("y" if ends_vowel else "") + high + "c" + high
    rows.add((agt, "Pos+DB+Adj+Agt"))
    return rows


def verbal_paradigm():
    """Finite + participial verb suffixes, composed with voice morphemes:
    plain, passive (-Hl / -n / -Hn), causative (-t / -Ht / -DHr), and the
    denominal verbalizers -lAş (become) / -lAn (acquire), including the
    stacked causatives (-lAştHr: zengin+leş+tir+ir)."""
    rows = set()
    for high, low in CLASSES:
        for ends_vowel in (True, False):
            bodies = _finite_bodies(high, low, ends_vowel)
            if not ends_vowel:
                continue  # plain bodies for consonant stems added below
            for s, t in bodies:
                rows.add((s, "Verb+" + t))
        # plain bodies, consonant-final stems
        for s, t in _finite_bodies(high, low, False):
            rows.add((s, "Verb+" + t))

        # voice prefixes; each leaves a consonant-final stem whose harmony
        # follows the prefix's own vowel (or the root's when vowel-free)
        cons_bodies = _finite_bodies(high, low, False)
        voices = [
            (high + "l", "Verb+DB+Verb+Pass"),       # katıl, yapıl
            ("n", "Verb+DB+Verb+Pass"),              # okun, denil? (den+il below)
            (high + "n", "Verb+DB+Verb+Pass"),       # alın, bilin
            ("t", "Verb+DB+Verb+Caus"),              # işlet, tanıt
            (high + "t", "Verb+DB+Verb+Caus"),       # akıt
            ("d" + high + "r", "Verb+DB+Verb+Caus"),  # yaptır (d-variant)
            ("t" + high + "r", "Verb+DB+Verb+Caus"),
            (high + "r", "Verb+DB+Verb+Caus"),        # uçur, duyur, içir
            ("l" + low + "ş", "@DENOM+DB+Verb+Become"),      # zenginleş
            ("l" + low + "n", "@DENOM+DB+Verb+Acquire"),     # evlen
            ("l" + low + "şt" + high + "r", "@DENOM+DB+Verb+Become+DB+Verb+Caus"),
            (high + "lt", "Verb+DB+Verb+Pass+DB+Verb+Caus" if False else "Verb+DB+Verb+Caus"),
            # stacked causative+passive (yürütüldü, yaptırıldı)
            ("t" + high + "l", "Verb+DB+Verb+Caus+DB+Verb+Pass"),
            ("d" + high + "r" + high + "l", "Verb+DB+Verb+Caus+DB+Verb+Pass"),
            ("t" + high + "r" + high + "l", "Verb+DB+Verb+Caus+DB+Verb+Pass"),
        ]
        for vsurf, vtags in voices:
            for s, t in cons_bodies:
                body = t
                if vtags.startswith("@DENOM"):
                    for src in ("Adj", "Noun"):
                        tags = vtags.replace("@DENOM", src) + "+" + body
                        rows.add((vsurf + s, tags))
                else:
                    rows.add((vsurf + s, vtags + "+" + body))
    return rows


def derivational_paradigm():
    """Denominal derivations: -lHk nominalization (titiz+likle), adverbial
    -cA (iyi+ce), adjectivizers -lH (güneşli) / -sHz (susuz), and the
    Adj-rooted zero-derivation twins of the nominal paradigm (Turkish
    adjectives decline like nouns: belgesel+ini, gençler+e)."""
    rows = set()
    for high, low in CLASSES:
        base_k = "l" + high + "k"
        base_g = "l" + high + "ğ"
        cases = {
            "Nom": [base_k],
            "Acc": [base_g + high],
            "Dat": [base_g + low],
            "Loc": [base_k + "t" + low, base_k + "d" + low],
            "Abl": [base_k + "t" + low + "n", base_k + "d" + low + "n"],
            "Gen": [base_g + high + "n"],
            "Ins": [base_k + "l" + low],
        }
        for case, forms in cases.items():
            for s in forms:
                for src in ("Adj", "Noun"):
                    rows.add((s, f"{src}+DB+Noun+Ness+A3sg+Pnon+{case}"))
        rows.add((base_g + high, "Adj+DB+Noun+Ness+A3sg+P3sg+Nom"))
        rows.add((base_g + high, "Noun+DB+Noun+Ness+A3sg+P3sg+Nom"))
        # -lH "with" adjectives (güneşli, şanslı) and -sHz "without"
        rows.add(("l" + high, "Noun+DB+Adj+With"))
        rows.add(("s" + high + "z", "Noun+DB+Adj+Without"))
        # copula on the derived adjective (önemlidir, önemliydi, sorunsuzdur)
        for dsurf, dtags in (("l" + high, "Noun+DB+Adj+With"),
                             ("s" + high + "z", "Noun+DB+Adj+Without")):
            ev = dsurf[-1] in _VOWELS
            rows.add((dsurf + "d" + high + "r",
                      dtags + "+DB+Verb+Zero+Pres+Cop+A3sg"))
            rows.add((dsurf + ("y" if ev else "") + "d" + high,
                      dtags + "+DB+Verb+Zero+Past+A3sg"))
        # stacked: -sHzlHk nominalization (sabırsızlıkla) and -sHzcA /
        # -lHcA adverbials (sessizce)
        sz = "s" + high + "z"
        for case, forms in cases.items():
            for f in forms:
                rows.add((sz + f, f"Noun+DB+Adj+Without+DB+Noun+Ness+A3sg+Pnon+{case}"))
        for c in ("c", "ç"):
            low2 = "a" if high in "ıu" else "e"
            rows.add((sz + c + low2, "Noun+DB+Adj+Without+DB+Adverb+Ly"))
            rows.add(("l" + high + c + low2, "Noun+DB+Adj+With+DB+Adverb+Ly"))
        # agent/occupation -CH (gözlükçü)
        for c in ("c", "ç"):
            rows.add((c + high, "Noun+DB+Noun+Agt+A3sg+Pnon+Nom"))
    for s in ("ca", "ce", "ça", "çe"):
        rows.add((s, "Adj+DB+Adverb+Ly"))
        rows.add((s, "Noun+DB+Adverb+Ly"))
    return rows


def adj_zero_nominal(nominal):
    """Adjective stems taking the full nominal paradigm via zero
    derivation: emit an Adj-rooted twin for every Noun-rooted nominal row
    (the real Suffixes&Tags.txt lists these as Adj readings)."""
    out = set()
    for s, t in nominal:
        if t.startswith("Noun+"):
            out.add((s, "Adj+DB+" + t))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out", help="output path (gzip text, one row per reading)")
    out = ap.parse_args().out
    rows = set()
    nominal = nominal_paradigm()
    rows |= nominal
    # apostrophe-marked proper-noun twins of the nominal paradigm
    # (consumed via the "'" logic at _yildiz_analyzer.py:339-350, 410-415)
    rows |= {("'" + s, t.replace("Noun+", "Noun+Prop+", 1)) for s, t in nominal}
    rows |= adj_zero_nominal(nominal)
    rows |= verbal_paradigm()
    rows |= derivational_paradigm()
    nulls = [
        "Noun+A3sg+Pnon+Nom",
        "Noun+Prop+A3sg+Pnon+Nom",
        "Noun+Time+A3sg+Pnon+Nom",
        "Adj",
        "Adverb",
        "Verb+Pos+Imp+A2sg",
        "Punc",
        "Num+Card",
        "Det",
        "Conj",
        "Postp+PCNom",
        "Pron+A3sg+Pnon+Nom",
        "Interj",
        "Ques+Pres+A3sg",
        "Dup",
    ]
    rows |= {("null", t) for t in nulls}
    rows |= {("'", "Noun+Prop+A3sg+Pnon+Nom")}

    with gzip.open(out, "wt", encoding="utf-8", compresslevel=9) as f:
        for s, t in sorted(rows):
            f.write(f"{s}\t{t}\n")
    print(f"wrote {out}: {len(rows)} rows")


if __name__ == "__main__":
    main()
