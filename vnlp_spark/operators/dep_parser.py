"""Dependency parsing -> (idx, token, head, deprel) quadruples.

Reference surface: ``DependencyParser.predict(sentence)`` returns 1-based
(index, token, head, deprel) with head 0 = root and UD deprels
(vnlp/dependency_parser/dependency_parser.py:32-81, decode at
dependency_parser/utils.py:51-64); sentences longer than 40 tokens are
refused (spu_context_dp.py:159-162).

The reference's GRU weights are S3-hosted and unavailable offline, so this
is a deterministic attachment parser with the same output contract (swap
point: any ``(tokens, analyses) -> arcs`` callable).  ``py_parse_tokens``
builds one ``pos.ParseState`` per sentence and runs ``pos.UPOS_RULES``
then ``PARSE_RULES`` over it: an ordered tuple of module-level
``rule(state) -> None`` passes that each read the state's per-token
features and rewrite its UPOS, effective case/possession, heads and rels.
Round-3 redesign, tuned on the gold_ud tuning split (held-out split
frozen first — plans/gold_blind/heldout.conllu):

- clause segmentation: every argument attaches to the next finite
  predicate at or after it (Turkish is head-final); predicates are finite
  verbs, or the copular root of a verbless sentence
- root: the last finite verb; CCONJ-coordinated verb pairs root the FIRST
  conjunct (UD), comma-separated clauses keep the reference's
  last-verb-root + leftward parataxis convention (the reference's own DP
  test sentence is annotated that way)
- capitalized-nominal runs are segmented into mentions (possessed head ->
  nmod chain, given-name breaks, apostrophe-case-marked breaks, flat
  names) and the run HEAD takes the clause role
- one nsubj per clause: possessive compounds (bare nominal before a
  possessed nominal -> nmod) and temporal nouns (-> obl) are peeled off
  first; the first remaining unmarked nominal is the subject, with a
  bare-object / indefinite-subject tiebreak for the directly-preverbal
  slot (det/adj-modified, plural, possessed, proper, pronominal or
  passive-verb -> nsubj; bare mid-clause singular -> obj)
- case-driven obliques (Dat/Loc/Abl/Ins -> obl, Acc -> obj, Gen -> nmod,
  Gen before a participle -> its nsubj), degree adverbs to the next
  ADJ/ADV, participles as acl / ccomp / csubj rather than predicates

The 40-token refusal is reproduced as ``arcs = null`` (callers route long
sentences to chunking upstream and the lineage layer counts refusals).

Spark mapping: Arrow UDF per sentence returning
array<struct<idx:int, token:string, head:int, deprel:string>>.
"""
from __future__ import annotations

from typing import List, Optional, Tuple

from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..functions._udf import arrow_map
from .morphology import SPATIAL_ROOTS as _SPATIAL_ROOTS
from .morphology import TITLE_ROLES as _TITLES
from .morphology import (
    _CAP_RE,
    _CONVERB_TAGS,
    _DEGREE_ADVS,
    _GRAMMAT_ADPS,
    _INTRANSITIVE_ROOTS,
    _LOAN_I_ACC_ADJS,
    _MATERIAL_NOUNS,
    _PL_IZAFET_HEADS,
    _SUBORD_TAGS,
    _TEMPORAL_ADVS,
    _TEMPORAL_ROOTS,
    _TRANSITIVE_ROOTS,
    _base,
    _typed_gazetteer,
    py_analyze_tokens,
    to_lower,
)
from .pos import _CORE_ADJS, UPOS_RULES, ParseState, _readings

MAX_TOKENS = 40  # reference hard cap (spu_context_dp.py:159-162)

_NOMINAL = {"NOUN", "PROPN", "PRON", "NUM"}

# lexical classes (token-level, Turkish-lowered) --------------------------

# 1st/2nd-person pronouns that subject person-marked predicates
_PRON_12 = {
    "ben", "sen", "biz", "siz", "bizler", "sizler",
    "hepimiz", "hepiniz", "ikimiz", "ikiniz", "üçümüz", "üçünüz",
}

# multiword idioms: second token attaches `fixed` to the first
_FIXED_BIGRAMS = {("canla", "başla"), ("aşağı", "yukarı"), ("er", "geç")}

# correlative coordinators: a doubled particle marks each conjunct
# (hem X hem Y, ne X ne Y, ya X ya Y, gerek X gerek Y)
_CORRELATIVE_CCS = ("hem", "ne", "ya", "gerek", "ister")
# deictic/temporal determiners that complete a time noun into a
# clause-level adjunct (GEÇEN ay, BU yıl, HER hafta): the time noun then
# never izafet-modifies a following possessed nominal
_TIME_DETS = {
    "geçen", "bu", "şu", "o", "her", "önümüzdeki", "gelecek", "son",
    "ilk", "aynı",
}

# nominal halves of gel-support constructions (GALİP geldi, denk
# geldi): compound, never the subject/oblique of motion gel-
_GEL_SUPPORT_NOMINALS = {"galip", "mağlup", "denk", "rast", "üstün"}

# verbs with a conventionalized INTRANSITIVE weather/celestial sense
# next to a weather-noun subject (güneş AÇINCA, hava AÇTI, gün DOĞDU),
# even though the same root is transitive elsewhere (kapıyı açtı)
_WEATHER_INTRANS_VERBS = {"aç", "kapa", "boz", "tut"}
_WEATHER_NOUNS = {"hava", "güneş", "gök", "gökyüzü", "gün", "ay",
                  "yıldız", "sis", "kar", "yağmur", "fırtına", "ayaz"}

# light-verb nominals whose et-complex is INTRANSITIVE (istifa etti,
# şikayet etti take no Acc object; their complements are Dat/Abl
# obliques).  Used to stop the bare-nominal-before-et "obligately
# transitive" signal from forcing the Acc reading on a preceding
# Acc/P3sg homograph (yönetim kurulu ÜYELERİ istifa etti -> subject).
_INTRANS_LIGHT_NOMINALS = {
    "istifa", "itiraz", "isyan", "iflas", "intihar", "devam", "dikkat",
    "hitap", "ısrar", "müdahale", "şikayet", "teşekkür", "yardım",
    "itaat", "riayet", "sohbet", "dans", "seyahat", "göç", "acele",
}

# volitional/phasal matrix verbs whose bare-infinitive dependent is a
# clausal COMPLEMENT (çalışmak istiyor -> ccomp); under any other
# predicate a bare infinitive is an impersonal subject (çalışmak
# gerekiyor -> csubj)
_INF_CCOMP_ROOTS = {
    "iste", "dene", "planla", "amaçla", "hedefle", "düşün", "sev",
    "um", "öner", "reddet", "başar", "bil", "tercih",
}
_TRANSPARENT = {"ADV", "ADJ", "DET", "PUNCT", "ADP", "NUM"}


def _segment_runs(s) -> List[List[int]]:
    """Maximal runs of adjacent capitalized nominals, segmented into
    mention groups: [ [i, j, ...], ... ] (singletons omitted)."""
    tokens, upos, base_case, base_poss = s.tokens, s.upos, s.base_case, s.base_poss
    per, typed = _typed_gazetteer()
    runs = []
    i, n = 0, len(tokens)
    while i < n:
        if upos[i] in ("PROPN", "NOUN", "NUM") and _CAP_RE.match(tokens[i]):
            j = i
            while (
                j + 1 < n
                and upos[j + 1] in ("PROPN", "NOUN")
                and _CAP_RE.match(tokens[j + 1])
            ):
                j += 1
            if j > i:
                runs.append(list(range(i, j + 1)))
            i = j + 1
        else:
            i += 1

    def split_run(run):
        groups, cur = [], [run[0]]
        for k in run[1:]:
            prev = cur[-1]
            brk = False
            # a given name starts its own mention unless the next token is
            # its bare surname (2-token flat name, nothing entityish)
            if _base(tokens[prev]) in per and len(cur) == 1:
                nxt_entityish = (
                    base_poss[k]
                    or _base(tokens[k]) in typed
                    or ("'" in tokens[k] and base_case[k] not in ("Nom", ""))
                    or (k + 1 < len(tokens) and upos[k + 1] in ("PROPN", "NOUN")
                        and _CAP_RE.match(tokens[k + 1]))
                )
                brk = nxt_entityish
            # two adjacent gazetteer entities where the second carries its
            # own apostrophe case are separate mentions (Galatasaray
            # Fenerbahçe'yi); possessed continuations stay one mention
            # (İstanbul Boğazı'nda)
            elif ("'" in tokens[k] and not base_poss[k]
                  and base_case[k] not in ("Nom", "")):
                brk = True
            if brk:
                groups.append(cur)
                cur = [k]
            else:
                cur.append(k)
        groups.append(cur)
        return [g for g in groups if len(g) > 1]

    out = []
    for run in runs:
        out.extend(split_run(run))
    return out


def _intrans(s, x: int) -> bool:
    tagsets, roots = s.tagsets, s.roots
    # curated unaccusative inventory + the -lAş 'Become' derivation,
    # which is uniformly intransitive (yaygınlaştı, sertleşti,
    # güzelleşti) — unless re-causativized (-lAştIr)
    return ((roots[x] in _INTRANSITIVE_ROOTS
             or "Become" in tagsets[x])
            and "Caus" not in tagsets[x])

# --- lexicalized -mA nominalizations in argument slots ---------------
# An Inf2 verbal noun carrying an argument case with no left argument
# of its own is a plain nominal (Konuşmayı ... dinleyeceğim -> obj);
# with an immediately-preceding case-marked dependent it stays a
# clausal complement (kitabı okumayı sevmek -> ccomp)
def _lexicalized_inf2(s):
    tokens, n, lows, tagsets, base_case = s.tokens, s.n, s.lows, s.tagsets, s.base_case
    upos = s.upos
    for i in range(n):
        if (
            upos[i] == "VERB"
            and "Inf2" in tagsets[i]
            and base_case[i] in ("Acc", "Dat", "Loc", "Abl")
        ):
            # the emphatic particle is transparent for the argument frame
            # (hizmetleri DE sunmaya başladı)
            pi = i - 1
            while pi > 0 and lows[pi] in ("de", "da"):
                pi -= 1
            prev_arg = (
                pi >= 0
                and upos[pi] in _NOMINAL
                and (
                    base_case[pi] in ("Acc", "Dat", "Loc", "Abl", "Ins", "Gen")
                    # an Acc / P3sg+Nom homograph to the left counts: its
                    # surface case is resolved only AFTER this gate, and
                    # the Inf2 clause is exactly what licenses its Acc
                    # reading (parktaki ağaçları BUDAMAYA başladı)
                    or "acc" in _readings(tokens[pi])
                    # an INCORPORATED bare-Nom object counts too, when a
                    # subject candidate stands further left (Firma ... ek
                    # PRİM ödemeyi planlıyor — "prim" has no other
                    # licenser); clause-initial bare nominals are the
                    # matrix subject instead (Konuşmayı dinleyeceğim)
                    or (
                        base_case[pi] in ("Nom", "")
                        and "Pnon" in tagsets[pi]
                        and upos[pi] == "NOUN"
                        and any(
                            upos[j] in _NOMINAL
                            and base_case[j] in ("Nom", "")
                            for j in range(0, pi)
                        )
                    )
                )
            )
            if not prev_arg:
                upos[i] = "NOUN"

# --- predicates and root -------------------------------------------
def _clause_predicates(s):
    n, tagsets, roots, upos = s.n, s.tagsets, s.roots, s.upos
    subord = [bool(tagsets[i] & _SUBORD_TAGS) for i in range(n)]
    converb = [bool(tagsets[i] & _CONVERB_TAGS) for i in range(n)]
    # -sA conditionals are protasis clauses, never the matrix predicate
    # when a finite apodosis follows (Yağmur yağarsa maç ERTELENECEK);
    # a sentence whose only verb is conditional keeps it as root
    cond = [
        upos[i] == "VERB" and "Cond" in tagsets[i]
        and not subord[i] and not converb[i]
        for i in range(n)
    ]
    # V+Aor V+Neg+Aor same-stem adjacent pair is the 'as soon as'
    # aspectual reduplication converb (gelir gelmez, olur olmaz):
    # neither is a finite predicate; the pair heads on its FIRST element
    # (the yavaş-yavaş direction), second element compound
    redup_converb = None
    for _i in range(n - 1):
        if (
            upos[_i] == "VERB" and upos[_i + 1] == "VERB"
            and "Aor" in tagsets[_i] and "Pos" in tagsets[_i]
            and "Aor" in tagsets[_i + 1] and "Neg" in tagsets[_i + 1]
            and not (tagsets[_i] | tagsets[_i + 1]) & _SUBORD_TAGS
            and roots[_i] == roots[_i + 1]
            and any(upos[_k] == "VERB" for _k in range(_i + 2, n))
        ):
            converb[_i] = True
            converb[_i + 1] = True
            redup_converb = (_i, _i + 1)
            break
    finite = [
        i for i in range(n)
        if upos[i] == "VERB" and not subord[i] and not converb[i]
        and not cond[i]
    ]
    if not finite and any(cond):
        finite = [i for i in range(n) if cond[i]]
        cond = [False] * n
    copular = not finite
    cop_conj = None
    narr_acl0 = False
    narr_acl_mid: list = []
    cop_aux = None
    s.subord, s.converb, s.cond = subord, converb, cond
    s.redup_converb, s.finite, s.copular = redup_converb, finite, copular
    s.cop_conj, s.narr_acl0, s.cop_aux = cop_conj, narr_acl0, cop_aux
    s.narr_acl_mid = narr_acl_mid

def _choose_root(s):
    n, lows, tagsets, roots, base_case = s.n, s.lows, s.tagsets, s.roots, s.base_case
    base_poss, upos, converb, cond = s.base_poss, s.upos, s.converb, s.cond
    redup_converb, finite, narr_acl0 = s.redup_converb, s.finite, s.narr_acl0
    narr_acl_mid, cop_aux, cop_conj = s.narr_acl_mid, s.cop_aux, s.cop_conj
    non_punct = [i for i in range(n) if upos[i] != "PUNCT"]
    if finite:
        # UD roots the FIRST main-clause predicate: later finite verbs
        # attach to it as conj (CCONJ coordination) or parataxis (comma
        # clause chains).  (UD 2.9 Turkish treebanks and the frozen gold
        # split both use this direction; the reference's docstring example
        # output for its own test sentence roots the LAST verb instead —
        # a documented deviation, triple extraction is identical because
        # both root and parataxis count as predicates.)
        root = finite[0]
        preds = list(finite)
        # a sentence-initial evidential or future verb directly before a
        # bare-Nom noun, with ANOTHER finite predicate later, is the -mIş
        # / -AcAk participle heading a relative, not a clause of its own
        # (KURUMUŞ dallar toplandı; YAPILACAK yatırımlar açıklanacak)
        if (
            len(preds) >= 2 and preds[0] == 0
            and upos[0] == "VERB"
            and tagsets[0] & {"Narr", "Fut"} and "A3sg" in tagsets[0]
            and not tagsets[0] & {"Past", "Cond", "Neg"}
            and upos[1] in ("NOUN", "PROPN")
            and base_case[1] in ("Nom", "")
        ):
            narr_acl0 = True
            preds = preds[1:]
            root = preds[0]
        # the same participle reading MID-sentence, for PASSIVE Narr/Fut
        # verbs directly before a Nom/Acc nominal with another finite
        # predicate later (Aktarlar KURUTULMUŞ bitkileri ... saklıyor):
        # the productive prenominal class is the passive participle
        for q in list(preds):
            if (
                q > 0 and q != preds[-1]
                and any(f > q for f in preds)
                and upos[q] == "VERB"
                and ("Pass" in tagsets[q]
                     # ... or an UNACCUSATIVE root: its Narr participle
                     # is the productive prenominal resultative (erimiş
                     # MADENİ kalıba döktü, kurumuş dalları topladı) —
                     # weather verbs stay out (Kar YAĞMIŞ sokaklar...)
                     # and the matrix must be transitive, so a genuine
                     # evidential chain keeps its own clause
                     or (roots[q] in _INTRANSITIVE_ROOTS
                         and roots[q] not in ("yağ", "es")
                         and any(f > q and roots[f] in
                                 _TRANSITIVE_ROOTS for f in preds)))
                and tagsets[q] & {"Narr", "Fut"} and "A3sg" in tagsets[q]
                and not tagsets[q] & {"Past", "Cond", "Neg"}
                and q + 1 < n
                and ((upos[q + 1] in ("NOUN", "PROPN")
                      and base_case[q + 1] in ("Nom", "", "Acc"))
                     # the participle can stack before an adjective-
                     # modified head (erimiş MADENİ kalıba — the loan-î
                     # adjective re-reads as the object downstream)
                     or (upos[q + 1] == "ADJ" and q + 2 < n
                         and upos[q + 2] in ("NOUN", "PROPN")))
            ):
                preds.remove(q)
                if q in finite:
                    # an adnominal participle is no clause boundary
                    finite.remove(q)
                narr_acl_mid.append(q)
                if root == q:
                    root = preds[0]
        # -HncA converbs host their own subject: treat them as clause
        # predicates for argument attachment (Yağmur yağınca maç
        # ertelendi -> Yağmur is yağınca's nsubj); other converbs share
        # the matrix subject and stay out of preds
        when_preds = [i for i in range(n) if converb[i]
                      and tagsets[i] & {"When", "AsLongAs"}]
        # -DIğIndA 'when'-clauses host their own subject the same way
        # (Dağcılar zirveye ULAŞTIKLARINDA yağmur başlamıştı)
        when_preds += [
            i for i in range(n)
            if upos[i] == "VERB" and "PastPart" in tagsets[i]
            and base_case[i] == "Loc"
            and not (i + 1 < n
                     and lows[i + 1] in ("sonra", "önce"))
        ]
        # conditional protasis clauses likewise host their own subject
        # (Yağmur yağarsa -> Yağmur is yağarsa's nsubj)
        when_preds += [i for i in range(n) if cond[i]]
        # the aspectual reduplication converb hosts its own subject ONLY
        # when another bare-Nom subject candidate follows the pair for
        # the matrix (Müzakereler biter bitmez ANLAŞMA imzalandı);
        # otherwise the subject is shared and stays with the matrix
        # (MÜDÜR ofise gelir gelmez toplantıyı başlattı)
        if redup_converb is not None:
            rc0, rc1 = redup_converb
            nf = next((f for f in finite if f > rc1), None)
            if nf is not None and any(
                upos[j] in ("NOUN", "PROPN", "PRON")
                and base_case[j] in ("Nom", "")
                and not base_poss[j]
                for j in range(rc1 + 1, nf)
            ):
                when_preds.append(rc0)
        if when_preds:
            preds = sorted(set(preds) | set(when_preds))
    else:
        root = non_punct[-1] if non_punct else n - 1
        # walk back over trailing "CCONJ X" conjunct groups (güzel ve
        # güneşli -> root güzel)
        while True:
            k = root - 1
            while k >= 0 and upos[k] == "PUNCT":
                k -= 1
            if k > 0 and upos[k] == "CCONJ":
                # the FIRST particle of a correlative pair fronts its own
                # conjunct (uygulama HEM hızlı hem güvenli): the walk
                # stops there — the token before it is the subject, not
                # an earlier conjunct
                if (lows[k] in _CORRELATIVE_CCS
                        and not any(lows[j] == lows[k]
                                    for j in range(k))):
                    break
                nk = k - 1
                while nk >= 0 and upos[nk] == "PUNCT":
                    nk -= 1
                if nk >= 0:
                    root = nk
                    continue
            break
        # a negative-copula particle never roots: the nominal predicate
        # before it does (kolay bir karar DEĞİL -> karar root, değil cop)
        if upos[root] == "AUX" and root > 0:
            k = root - 1
            while k >= 0 and upos[k] == "PUNCT":
                k -= 1
            if k >= 0:
                cop_aux = root
                root = k
        preds = [root]
        # zero-copula CLAUSE coordination (Hava güzel ANCAK deniz
        # soğuk): a mid-sentence CCONJ whose RIGHT segment carries its
        # own bare-Nom subject coordinates two verbless clauses — the
        # FIRST clause's predicate roots, the final predicate is conj.
        # Predicate coordination over ONE subject (Hava güzel ve
        # güneşli) has no second subject and keeps the walk-back root.
        if cop_aux is None:
            for c in range(2, root):
                if (upos[c] == "CCONJ"
                        and upos[c - 1] in ("ADJ", "NOUN")
                        and base_case[c - 1] in ("Nom", "")
                        and not base_poss[c - 1]
                        and any(upos[j] in ("NOUN", "PROPN", "PRON")
                                and base_case[j] in ("Nom", "")
                                for j in range(c - 1))
                        and any(upos[m] in ("NOUN", "PROPN", "PRON")
                                and base_case[m] in ("Nom", "")
                                for m in range(c + 1, root))):
                    cop_conj = root
                    root = c - 1
                    preds = [root, cop_conj]
                    break
    s.root, s.preds = root, preds
    s.cop_conj, s.narr_acl0, s.cop_aux = cop_conj, narr_acl0, cop_aux

def _clause_arcs(s):
    heads, rels, narr_acl0, narr_acl_mid = s.heads, s.rels, s.narr_acl0, s.narr_acl_mid
    cop_aux, cop_conj, root = s.cop_aux, s.cop_conj, s.root
    if narr_acl0:
        heads[0], rels[0] = 2, "acl"
    for q in narr_acl_mid:
        heads[q], rels[q] = q + 2, "acl"
    if cop_aux is not None:
        heads[cop_aux], rels[cop_aux] = root + 1, "cop"
    if cop_conj is not None:
        heads[cop_conj], rels[cop_conj] = root + 1, "conj"

# --- lexicalized fixed expressions ----------------------------------
def _fixed_expressions(s):
    n, lows, heads, rels = s.n, s.lows, s.heads, s.rels
    for i in range(1, n):
        if (lows[i - 1], lows[i]) in _FIXED_BIGRAMS:
            heads[i], rels[i] = i, "fixed"

# --- correlative coordination (hem..hem, ne..ne, ya..ya, gerek..) ----
# each correlative CCONJ is cc on its OWN conjunct; the 2nd..kth
# conjuncts chain conj to the FIRST, which keeps its clause role
# (Şirket hem ÜRETİMİ hem ihracatı artırdı -> üretimi obj,
# ihracatı conj->üretimi).  The first conjunct must NOT take the
# generic nominal conj-back rule (it has no left conjunct).
def _correlatives(s):
    n, lows, tagsets, base_case = s.n, s.lows, s.tagsets, s.base_case
    base_poss, upos, heads, rels = s.base_poss, s.upos, s.heads, s.rels
    corr_first = set()
    corr_cc_idx = set()
    _corr_groups = {}
    for i in range(n):
        if upos[i] == "CCONJ" and lows[i] in _CORRELATIVE_CCS:
            _corr_groups.setdefault(lows[i], []).append(i)
    for _w, _idxs in _corr_groups.items():
        if len(_idxs) < 2:
            continue
        # clausal correlative: a finite verb stands between the first two
        # particles, so the conjuncts are the clause PREDICATES, not the
        # nominals each particle fronts (hem üretimi ARTIRDI hem
        # maliyetleri DÜŞÜRDÜ); the particles take cc on their own
        # clause's verb and the verbs coordinate through the ordinary
        # clause machinery.  Phrasal correlatives (hem üretimi hem
        # ihracatı artırdı) have no verb before the second particle.
        _clausal = any(
            upos[j] == "VERB"
            and not (tagsets[j] & (_SUBORD_TAGS | _CONVERB_TAGS))
            for j in range(_idxs[0] + 1, _idxs[1])
        )
        _conjs = []
        for k in _idxs:
            if _clausal:
                c = next(
                    (j for j in range(k + 1, n)
                     if upos[j] == "VERB"
                     and not (tagsets[j] & (_SUBORD_TAGS | _CONVERB_TAGS))),
                    None,
                )
            else:
                c = next(
                    (j for j in range(k + 1, n)
                     if upos[j] in _NOMINAL or upos[j] == "VERB"
                     or (upos[j] == "ADJ"
                         and not (j + 1 < n and upos[j + 1] in _NOMINAL))),
                    None,
                )
                # the particle fronts a whole NP: a bare-Nom modifier
                # feeding a possessed izafet head makes the HEAD the
                # conjunct (hem personel SAYISINI hem yatak
                # KAPASİTESİNİ artırdı)
                if (c is not None and upos[c] == "NOUN"
                        and base_case[c] in ("Nom", "")
                        and not base_poss[c]
                        and c + 1 < n and upos[c + 1] == "NOUN"
                        and base_poss[c + 1]):
                    c += 1
            _conjs.append(c)
        if any(c is None for c in _conjs) or len(set(_conjs)) < 2:
            continue
        c1 = _conjs[0]
        corr_first.add(c1)
        corr_cc_idx.update(_idxs)
        if heads[_idxs[0]] == -1:
            heads[_idxs[0]], rels[_idxs[0]] = c1 + 1, "cc"
        for k, c in zip(_idxs[1:], _conjs[1:]):
            if heads[k] == -1:
                heads[k], rels[k] = c + 1, "cc"
            if c != c1 and heads[c] == -1 and upos[c] != "VERB":
                heads[c], rels[c] = c1 + 1, "conj"
    s.corr_first, s.corr_cc_idx = corr_first, corr_cc_idx

# --- verbless nominal-predicate clause before a comma ----------------
# "Benim adım Melikşah, ..." : a pre-first-predicate comma segment with
# >=2 nominals, no verb, whose LAST nominal is bare-Nom and follows a
# possessed nominal (or one opened by a Gen), is its own copular clause:
# the last nominal is a parataxis predicate, not an argument downstream
def _verbless_comma_clause(s):
    tokens, n, tagsets, base_case = s.tokens, s.n, s.tagsets, s.base_case
    base_poss, upos, heads, rels, root = s.base_poss, s.upos, s.heads, s.rels, s.root
    preds = s.preds
    first_pred = min(preds) if preds else n
    seg_start = 0
    for c in range(min(first_pred, n)):
        if tokens[c] != ",":
            continue
        seg = [k for k in range(seg_start, c) if upos[k] in _NOMINAL]
        if (
            len(seg) >= 2
            and not any(upos[k] == "VERB" for k in range(seg_start, c))
        ):
            x, y = seg[-1], seg[-2]
            x_bare = base_case[x] in ("Nom", "") and not base_poss[x]
            y_possish = base_poss[y] or any(
                base_case[k] == "Gen" for k in seg[:-1]
            )
            # a zero-copula token is itself the clause's predicate
            # (29 yaşındayım); otherwise require the bare-predicate-after-
            # possessed-subject shape (Benim adım Melikşah)
            x_pred = "Zero" in tagsets[x] or (x_bare and y_possish)
            if x_pred:
                if x < root:
                    # the nominal clause PRECEDES the first finite
                    # predicate: under the first-clause-root convention it
                    # is the UD root, later clauses attach as parataxis
                    heads[x], rels[x] = 0, "root"
                    root = x
                else:
                    heads[x], rels[x] = root + 1, "parataxis"
                preds = sorted(preds + [x])
        seg_start = c + 1
    s.root, s.preds = root, preds

# --- post-matrix CCONJ + zero-copula clause --------------------------
# a coordinating conjunction AFTER the matrix predicate that opens a
# verbless segment ending in a zero-copula token coordinates CLAUSES:
# that token is the second conjunct's predicate (Maç ertelendi ÇÜNKÜ
# saha BOZUKTU)
def _post_matrix_clause(s):
    n, tagsets, upos, heads, rels = s.n, s.tagsets, s.upos, s.heads, s.rels
    root, preds = s.root, s.preds
    for c in range(n):
        if upos[c] != "CCONJ" or c <= root:
            continue
        z = next(
            (k for k in range(c + 1, n)
             if "Zero" in tagsets[k] and upos[k] in ("ADJ", "NOUN")
             and heads[k] == -1),
            None,
        )
        if z is not None and not any(
            upos[k] == "VERB" for k in range(c + 1, z)
        ):
            heads[z], rels[z] = root + 1, "conj"
            preds = sorted(set(preds) | {z})
    s.preds = preds

def _next_pred(s, i: int) -> int:
    root, preds = s.root, s.preds
    for p in preds:
        if p >= i and p != i:
            return p
    return root

def _next_verbish(s, i: int) -> Optional[int]:
    n, tagsets, roots, upos, eff_case = s.n, s.tagsets, s.roots, s.upos, s.eff_case
    rels = s.rels
    # nearest following verb INCLUDING subordinate participles/verbal
    # nouns and participial adjectives: objects and obliques attach
    # locally (Kitapları okumak, Yarışı kazanan sporcu), subjects
    # attach to the finite predicate (Başbakan ... söyledi)
    for j in range(i + 1, n):
        if upos[j] == "VERB":
            # a PASSIVE verb already attached as a prenominal acl
            # (KURUTULMUŞ bitkileri) has no OBJECT slot: a Nom/Acc
            # nominal belongs to the matrix — but its OBLIQUE frame
            # is real (kazıda BULUNAN sikkeleri), so case-marked
            # nominals attach locally
            if (rels[j] == "acl"
                    and ("Pass" in tagsets[j]
                         # unaccusative resultative participles
                         # (erimiş MADENİ) have no object slot
                         # either: same skip for Nom/Acc nominals
                         or roots[j] in _INTRANSITIVE_ROOTS)
                    and eff_case[i] in ("Nom", "", "Acc")):
                continue
            return j
        if upos[j] == "ADJ" and tagsets[j] & {"PresPart"}:
            return j
    return None

def _next_nominal(s, i: int, stop: Optional[int] = None) -> Optional[int]:
    n, upos = s.n, s.upos
    for j in range(i + 1, n if stop is None else stop):
        if upos[j] in _NOMINAL:
            return j
    return None

# --- Acc / P3sg+Nom homography (gündemi, maçı, kaptanı) -------------
# signals, in priority order: a passive verb takes the subject
# (possessed-Nom) reading; a singular bare-nominal compound modifier
# to the left plus an intransitive verb (or an object already present)
# takes the compound-head reading; verb-adjacency modulo transparent /
# oblique material takes the object reading
#
# zincirleme izafet: a whole-word-Adj homograph with a live P3sg+Nom
# segmentation, standing between a bare compound modifier and another
# possessed-readable nominal, is the possessed-Noun link of the chain
# (yönetim KURULU üyeleri = kurul+P3sg, not kurulu 'assembled')
def _reread_chain_link(s):
    tokens, analyses, n, lows, upos = s.tokens, s.analyses, s.n, s.lows, s.upos
    eff_case, eff_poss = s.eff_case, s.eff_poss
    for i in range(1, n - 1):
        if (
            # adjust_upos may have already rewritten the surface tag to
            # NOUN (its mirror of this rule); the chosen ANALYSIS is the
            # signal either way
            upos[i] in ("ADJ", "NOUN")
            and analyses[i].count("+") == 1
            and analyses[i].endswith("+Adj")
            and "p3nom" in _readings(tokens[i])
            and lows[i] not in _CORE_ADJS
            # the asker/resim/din loan-î trio reads attributive before a
            # nominal (resmi RAKAMLARI açıkladı) — adjust_upos's mirror
            # carries the same exclusion
            and lows[i] not in ("askeri", "resmi", "dini",
                                            "madeni")
            and upos[i - 1] == "NOUN"
            and eff_case[i - 1] in ("Nom", "")
            and not eff_poss[i - 1]
            and upos[i + 1] in _NOMINAL
            and "p3nom" in _readings(tokens[i + 1])
        ):
            upos[i] = "NOUN"
            eff_case[i], eff_poss[i] = "Nom", True

# a loan-î whole-word adjective standing before a case-marked
# OBLIQUE nominal, with a transitive finite verb left otherwise
# objectless, hides the accusative object (erimiş MADENİ kalıba
# döktü = maden+Acc poured into the mold, never 'metallic mold'):
# the adjective reading would strand the verb without an object
# while an overt subject stands left
def _reread_loan_i_object(s):
    analyses, n, lows, tagsets, roots = s.analyses, s.n, s.lows, s.tagsets, s.roots
    upos, eff_case, eff_poss, subord = s.upos, s.eff_case, s.eff_poss, s.subord
    converb, preds = s.converb, s.preds
    for i in range(1, n - 1):
        if (
            upos[i] == "ADJ"
            and analyses[i].count("+") == 1
            and analyses[i].endswith("+Adj")
            and lows[i] in _LOAN_I_ACC_ADJS
            and upos[i + 1] in _NOMINAL
            and eff_case[i + 1] in ("Dat", "Loc", "Abl", "Ins")
            and not (i + 2 < n and upos[i + 2] == "ADP")
        ):
            v = next((j for j in range(i + 1, n)
                      if upos[j] == "VERB" and not subord[j]
                      and not converb[j]), None)
            if (
                v is not None
                and roots[v] in _TRANSITIVE_ROOTS
                # bare-object ACTIVITY verbs need no object (resmi
                # TATİLDE çalıştı keeps the attributive reading)
                and roots[v] not in ("oyna", "çalış", "yüz")
                and "Pass" not in tagsets[v]
                and not any(
                    eff_case[j] == "Acc"
                    # same clause: no other predicate between j and v
                    and not any(p != v and min(j, v) < p < max(j, v)
                                for p in preds)
                    for j in range(n) if j != i
                )
                # ... and no BARE-Nom object candidate either (Dernek
                # dini bayramlarda YARDIM dağıttı — yardım is the verb's
                # bare object, dini stays attributive)
                and not any(
                    upos[j] in _NOMINAL
                    and eff_case[j] in ("Nom", "")
                    and not eff_poss[j]
                    for j in range(i + 1, v)
                )
                and any(upos[j] in ("PROPN", "PRON")
                        or (upos[j] in _NOMINAL
                            and eff_case[j] in ("Nom", "")
                            and not eff_poss[j])
                        for j in range(i))
            ):
                upos[i] = "NOUN"
                eff_case[i], eff_poss[i] = "Acc", False

# whole-word-Adj / possessed-locative homographs directly before the
# verb with an object to their left are the locative adverbial
# (olayları YERİNDE inceledi = yer+P3sg+Loc, not yerinde 'apt')
def _reread_possessed_locative(s):
    tokens, analyses, n, roots, upos = s.tokens, s.analyses, s.n, s.roots, s.upos
    eff_case, eff_poss = s.eff_case, s.eff_poss
    for i in range(1, n - 1):
        if (
            upos[i] in ("ADJ", "NOUN")
            and analyses[i].count("+") == 1
            and analyses[i].endswith("+Adj")
            and "p3loc" in _readings(tokens[i])
            and (upos[i + 1] == "VERB"
                 # ... or a light-verb complex (yerinde TESPİT ETTİ)
                 or (i + 2 < n and upos[i + 1] == "NOUN"
                     and upos[i + 2] == "VERB"
                     and roots[i + 2] in ("et", "yap", "ol")))
            and upos[i - 1] in _NOMINAL
        ):
            upos[i] = "NOUN"
            eff_case[i], eff_poss[i] = "Loc", True

# a case-segmentation homograph whose WHOLE surface is itself a noun
# (mahalle = mahal+Ins), standing directly before a possessed nominal
# in the SAME case, is the bare compound modifier of that nominal
# (MAHALLE sakinleriyle aradı -> mahalle nmod, one oblique, not two
# stacked same-case obliques)
def _reread_same_case_compound(s):
    tokens, n, lows, roots, upos = s.tokens, s.n, s.lows, s.roots, s.upos
    eff_case, eff_poss = s.eff_case, s.eff_poss
    for i in range(n - 1):
        if (
            upos[i] == "NOUN"
            and eff_case[i] in ("Dat", "Loc", "Abl", "Ins")
            and not eff_poss[i]
            and "bare_noun" in _readings(tokens[i])
            and roots[i] != lows[i]
            and upos[i + 1] in _NOMINAL
            and eff_poss[i + 1]
            and eff_case[i + 1] == eff_case[i]
        ):
            eff_case[i] = "Nom"

# loan -î adjectives are systematically homographic with Acc/P3sg
# segmentations (resmi = resmî 'official' / resim+Acc, mali = malî /
# mal+Acc, tarihi, askeri): a chosen Acc/P3sg SEGMENTATION with a
# whole-word bare-Adj reading, standing directly before a case-marked
# nominal it would modify, is the attributive adjective when the
# clause's object slot is already claimed by another Acc-capable
# nominal to its left (yeni yönetmeliği RESMİ gazetede yayımladı)
def _reread_loan_i_attributive(s):
    tokens, n, lows, tagsets, roots = s.tokens, s.n, s.lows, s.tagsets, s.roots
    upos, eff_case, eff_poss = s.upos, s.eff_case, s.eff_poss
    for i in range(1, n - 1):
        if (
            upos[i] in ("NOUN",)
            and roots[i] != lows[i]
            and ("Acc" in tagsets[i]
                 or ("Nom" in tagsets[i]
                     and tagsets[i] & {"P3sg", "P3pl"}))
            and "bare_adj" in _readings(tokens[i])
            and upos[i + 1] in ("NOUN", "PROPN")
            and eff_case[i + 1] in ("Dat", "Loc", "Abl", "Ins", "Gen")
            and any(
                upos[j] in _NOMINAL
                and ("acc" in _readings(tokens[j])
                     or eff_case[j] == "Acc")
                for j in range(0, i)
            )
        ):
            upos[i] = "ADJ"
            eff_case[i], eff_poss[i] = "", False

# the same loan -î homograph class directly before the determiner
# "bir" + a NON-temporal nominal is attributive outright: a possessed
# izafet head is never followed by its own indefinite determiner
# (Bu anlaşma TARİHİ bir adımdır = tarihî 'historic'; "toplantı
# tarihi bir gün önce ..." keeps the date reading — gün is temporal,
# that "bir" is the numeral of the time adjunct)
def _reread_loan_i_before_bir(s):
    tokens, n, lows, tagsets, roots = s.tokens, s.n, s.lows, s.tagsets, s.roots
    upos, eff_case, eff_poss = s.upos, s.eff_case, s.eff_poss
    for i in range(1, n - 2):
        if (
            upos[i] == "NOUN"
            and roots[i] != lows[i]
            and ("Acc" in tagsets[i]
                 or ("Nom" in tagsets[i]
                     and tagsets[i] & {"P3sg", "P3pl"}))
            and "bare_adj" in _readings(tokens[i])
            and lows[i + 1] == "bir"
            and upos[i + 2] in ("NOUN", "PROPN")
            and roots[i + 2] not in _TEMPORAL_ROOTS
            and upos[i - 1] in _NOMINAL
        ):
            upos[i] = "ADJ"
            eff_case[i], eff_poss[i] = "", False

def _spatial_frame_mod(s, j: int) -> bool:
    n, roots, upos, eff_case = s.n, s.roots, s.upos, s.eff_case
    # bare nominal feeding a possessed spatial-relational oblique
    # (gözetim ALTINDA tutuyordu, kontrol ALTINA alındı): part of the
    # oblique frame, transparent for object adjacency
    return (
        upos[j] in _NOMINAL
        and eff_case[j] in ("Nom", "")
        and j + 1 < n
        and roots[j + 1] in _SPATIAL_ROOTS
        and eff_case[j + 1] in ("Dat", "Loc", "Abl")
    )

def _izafet_oblique_mod(s, j: int) -> bool:
    n, upos, eff_case, eff_poss = s.n, s.upos, s.eff_case, s.eff_poss
    # bare nominal feeding a POSSESSED oblique-case izafet head
    # (rehber EŞLİĞİNDE gezdi, mahalle SAKİNLERİNE açtı): the pair
    # is one oblique phrase — same frame as _spatial_frame_mod but
    # for ordinary relational heads — transparent for object
    # adjacency.  An unpossessed next nominal keeps its neighbor a
    # subject candidate (Kitabı ÖĞRETMEN öğrencilere dağıttı).
    return (
        upos[j] in _NOMINAL
        and eff_case[j] in ("Nom", "")
        and not eff_poss[j]
        and j + 1 < n
        and upos[j + 1] in _NOMINAL
        and eff_poss[j + 1]
        and eff_case[j + 1] in ("Dat", "Loc", "Abl", "Ins")
    )

def _material_mod(s, j: int) -> bool:
    n, roots, upos, eff_case, eff_poss = s.n, s.roots, s.upos, s.eff_case, s.eff_poss
    # material/degree juxtaposition feeding a case-marked UNPOSSESSED
    # host (taş FIRINDA pişirdi): one oblique phrase, transparent for
    # object adjacency — mirrors the material-noun nmod arc rule
    return (
        upos[j] == "NOUN"
        and eff_case[j] in ("Nom", "")
        and roots[j] in _MATERIAL_NOUNS
        and j + 1 < n
        and upos[j + 1] in _NOMINAL
        and eff_case[j + 1] in ("Dat", "Loc", "Abl", "Ins")
        and not eff_poss[j + 1]
    )

def _gen_oblique_mod(s, j: int, v: int) -> bool:
    upos, eff_case, eff_poss = s.upos, s.eff_case, s.eff_poss
    # genitive possessor whose POSSESSED head follows in an oblique
    # case before the verb (havuzun derin KULVARINDA tamamladı): the
    # Gen+...+P3sg-oblique pair is one adjunct phrase — transparent
    # for object adjacency.  A Gen whose head is Nom/Acc keeps its
    # argument status (komşunun bahçesini suladı).
    return (
        upos[j] in _NOMINAL
        and eff_case[j] == "Gen"
        and any(
            upos[k] in _NOMINAL
            and eff_poss[k]
            and eff_case[k] in ("Dat", "Loc", "Abl", "Ins")
            for k in range(j + 1, v)
        )
    )

def _adjacent_to_verb(s, i: int, v: int) -> bool:
    n, lows, tagsets, roots, upos = s.n, s.lows, s.tagsets, s.roots, s.upos
    eff_case, eff_poss = s.eff_case, s.eff_poss
    for j in range(i + 1, v):
        if upos[j] in _TRANSPARENT:
            continue
        if lows[j] in ("de", "da") and upos[j] == "CCONJ":
            continue  # the emphatic particle is transparent for the
            # object frame (hizmetleri DE sunmaya başladı)
        if upos[j] in _NOMINAL and eff_case[j] in ("Dat", "Loc", "Abl", "Ins"):
            continue  # obliques may intervene before the object
        if (
            upos[j] == "ADJ" and j + 1 < v
            and upos[j + 1] in _NOMINAL
            and eff_case[j + 1] in ("Dat", "Loc", "Abl", "Ins")
        ):
            continue  # adjective inside an intervening oblique
            # phrase (soruları SAKİN BİÇİMDE yanıtladı)
        if (
            "Ness" in tagsets[j] and j + 1 < v
            and upos[j + 1] in _NOMINAL
            and not eff_poss[j + 1]
            and eff_case[j + 1] == "Loc"
        ):
            continue  # attributive -lIk terrain nominal inside a
            # locative phrase (çocuğu ORMANLIK alanda buldu)
        if _izafet_oblique_mod(s, j):
            continue
        if _material_mod(s, j):
            continue
        if _gen_oblique_mod(s, j, v):
            continue
        if (upos[j] in _NOMINAL and j + 1 < n
                and upos[j + 1] == "ADP"
                # ... except the concessive class, whose frame
                # signals a compound subject (sakatlığına RAĞMEN
                # oynadı keeps the izafet reading)
                and lows[j + 1] not in ("rağmen",
                                                    "karşın")):
            continue  # a bare-Nom ADP complement is inside an
            # adjunct phrase (yazışmaları GÜVENLİK İÇİN şifreledi)
        if upos[j] == "NOUN" and roots[j] in _TEMPORAL_ROOTS:
            continue  # bare time expressions are obliques too
        if _spatial_frame_mod(s, j):
            continue
        if (upos[j] == "NOUN" and j + 1 == v
                and roots[v] in ("ol", "et", "yap")):
            continue  # light-verb nominal (davet etti, kutlama yaptı)
        return False
    return True

# lexicalized bare juxtaposition modifiers (SAĞANAK yağış): marked
# before the ambiguity re-read so they never count as subject
# candidates, and attached nmod later
def _juxtaposition_modifiers(s):
    n, lows = s.n, s.lows
    juxt_mod = [False] * n
    for j in range(n - 1):
        if (lows[j] == "sağanak"
                and lows[j + 1].startswith(("yağış",
                                                        "yağmur"))):
            juxt_mod[j] = True
        # lexicalized institution juxtaposition (SAHİL güvenlik
        # botları = the Coast Guard's boats): same closed class
        if (lows[j] == "sahil"
                and lows[j + 1].startswith("güvenlik")):
            juxt_mod[j] = True
    s.juxt_mod = juxt_mod

def _acc_nom_homography(s):
    upos, eff_case = s.upos, s.eff_case
    for i in range(s.n - 1, -1, -1):
        if upos[i] not in ("NOUN", "PRON") or eff_case[i] not in ("Acc", "Nom"):
            continue
        v = _acc_nom_gate(s, i)
        if v is not None:
            _acc_nom_weigh(s, i, v)

def _acc_nom_gate(s, i: int) -> Optional[int]:
    tokens, n, lows, tagsets, roots = s.tokens, s.n, s.lows, s.tagsets, s.roots
    base_case, upos, eff_case, eff_poss = s.base_case, s.upos, s.eff_case, s.eff_poss
    subord = s.subord
    # only a token whose CHOSEN analysis sits in the ambiguous pair
    # is re-resolved (görgü -> görk+ü split does not make the chosen
    # whole-word Pnon+Nom reading ambiguous)
    chosen_ambiguous = "Acc" in tagsets[i] or (
        "Nom" in tagsets[i] and tagsets[i] & {"P3sg", "P3pl"}
    )
    r = _readings(tokens[i])
    if not chosen_ambiguous or "acc" not in r or "p3nom" not in r:
        return None
    if "Pron" in tagsets[i]:
        # a chosen closed-class pronoun ANALYSIS (ONU seçti =
        # o+Pron+Acc) is never re-resolved into the possessed-noun
        # homograph of a numeral (on+P3sg 'its ten'); quantifier
        # pronouns whose chosen reading is nominal (herkesi =
        # herkes+Noun) still resolve normally
        return None
    v = _next_verbish(s, i)
    if v is None:
        eff_case[i], eff_poss[i] = "Nom", True
        return None
    if "Pass" in tagsets[v]:
        eff_case[i], eff_poss[i] = "Nom", True
        return None
    if i + 1 < n and upos[i + 1] == "ADP":
        # the nominal is the following postposition's complement,
        # not the clause object (ekibi İLE toplantı yaptı)
        eff_case[i], eff_poss[i] = "Nom", True
        return None
    if (
        i > 0 and eff_case[i - 1] == "Gen"
        and i + 1 < n and upos[i + 1] == "VERB" and subord[i + 1]
        and tagsets[i + 1] & {"P3sg", "P3pl"}
        and roots[i + 1] in _TRANSITIVE_ROOTS
        and "Pass" not in tagsets[i + 1]
    ):
        # genitive + ambiguous -(s)I noun + P3sg-agreeing TRANSITIVE
        # nominalization directly after: the nominalization's own
        # agreement claims the genitive as ITS subject, freeing the
        # ambiguous noun to be the object the verb demands
        # (kuraklığın TARIMI etkilediğini -> obj; overt-Acc possessed
        # heads like "desteğini" are not ambiguous and never reach
        # this gate)
        eff_case[i], eff_poss[i] = "Acc", False
        return None
    # the genitive possessor may be separated from its possessed
    # head by the head's own attributive material (Sanatçının SON
    # albümü): look through ADJ/DET/NUM for the license
    _pl = i - 1
    while _pl >= 0 and upos[_pl] in ("ADJ", "DET", "NUM"):
        _pl -= 1
    if _pl >= 0 and eff_case[_pl] == "Gen":
        # a genitive possessor licenses the possessed-Nom reading
        # (Şirketin geliri ... arttı -> gelir+P3sg+Nom, subject)
        eff_case[i], eff_poss[i] = "Nom", True
        return None
    if (
        i > 0
        and upos[i - 1] in ("NOUN", "PROPN")
        and eff_case[i - 1] in ("Nom", "")
        and not eff_poss[i - 1]
        and roots[i - 1] in _TEMPORAL_ROOTS
        and not (i > 1 and upos[i - 2] == "DET")
    ):
        # a bare time noun to the left always modifies (hafta sonu,
        # akşam yemeği) -> compound-head reading; a det-marked time
        # noun is a clause adjunct instead (bu yaz çiftçileri zorladı).
        # The compound-head CASE still follows the clause: a
        # possessed-Nom object must sit next to its verb, so when a
        # case-marked argument separates the head from a TRANSITIVE
        # verb with no other object, the overt -(s)InI possessed-Acc
        # reading is the only grammatical one (Gazete pazar EKİNİ
        # okurlara veriyor -> ek+P3sg+Acc, obj)
        if (
            roots[v] in _TRANSITIVE_ROOTS
            and "Pass" not in tagsets[v]
            # ... the compound must not itself be a TIME expression
            # (hafta SONU deniz kenarında yürüyüş yaptık stays the
            # clause-level time adjunct)
            and roots[i] not in _TEMPORAL_ROOTS
            and roots[i] not in ("son", "baş", "orta")
            and not any("Acc" in tagsets[k] for k in range(n)
                        if k != i)
            # ... and no bare-Nom object candidate may stand closer
            # to the verb (the light-verb nominal yürüyüş in the
            # same sentence fills the object slot itself)
            and not any(
                upos[j] in _NOMINAL
                and eff_case[j] in ("Nom", "")
                and not eff_poss[j]
                and roots[j] not in _TEMPORAL_ROOTS
                for j in range(i + 1, v))
            and any(upos[j] in _NOMINAL
                    and eff_case[j] in ("Dat", "Loc", "Abl", "Ins")
                    for j in range(i + 1, v))
        ):
            eff_case[i], eff_poss[i] = "Acc", True
        else:
            eff_case[i], eff_poss[i] = "Nom", True
        return None
    if tagsets[v] & {"A1sg", "A2sg", "A1pl", "A2pl"}:
        # pro-dropped 1st/2nd-person subject: the nominal is the object
        # (Mektubu dun aksam postaya verdim)
        eff_case[i], eff_poss[i] = "Acc", False
        return None
    if i == 0 and lows[i].split("'")[0] in _TITLES:
        # a sentence-initial title/role noun (cumhurbaşkanı, vali) is
        # the agent, not a fronted object, regardless of adjacency
        eff_case[i], eff_poss[i] = "Nom", True
        return None
    light_nom_v = (
        v > 0 and upos[v - 1] == "NOUN" and v - 1 != i
        and eff_case[v - 1] in ("Nom", "") and not eff_poss[v - 1]
        and roots[v] in ("et", "yap")
    )
    if (
        (light_nom_v and roots[v - 1] in _INTRANS_LIGHT_NOMINALS)
        or (not light_nom_v
            and _intrans(s, v)
            # path-capable motion verbs still take Acc routes
            # (bütün yolu yürüdü); stative intransitives cannot
            and roots[v] not in ("yürü", "yüz", "koş", "uç", "gez"))
    ):
        # the predicate cannot take an Acc object at all: the
        # possessed-Nom reading stands (üyeleri istifa etti,
        # fiyatları düştü)
        eff_case[i], eff_poss[i] = "Nom", True
        return None
    if (
        i > 1
        and upos[i - 1] in ("NOUN", "PROPN")
        and tagsets[i - 1] & {"P3sg", "P3pl"}
        and base_case[i - 1] in ("Nom", "")
        and upos[i - 2] in ("NOUN", "PROPN")
        and eff_case[i - 2] in ("Nom", "")
        and not eff_poss[i - 2]
        and roots[i - 2] not in _TEMPORAL_ROOTS
        and roots[v] in _TRANSITIVE_ROOTS
        and "Pass" not in tagsets[v]
    ):
        # the left neighbor already heads its own bare-modifier
        # izafet (kar YAĞIŞI): a possessed-Nom head cannot itself
        # be the bare modifier of this nominal — N+P3sg chains need
        # a genitive — so the saturated group is the subject and
        # this ambiguous nominal is the transitive verb's object
        # (yoğun kar yağışı ULAŞIMI durma noktasına getirdi)
        eff_case[i], eff_poss[i] = "Acc", False
        return None
    return v

def _acc_nom_weigh(s, i: int, v: int) -> None:
    tokens, n, lows, tagsets, roots = s.tokens, s.n, s.lows, s.tagsets, s.roots
    base_case, upos, eff_case, eff_poss = s.base_case, s.upos, s.eff_case, s.eff_poss
    subord, finite, copular, preds = s.subord, s.finite, s.copular, s.preds
    juxt_mod = s.juxt_mod
    prev_bare_mod = (
        i > 0
        and upos[i - 1] in ("NOUN", "PROPN")
        and eff_case[i - 1] in ("Nom", "")
        and not eff_poss[i - 1]
        # material nouns modify BARE hosts directly (deri bot,
        # never *deri botu): they cannot license a possessed-Nom
        # izafet head, so the ambiguous plural resolves to the
        # object (deri BOTLARI rafa çıkardı)
        and roots[i - 1] not in _MATERIAL_NOUNS
        # a plural modifier licenses izafet only for the closed
        # institutional-head class (Bakanlar KURULU görüştü)
        and ("A3pl" not in tagsets[i - 1]
             or roots[i] in _PL_IZAFET_HEADS)
        and not (roots[i - 1] in _TEMPORAL_ROOTS
                 and i > 1 and upos[i - 2] == "DET")
        # the name of a title run is not a compound modifier
        # (Gazeteci YILDIZ soruları ... yanıtladı: Yıldız stays in
        # the mention, the possessed nominal is the clause object)
        and not (i > 1 and _CAP_RE.match(tokens[i - 1])
                 and lows[i - 2].split("'")[0] in _TITLES)
    )
    obj_later = any(
        upos[j] in _NOMINAL and eff_case[j] == "Acc" for j in range(i + 1, v)
    )
    # an OBLIGATORILY transitive predicate (causative morphology, or a
    # bare-noun light-verb construction: davet etti) demands its
    # object: the object reading wins outright.  For merely listed
    # transitives the compound-modifier reading survives when oblique
    # material separates the nominal from the verb (Takım kaptanı
    # sakatlığına rağmen oynadı -> compound subject; Takım maçı
    # kazandı -> object) or a clear subject stands further left
    # (Fatma ... moda tasarımı okuyor -> compound object)
    # only the et-complex obligates an OUTSIDE object (davet etti,
    # iptal etti); a yap-complex's event nominal fills yap's own
    # object slot (iniş yaptı, kutlama yaptı — UD-BOUN keeps it the
    # obj), so the complex demands nothing beyond it
    obligate_v = "Caus" in tagsets[v] or (
        v > 0 and upos[v - 1] == "NOUN" and v - 1 != i
        and eff_case[v - 1] in ("Nom", "") and roots[v] == "et"
        and roots[v - 1] not in _INTRANS_LIGHT_NOMINALS
    )
    transitive_v = (
        roots[v] in _TRANSITIVE_ROOTS
        or obligate_v
        # an Inf2 verbal-noun clause licenses its own object: the
        # X+Acc V+mAyA başla frame takes the object reading even
        # when the embedded verb is not in the curated transitive
        # list (Ekip DUVARLARI boyamaya başladı)
        or (upos[v] == "VERB" and bool(tagsets[v] & {"Inf2"}))
    )
    strict_adj = _strict_adjacency(s, i, v)
    # subject candidates only count within the SAME clause: a nominal
    # left of an earlier finite predicate belongs to that clause and
    # cannot be this clause's subject (müdür istifasını sundu, kurul
    # KARARI onayladı -> kararı is the second clause's object)
    cl_start = max((f + 1 for f in finite if f < i), default=0)
    subject_elsewhere = any(
        (upos[j] in ("PROPN", "PRON")
         or (upos[j] in _NOMINAL and eff_case[j] in ("Nom", "")
             and not eff_poss[j]
             and roots[j] not in _TEMPORAL_ROOTS))
        # the complement of a following postposition is inside an
        # adjunct phrase, never a subject candidate (çocuklar İÇİN
        # oyun alanı kurdu)
        and not (j + 1 < n and upos[j + 1] == "ADP")
        # a lexicalized juxtaposition modifier is no candidate
        # (SAĞANAK yağış ... — sağanak is yağış's nmod)
        and not juxt_mod[j]
        for j in range(cl_start, i - 1)
    )
    if (
        i + 2 < n
        and upos[i + 1] == "CCONJ"
        and lows[i + 1] in ("ve", "veya", "ya")
        and upos[i + 2] in _NOMINAL
        and base_case[i + 2] == "Acc"
        and transitive_v
        and "Pass" not in tagsets[v]
    ):
        # an ambiguous nominal coordinated with an overt/resolved
        # Acc conjunct shares its case: both are the transitive
        # verb's objects (Belediye PARKLARI ve yolları yeniledi);
        # the izafet-subject reading would leave the verb objectless
        # while claiming only half the coordination
        eff_case[i], eff_poss[i] = "Acc", False
    elif prev_bare_mod and (
        not transitive_v
        or obj_later
        or (not strict_adj and not obligate_v)
        or (subject_elsewhere and not obligate_v)
        # inside an infinitive clause under a copular matrix
        # (piknik ateşi YAKMAK yasak) there is no subject slot the
        # bare modifier could fill — an overt infinitive subject
        # would be genitive — so the compound reading stands
        or (copular and subord[v]
            and tagsets[v] & {"Inf", "Inf1", "Inf2", "Inf3"})
    ):
        eff_case[i], eff_poss[i] = "Nom", True
    elif (roots[i] in _TEMPORAL_ROOTS
          and "A3pl" in tagsets[i]
          and any(eff_case[j] == "Acc"
                  and not any(pp != v and min(j, v) < pp < max(j, v)
                              for pp in preds)
                  for j in range(n) if j != i)):
        # distributive-plural time expression with the clause's
        # object slot already filled (kapısını GECELERİ kilitledi =
        # 'at nights'): the temporal adverbial reading, never a
        # second object
        eff_case[i], eff_poss[i] = "Nom", False
    elif _adjacent_to_verb(s, i, v):
        eff_case[i], eff_poss[i] = "Acc", False
    else:
        # non-adjacent: a SENTENCE-INITIAL ambiguous nominal is a
        # fronted (topicalized) object when a better subject candidate
        # (bare-Nom, unpossessed, non-temporal nominal) stands between
        # it and the verb (Kitabı öğretmen öğrencilere dağıttı);
        # compound-head reading otherwise
        later_subject = not any(
            upos[j] in _NOMINAL for j in range(0, i)
        ) and any(
            upos[j] in _NOMINAL
            and eff_case[j] in ("Nom", "")
            and not eff_poss[j]
            and roots[j] not in _TEMPORAL_ROOTS
            and "Unknown" not in tagsets[j]
            for j in range(i + 1, v)
        )
        if later_subject:
            eff_case[i], eff_poss[i] = "Acc", False
        elif (
            obligate_v and not obj_later and prev_bare_mod
            # ... and no bare-Nom object candidate stands between
            # either (ADP complements and the light-verb nominal
            # itself do not count): Hastane yönetimi EK PERSONEL
            # talep etti keeps its compound subject
            and not any(
                upos[j] in _NOMINAL
                and eff_case[j] in ("Nom", "")
                and not eff_poss[j]
                and j != v - 1
                and not (j + 1 < n and upos[j + 1] == "ADP")
                for j in range(i + 1, v)
            )
        ):
            # an obligately transitive predicate with no other object
            # in the clause: the compound-subject reading would leave
            # it objectless, so the fronted-object reading wins even
            # across an adjunct phrase (Takım ANTRENMANI yağmur
            # nedeniyle iptal etti)
            eff_case[i], eff_poss[i] = "Acc", False
        elif (
            transitive_v
            and not prev_bare_mod
            and not obj_later
            and any(
                upos[j] in ("PROPN", "PRON")
                or (upos[j] in _NOMINAL
                    and eff_case[j] in ("Nom", "")
                    and not eff_poss[j]
                    and roots[j] not in _TEMPORAL_ROOTS)
                for j in range(cl_start, i)
            )
        ):
            # no bare-singular modifier on the left to license
            # izafet, the subject slot already claimed further left,
            # and a transitive predicate waiting for its object: the
            # Acc reading wins (Organizatörler ETKİNLİĞİ kötü hava
            # koşulları yüzünden erteledi)
            eff_case[i], eff_poss[i] = "Acc", False
        else:
            eff_case[i], eff_poss[i] = "Nom", True

def _strict_adjacency(s, i: int, v: int) -> bool:
    n, lows, tagsets, roots, upos = s.n, s.lows, s.tagsets, s.roots, s.upos
    eff_case, eff_poss = s.eff_case, s.eff_poss
    # plain case-marked obliques may stand between object and verb
    # (raporu meclise sundu -> obj); an ADP-governed adjunct phrase
    # signals the clause-level frame of a compound subject instead
    # (Takım kaptanı sakatlığına RAĞMEN oynadı -> compound)
    return not any(
        not (
            upos[j] in _TRANSPARENT
            or (upos[j] in _NOMINAL
                and eff_case[j] in ("Dat", "Loc", "Abl", "Ins")
                # an ADP-governed phrase signals a clause-level
                # concessive frame (sakatlığına RAĞMEN) — except
                # TEMPORAL-ordering postpositions, whose frames are
                # ordinary time adjuncts compatible with the object
                # reading (KAPTAN yolcuları kalkıştan ÖNCE uyardı)
                and not (j + 1 < n and upos[j + 1] == "ADP"
                         and lows[j + 1] not in
                         ("önce", "sonra", "itibaren", "beri",
                          "boyunca")))
            # bare time expressions are obliques here too (Belediye
            # simitçileri SABAH denetledi), mirroring
            # _adjacent_to_verb
            or (upos[j] == "NOUN" and roots[j] in _TEMPORAL_ROOTS)
            # a bare-Nom complement of a following postposition is
            # inside an adjunct phrase (yazışmaları GÜVENLİK İÇİN
            # şifreledi), same as in subject_elsewhere — except the
            # concessive class (sakatlığına RAĞMEN)
            or (upos[j] in _NOMINAL and j + 1 < n
                and upos[j + 1] == "ADP"
                and lows[j + 1] not in ("rağmen",
                                                    "karşın"))
            or _spatial_frame_mod(s, j)
            # adjective inside an intervening oblique phrase
            # (soruları SAKİN biçimde yanıtladı)
            or (upos[j] == "ADJ" and j + 1 < v
                and upos[j + 1] in _NOMINAL
                and eff_case[j + 1] in ("Dat", "Loc", "Abl", "Ins"))
            # attributive -lIk terrain nominal inside a locative
            # phrase (ORMANLIK alanda)
            or ("Ness" in tagsets[j] and j + 1 < v
                and upos[j + 1] in _NOMINAL
                and not eff_poss[j + 1]
                and eff_case[j + 1] == "Loc")
            # bare modifier of a possessed oblique izafet head
            # (rehber EŞLİĞİNDE)
            or _izafet_oblique_mod(s, j)
            # material juxtaposition inside an oblique (taş FIRINDA)
            or _material_mod(s, j)
            # genitive possessor inside an oblique phrase (havuzun
            # derin KULVARINDA)
            or _gen_oblique_mod(s, j, v)
        )
        for j in range(i + 1, v)
    )

# a PROPN name directly after a lowercase POSSESSED title is that
# title's flat continuation (belediye başkanı AKIN ... buluştu):
# _segment_runs only sees capitalized runs, so the lowercase-title
# frame is handled here.  Apostrophe-cased names stay their own
# clause argument (kulüp başkanı Erdoğan'ı eleştirdi)
def _title_flat_name(s):
    tokens, n, tagsets, roots = s.tokens, s.n, s.tagsets, s.roots
    base_case, upos, heads, rels = s.base_case, s.upos, s.heads, s.rels
    for _i in range(1, n):
        if (
            heads[_i] == -1
            and upos[_i] == "PROPN"
            and not _CAP_RE.match(tokens[_i - 1])
            and upos[_i - 1] == "NOUN"
            and roots[_i - 1] in _TITLES
            and tagsets[_i - 1] & {"P3sg", "P3pl"}
            and not ("'" in tokens[_i]
                     and base_case[_i] not in ("Nom", ""))
        ):
            heads[_i], rels[_i] = _i, "flat"

# --- mention runs: non-head tokens attach inside the run -----------
def _mention_runs(s):
    tokens, n, base_case, base_poss = s.tokens, s.n, s.base_case, s.base_poss
    upos, eff_poss, heads, rels = s.upos, s.eff_poss, s.heads, s.rels
    run_head = {}
    run_member = set()
    for group in _segment_runs(s):
        # a run's LAST token directly before a possessed lowercase nominal
        # belongs to THAT compound, not the mention (Google Türkiye
        # ofisini genişletiyor -> Türkiye nmod-> ofisini, Google subject;
        # Bakan Ege kıyılarındaki... -> Ege nmod-> kıyılarındaki), unless
        # the run token is itself the possessed compound head (Ankara
        # Üniversitesi öğrencileri stays one mention chain)
        last = group[-1]
        nxt = last + 1
        # a LOC-gazetteer name before a possessed lowercase locative is a
        # venue compound, not part of the mention (Şirket İzmir FUARINDA
        # ... -> İzmir nmod fuarında, Şirket the subject); titles never
        # release their name this way (Doktor Çelik hastalarına ...)
        loc_venue = (
            _typed_gazetteer()[1].get(to_lower(_base(tokens[last]))) == "LOC"
            and _base(tokens[group[0]]) not in _TITLES
        )
        if (
            nxt < n
            and upos[nxt] in ("NOUN", "PROPN")
            and not _CAP_RE.match(tokens[nxt])
            # post-homography possession: an Acc-resolved homograph
            # (Doktor Yılmaz HASTALARI ... muayene etti) is a clause
            # argument, not a compound head the name should join
            and eff_poss[nxt]
            and not base_poss[last]
            # a TITLE-opened run never releases its name to a following
            # compound: the title selects the person (Doktor AYDIN
            # hastalarını ... -> Aydın stays flat in the mention)
            and not (len(group) >= 2 and _base(tokens[group[0]]) in _TITLES)
            # a possessed nominal in a verb-argument case is a clause
            # argument, not a compound head: the name stays in its
            # mention (Doktor Çelik hastalarına ... -> Çelik flat,
            # vs Google Türkiye ofisini ... -> Türkiye nmod ofisini)
            and (base_case[nxt] not in ("Dat", "Abl", "Ins", "Loc")
                 or (loc_venue and base_case[nxt] == "Loc"))
        ):
            heads[last], rels[last] = nxt + 1, "nmod"
            run_head[last] = nxt
            group = group[:-1]
            if len(group) < 2:
                continue  # the remainder is a standalone clause argument
        run_member.update(group)
        # title + capitalized name and flat 2-token person names (given +
        # surname) head FIRST; all other runs head LAST (possessive
        # compounds / org names)
        if (
            not base_poss[group[-1]]
            and (
                _base(tokens[group[0]]) in _TITLES
                or (len(group) == 2
                    and _base(tokens[group[0]]) in _typed_gazetteer()[0])
            )
        ):
            head = group[0]
            rel = "flat"
        else:
            head = group[-1]
            rel = "nmod"
        for k in group:
            if k != head:
                heads[k], rels[k] = head + 1, rel
                run_head[k] = head
    s.run_head, s.run_member = run_head, run_member

# --- verbs ----------------------------------------------------------
def _verb_attachment(s):
    tokens, n, lows, tagsets, roots = s.tokens, s.n, s.lows, s.tagsets, s.roots
    base_case, upos, heads, rels = s.base_case, s.upos, s.heads, s.rels
    subord, converb, cond, redup_converb = s.subord, s.converb, s.cond, s.redup_converb
    finite, root = s.finite, s.root
    for i in range(n):
        if heads[i] != -1 or upos[i] != "VERB":
            continue
        if i == root:
            heads[i], rels[i] = 0, "root"
        elif redup_converb is not None and i == redup_converb[1]:
            # second element of the aspectual reduplication pair
            # (gelir GELMEZ) compounds on the first
            heads[i], rels[i] = redup_converb[0] + 1, "compound"
        elif converb[i] or cond[i]:
            # adverbial clause on the next finite predicate — unless an
            # embedded COMPLEMENT clause with its own genitive subject
            # stands between: the protasis/converb modifies the embedded
            # proposition (fiyatlar düşerse TALEBİN ARTACAĞINI öngörüyor,
            # konvoy geçerken YOLUN KAPATILACAĞINI duyurdu)
            fin = next((p for p in finite if p > i), root)
            emb = next(
                (j for j in range(i + 1, fin)
                 if upos[j] == "VERB" and subord[j]
                 and tagsets[j] & {"Inf2", "FutPart", "PastPart"}
                 and base_case[j] in ("Acc", "Dat")),
                None,
            )
            if emb is not None and any(
                    base_case[j] == "Gen"
                    # a bare-Nom nominal ADJACENT to the embedded verb
                    # and serving it (tanıklar dinlenmeden KARAR
                    # verilmeyeceğini — the passive's promoted subject)
                    # marks the embedded attachment the same way; an
                    # ACTIVE light-verb nominal is the complex's own
                    # material (tercih YAPMAYA başladı keeps the
                    # converb on the matrix), and non-adjacent bare
                    # nominals are the matrix's arguments
                    or (j == emb - 1
                        and upos[j] == "NOUN"
                        and base_case[j] in ("Nom", "")
                        and roots[j] not in _TEMPORAL_ROOTS
                        and not (roots[emb] in ("et", "yap", "ol",
                                                   "ver", "al", "kıl")
                                 and "Pass" not in tagsets[emb]))
                    for j in range(i + 1, emb)):
                heads[i], rels[i] = emb + 1, "advcl"
            else:
                heads[i], rels[i] = fin + 1, "advcl"
        elif subord[i]:
            p = _next_pred(s, i)
            tags = tagsets[i]
            case = base_case[i]
            if tags & {"PresPart"}:
                nom = _next_nominal(s, i)
                heads[i], rels[i] = (nom + 1 if nom is not None else p + 1), "acl"
            elif "Inf" in tags and i + 1 < n and upos[i + 1] == "ADP":
                # purpose clause: kazanmak için çalıştı
                heads[i], rels[i] = p + 1, "advcl"
            elif "Inf" in tags and case in ("", "Nom"):
                # bare infinitive: complement of a volitional/phasal
                # matrix verb (çalışmak İSTİYOR -> ccomp); subject of an
                # impersonal predicate otherwise (çalışmak gerekiyor)
                rel_inf = (
                    "ccomp" if roots[p] in _INF_CCOMP_ROOTS else "csubj"
                )
                heads[i], rels[i] = p + 1, rel_inf
            elif (tags & {"FutPart", "PastPart", "Inf2"}
                  and case in ("Acc", "Dat")
                  # -mAsInA rağmen/karşın is the concessive ADVERBIAL
                  # clause (zarar ETMESİNE rağmen sürdürdü), never a
                  # complement
                  and not (i + 1 < n and lows[i + 1] in ("rağmen", "karşın"))):
                heads[i], rels[i] = p + 1, "ccomp"
            elif (tags & {"FutPart", "PastPart", "Inf2"}
                  and case in ("Acc", "Dat")):
                heads[i], rels[i] = p + 1, "advcl"
            elif "Inf2" in tags and case in ("", "Nom"):
                # bare-Nom -mA nominalization heading the subject slot is
                # the clausal SUBJECT of the matrix predicate (Projenin
                # zamanında BİTMESİ herkesi sevindirdi)
                heads[i], rels[i] = p + 1, "csubj"
            elif (
                tags & {"PastPart"}
                and case in ("Abl", "Loc")
                and i + 1 < n
                and lows[i + 1] in ("sonra", "önce")
            ):
                # temporal adverbial frame: yedikten sonra
                heads[i], rels[i] = p + 1, "advcl"
            elif tags & {"PastPart"} and case == "Loc":
                # -DIğIndA 'when'-clause (ulaştıklarında yağmur
                # başlamıştı): temporal advcl on the next finite
                # predicate, like -IncA
                fin = next((f for f in finite if f > i), root)
                heads[i], rels[i] = fin + 1, "advcl"
            elif tags & {"FutPart", "PastPart"}:
                nom = _next_nominal(s, i)
                heads[i], rels[i] = (nom + 1 if nom is not None else p + 1), "acl"
            elif (i + 1 < n
                  and lows[i + 1] in ("rağmen", "karşın")):
                # -mAsInA rağmen is the concessive ADVERBIAL clause
                # (zarar ETMESİNE rağmen sürdürdü), never a complement
                heads[i], rels[i] = p + 1, "advcl"
            else:
                heads[i], rels[i] = p + 1, "ccomp"
        else:
            # non-root finite verb (always AFTER the first-verb root):
            # conj when a CCONJ introduces its clause, parataxis across a
            # comma, advcl otherwise
            prev_fin = max([v for v in finite if v < i], default=-1)
            ki_c = next(
                (c for c in range(prev_fin + 1, i)
                 if upos[c] == "SCONJ" and lows[c] == "ki"),
                None,
            )
            if ki_c is not None:
                # post-verbal ki complement clause (diyor Kİ fiyatlar
                # düşecek): the clause is ccomp of the saying verb, ki
                # its mark
                heads[i], rels[i] = (
                    (prev_fin if prev_fin >= 0 else root) + 1, "ccomp")
                heads[ki_c], rels[ki_c] = i + 1, "mark"
            elif any(upos[c] == "CCONJ" for c in range(prev_fin + 1, i)):
                # conj attaches to its FIRST CONJUNCT (the previous finite
                # verb), which may itself be a parataxis clause (ikamet
                # ediyorum ve ... çalışıyorum)
                heads[i], rels[i] = (prev_fin if prev_fin >= 0 else root) + 1, "conj"
            elif any(tokens[c] == "," for c in range(prev_fin + 1, i)):
                heads[i], rels[i] = root + 1, "parataxis"
            else:
                heads[i], rels[i] = root + 1, "conj"

# --- copular root (verbless sentence) -------------------------------
def _copular_root(s):
    heads, rels, copular, root = s.heads, s.rels, s.copular, s.root
    if copular and heads[root] == -1:
        heads[root], rels[root] = 0, "root"

# --- function words --------------------------------------------------
def _compound_walk(s, nom, i: int):
    """An adnominal (ADJ/DET at position ``i``) modifies the HEAD of a
    following possessive compound (yeni teknoloji ürünleri ->
    ürünleri; yeni bir tedavi YÖNTEMİ) — but not a possessed nominal
    governed by a following ADP or a degree adverb in the ablative
    comparative frame (gelecek hafta SONUNA KADAR, model ESKİSİNDEN
    DAHA): that constituent is the postposition's/comparative's own.
    A degree adverb over a NON-ablative head modifies the predicate
    instead, so the walk proceeds (Yeni ders PROGRAMI oldukça yoğun)."""
    n, lows, tagsets, roots, base_case = s.n, s.lows, s.tagsets, s.roots, s.base_case
    upos, eff_case, eff_poss = s.upos, s.eff_case, s.eff_poss
    while (
        nom is not None
        and nom + 1 < n
        and upos[nom + 1] in _NOMINAL
        and eff_case[nom] in ("Nom", "")
        and not eff_poss[nom]
        # the RESOLVED possession normally decides: an Acc-resolved
        # object is not a compound head (Yeni KÖPRÜ ulaşımı oldukça
        # kolaylaştırdı keeps amod on köprü) — but when the clause's
        # subject already stands LEFT of the adnominal, the bare
        # nominal cannot be a second subject and the possessive
        # MORPHOLOGY (P3sg/P3pl in the chosen analysis) still marks
        # the compound head even under an Acc resolution
        # (Araştırmacılar yeni bir tedavi YÖNTEMİ geliştirdi)
        # the walk target must be a Nom/Acc compound head — a Loc/
        # Abl/Dat possessed nominal is its own oblique/spatial/agent
        # frame and never takes the adnominal (bir hafta İÇİNDE,
        # uzman ekip TARAFINDAN, geçen hafta üyelerine) — EXCEPT
        # for the fossil -ArAsI adjectives, which scope over the
        # whole compound (şehirlerarası otobüs BİLETLERİNE)
        and (base_case[nom + 1] in ("Nom", "Acc")
             or (lows[i].endswith("arası")
                 and not (roots[nom + 1] in _SPATIAL_ROOTS
                          or roots[nom + 1] in _TEMPORAL_ROOTS
                          or roots[nom + 1] in ("son", "taraf",
                                                   "yarar", "leh",
                                                   "aleyh"))))
        and (eff_poss[nom + 1]
             or (bool(tagsets[nom + 1] & {"P3sg", "P3pl"})
                 # a time noun heads its own adjunct (bu YAZ
                 # çiftçileri zorladı keeps det on yaz)
                 and roots[nom] not in _TEMPORAL_ROOTS
                 and any(upos[j] in ("NOUN", "PROPN", "PRON")
                         for j in range(i))))
        # an Acc-CASED target is a clause object: the walk may only
        # cross into it when the clause's subject already stands
        # LEFT of the adnominal (Araştırmacılar yeni bir tedavi
        # YÖNTEMİ geliştirdi); with no subject on the left the
        # skipped nominal IS the subject and keeps the adnominal
        # (GENEL müdür istifasını sundu)
        and (base_case[nom + 1] != "Acc"
             or any(upos[j] in ("NOUN", "PROPN", "PRON")
                    for j in range(i)))
        and not (nom + 2 < n
                 and (
                     # an ADP blocks the walk only onto a RELATIONAL
                     # target (hafta SONUNA kadar, oda İÇİNE doğru):
                     # an ordinary possessed head before a
                     # grammaticalized ADP still takes the adnominal
                     # (kötü hava KOŞULLARI yüzünden)
                     (upos[nom + 2] == "ADP"
                      and (roots[nom + 1] in _SPATIAL_ROOTS
                           or roots[nom + 1] in _TEMPORAL_ROOTS
                           or roots[nom + 1] == "son"))
                     or (lows[nom + 2] in _DEGREE_ADVS
                         and base_case[nom + 1] == "Abl")))
    ):
        nom += 1
    return nom

def _function_words(s):
    n, lows, tagsets, roots, upos = s.n, s.lows, s.tagsets, s.roots, s.upos
    eff_poss, heads, rels, subord = s.eff_poss, s.heads, s.rels, s.subord
    converb, root, preds = s.converb, s.root, s.preds
    for i in range(n):
        if heads[i] != -1:
            continue
        u = upos[i]
        if u == "PUNCT":
            # UD: a delimiting mark attaches to the head of the clause it
            # introduces (comma before a parataxis clause -> that clause's
            # predicate); terminal punctuation attaches to the root
            nxt = [p for p in preds if p > i]
            heads[i], rels[i] = (nxt[0] if nxt else root) + 1, "punct"
        elif u == "CCONJ":
            if lows[i] in ("de", "da") and i > 0:
                prev_w = next(
                    (j for j in range(i - 1, -1, -1)
                     if upos[j] != "PUNCT"), None,
                )
                if (
                    prev_w is not None
                    and upos[prev_w] == "CCONJ"
                    and lows[prev_w] == "ya"
                ):
                    # the bigram second correlative 'ya da' keeps ya as
                    # the cc and da as its fixed continuation
                    heads[i], rels[i] = prev_w + 1, "fixed"
                    continue
                # the emphatic particle attaches to the word it focuses
                # (Veliler DE ... itiraz etti), it coordinates nothing
                if prev_w is not None:
                    heads[i], rels[i] = prev_w + 1, "advmod"
                    continue
            # cc attaches forward to the conjunct it introduces; a
            # conj-labeled verb wins over nearer nominals (clause
            # coordination: ucurdu ve ... yedi)
            conj_v = next((j for j in range(i + 1, n) if rels[j] == "conj"), None)
            if conj_v is not None:
                heads[i], rels[i] = conj_v + 1, "cc"
            else:
                for j in range(i + 1, n):
                    if heads[j] == -1 or upos[j] in _NOMINAL or upos[j] in ("VERB", "ADJ"):
                        heads[i], rels[i] = j + 1, "cc"
                        break
                else:
                    heads[i], rels[i] = root + 1, "cc"
        elif u == "DET":
            # same compound-head walk as adjectives: det goes to the NP
            # head (yeni BİR tedavi yöntemi -> yöntemi)
            nom = _compound_walk(s, _next_nominal(s, i), i)
            heads[i], rels[i] = (nom + 1 if nom is not None else _next_pred(s, i) + 1), "det"
        elif u == "AUX":
            # question particle / copular auxiliary modifies the nearest
            # preceding predicate-ish token (yapılacak mı -> aux)
            prev_v = next(
                (j for j in range(i - 1, -1, -1)
                 if upos[j] in ("VERB", "ADJ", "NOUN", "PROPN")),
                None,
            )
            heads[i], rels[i] = ((prev_v if prev_v is not None else root) + 1), "aux"
        elif u == "NUM":
            if tagsets[i] & {"P1pl", "P2pl", "P3pl", "P1sg", "P2sg"}:
                # a POSSESSED numeral (ikimiz 'the two of us') is a
                # collective pronoun heading its own slot, never a
                # nummod of the next noun — leave it to the nominal pass
                continue
            if (
                i > 0
                and lows[i - 1] == "yüzde"
                and upos[i - 1] == "NOUN"
                and not eff_poss[i - 1]
            ):
                # percentage frame: the measure noun heads its numeral
                # (yüzde ON arttı -> on nummod yüzde)
                heads[i], rels[i] = i, "nummod"
            elif (
                i + 1 < n
                and upos[i + 1] == "VERB"
                and roots[i + 1] in ("ol", "gel")
            ):
                # light-verb frame: birinci oldu -> compound
                heads[i], rels[i] = i + 2, "compound"
            elif (
                i + 1 < n
                and upos[i + 1] == "ADJ"
                and lows[i + 1][-3:] in ("lık", "lik", "luk",
                                                     "lük")
            ):
                # the numeral quantifies a measure -lIk adjective, not
                # the nominal behind it (bin YILLIK bir mezar -> bin
                # nummod yıllık)
                heads[i], rels[i] = i + 2, "nummod"
            else:
                nom = _next_nominal(s, i)
                heads[i], rels[i] = (nom + 1 if nom is not None else _next_pred(s, i) + 1), "nummod"
        elif u == "ADP":
            # complement is the nearest preceding nominal OR subordinate
            # verb form (kazanmak için, yedikten sonra)
            prev_nom = next(
                (j for j in range(i - 1, -1, -1)
                 if upos[j] in _NOMINAL
                 or (upos[j] == "VERB" and (subord[j] or converb[j]))),
                None,
            )
            heads[i], rels[i] = ((prev_nom if prev_nom is not None else root) + 1), "case"
        elif u == "ADV":
            _adverb_head(s, i)
        elif u == "ADJ":
            _adjective_head(s, i)

def _adverb_head(s, i: int) -> None:
    tokens, n, lows, roots, base_case = s.tokens, s.n, s.lows, s.roots, s.base_case
    upos, heads, rels, subord, converb = s.upos, s.heads, s.rels, s.subord, s.converb
    finite = s.finite
    low = lows[i]
    if i > 0 and tokens[i] == tokens[i - 1] and upos[i - 1] == "ADV":
        # reduplicated adverb: second token compounds on the first
        # (bol bol, yavaş yavaş)
        heads[i], rels[i] = i, "compound"
    elif (
        low in _TEMPORAL_ADVS
        and i + 1 < n
        and upos[i + 1] == "NOUN"
        and roots[i + 1] in _TEMPORAL_ROOTS
        and base_case[i + 1] in ("Nom", "")
    ):
        # temporal adverb narrows the following time noun
        # (dün akşam postaya verdim -> dün modifies akşam)
        heads[i], rels[i] = i + 2, "advmod"
    elif low in _DEGREE_ADVS:
        tgt = next((j for j in range(i + 1, n) if upos[j] in ("ADJ", "ADV")), None)
        if tgt is None:
            tgt = _next_pred(s, i)
        heads[i], rels[i] = tgt + 1, "advmod"
    elif (
        i + 1 < n
        and upos[i + 1] == "VERB"
        and (subord[i + 1] or converb[i + 1])
        # a finite predicate BEFORE the adverb claims it for the
        # matrix clause (GELDİ sonunda beklenen haber -> sonunda
        # modifies geldi, not the adnominal participle)
        and not any(f < i for f in finite)
    ):
        # adverb scoped inside a participial/converb clause stays
        # there (YENİ açılan restoran -> yeni modifies açılan)
        heads[i], rels[i] = i + 2, "advmod"
    elif (
        (nv := next((j for j in range(i + 1, n)
                     if upos[j] == "VERB"), None)) is not None
        and (subord[nv] or converb[nv])
        and not any(f < i for f in finite)
        and all(upos[k] in _NOMINAL or upos[k] == "ADJ"
                for k in range(i + 1, nv))
    ):
        # adverb scoped over a subordinate clause's own oblique
        # material stays in that clause (ürünleri DOĞRUDAN
        # tüketiciye ulaştırmayı hedefliyor -> doğrudan modifies
        # ulaştırmayı)
        heads[i], rels[i] = nv + 1, "advmod"
    else:
        heads[i], rels[i] = _next_pred(s, i) + 1, "advmod"

def _adjective_head(s, i: int) -> None:
    n, tagsets, roots, upos, heads = s.n, s.tagsets, s.roots, s.upos, s.heads
    rels, corr_cc_idx = s.rels, s.corr_cc_idx
    j = i - 1
    while j >= 0 and upos[j] == "PUNCT":
        j -= 1
    if j >= 0 and upos[j] == "CCONJ" and j not in corr_cc_idx:
        # coordinated predicate adjective: güzel ve güneşli — but
        # only when no verb intervenes: across a verb the CCONJ
        # coordinates CLAUSES and the adjective modifies its own
        # conjunct's nominal (üretimi artırdı ve YENİ personel aldı)
        prev_c = next(
            (k for k in range(j - 1, -1, -1) if upos[k] in ("ADJ", "NOUN", "PROPN")),
            None,
        )
        verb_between = prev_c is not None and any(
            upos[k] == "VERB" for k in range(prev_c + 1, i)
        )
        if (prev_c is not None and not verb_between
                # NOUN ve ADJ NOUN: the adjective is attributive
                # on the following nominal, and the coordination
                # lands on that nominal instead (ikramiye ve EK
                # izin verdi); adjective pairs still coordinate
                # (güzel ve güneşli)
                and not (upos[prev_c] in ("NOUN", "PROPN")
                         and i + 1 < n
                         and upos[i + 1] in ("NOUN", "PROPN"))):
            heads[i], rels[i] = prev_c + 1, "conj"
            return
    if (
        i + 1 < n
        and upos[i + 1] == "VERB"
        and roots[i + 1] in ("ol", "et", "gel", "görün", "dur",
                                "kal", "tut")
    ):
        # predicative complement of a copular/psych/keep verb
        # (rahatsız oldu, mantıklı geldi)
        heads[i], rels[i] = i + 2, "compound"
        return
    nom = _compound_walk(s, _next_nominal(s, i, stop=_next_pred(s, i) + 1), i)
    tgt = nom if nom is not None else _next_pred(s, i)
    rel = "acl" if tagsets[i] & {"PresPart"} else "amod"
    heads[i], rels[i] = tgt + 1, rel

def _verb_person_12(s, p: int) -> bool:
    tagsets, upos = s.tagsets, s.upos
    # a 1st/2nd-person predicate has a pro-dropped subject; a 3rd-
    # person nominal cannot be its nsubj (Raporu yarın göndereceğim)
    return upos[p] == "VERB" and bool(
        tagsets[p] & {"A1sg", "A2sg", "A1pl", "A2pl"}
    )

# --- nominal arguments, clause by clause ----------------------------
def _nominal_arguments(s):
    n, upos, eff_case, heads, rels = s.n, s.upos, s.eff_case, s.heads, s.rels
    s.subj_of = {}
    for i in range(n):
        if heads[i] != -1 or upos[i] not in _NOMINAL:
            continue
        p = _next_pred(s, i)
        v = _next_verbish(s, i)
        vt = v if v is not None else p  # local attachment for obj/obl
        if _nominal_frame(s, i, p, v, vt):
            continue
        case = eff_case[i]
        if case == "Gen":
            _genitive_argument(s, i, p, vt)
        elif case == "Acc":
            heads[i], rels[i] = vt + 1, "obj"
        elif case in ("Dat", "Loc", "Abl", "Ins"):
            _oblique_argument(s, i, p, vt, case)
        else:  # Nom / unmarked
            _bare_nominal(s, i, p, v, vt)

def _nominal_frame(s, i: int, p: int, v: Optional[int], vt: int) -> bool:
    # the juxtaposition, compound and conjunct frames that settle a
    # nominal before its case decides; True when one attached it
    tokens, n, lows, tagsets, roots = s.tokens, s.n, s.lows, s.tagsets, s.roots
    upos, eff_case, eff_poss, heads = s.upos, s.eff_case, s.eff_poss, s.heads
    rels, cop_conj, preds, corr_first = s.rels, s.cop_conj, s.preds, s.corr_first
    corr_cc_idx = s.corr_cc_idx
    if (
        (lows[i] == "sağanak"
         and i + 1 < n
         and lows[i + 1].startswith(("yağış", "yağmur")))
        or (lows[i] == "sahil"
            and i + 1 < n
            and lows[i + 1].startswith("güvenlik"))
    ):
        # lexicalized bare weather juxtaposition: sağanak modifies
        # its precipitation head without possession (SAĞANAK yağış
        # trafiği olumsuz etkiledi)
        heads[i], rels[i] = i + 2, "nmod"
        return True
    if (
        upos[i] == "NOUN"
        and eff_case[i] in ("Nom", "")
        and not eff_poss[i]
        # chain modifiers are bare SINGULAR (köprü, geçiş); a bare
        # plural is a clause argument (TARAFTARLAR stadyum
        # çevresinde toplandı)
        and "A3pl" not in tagsets[i]
        and roots[i] not in _TEMPORAL_ROOTS
        and i + 2 < n
        and upos[i + 1] == "NOUN"
        and eff_case[i + 1] in ("Nom", "")
        and not eff_poss[i + 1]
        and upos[i + 2] in _NOMINAL
        and eff_poss[i + 2]
        and i + 1 != vt and i + 2 != vt
        and not (i + 2 < n and upos[i + 2] == "ADP")
        and any(
            upos[j] in ("PROPN", "PRON")
            or (upos[j] in _NOMINAL
                and eff_case[j] in ("Nom", "")
                and roots[j] not in _TEMPORAL_ROOTS)
            # CLAUSE-aware: a nominal claimed by an own-subject
            # converb clause to the left is not THIS clause's
            # subject (Takım kaptanı sakatlanınca GENÇ OYUNCU forma
            # şansı buldu — oyuncu is the matrix subject)
            for j in range(
                max((pp + 1 for pp in preds if pp < i), default=0),
                i)
        )
    ):
        # bare link into a TWO-step izafet chain with the subject
        # already claimed further left (Sürücüler KÖPRÜ geçiş
        # ücretlerine tepki gösterdi): the first bare noun modifies
        # the second, which itself feeds the possessed head
        heads[i], rels[i] = i + 2, "nmod"
        return True
    if (
        roots[i] in _MATERIAL_NOUNS
        and upos[i] == "NOUN"
        and eff_case[i] in ("Nom", "")
        and not eff_poss[i]
        and i + 1 < n
        and upos[i + 1] in ("NOUN", "PROPN")
        and i + 1 != vt
        # only with the subject slot already claimed further left —
        # a clause-initial material noun is its own argument (Bu
        # İPEK diğerinden daha parlak)
        and any(
            upos[j] in ("PROPN", "PRON")
            or (upos[j] in _NOMINAL
                and eff_case[j] in ("Nom", "")
                and roots[j] not in _TEMPORAL_ROOTS)
            for j in range(i)
        )
    ):
        # material nouns modify the following nominal directly,
        # without izafet agreement (CAM kavanozlarda, DEMİR kapıya)
        heads[i], rels[i] = i + 2, "nmod"
        return True
    if (
        lows[i] == "yüzde"
        and i + 2 < n and upos[i + 1] == "NUM"
        and upos[i + 2] in ("NOUN", "PROPN")
    ):
        # adnominal percentage: yüzde+NUM before a nominal modifies
        # that nominal (yüzde beş ARTIŞ bekleniyor); directly before
        # the verb the frame stays the clause-level measure oblique
        # (yüzde on arttı)
        heads[i], rels[i] = i + 3, "nmod"
        return True
    low_root = roots[i]
    prev_upos = upos[i - 1] if i > 0 else ""

    # an INTRANSITIVE light-verb nominal directly before its passive
    # et-complex is the impersonal-passive compound, not the promoted
    # subject (Karara İTİRAZ edildi; toplantı yapıldı stays nsubj —
    # yap is transitive, its passive promotes)
    if (
        v is not None and i == v - 1
        and roots[v] in ("et", "ol")
        and "Pass" in tagsets[v]
        and low_root in _INTRANS_LIGHT_NOMINALS
        and eff_case[i] in ("Nom", "")
    ):
        heads[i], rels[i] = v + 1, "compound"
        return True

    # a bare nominal directly before a light-verb PARTICIPLE is that
    # complex's compound, mirroring the finite LVC rule (iade EDİLEN
    # kitapları, yardım EDEN gönüllüler): the participle heads the
    # relative clause, the nominal stays inside it.  Checked at i+1
    # directly — _next_verbish deliberately skips acl-attached
    # passives, which is exactly this shape
    if (
        i + 1 < n
        and upos[i + 1] == "VERB"
        # kal- joins for its copular-complement participles, scoped
        # to the closed bequest-noun class that idiomatically
        # collocates with kal- (miras KALAN evi, yadigar KALAN
        # saati): any other bare nominal before kalan keeps its
        # clause role (AŞÇI kalan yemekleri kaldırdı -> subject)
        and roots[i + 1] in ("et", "ol", "yap", "kıl", "bulun",
                                "kal")
        and tagsets[i + 1] & {"PresPart", "PastPart", "FutPart"}
        and eff_case[i] in ("Nom", "")
        and not eff_poss[i]
        and (roots[i + 1] != "kal"
             or low_root in ("miras", "yadigar", "emanet",
                             "armağan", "hatıra"))
    ):
        heads[i], rels[i] = i + 2, "compound"
        return True

    # nominal conjunct: X ve Y (only when no verb intervenes between
    # the conjuncts -- otherwise the CCONJ coordinates clauses).
    # The FIRST conjunct of a correlative pair has no left conjunct
    # and keeps its clause role (hem ÜRETİMİ hem ihracatı artırdı)
    conj_via_amod = (
        # the CCONJ may be separated from its nominal conjunct by
        # that nominal's own attributive adjective (ikramiye ve EK
        # İZİN verdi; parka ve YENİ müzeye): the coordination still
        # lands on the nominal
        prev_upos == "ADJ"
        and rels[i - 1] == "amod" and heads[i - 1] == i + 1
        and i - 2 >= 0 and upos[i - 2] == "CCONJ"
        and lows[i - 2] not in ("de", "da")
        and i - 2 not in corr_cc_idx
    )
    if ((prev_upos == "CCONJ" and lows[i - 1] not in ("de", "da")
            and i not in corr_first
            # a nominal fronted by a CLAUSAL correlative particle is
            # its own clause's argument, not a conjunct of an earlier
            # nominal (hem üretimi artırdı hem MALİYETLERİ düşürdü)
            and i - 1 not in corr_cc_idx
            # a CCONJ opening a coordinated zero-copula CLAUSE
            # fronts that clause's SUBJECT, not a nominal conjunct
            # (Hava güzel ancak DENİZ soğuk)
            and not (cop_conj is not None and i - 1 < cop_conj))
            or conj_via_amod):
        cc_at = i - 2 if conj_via_amod else i - 1
        first = next((j for j in range(cc_at - 1, -1, -1) if upos[j] in _NOMINAL), None)
        verb_between = first is not None and any(
            upos[j] == "VERB" for j in range(first + 1, i)
        )
        if first is not None and not verb_between:
            # conjuncts chain to the FIRST conjunct (elma, armut ve
            # ÜZÜM -> üzüm conj elma, not conj armut)
            if rels[first] == "conj" and heads[first] > 0:
                first = heads[first] - 1
            heads[i], rels[i] = first + 1, "conj"
            return True

    # comma-separated list conjunct: X , Y ... ve Z (a later
    # CCONJ+nominal before the predicate marks the list context —
    # a bare comma otherwise separates clauses/appositions)
    if (
        prev_upos == "PUNCT" and i > 0 and tokens[i - 1] == ","
    ):
        first = next(
            (j for j in range(i - 2, -1, -1) if upos[j] in _NOMINAL),
            None,
        )
        verb_between = first is not None and any(
            upos[j] == "VERB" for j in range(first + 1, i)
        )
        listy = any(
            upos[j] == "CCONJ" and j + 1 < n
            and upos[j + 1] in _NOMINAL
            for j in range(i + 1, p if p > i else n)
        )
        if (first is not None and not verb_between and listy
                and eff_case[i] in (eff_case[first], "")):
            heads[i], rels[i] = first + 1, "conj"
            return True
    return False

def _genitive_argument(s, i: int, p: int, vt: int) -> None:
    n, tagsets, roots, upos, eff_case = s.n, s.tagsets, s.roots, s.upos, s.eff_case
    eff_poss, heads, rels, subord = s.eff_poss, s.heads, s.rels, s.subord
    subj_of = s.subj_of
    if i + 1 < n and upos[i + 1] == "ADP":
        heads[i], rels[i] = vt + 1, "obl"
    elif i + 1 < n and upos[i + 1] == "VERB" and subord[i + 1]:
        # genitive subject of a participle clause (Öğretmenin
        # anlattığı konu)
        heads[i], rels[i] = i + 2, "nsubj"
    else:
        nom = _next_nominal(s, i)
        # a genitive modifies the HEAD of the following compound,
        # not its bare modifier (olayın görgü tanıklarıyla ->
        # tanıklarıyla); possession is read post-homography so a
        # re-read chain link (yönetim KURULU üyeleri) walks too
        walked = False
        while (
            nom is not None
            and nom + 1 < n
            and upos[nom + 1] in _NOMINAL
            and eff_case[nom] in ("Nom", "")
            and not eff_poss[nom]
            and eff_poss[nom + 1]
        ):
            nom += 1
            walked = True
        # izafet requires possessive agreement on the possessed:
        # a genitive whose landing nominal is UNPOSSESSED cannot
        # be its possessor — when a possessed nominalized verb
        # follows instead, the genitive is that clause's subject
        # (enflasyonun gelecek yıl DÜŞECEĞİNİ öngörüyor — 'yıl'
        # is bare, the -AcAk+P3sg nominalization agrees)
        sub_v = next(
            (j for j in range(i + 1, n)
             if upos[j] == "VERB" and subord[j]
             and tagsets[j] & {"P3sg", "P3pl"}),
            None,
        )
        if (
            sub_v is not None
            and (nom is None
                 # the nominalization stands BEFORE the next
                 # plain nominal: the genitive is its subject
                 # (Takımın erken GELMESİ hocayı şaşırttı —
                 # only an adverb intervenes)
                 or sub_v < nom
                 or (nom < sub_v and not eff_poss[nom]
                     and not tagsets[nom]
                     & {"P1sg", "P2sg", "P1pl", "P2pl"})
                 # an ADJUNCT-cased (Loc/Abl/Ins) possessed
                 # nominal between the genitive and the
                 # nominalization is the clause's adverbial, not
                 # the genitive's possessed head: the P3sg
                 # nominalization still needs its subject
                 # (Projenin ZAMANINDA bitmesi ...) — an Acc/Dat
                 # head stays the possessed (taraftarların
                 # DESTEĞİNİ unutmayacağını), and another
                 # genitive closer to the nominalization blocks
                 or (nom < sub_v
                     and eff_case[nom] in ("Loc", "Abl", "Ins")
                     and not any(eff_case[k] == "Gen"
                                 for k in range(i + 1, sub_v)))
                 # fossilized P3sg compounds (yurtdışı, yurtiçi)
                 # never take a genitive possessor: the genitive
                 # is the nominalization's subject
                 # (akademisyenlerin YURTDIŞINA gitmesini)
                 or (nom < sub_v
                     and roots[nom] in ("yurtdış", "yurtiç"))
                 # a possessed landing nominal whose P3sg agreement
                 # is already saturated by its own bare compound
                 # modifier (the walk advanced over it) cannot also
                 # take the genitive as possessor — the LEFTMOST
                 # such genitive is the nominalized clause's
                 # subject (kuraklığın TARIM ÜRÜNLERİNİ
                 # etkileyeceğini); later genitives keep the
                 # possessor read (tüccarın ÜLKENİN ürünlerini ...)
                 or (nom < sub_v and walked
                     and not any(eff_case[k] == "Gen"
                                 for k in range(i))))
        ):
            heads[i], rels[i] = sub_v + 1, "nsubj"
            # the nominalization's subject slot is now filled:
            # later bare nominals in its clause are compound
            # modifiers / objects, not subject candidates
            # (krizin KONUT satışlarını yavaşlatacağını)
            subj_of[sub_v] = i
        else:
            heads[i], rels[i] = (
                (nom if nom is not None else p) + 1
            ), "nmod"

def _oblique_argument(s, i: int, p: int, vt: int, case: str) -> None:
    tokens, n, tagsets, upos, eff_case = s.tokens, s.n, s.tagsets, s.upos, s.eff_case
    heads, rels, subord = s.heads, s.rels, s.subord
    if (
        i + 1 < n
        and upos[i + 1] == "ADJ"
        and rels[i + 1] == "amod"
        and heads[i + 1] > i + 2
        and (case == "Ins"
             or (case == "Dat"
                 and _base(tokens[i + 1])
                 in ("yakın", "uzak", "özel", "uygun", "yönelik",
                     "açık", "bağlı", "karşıt", "dayanıklı",
                     "duyarlı", "elverişli", "yatkın")))
    ):
        # case-selected complement of an adnominal adjective
        # (konuyla İLGİLİ açıklama, eve YAKIN okul): the oblique
        # attaches to the adjective, not the clause predicate.
        # Only Ins (ilgili/dolu/kaplı) and Dat-selecting
        # yakın/uzak — locative scene-setters stay clausal
        # (Sokakta eski bir arkadaşımı gördüm)
        heads[i], rels[i] = i + 2, "obl"
    elif (
        case == "Dat"
        and i + 1 < n
        and upos[i + 1] == "NOUN"
        and eff_case[i + 1] in ("Nom", "")
        and i + 1 != vt
        # a directly-preverbal action noun is the verb's own
        # argument and the dative is the verb's oblique (esnafa
        # KOLAYLIK sağladı); the action-noun frame needs a
        # continuing nominal (depreme hazırlık ÇAĞRISI)
        and i + 2 != vt
        and ("Ness" in tagsets[i + 1]
             or "ness" in _readings(tokens[i + 1]))
    ):
        # dative complement of a deverbal action noun (depreme
        # hazırlık çağrısı) attaches to that noun
        heads[i], rels[i] = i + 2, "obl"
    elif (
        i == 0
        and vt is not None and vt != p
        and upos[vt] == "VERB" and subord[vt]
        and i + 1 < vt
        and upos[i + 1] == "ADV"
    ):
        # a SENTENCE-INITIAL oblique separated from a following
        # participle by that participle's own adverb is the
        # matrix topic, not part of the relative clause
        # (Hastanede YENİ doğan bebekler için ünite açıldı ->
        # hastanede scopes over açıldı); a directly-adjacent
        # oblique stays local (Fabrikada çalışan işçiler)
        heads[i], rels[i] = p + 1, "obl"
    else:
        heads[i], rels[i] = vt + 1, "obl"

def _bare_nominal(s, i: int, p: int, v: Optional[int], vt: int) -> None:
    n, lows, tagsets, roots, upos = s.n, s.lows, s.tagsets, s.roots, s.upos
    eff_case, eff_poss, heads, rels = s.eff_case, s.eff_poss, s.heads, s.rels
    subord, converb, cond, preds = s.subord, s.converb, s.cond, s.preds
    run_head = s.run_head
    preverbal = i + 1 == vt or (i + 1 < n and run_head.get(i + 1) == vt)
    # a coordinated NP is preverbal as a WHOLE: the first
    # conjunct inherits preverbality from its last conj child
    # (ne ZAM ne ek ödeme önerdi -> zam is the object)
    preverbal = preverbal or any(
        rels[j] == "conj" and heads[j] == i + 1 and j + 1 == vt
        for j in range(i + 1, vt if vt is not None else n)
    )
    # a bare light-verb nominal is transparent for preverbality
    # (sabır TAVSİYE etti -> sabır is preverbal to the tavsiye-et
    # complex and is its object, not a compound of it)
    lv_nominal = (
        i + 2 == vt
        and upos[i + 1] == "NOUN"
        and eff_case[i + 1] in ("Nom", "")
        and not eff_poss[i + 1]
        and upos[vt] == "VERB"
        and roots[vt] in ("et", "yap", "ol")
    )
    preverbal = preverbal or lv_nominal
    # the emphatic particle is transparent for preverbality too
    # (yeni dersler DE açtı -> dersler is the directly-preverbal
    # object of the transitive root)
    preverbal = preverbal or (
        vt is not None
        and i + 2 == vt
        and upos[i + 1] == "CCONJ"
        and lows[i + 1] in ("de", "da")
    )
    # case-marked oblique nominals and adverbs between the
    # nominal and its verb are transparent for preverbality
    # (öksürük şurubu RAFA dizdi, bronz kılıcı TOPRAĞA gömdü):
    # the object slot reaches across the clause's own adjuncts
    # — but not across ADP phrases (sakatlığına RAĞMEN oynadı
    # keeps its compound subject, blocked by the ADP itself),
    # and only toward a FINITE verb: a subordinate verb's
    # arguments are genuinely adjacent, and a nominal reaching
    # across an oblique INTO a subordinate clause is the matrix
    # subject instead (Yolcular uçağa BİNMEYİ bekliyor)
    preverbal = preverbal or (
        vt is not None
        and i + 1 < vt
        and not subord[vt]
        and not converb[vt]
        # bare-object ACTIVITY verbs incorporate only strictly
        # adjacent objects (ders ÇALIŞIYOR): across an oblique
        # the bare nominal is their subject (Ustanın onardığı
        # saat kulede ÇALIŞIYOR)
        and roots[vt] not in ("oyna", "çalış", "yüz")
        and all(
            upos[j] == "ADV"
            or (upos[j] in _NOMINAL
                and eff_case[j] in ("Dat", "Loc", "Abl", "Ins")
                and not (j + 1 < n and upos[j + 1] == "ADP"))
            for j in range(i + 1, vt)
        )
    )
    # bare nominal before a possessed -ki relative adjective is
    # that adjective's compound dependent (Sanayi BÖLGESİNDEKİ
    # fabrikalar -> Sanayi nmod-> bölgesindeki), the adjectival
    # twin of the possessive-compound rule below
    if (
        i + 1 < n
        and upos[i + 1] == "ADJ"
        and "Rel" in tagsets[i + 1]
        and tagsets[i + 1] & {"P3sg", "P3pl"}
        and not eff_poss[i]
        and "A3pl" not in tagsets[i]
    ):
        heads[i], rels[i] = i + 2, "nmod"
        return
    # complement of a bare-governing postposition (yağmur
    # YÜZÜNDEN, yol BOYUNCA): oblique of the clause, never the
    # subject
    if i + 1 < n and upos[i + 1] == "ADP":
        heads[i], rels[i] = vt + 1, "obl"
        return
    # TWO-STEP juxtaposition chain: bare + bare + possessed-NOM
    # head (Dalga ölçüm ŞAMANDIRALARI kıyıya sürüklendi; Tarım
    # ilçe MÜDÜRLÜĞÜ çiftçileri bilgilendirdi): the first bare
    # modifies the middle and the chain heads the clause —
    # UNLESS the chain pair is some OTHER frame and the first
    # bare is the subject: an ADP / grammaticalized-ADP after
    # the head (sınav haftası BOYUNCA, bütçe yetersizliği
    # NEDENİYLE), a subordinate verb taking the pair as its own
    # argument (güneş paneli TAKMAYI öneriyor), or a longer
    # zincirleme whose next link is itself possessed (tarım
    # sigortası PRİMLERİNİ artırdı)
    if (
        i + 2 < n
        and upos[i] == "NOUN"
        and eff_case[i] in ("Nom", "")
        and not eff_poss[i]
        and roots[i] not in _TEMPORAL_ROOTS
        and upos[i + 1] == "NOUN"
        and eff_case[i + 1] in ("Nom", "")
        and not eff_poss[i + 1]
        and roots[i + 1] not in _TEMPORAL_ROOTS
        and upos[i + 2] == "NOUN"
        and eff_poss[i + 2]
        and eff_case[i + 2] in ("Nom", "")
        and "A3pl" not in tagsets[i]
        and not (i + 3 < n
                 and (upos[i + 3] == "ADP"
                      or lows[i + 3] in _GRAMMAT_ADPS))
        and not (i + 3 < n and upos[i + 3] == "VERB"
                 and subord[i + 3])
        and not (i + 3 < n and upos[i + 3] == "NOUN"
                 and eff_poss[i + 3])
        # ... and under an ACTIVE transitive with no other Acc,
        # the pair is the OBJECT and the first bare the subject
        # (yönetmen basın TOPLANTISI düzenledi): fire only when
        # the predicate needs no object or has one elsewhere
        and ("Pass" in tagsets[p]
             or _intrans(s, p)
             or any(eff_case[k] == "Acc"
                    for k in range(i + 3, p)))
        # ... and never INTO an own-subject converb clause with
        # a later matrix: the chain pair is the converb's
        # subject and the first bare exits to the matrix
        # (Organizatör bilet SATIŞLARI durunca ... güncelledi)
        and not ((converb[p] or cond[p])
                 and any(pp > p for pp in preds))
    ):
        heads[i], rels[i] = i + 2, "nmod"
        return
    _bare_nominal_role(s, i, p, v, vt, preverbal, lv_nominal,
                       _compoundable(s, i, p))

def _compoundable(s, i: int, p: int) -> bool:
    n, lows, tagsets, roots, upos = s.n, s.lows, s.tagsets, s.roots, s.upos
    eff_case, eff_poss, run_member = s.eff_case, s.eff_poss, s.run_member
    subj_of = s.subj_of
    low_root = roots[i]
    # possessive compound: bare SINGULAR nominal before a possessed
    # nominal in the same mention scope.  With a non-Nom head the
    # compound reading only stands when this token is not a viable
    # clause subject (Üniversite sınavlarına çalışıyorlardı -> nmod;
    # Banka müşterilerine ... sundu -> Banka is the subject)
    compoundable = (
        i + 1 < n
        # a PRONOUN is never an izafet modifier (BU hepimizin
        # başarısı -> Bu is the subject of the nominal predicate)
        and upos[i] != "PRON"
        and upos[i + 1] in _NOMINAL
        and (eff_poss[i + 1]
             # an OVERTLY possessed accusative (-(s)InI: krizin
             # konut SATIŞLARINI yavaşlatacağını) keeps its
             # compound head even after the Acc re-resolution
             # cleared eff_poss; and an Acc-RESOLVED ambiguous
             # surface whose chosen analysis is possessed is
             # still an izafet head for a bare modifier (maaş
             # ARTIŞI talep etti) — the viability test below
             # decides whether the modifier is really a subject
             or (bool(tagsets[i + 1] & {"P3sg", "P3pl"})
                 and low_root not in _TEMPORAL_ROOTS))
        # a time noun completed by a deictic/temporal determiner
        # is a clause-level time adjunct, not an izafet modifier
        # (geçen AY çalışanlarına ... başlattı -> obl) — unless
        # the host is itself a temporal/relational noun (geçen
        # AY sonunda, bu YIL ortasında: the izafet stands)
        and not (
            low_root in _TEMPORAL_ROOTS
            and i > 0
            and lows[i - 1] in _TIME_DETS
            and roots[i + 1] not in _TEMPORAL_ROOTS
            and roots[i + 1] not in ("son", "baş", "orta",
                                        "iç", "sonu")
        )
        and i + 1 != p
        # plural modifiers are fine inside a spatial-relational
        # frame (gençler ARASINDA, ülkeler arasında) and as the
        # agent of the tarafından passive frame (yabancı
        # mühendisler TARAFINDAN inşa edildi); elsewhere a bare
        # plural is a clause argument, not a compound modifier
        and ("A3pl" not in tagsets[i]
             # a POSSESSED plural is a legitimate chain link
             # (Şehir HATLARI vapurları); only bare plurals are
             # clause arguments
             or eff_poss[i]
             # ... and inside the institutional izafet class
             # (Bakanlar KURULU, öğretmenler ODASI)
             or roots[i + 1] in _PL_IZAFET_HEADS
             or (roots[i + 1] in _SPATIAL_ROOTS
                 and eff_case[i + 1] in ("Dat", "Loc", "Abl"))
             # benefit/side relational heads take plural
             # possessors too (depremzedeler YARARINA konser)
             or (roots[i + 1] in ("yarar", "leh", "aleyh")
                 and eff_case[i + 1] in ("Dat", "Loc")
                 and eff_poss[i + 1])
             or (roots[i + 1] == "taraf"
                 and eff_case[i + 1] == "Abl" and eff_poss[i + 1]))
        # a possessed nominal heads its own phrase (Kitabın son
        # bölümü okuyucuları şaşırttı -> bölümü is the subject,
        # not a modifier of okuyucuları) — UNLESS the next nominal
        # is itself possessed-Nom: then this is the middle link of
        # a zincirleme chain (yönetim kurulu ÜYELERİ)
        and (not eff_poss[i]
             or (eff_poss[i + 1] and eff_case[i + 1] in ("Nom", ""))
             # an overtly possessed ACC continuation is the
             # chain head too, when a subject already stands
             # LEFT of the chain (Banka konut KREDİSİ
             # faizlerini düşürdü); with no left subject the
             # possessed-Nom link is itself the subject
             # (şirket MÜDÜRÜ çalışanlarını topladı)
             or (eff_poss[i + 1] and eff_case[i + 1] == "Acc"
                 and any(
                     upos[j] in ("PROPN", "PRON")
                     or (upos[j] in _NOMINAL
                         and eff_case[j] in ("Nom", "")
                         and not eff_poss[j]
                         and roots[j] not in _TEMPORAL_ROOTS)
                     for j in range(0, i - 1)
                 ))
             # a possessed chain head continues into the
             # agentive-passive frame as tarafından's nmod
             # complement (okul MÜDÜRÜ tarafından dağıtıldı)
             or (eff_poss[i + 1] and eff_case[i + 1] == "Abl"
                 and roots[i + 1] == "taraf"))
        and not (i + 1 in run_member and i not in run_member)
    )
    if (compoundable and i + 2 < n and upos[i + 2] == "ADP"
            and eff_poss[i + 1]):
        # the possessed nominal heads a postposition phrase: the
        # bare nominal compounds in only when it is NOT a viable
        # clause subject (MÜDÜR ekibi ile toplantı yaptı ->
        # subject; okul müdürü ile görüştük -> compound, and so
        # is KAR yağışı nedeniyle when the real subject follows)
        later_subj = any(
            upos[j] in _NOMINAL
            and eff_case[j] in ("Nom", "")
            and not eff_poss[j]
            and roots[j] not in _TEMPORAL_ROOTS
            # the light-verb nominal is not a subject candidate
            and not (j + 1 < n and upos[j + 1] == "VERB"
                     and roots[j + 1] in ("et", "yap", "ol"))
            for j in range(i + 3, p)
        )
        viable_subject = (
            p not in subj_of
            and not _verb_person_12(s, p)
            and low_root not in _TEMPORAL_ROOTS
            and not later_subj
        )
        compoundable = not viable_subject
    return _case_head_compoundable(s, i, p, compoundable)

def _case_head_compoundable(s, i: int, p: int, compoundable: bool) -> bool:
    tokens, n, tagsets, roots, upos = s.tokens, s.n, s.tagsets, s.roots, s.upos
    eff_case, eff_poss, heads, subj_of = s.eff_case, s.eff_poss, s.heads, s.subj_of
    low_root = roots[i]
    if (compoundable and eff_case[i + 1] == "Gen"
            and eff_poss[i + 1]
            and upos[i] in ("NOUN", "PROPN")):
        # a bare nominal before a possessed GENITIVE is the
        # zincirleme chain's modifier outright (OKUL müdürünün
        # odası): the genitive cannot be a clause argument, so
        # the subject-viability test does not apply — EXCEPT
        # when the genitive's own possessed head is the clause
        # OBJECT (Acc) and no other subject candidate exists for
        # a transitive 3rd-person predicate: then the bare
        # nominal exits to subject and the genitive's P3sg
        # refers back to it (KUAFÖR müşterisinin saçını kesti).
        # A Nom-chain head keeps the modifier (Okul müdürünün
        # AÇIKLAMASI tartışma yarattı — the chain IS the subject)
        gen_head = next((k for k in range(i + 2, p)
                         if upos[k] in _NOMINAL and eff_poss[k]),
                        None)
        if (gen_head is not None
                and eff_case[gen_head] == "Acc"
                and "Pass" not in tagsets[p]
                and not _verb_person_12(s, p)
                and p not in subj_of
                and not any(
                    (upos[j] in ("PROPN", "PRON")
                     or (upos[j] in _NOMINAL
                         and eff_case[j] in ("Nom", "")
                         and not eff_poss[j]
                         and roots[j] not in _TEMPORAL_ROOTS))
                    for j in range(0, p) if j != i)):
            compoundable = False
    elif (compoundable and eff_case[i + 1] not in ("Nom", "")
            and not tagsets[i + 1] & {"P1sg", "P2sg", "P1pl", "P2pl"}):
        viable_subject = (
            p not in subj_of
            and not _verb_person_12(s, p)
            and low_root not in _TEMPORAL_ROOTS
            # under a PASSIVE predicate a later nominal takes the
            # subject slot, so the first stays the compound
            # modifier (KONFERANS salonunda basın toplantısı
            # düzenlendi)
            and not ("Pass" in tagsets[p] and any(
                upos[j] in _NOMINAL
                and eff_case[j] in ("Nom", "")
                and roots[j] not in _TEMPORAL_ROOTS
                for j in range(i + 2, p)))
            # the same holds under an INTRANSITIVE predicate: it
            # cannot absorb a later Nom nominal as an object, so
            # that nominal takes the subject slot and the first
            # stays the izafet modifier (ŞEHİR merkezinde trafik
            # yoğunluğu azaldı -> nmod)
            and not (_intrans(s, p)
                     and any(
                         upos[j] in _NOMINAL
                         and eff_case[j] in ("Nom", "")
                         and roots[j] not in _TEMPORAL_ROOTS
                         for j in range(i + 2, p)))
            and not ("A3pl" in tagsets[p] and "A3pl" not in tagsets[i])
            # a spatial-relational frame binds its complement even
            # with the subject slot open (ÜLKELER arasında ticaret
            # gelişti -> nmod, the subject comes later)
            and not (roots[i + 1] in _SPATIAL_ROOTS
                     and eff_case[i + 1] in ("Dat", "Loc", "Abl"))
            # a LOC-gazetteer name before a possessed nominal is
            # its venue/place modifier, not the clause subject
            # (İZMİR limanına yeni vinçler kuruldu)
            and not (upos[i] == "PROPN"
                     and _typed_gazetteer()[1].get(
                         to_lower(_base(tokens[i]))) == "LOC")
            # an EARLIER bare-Nom / proper nominal in the same
            # clause is the better subject candidate: this token
            # stays the compound modifier (Yaşlı KADIN kaybolan
            # kedisini MAHALLE sakinleriyle aradı -> mahalle nmod)
            and not any(
                _next_pred(s, j) == p
                and heads[j] in (-1, p + 1)
                and (upos[j] in ("PROPN", "PRON")
                     or (upos[j] in _NOMINAL
                         and eff_case[j] in ("Nom", "")
                         and not eff_poss[j]
                         and roots[j] not in _TEMPORAL_ROOTS
                         and not (j + 1 < n
                                  and upos[j + 1] in _NOMINAL
                                  and eff_poss[j + 1])))
                for j in range(0, i - 1)
            )
        )
        compoundable = not viable_subject
    return compoundable

def _bare_nominal_role(s, i: int, p: int, v: Optional[int], vt: int,
                       preverbal: bool, lv_nominal: bool,
                       compoundable: bool) -> None:
    n, lows, tagsets, roots, base_case = s.n, s.lows, s.tagsets, s.roots, s.base_case
    upos, eff_case, eff_poss, heads = s.upos, s.eff_case, s.eff_poss, s.heads
    rels, subord, converb, cond = s.rels, s.subord, s.converb, s.cond
    subj_of = s.subj_of
    low_root = roots[i]
    if compoundable:
        heads[i], rels[i] = i + 2, "nmod"
    elif (
        low_root in _TEMPORAL_ROOTS and upos[i] == "NOUN"
        and i + 2 < n and upos[i + 1] == "ADJ"
        and rels[i + 1] == "amod" and heads[i + 1] == i + 3
        and upos[i + 2] == "NOUN"
        and roots[i + 2] in _TEMPORAL_ROOTS
        # the host NP must be case-marked to absorb the time noun
        # (SABAH erken saatlerDE); a bare-Nom frequency host is a
        # separate adjunct (bu YIL ikinci kez -> two obls)
        and eff_case[i + 2] not in ("Nom", "")
    ):
        # a bare time noun heading into an adjective-modified time
        # NP modifies that NP (SABAH erken saatlerde), it is not a
        # second clause-level adjunct
        heads[i], rels[i] = i + 3, "nmod"
    elif (
        low_root in _TEMPORAL_ROOTS and upos[i] == "NOUN"
        and v is not None and v == i + 1
        and converb[v] and tagsets[v] & {"When", "AsLongAs"}
    ):
        # a bare time noun DIRECTLY before a subject-hosting
        # converb is that converb's subject (GÜN ilerledikçe)
        heads[i], rels[i] = v + 1, "nsubj"
    elif (
        low_root in _TEMPORAL_ROOTS and upos[i] == "NOUN"
        and eff_case[i] in ("Nom", "")
        and not eff_poss[i]
        # only the SENTENCE-initial time noun can be the subject
        # (a mid-sentence or second-conjunct bare time noun is a
        # shared-subject clause's adjunct: ... ,AKŞAM köye
        # ulaştı), and frequency nouns never are (üç KERE
        # dinledi)
        and not any(upos[k] != "PUNCT" for k in range(i))
        and low_root not in ("kez", "kere", "defa", "sefer")
        and p not in subj_of
        and not _verb_person_12(s, p)
        and upos[p] == "VERB"
        and not any(
            upos[j] in ("PROPN", "PRON")
            or (upos[j] in _NOMINAL
                and eff_case[j] in ("Nom", "")
                and roots[j] not in _TEMPORAL_ROOTS)
            for j in range(i + 1, p)
        )
    ):
        # a clause-initial bare time noun that is the clause's
        # ONLY subject candidate is the subject, not a time
        # adjunct (HAFTA yoğun geçti, SEZON erken bitti, GÜN
        # erken başladı); with any other nominal candidate the
        # adjunct reading stands (SABAH toplantı yapıldı)
        heads[i], rels[i] = p + 1, "nsubj"
        subj_of[p] = i
    elif (
        low_root in _TEMPORAL_ROOTS and upos[i] == "NOUN"
        # a POSSESSED-Nom temporal izafet head is a referential
        # NP, not a bare time adjunct (Kayak SEZONU açıldı,
        # Kasaba PAZARI kuruluyor): fall through to the normal
        # nominal machinery instead
        and not (eff_poss[i] and eff_case[i] in ("Nom", ""))
        # ... and so is an acl-MODIFIED time noun (Ustanın
        # onardığı SAAT kulede çalışıyor — the participle makes
        # it the clock, not the hour)
        and not any(rels[j] == "acl" and heads[j] == i + 1
                    for j in range(i))
    ):
        # a bare time noun inside a subordinate clause modifies
        # THAT clause, not the matrix predicate (enflasyonun
        # gelecek YIL düşeceğini öngörüyor)
        if v is not None and v != p and subord[v]:
            heads[i], rels[i] = v + 1, "obl"
        else:
            heads[i], rels[i] = p + 1, "obl"
    elif (
        lows[i] in _PRON_12
        and _verb_person_12(s, p)
        and p not in subj_of
    ):
        # a 1st/2nd-person pronoun IS the subject of a
        # person-marked predicate (HEPİMİZ sevindik, biz
        # kazandık) — the pro-drop rule only bars 3rd-person
        # nominals
        heads[i], rels[i] = p + 1, "nsubj"
        subj_of[p] = i
    elif p not in subj_of and not _verb_person_12(s, p):
        _open_subject(s, i, p, vt, preverbal, lv_nominal)
    elif (preverbal
          and (roots[vt] in ("ol", "et")
               or (roots[vt] == "gel"
                   and lows[i] in _GEL_SUPPORT_NOMINALS))
          and not lv_nominal and not eff_poss[i]):
        heads[i], rels[i] = vt + 1, "compound"
    elif (preverbal
          and upos[vt] == "VERB"
          and (converb[vt] or cond[vt]
               or ("Pass" in tagsets[vt] and subord[vt])
               # -DIktAn sonra/önce temporal clauses host their
               # own subject the same way (turta PİŞTİKTEN
               # sonra fırını kapattı)
               or ("PastPart" in tagsets[vt]
                   and base_case[vt] == "Abl"
                   and vt + 1 < n
                   and lows[vt + 1] in ("sonra",
                                                    "önce")))
          and vt != p and p in subj_of
          and not any(rels[j] == "nsubj" and heads[j] == vt + 1
                      for j in range(i))
          and (roots[vt] not in _TRANSITIVE_ROOTS
               or "Pass" in tagsets[vt]
               or _intrans(s, vt))
          and ("Pass" in tagsets[vt]
               or "Caus" not in tagsets[vt])
          and not (vt > 0
                   and roots[vt] in ("et", "yap", "ol")
                   and "Pass" not in tagsets[vt])):
        # a bare nominal before an own-subject-capable converb
        # or passive subordinate — of an unlisted/mixed root, a
        # PASSIVE (eserler ASILIRKEN; karar VERİLMEYECEĞİNİ), or
        # an intransitive (çalışanlar greve GİDİNCE) — with the
        # MATRIX subject already filled and the subordinate
        # still subjectless, is the subordinate's own subject
        heads[i], rels[i] = vt + 1, "nsubj"
    elif preverbal:
        # bare preverbal nominal with the subject slot filled:
        # object of a transitive verb (uçurtma uçurdu — causatives
        # are inherently transitive), oblique of an intransitive
        # (parka gidemedi); a light-verb complex (tavsiye et) is
        # transitive for the nominal standing before it
        intransitive = (
            _intrans(s, vt)
            and not lv_nominal
        ) or "Pass" in tagsets[vt]
        # a possessed temporal before "ol" is an adjunct, not a
        # support-verb complement (gece YARISI olmuş -> obl)
        if roots[vt] == "ol" and eff_poss[i]:
            intransitive = True
        # only a true VERB takes a bare object; copular/adjectival
        # predicates take obliques (hafta sonu AÇIK -> obl)
        if upos[vt] != "VERB":
            intransitive = True
        # an Acc object elsewhere in the clause already fills the
        # verb's object slot — Turkish has no double objects — so
        # a NOM-case nominal is a duration/extent adjunct instead
        # (antika saatleri UZUN SÜRE inceledi -> obl).  Guards:
        # the subject must already stand assigned to this verb
        # (a clause-initial bare nominal keeps its subject path:
        # Kurye paketi komşuya bıraktı), the Acc must not belong
        # to an intervening participle/converb (Yarışı kazanan
        # sporcu MADALYA aldı keeps obj), and an Acc nominal here
        # is a conjunct object, never demoted (hem yolları hem
        # parkları yeniledi)
        if (eff_case[i] in ("Nom", "")
                # a POSSESSED-Nom nominal here is an izafet
                # subject candidate (Sahil güvenlik BOTLARI
                # ... topladı), not a duration adjunct — only
                # time-expression possesseds demote (hafta SONU)
                and (not eff_poss[i]
                     or roots[i] in _TEMPORAL_ROOTS
                     or roots[i] in ("son", "yarı", "baş",
                                        "orta"))
                and any(rels[k] == "nsubj" and heads[k] == vt + 1
                        for k in range(i))
                and any(
                    eff_case[j] == "Acc" and upos[j] in _NOMINAL
                    and not any(upos[k] == "VERB"
                                for k in range(j + 1, vt))
                    # a CCONJ between the two nominals makes them
                    # conjuncts sharing the object slot (hem
                    # ÜRETİMİ hem ihracatı artırdı) — no demotion
                    and not any(upos[c] == "CCONJ"
                                for c in range(min(i, j) + 1,
                                               max(i, j)))
                    for j in range(vt) if j != i)):
            intransitive = True
        heads[i], rels[i] = vt + 1, "obl" if intransitive else "obj"
    else:
        heads[i], rels[i] = vt + 1, "obl"

def _open_subject(s, i: int, p: int, vt: int, preverbal: bool,
                  lv_nominal: bool) -> None:
    n, tagsets, roots, upos, eff_case = s.n, s.tagsets, s.roots, s.upos, s.eff_case
    eff_poss, heads, rels, converb = s.eff_poss, s.heads, s.rels, s.converb
    cond, preds, corr_cc_idx, subj_of = s.cond, s.preds, s.corr_cc_idx, s.subj_of
    if preverbal:
        _preverbal_subject(s, i, p, vt, lv_nominal)
    elif (
        ((converb[p] and tagsets[p] & {"When", "AsLongAs"})
         # conditional protases host their own subject the
         # same way (Uzmanlar fiyatlar DÜŞERSE ... öngörüyor)
         or cond[p])
        and any(
            upos[j] in _NOMINAL
            and eff_case[j] in ("Nom", "")
            and not eff_poss[j]
            and roots[j] not in _TEMPORAL_ROOTS
            for j in range(i + 1, p)
        )
        and (mp := next((pp for pp in preds if pp > p),
                        None)) is not None
        and mp not in subj_of
        and not any(
            (upos[j] in ("PROPN", "PRON")
             or (upos[j] in _NOMINAL
                 and eff_case[j] in ("Nom", "")
                 and roots[j] not in _TEMPORAL_ROOTS))
            # a light-verb NOMINAL is no subject candidate
            # (veliler itiraz edince geziyi İPTAL etti,
            # inişe İZİN verdi)
            and not (j + 1 < n and upos[j + 1] == "VERB"
                     and roots[j + 1] in ("et", "yap",
                                             "ol", "ver",
                                             "al", "kıl"))
            # ... nor is a bare nominal DIRECTLY before the
            # transitive matrix verb — that is its
            # incorporated object (başlayınca ek PERSONEL
            # istedi)
            and not (j == mp - 1
                     and (roots[mp] in _TRANSITIVE_ROOTS
                          or "Caus" in tagsets[mp])
                     and "Pass" not in tagsets[mp])
            # ... nor is a bare modifier feeding a possessed
            # or Acc izafet head (AMBAR kapaklarını, KONSER
            # programını — object material, not a subject)
            and not (j + 1 < n and upos[j + 1] in _NOMINAL
                     and (eff_poss[j + 1]
                          or eff_case[j + 1] == "Acc"
                          or tagsets[j + 1]
                          & {"P1sg", "P2sg", "P3sg",
                             "P1pl", "P2pl", "P3pl"}))
            for j in range(p + 1, mp)
        )
    ):
        # TWO bare nominals before an own-subject converb
        # with a subjectless matrix: the nominal adjacent to
        # the converb is the converb's own argument (subject
        # or object by its transitivity), and the
        # clause-initial one is the MATRIX subject
        # (TURİSTLER güneş açınca plaja indi)
        heads[i], rels[i] = mp + 1, "nsubj"
        subj_of[mp] = i
    elif (rels[p] == "conj" and heads[p] > 0
          and (heads[p] - 1) in subj_of
          and (roots[p] in _TRANSITIVE_ROOTS
               or "Caus" in tagsets[p])
          and "Pass" not in tagsets[p]
          and not eff_poss[i]
          and i + 1 < n
          and upos[i + 1] == "NOUN" and eff_poss[i + 1]
          # only under CORRELATIVE clause coordination,
          # which shares one subject by construction (ne X
          # ne Y); a plain fakat/ama clause owns its
          # subject (rüzgar şiddetini artırdı)
          and any(k in corr_cc_idx and heads[k] == p + 1
                  for k in range(n))):
        # a correlative conj verb INHERITS the first
        # conjunct's subject (ne sergi SAYISINI azalttı —
        # Müze carries over); the bare nominal feeds its
        # izafet object instead
        heads[i], rels[i] = i + 2, "nmod"
    else:
        heads[i], rels[i] = p + 1, "nsubj"
        subj_of[p] = i

def _preverbal_subject(s, i: int, p: int, vt: int, lv_nominal: bool) -> None:
    n, lows, tagsets, roots, base_case = s.n, s.lows, s.tagsets, s.roots, s.base_case
    upos, eff_case, eff_poss, heads = s.upos, s.eff_case, s.eff_poss, s.heads
    rels, subord, converb, subj_of = s.rels, s.subord, s.converb, s.subj_of
    subjish = _subjish(s, i, p, vt)
    # a modified bare NP before a TRANSITIVE non-first
    # conjunct verb whose earlier conjunct already has an
    # overt subject is the object, not a new subject —
    # the subject carries over (Şirket üretimi artırdı ve
    # YENİ PERSONEL aldı); intransitive conjuncts still
    # take their own subject (Fiyatlar arttı ve TALEP
    # azaldı), as do passives
    shared_subj_conj = (
        rels[p] == "conj"
        and heads[p] > 0
        and (heads[p] - 1) in subj_of
        and (roots[p] in _TRANSITIVE_ROOTS
             or "Caus" in tagsets[p])
        and "Pass" not in tagsets[p]
        and not eff_poss[i]
        and upos[i] not in ("PROPN", "PRON")
    )
    if subjish and vt == p and shared_subj_conj:
        heads[i], rels[i] = vt + 1, "obj"
    elif subjish and vt == p:
        heads[i], rels[i] = p + 1, "nsubj"
        subj_of[p] = i
    elif (
        subjish
        and vt != p
        and p not in subj_of
        and upos[vt] == "VERB"
        and tagsets[vt] & {"PresPart"}
        and heads[vt] > 0
        and eff_case[heads[vt] - 1] not in ("Nom", "")
    ):
        # a clause-initial bare nominal before a subject-gap
        # -An participle whose OWN head noun is case-marked
        # is the matrix subject, not the participle's object
        # (POLİS kaçan şüpheliyi yakalamaya çalıştı); with a
        # Nom participle head the bare nominal stays the
        # participle's object (SU içen kedi uyudu)
        heads[i], rels[i] = p + 1, "nsubj"
        subj_of[p] = i
    elif (
        subjish
        and vt != p
        and p not in subj_of
        and upos[vt] == "VERB"
        and subord[vt]
        and any(
            upos[j] in _NOMINAL
            and eff_case[j] in ("Nom", "")
            and not eff_poss[j]
            for j in range(i + 1, vt)
        )
    ):
        # the subordinate verbal noun already has its own
        # adjacent bare nominal (Belediye YOL yapmak
        # yerine parkları onardı): the clause-initial
        # nominal is the matrix subject
        heads[i], rels[i] = p + 1, "nsubj"
        subj_of[p] = i
    elif (
        subjish
        and vt != p
        and p not in subj_of
        and upos[vt] == "VERB"
        and converb[vt]
        and ("A3pl" in tagsets[i] or eff_poss[i]
             or upos[i] in ("PROPN", "PRON"))
    ):
        # a plural/possessed/proper bare nominal before a
        # subject-sharing converb is the matrix subject
        # (İŞÇİLER dinlenmeden çalışmaya devam etti); a
        # bare singular stays the converb's object (SU
        # içmeden yola çıktı) — but a PASSIVE/
        # unaccusative converb with ANOTHER bare-Nom
        # candidate after it keeps this nominal as its
        # OWN subject (Kazanın NEDENİ araştırılırken YOL
        # trafiğe kapatıldı)
        if (("Pass" in tagsets[vt] or _intrans(s, vt))
                # only when DIRECTLY adjacent to the
                # converb (Kazanın nedeni
                # ARAŞTIRILIRKEN): with a closer bare
                # nominal in between, THAT one is the
                # converb's subject and this izafet
                # head serves the matrix (Maden ekibi
                # GALERİ çökünce ... başlattı)
                and i + 1 == vt
                and any(
                    upos[j] in _NOMINAL
                    and eff_case[j] in ("Nom", "")
                    and not eff_poss[j]
                    and roots[j] not in _TEMPORAL_ROOTS
                    for j in range(vt + 1, p))):
            heads[i], rels[i] = vt + 1, "nsubj"
        else:
            heads[i], rels[i] = p + 1, "nsubj"
            subj_of[p] = i
    elif (
        vt != p
        and upos[vt] == "VERB"
        and (converb[vt]
             # the -DIktAn sonra/önce temporal frame is a
             # subject-hosting adverbial clause the same
             # way (YARIŞ bittikten sonra ...)
             or ("PastPart" in tagsets[vt]
                 and base_case[vt] == "Abl"
                 and vt + 1 < n
                 and lows[vt + 1] in ("sonra", "önce")))
        and (_intrans(s, vt)
             or "Pass" in tagsets[vt]
             or (roots[vt] in _WEATHER_INTRANS_VERBS
                 and roots[i] in _WEATHER_NOUNS)
             # ... and an UNLISTED/mixed-valency converb
             # with the MATRIX subject already filled:
             # the bare nominal is the converb's own
             # subject (Vali KONVOY geçerken ... duyurdu)
             or (p in subj_of
                 and roots[vt] not in _TRANSITIVE_ROOTS
                 and not (vt > 0
                          and roots[vt] in ("et", "yap",
                                               "ol"))))
    ):
        # an INTRANSITIVE or PASSIVE converb cannot take
        # the bare nominal as object: it is the converb's
        # own subject (YAĞMUR yağarken maç durdu; KARAR
        # verilmeden önce taraflar dinlendi)
        heads[i], rels[i] = vt + 1, "nsubj"
    elif ((roots[vt] in ("ol", "et")
           or (roots[vt] == "gel"
               and lows[i] in _GEL_SUPPORT_NOMINALS))
          and not lv_nominal
          and not eff_poss[i]):
        # support-verb construction: üye oldu, ikamet
        # etti, GALİP geldi (yap/gör light verbs keep
        # their obj per UD-BOUN)
        heads[i], rels[i] = vt + 1, "compound"
    elif (
        vt == p
        and ((roots[vt] not in _TRANSITIVE_ROOTS
              and "Caus" not in tagsets[vt])
             # a weather noun before an otherwise
             # transitive verb with an intransitive
             # weather sense is its subject (GÜNEŞ
             # açınca, HAVA açtı)
             or (roots[vt] in _WEATHER_INTRANS_VERBS
                 and roots[i] in _WEATHER_NOUNS
                 and "Caus" not in tagsets[vt])
             # an INTRANSITIVE light-verb complex cannot
             # take the bare nominal as object either
             # (festival DEVAM etti -> festival subject)
             or (vt > 0 and vt - 1 != i
                 and roots[vt] in ("et", "ol")
                 and roots[vt - 1] in _INTRANS_LIGHT_NOMINALS))
        and "Pass" not in tagsets[vt]
    ):
        # a bare nominal cannot be the object of an
        # intransitive finite verb: with the subject slot
        # open it is the subject (ama işsizlik azalmadı)
        heads[i], rels[i] = p + 1, "nsubj"
        subj_of[p] = i
    elif any(
        eff_case[j] == "Acc" and _next_pred(s, j) == p
        for j in range(i)
    ):
        # a fronted Acc object already fills the object
        # slot: the bare nominal is the subject (Kitabı
        # ÇOCUK okudu)
        heads[i], rels[i] = p + 1, "nsubj"
        subj_of[p] = i
    else:
        heads[i], rels[i] = vt + 1, "obj"

def _subjish(s, i: int, p: int, vt: int) -> bool:
    n, lows, tagsets, roots, upos = s.n, s.lows, s.tagsets, s.roots, s.upos
    eff_poss, heads, rels, preds = s.eff_poss, s.heads, s.rels, s.preds
    # directly preverbal: indefinite subject vs bare object
    modified = any(
        heads[j] == i + 1 and rels[j] in ("det", "amod", "nummod")
        for j in range(i)
    )
    clause_start = i == min(
        (k for k in range(n)
         if _next_pred(s, k) == p
         and upos[k] not in ("PUNCT", "CCONJ", "SCONJ")
         # an advcl predicate between clauses is not the
         # next clause's first token (bindiğinde ŞOFÖR
         # anons yaptı -> şoför starts the matrix clause)
         and k not in preds),
        default=i,
    )
    return (
        modified
        or lows[vt] in ("var", "yok")
        or roots[vt] in ("var", "yok")
        or eff_poss[i]
        or "A3pl" in tagsets[i]
        or upos[i] in ("PROPN", "PRON")
        or "Prop" in tagsets[i]
        or "Pass" in tagsets[vt if upos[vt] == "VERB" else i]
        # a clause-initial bare nominal claims the subject
        # slot only when another nominal stands between it
        # and the predicate to fill the object slot
        # (bindiğinde ŞOFÖR anons yaptı); a LONE bare
        # nominal after a converb clause is the shared-
        # subject matrix's object (ulaşınca BAYRAK açtı)
        or (clause_start
            and (i == 0
                 or any(upos[j] in _NOMINAL
                        for j in range(i + 1, p))))
    )

# a cc whose attachment never became a conjunct re-points to the
# next conj token, else to the following predicate (ANCAK sonuç
# değişmedi -> cc on the clause)
def _cc_repoint(s):
    n, upos, heads, rels, root, preds = s.n, s.upos, s.heads, s.rels, s.root, s.preds
    corr_cc_idx = s.corr_cc_idx
    for i in range(n):
        # correlative ccs stand on their OWN conjunct by design — the
        # first one's conjunct keeps its clause role, never "conj"
        if upos[i] == "CCONJ" and rels[i] == "cc" and i not in corr_cc_idx:
            h = heads[i] - 1
            if 0 <= h < n and rels[h] not in ("conj", "root"):
                nxt_conj = next(
                    (j for j in range(i + 1, n) if rels[j] == "conj"),
                    None,
                )
                if nxt_conj is not None:
                    heads[i] = nxt_conj + 1
                else:
                    nxt_p = next((pp for pp in preds if pp > i), root)
                    heads[i] = nxt_p + 1

# a list comma attaches to the conjunct it introduces (elma ,
# ARMUT ve üzüm), not to the clause predicate
def _list_comma(s):
    tokens, n, upos, heads, rels = s.tokens, s.n, s.upos, s.heads, s.rels
    for i in range(n):
        if (
            upos[i] == "PUNCT" and tokens[i] == ","
            and i + 1 < n and rels[i + 1] == "conj"
        ):
            heads[i], rels[i] = i + 2, "punct"

# a bare-Nom non-temporal noun that fell to obl directly BEFORE the
# clause's object is that object's compound modifier (YABAN kazı
# avladı -> yaban nmod, 'wild goose'): two stacked bare nominals
# before a transitive verb are a compound, not an oblique + object
def _bare_obl_compound(s):
    n, roots, upos, eff_case, eff_poss = s.n, s.roots, s.upos, s.eff_case, s.eff_poss
    heads, rels = s.heads, s.rels
    for i in range(n - 1):
        if (
            rels[i] == "obl"
            and upos[i] == "NOUN"
            and eff_case[i] in ("Nom", "")
            and not eff_poss[i]
            and roots[i] not in _TEMPORAL_ROOTS
            and rels[i + 1] == "obj"
            and upos[i + 1] == "NOUN"
            and heads[i + 1] == heads[i]
        ):
            heads[i], rels[i] = i + 2, "nmod"

# the FIRST conjunct carries the coordination's clause role: when a
# bare conj child sits in object position directly before a
# transitive verb, a first conjunct that fell to obl is the shared
# object (ikramiye ve ek İZİN verdi -> ikramiye obj)
def _first_conjunct_role(s):
    n, tagsets, roots, upos, eff_case = s.n, s.tagsets, s.roots, s.upos, s.eff_case
    eff_poss, heads, rels = s.eff_poss, s.heads, s.rels
    for k in range(n):
        if rels[k] != "conj" or heads[k] <= 0:
            continue
        f = heads[k] - 1
        if (rels[f] == "obl" and eff_case[f] in ("Nom", "")
                and not eff_poss[f]
                and eff_case[k] in ("Nom", "")
                and k + 1 < n and k + 1 == heads[f] - 1
                and upos[k + 1] == "VERB"
                and (roots[k + 1] in _TRANSITIVE_ROOTS
                     or roots[k + 1] in ("ver", "et", "yap"))
                and "Pass" not in tagsets[k + 1]):
            rels[f] = "obj"

# --- leftovers -------------------------------------------------------
def _leftovers(s):
    n, heads, rels, root = s.n, s.heads, s.rels, s.root
    for i in range(n):
        if heads[i] == -1:
            heads[i], rels[i] = root + 1, "dep"


# the parser's sections in order; each reads and rewrites the ParseState
# that adjust_upos's UPOS_RULES have already run over
PARSE_RULES = (
    _lexicalized_inf2, _clause_predicates, _choose_root, _clause_arcs,
    _fixed_expressions, _correlatives, _verbless_comma_clause,
    _post_matrix_clause, _reread_chain_link, _reread_loan_i_object,
    _reread_possessed_locative, _reread_same_case_compound,
    _reread_loan_i_attributive, _reread_loan_i_before_bir,
    _juxtaposition_modifiers, _acc_nom_homography, _title_flat_name,
    _mention_runs, _verb_attachment, _copular_root, _function_words,
    _nominal_arguments, _cc_repoint, _list_comma, _bare_obl_compound,
    _first_conjunct_role, _leftovers,
)


def py_parse_tokens(
    tokens: List[str],
    analyses: Optional[List[str]] = None,
) -> Optional[List[Tuple[int, str, int, str]]]:
    """Arcs for one tokenized sentence; null ``analyses`` run morphology
    here.  ``[]`` for no tokens, ``None`` past ``MAX_TOKENS``."""
    n = len(tokens)
    if n == 0:
        return []
    if n > MAX_TOKENS:
        return None  # reference refuses; pipeline chunks upstream
    if analyses is None:
        analyses = py_analyze_tokens(tokens)
    s = ParseState(tokens, analyses)
    for rule in UPOS_RULES:
        rule(s)
    for rule in PARSE_RULES:
        rule(s)
    heads, rels = s.heads, s.rels
    return [(i + 1, tokens[i], heads[i], rels[i]) for i in range(n)]


def py_parse_sentence(sentence: str):
    from ..functions.tokenizer import py_treebank_tokenize

    return py_parse_tokens(py_treebank_tokenize(sentence))


ARC_SCHEMA = ArrayType(
    StructType(
        [
            StructField("idx", IntegerType()),
            StructField("token", StringType()),
            StructField("head", IntegerType()),
            StructField("deprel", StringType()),
        ]
    )
)


# (tokens array, analyses array) -> arcs array<struct>.  Passing the
# analyses column avoids re-running morphology (treestack-style chaining,
# reference treestack_dp.py:163-171); null analyses run it here.
dependency_parse = arrow_map(py_parse_tokens, ARC_SCHEMA)
