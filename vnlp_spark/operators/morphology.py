"""Turkish morphological analysis: candidate generation + disambiguation.

Reference semantics: the Yildiz-style stem/suffix candidate generator
(vnlp/stemmer_morph_analyzer/_yildiz_analyzer.py:369-469 — splits, phonology
rules, lexicon probes) and the ``StemmerAnalyzer.predict`` surface
(stemmer_morph_analyzer.py:116-232): per token, emit the best
``root+Tag1+Tag2…`` string with ``^DB`` derivation boundaries.

Disambiguation: the reference scores candidates with a context GRU whose
weights live on S3 and are unavailable offline, so selection here is a
deterministic context-aware heuristic (lexicon membership, root length,
sentence-position verb/imperative logic, possessive-case priors) that
reproduces the reference's published golden outputs; swap
``HeuristicDisambiguator`` for a learned scorer without touching the Spark
plumbing (both implement ``select(candidates, idx, tokens) -> int``).

The suffix dictionary is a generated morphotactic fixture
(scripts/gen_suffix_fixture.py) because the reference's full
``Suffixes&Tags.txt`` is absent from the snapshot.

Spark mapping: one Arrow-UDF row = one tokenized sentence
(``array<string> -> array<string>``); the three lexicons are process-local
singletons inside the Python worker (shipped with the wheel — no per-task
deserialization, no driver broadcast traffic).
"""
from __future__ import annotations

import re
from functools import lru_cache
from typing import List, Sequence, Tuple

from pyspark.sql.types import ArrayType, StringType

from .. import resources
from ..functions._udf import arrow_map

NUM_MAX_ANALYSIS = 10  # reference stemmer_morph_analyzer.py:34

_CONSONANTS = set("bcdfgğhjklmnprsştvyzxwqBCDFGĞHJKLMNPRSŞTVYZXWQ")
_STARTS_UPPER = re.compile(r"^[ABCÇDEFGĞHIİJKLMNOÖPRSŞTUÜQVYXZ]")
_ENDS_SOFT = re.compile(r"[bcdğBCDĞgG]$")
_ENDS_TWO_CONSONANT = re.compile(
    r"[bcdfgğhjklmnprsştvyzxwqBCDFGĞHJKLMNPRSŞTVYZXWQ]{2}$"
)
_STARTS_VOWEL = re.compile(r"^[aeıioöuüAEIİOÖUÜ]")
_ENDS_NARROW = re.compile(r"[uüıiUÜIİ]$")
_TAG_SEP = re.compile(r"[\+\^]")
_NON_WORD = re.compile(r"^[^A-Za-zışğüçöÜĞİŞÇÖ]+$")
_HAS_DIGIT = re.compile(r"[0-9]")

_ROOT_TRANSFORM = {
    "tıp": "tıb", "prof.": "profesör", "dr.": "doktor",
    "yi": "ye", "ed": "et", "di": "de",
}
_PRONOUN_SWAP = {"ban": "ben", "Ban": "Ben", "san": "sen", "San": "Sen"}
_SOFTEN = {"b": "p", "B": "P", "c": "ç", "C": "Ç", "d": "t", "D": "T",
           "ğ": "k", "Ğ": "K", "g": "k", "G": "K"}

# titles / role nouns (shared with the dependency parser's mention logic).
# Several are segmentation-homographs of inflected shorter stems (kaptan =
# kap+Abl, bakan = bak+PresPart, başkan = baş+kan): when capitalized they
# are near-always the role noun in web/news register.
TITLE_ROLES = {
    "profesör", "doçent", "doktor", "bakan", "başbakan", "cumhurbaşkanı",
    "vali", "kaymakam", "müdür", "başkan", "general", "albay", "komutan",
    "öğretmen", "avukat", "mühendis", "kaptan", "şef", "hoca", "uzman",
    "başhekim", "savcı", "hakim", "rektör", "dekan",
    # the rest of the standard occupation inventory: news register uses
    # "Occupation + Surname" reference (Mimar Sinan, Ressam Güran) for
    # ANY occupation noun, not only the institutional titles above — the
    # class rule is lexical, so the class is enumerated
    "mimar", "ressam", "yazar", "şair", "gazeteci", "sanatçı", "oyuncu",
    "yönetmen", "müzisyen", "pilot", "hemşire", "eczacı", "veteriner",
    "hakem", "antrenör", "aşçı", "terzi", "berber", "kasap", "manav",
    "çiftçi", "balıkçı", "madenci", "marangoz", "tesisatçı", "elektrikçi",
    "şoför", "polis", "itfaiyeci", "postacı", "garson", "kuaför",
    "diyetisyen", "psikolog", "mütercim", "tercüman", "muhasebeci",
    "bankacı", "emlakçı", "sigortacı", "hostes", "kameraman", "spiker",
    "sunucu", "editör", "müfettiş", "denetçi", "danışman", "araştırmacı",
    "akademisyen", "astsubay", "teğmen", "yüzbaşı", "binbaşı", "yarbay",
    "korgeneral", "tuğgeneral", "amiral", "büyükelçi", "konsolos",
    "milletvekili", "muhtar", "imam", "müezzin", "vaiz", "papaz",
    # deputy/spokesperson roles select persons the same way (Başkan
    # yardımcısı TUNÇ, kulüp sözcüsü AK, başkan vekili UZ)
    "yardımcı", "sözcü", "vekil", "temsilci",
}

# coordinating conjunctions that can conjoin finite clauses (shared with
# the parser's conjunct segmentation); single tokens only — the bigram
# "ya da" is matched by _next_is_coord below (a membership test on one
# token can never see a two-word entry)
_COORD_CONJS = {"ve", "veya", "ama", "fakat", "ancak"}


def _next_is_coord(tokens, idx) -> bool:
    """True when the token after ``idx`` opens a coordinating conjunction,
    including the two-word 'ya da' (ya alone is the question particle and
    must NOT trigger the clause-coordination bonus)."""
    n = len(tokens)
    if idx + 1 >= n:
        return False
    nxt = to_lower(tokens[idx + 1])
    if nxt in _COORD_CONJS:
        return True
    return nxt == "ya" and idx + 2 < n and to_lower(tokens[idx + 2]) == "da"

# converb (adverbial-clause) tags — mirror of dep_parser._CONVERB_TAGS
# (defined locally to keep this module import-independent)
_CONVERB_TAG_SET = {"When", "AfterDoingSo", "ByDoingSo", "While",
                    "AsLongAs", "WithoutHavingDoneSo"}

# spatial relational nouns: possessed-case forms (altına, üstünde,
# arasında) head postposition-like oblique frames (shared with the
# dependency parser's adjacency/transparency logic)
SPATIAL_ROOTS = {
    "alt", "üst", "ön", "arka", "yan", "iç", "dış", "orta", "ara",
    "üzeri", "üzer", "karşı", "çevre",
}

# izafet heads whose possessor is conventionally a bare PLURAL noun —
# the closed institutional class (Bakanlar KURULU, öğretmenler ODASI,
# Milletler CEMİYETİ, işçiler SENDİKASI).  Outside this class a plural
# bare-Nom next to an Acc/P3sg homograph is a subject next to an
# object (Organizatörler ETKİNLİĞİ erteledi), not an izafet possessor.
# loan-î citation adjectives whose surface doubles as a true Acc/P3sg
# segmentation of a dictionary noun (merkez+i/merkezî, tarih+i/tarihî,
# asker+i, resim+i, din+i, ilim+i): the only adjective class where an
# "Adj before finite verb" configuration hides an accusative object
_LOAN_I_ACC_ADJS = {"merkezi", "tarihi", "askeri", "resmi", "dini",
                    "ilmi", "madeni"}

# genuine -In-final lexemes whose truncation is ALSO a listed stem
# (motor/motorin, albüm/albümin): these must keep their base paradigm
# and stay out of the genitive-shaped junk-stem penalty below.  Curated
# from the 257 stem-list entries matching the junk shape — the rest are
# inflected genitives the reference list carries as stems (durumun,
# istanbulun, krizin, personelin, ...)
_GENUINE_IN_FINAL_STEMS = {
    # substances / loanwords
    "benzin", "motorin", "albümin", "sakarin", "parafin", "kafein",
    "kokain", "florin", "baritin", "divitin", "kobaltin", "nitratin",
    "istanbulin", "marjin", "kantin",
    # native -In nouns / adjectives
    "miskin", "keskin", "saygın", "baskın", "yangın", "tayfun",
    "talkın", "terkin", "teskin", "tarhun", "memurin", "nazenin",
    "apansızın", "birgün",
    # proper-name lexemes in everyday use
    "martin", "michelin", "kamerun", "filipin", "enderun", "feridun",
    "yasemin", "nermin", "aytekin", "gültekin", "iskenderun",
}

_PL_IZAFET_HEADS = {
    "kurul", "oda", "cemiyet", "sendika", "birlik", "meclis", "derneğ",
    "dernek", "federasyon", "konfederasyon", "topluluk", "topluluğ",
    "ligi", "lig",
}


# grammaticalized postpositions: frozen possessed-case nominals that
# function as ADP after a bare/genitive complement (yağmur YÜZÜNDEN iptal
# edildi, çalışmaları SAYESİNDE kazandı) — UD Turkish treebanks tag the
# postpositional use ADP + case
_GRAMMAT_ADPS = {
    "yüzünden", "sayesinde", "uğruna", "hakkında", "boyunca",
    # possessed-instrumental members of the same class (blind-2 showed
    # the class was under-enumerated: nedeniyle)
    "nedeniyle", "sebebiyle", "dolayısıyla", "aracılığıyla", "sonucunda",
    "kapsamında", "çerçevesinde", "doğrultusunda",
    # blind-3 confirmed the class was still under-enumerated (ardından
    # after a genitive complement); remaining productive members
    "ardından", "uyarınca", "gereğince", "itibarıyla", "itibariyle",
    "adına", "açısından", "bakımından",
    # blind-7 confirmed the temporal sub-class was still missing its
    # possessed-locative members (Kaza SONRASINDA yol kapatıldı — the
    # instrumental twins nedeniyle/sonucunda were listed, the locatives
    # were not)
    "sonrasında", "öncesinde", "sırasında", "esnasında",
}
# NOTE: "tarafından" is NOT in the list — this repo's gold convention
# (tuning 104, blind-4) keeps the agentive passive as NOUN+obl with an
# nmod agent, the UD-BOUN treatment

# material nouns modify as NOUN+nmod in UD (cam kavanoz, ahşap ev,
# demir kapı) even where the lexicon also lists an Adj reading — keep
# them out of the noun->ADJ attributive rewrites
_MATERIAL_NOUNS = {
    "cam", "demir", "çelik", "ahşap", "taş", "altın", "gümüş", "bakır",
    "mermer", "beton", "plastik", "deri", "yün", "ipek", "tahta",
    "kağıt", "naylon", "porselen", "kadife", "kömür", "maden",
    "ceviz", "zeytin", "bez",
    # offspring/kind attributives share the mechanism (YAVRU levrekleri
    # kafeslere dağıttı — yavru modifies as NOUN+nmod per TDK's noun
    # listing, like the material class)
    "yavru",
    # degree-juxtaposition nouns share the mechanism (REKOR ziyaretçi
    # ağırladı, rekor katılım)
    "rekor",
}

_MORPH_TO_UPOS = {
    "Noun": "NOUN",
    "Adj": "ADJ",
    "Adverb": "ADV",
    "Verb": "VERB",
    "Pron": "PRON",
    "Det": "DET",
    "Conj": "CCONJ",
    "Postp": "ADP",
    "Ques": "AUX",
    "Interj": "INTJ",
    "Num": "NUM",
    "Punc": "PUNCT",
    "Dup": "X",
    "Unknown": "NOUN",  # unanalyzable content words are usually nominals
}


def upos_from_analysis(analysis: str) -> str:
    """Morph analysis string -> UD UPOS.  The PoS is the first tag of the
    LAST derivation group (after the final ^DB), with Prop -> PROPN
    (reference get_pos_from_analysis, _yildiz_analyzer.py:531-535)."""
    tags_str = analysis.split("+", 1)[1] if "+" in analysis else analysis
    if "^" in tags_str:
        tags_str = tags_str[tags_str.rfind("^") + 4 :]  # skip '^DB+'
    tags = tags_str.split("+")
    if tags[0] == "Noun" and len(tags) > 1 and tags[1] == "Prop":
        return "PROPN"
    if tags[0] == "Noun" and len(tags) > 1 and tags[1] == "Time":
        return "NUM"  # digit tokens analyzed Noun+Time (29, 2024)
    return _MORPH_TO_UPOS.get(tags[0], "X")



# Turkish lowering differs from str.lower() only on dotted/dotless I;
# the other uppercase letters lower correctly via unicode.  One
# translate + lower replaces the old 7-replace chain, and the islower()
# fast path skips already-lowercase running text entirely (~30% of the
# pure-python kernel time went to this function before).
_TR_LOWER_FIX = str.maketrans({"İ": "i", "I": "ı"})


def to_lower(text: str) -> str:
    if text.islower():
        return text
    # token-sized inputs repeat massively across the annotation stack;
    # memoize those, pass long texts (normalizer inputs) straight through
    if len(text) <= 40:
        return _to_lower_cached(text)
    return text.translate(_TR_LOWER_FIX).lower()


@lru_cache(maxsize=65536)
def _to_lower_cached(text: str) -> str:
    return text.translate(_TR_LOWER_FIX).lower()


_ASCIIFY = str.maketrans("İÇĞÜŞÖıçğüşö", "ICGUSOicgusö")


def _asciify(text: str) -> str:
    return text.translate(_ASCIIFY)


def capitalize(text: str) -> str:
    if len(text) > 1:
        return _asciify(text[0]).upper() + to_lower(text[1:])
    return text


# Existential copular paradigm (var/yok + zero-copula TAM endings): the
# vendored suffix model composes these for true Verb stems only, so the
# closed inflected forms are supplied here (same format as the exact-lookup
# table: "suffix/root+Tag+...").  Without them "yoktu" falls through to
# Unknown and the parser loses the existential-subject rule.  Applied as a
# short-circuit in _analyze_one — NOT inside CandidateGenerator, whose
# get_analysis_candidates stays byte-parity with the reference algorithm
# (tests/test_reference_parity.py::test_candidate_generator_parity).
_EXISTENTIAL_EXACT = {
    root + sfx: [f"{sfx}/{root}+Adj+DB+Verb+Zero+{tam}+A3sg"]
    for root, endings in (
        ("var", (("dı", "Past"), ("dır", "Pres+Cop"), ("mış", "Narr"),
                 ("sa", "Cond"))),
        ("yok", (("tu", "Past"), ("tur", "Pres+Cop"), ("muş", "Narr"),
                 ("sa", "Cond"))),
    )
    for sfx, tam in endings
}


# irregular 'su' possessive paradigm: su takes -yU possessives (suyu,
# suyun, suyunu ...) where regular vowel-final stems take -sI, so the
# generated suffix fixture rightly lacks y-linked P3sg rows; the closed
# paradigm is supplied exactly (same format as the exact-lookup table).
# Without it "nehrin suyu" loses its izafet reading to the Acc homograph.
_IRREGULAR_EXACT = {
    "suyu": ["yu/su+Noun+A3sg+P3sg+Nom", "yu/su+Noun+A3sg+Pnon+Acc"],
    "suyun": ["yun/su+Noun+A3sg+Pnon+Gen", "yun/su+Noun+A3sg+P2sg+Nom"],
    "suyunu": ["yunu/su+Noun+A3sg+P3sg+Acc"],
    "suyuna": ["yuna/su+Noun+A3sg+P3sg+Dat"],
    "suyunda": ["yunda/su+Noun+A3sg+P3sg+Loc"],
    "suyundan": ["yundan/su+Noun+A3sg+P3sg+Abl"],
    "suyuyla": ["yuyla/su+Noun+A3sg+P3sg+Ins"],
}


# Lexicon gap repairs: common dictionary words the reference's 78k stem
# list lacks (or lists under only one PoS).  'çıkar' is the lexicalized
# -Ar causative of çık- (a closed class the productive Caus machinery
# does not derive: çıkarıyor/çıkaracak were Unknown without it); the
# nominals are high-frequency lexicalized derivations whose citation
# forms never appear in the flag list.  Kept deliberately tiny — the
# productive fallback covers ordinary OOV; this is for words whose
# ABSENCE breaks disambiguation of their inflected forms.
_STEM_PATCH: dict = {
    "çıkar": ["Verb"],     # çıkarmak 'take out / release / publish'
    "atama": ["Noun"],     # 'appointment (to a post)'
    "eşlik": ["Noun"],     # 'accompaniment' (eşliğinde frames)
    "pahalı": ["Adj"],     # lexicalized paha+lI; its absence left
                           # pahalılaştı (-lAş Become chain) Unknown
    # fossilized -evi institution compounds: without the whole-word
    # stem, Aşevi falls to a bogus aşev+Acc cut and becomes an object
    "aşevi": ["Noun"], "huzurevi": ["Noun"], "bakımevi": ["Noun"],
    "doğumevi": ["Noun"], "orduevi": ["Noun"], "öğretmenevi": ["Noun"],
    "basımevi": ["Noun"], "yayınevi": ["Noun"], "gözlemevi": ["Noun"],
    # same fossil class, household/geography compounds (Buzdolabı fell
    # to a bogus buzdolab+Acc cut and became a fronted object)
    "buzdolabı": ["Noun"], "denizaltı": ["Noun"], "hanımeli": ["Noun"],
    "ayakkabı": ["Noun"], "anaokulu": ["Noun"],
    # dual Noun/Adj citation stems the lexicon lists as Noun only:
    # attributive uses (ANTİKA saatleri topladı, KIŞLIK lastikleri
    # çıkardı) need the Adj twin for the NomD dual-stem machinery,
    # same class as kaçak/dolu
    "antika": ["Adj"], "kışlık": ["Adj"], "yazlık": ["Adj"],
    # ... and 'ham' (raw), whose attributive use (HAM petrolü damıttı)
    # is the modern default while the list carries only the Noun
    "ham": ["Adj"],
    # the for-rent/for-sale pair, same citation-adjective class
    # (KİRALIK daireyi gezdirdi), and the purposive -lIk attributive
    # (HEDİYELİK eşyaları sarmaladı)
    "kiralık": ["Adj"], "satılık": ["Adj"], "hediyelik": ["Adj"],
    # fossilized -ArAsI compound adjectives (Şehirlerarası fell to a
    # bogus şehirleraras+P3sg cut and claimed the subject slot)
    "şehirlerarası": ["Adj"], "uluslararası": ["Adj"],
    "milletlerarası": ["Adj"], "kıtalararası": ["Adj"],
    # fossilized -yolu transport compounds (Havayolu = the airline, a
    # citation stem, not hava+yol+Acc)
    "havayolu": ["Noun"], "demiryolu": ["Noun"], "karayolu": ["Noun"],
}


@lru_cache(maxsize=1)
def _patched_stem_dict() -> dict:
    out = dict(resources.stem_dict())
    for stem, tags in _STEM_PATCH.items():
        out[stem] = sorted(set(tags) | set(out.get(stem, [])))
    return out


# words whose candidate lists each generator keeps (LRU); about 0.5 kB a
# word over inflected dictionary nouns, so a full memo is a few MB
_CANDIDATE_MEMO_MAX = 8192


class CandidateGenerator:
    """Rule engine producing (root, suffix, tags) candidates per token.

    ``get_analysis_candidates`` is memoized per instance in a bounded LRU
    (``_CANDIDATE_MEMO_MAX`` words): the selection layer, the PoS reading
    classes and the post-passes ask for the same token's candidates, and
    every caller shares the returned list, so none may mutate it."""

    def __init__(self, stem_dic=None, suffix_dic=None, exact_table=None):
        self.stem_dic = stem_dic if stem_dic is not None else _patched_stem_dict()
        self.suffix_dic = suffix_dic if suffix_dic is not None else resources.suffix_dict()
        self.exact = exact_table if exact_table is not None else resources.exact_lookup()
        for k, v in _IRREGULAR_EXACT.items():
            self.exact.setdefault(k, v)
        self._parsed: dict = {}
        self.get_analysis_candidates = lru_cache(maxsize=_CANDIDATE_MEMO_MAX)(
            self._analysis_candidates)

    # --- split enumeration + phonology ---------------------------------

    def _add(self, stem: str, suffix: str, roots: list, suffixes: list) -> None:
        if "'" in suffix:
            roots.append(stem)
            suffixes.append(suffix)
            return
        # bana/sana -> ben/sen
        if suffix == "a" and stem in _PRONOUN_SWAP:
            roots.append(_PRONOUN_SWAP[stem])
            suffixes.append("a")
            return
        roots.append(stem)
        suffixes.append(suffix)
        # consonant derivation: his+si -> hissi (doubled final consonant)
        if (
            len(stem) > 2
            and suffix
            and stem[-1] == suffix[0]
            and stem[-1] in _CONSONANTS
        ):
            roots.append(stem)
            suffixes.append(suffix[1:])
        # vowel narrowing before -yor: bekli+yor -> bekle
        elif "yor" in suffix and len(stem) > 1 and _ENDS_NARROW.search(stem):
            if stem[-1] in "iü":
                roots.append(stem[:-1] + "e")
                suffixes.append(suffix)
            elif stem[-1] in "ıu":
                roots.append(stem[:-1] + "a")
                suffixes.append(suffix)
        # vowel drop: ağz+ım -> ağız
        if (
            len(stem) > 2
            and _ENDS_TWO_CONSONANT.search(stem)
            and _STARTS_VOWEL.match(suffix or "")
        ):
            first = to_lower(suffix[0])
            dropped: list = []
            if first in "uüıi":
                dropped.append(stem[:-1] + first + stem[-1])
            elif first == "e":
                for v in ("i", "ü"):
                    dropped.append(stem[:-1] + v + stem[-1])
            elif first == "a":
                for v in ("ı", "u"):
                    dropped.append(stem[:-1] + v + stem[-1])
            for cand in dropped:
                # the vowel-drop noun class is short citation stems
                # (alın, burun, oğul, şehir, akıl, ömür): a LONG
                # restored form ending in the deverbal -Im is never a
                # drop noun (aktarma != aktarım+a, yatırma != yatırım+a)
                if len(cand) >= 6 and cand[-2:] in ("ım", "im", "um",
                                                    "üm"):
                    continue
                roots.append(cand)
                suffixes.append(suffix)
                # drop + voicing combine in one stem class: kayb+ı has
                # BOTH the dropped high vowel restored AND the final
                # obstruent voiced (kayıp -> kaybı, the ağız->ağzı
                # pattern with a kitap->kitabı final) — harden the
                # restored form too so the citation stem is reachable
                if cand[-1] in _SOFTEN:
                    roots.append(cand[:-1] + _SOFTEN[cand[-1]])
                    suffixes.append(suffix)
        # final soft-consonant hardening: kitab -> kitap
        if len(stem) > 2 and _ENDS_SOFT.search(stem):
            roots.append(stem[:-1] + _SOFTEN[stem[-1]])
            suffixes.append(suffix)

    def _stem_suffix_candidates(self, word: str) -> Tuple[list, list]:
        roots: list = []
        suffixes: list = []
        low = to_lower(word)
        upper = _STARTS_UPPER.match(word) is not None
        # Turkish lowering is per code point except for the Greek final
        # sigma, so the root and suffix of every split are slices of the
        # one lowered word; otherwise each slice is lowered on its own
        sliced = len(low) == len(word) and "Σ" not in word
        head = _asciify(word[:1]).upper()
        sdic = self.suffix_dic
        for i in range(1, len(word)):
            suffix = low[i:] if sliced else to_lower(word[i:])
            # _add emits only `suffix` or `rest`, and _tags_for_suffix
            # resolves only the empty suffix, a table key or "'" + a key:
            # a split where neither resolves yields no candidate
            rest = suffix[1:]
            if not (suffix in sdic or not rest or rest in sdic
                    or (rest[0] == "'" and rest[1:] in sdic)):
                continue
            self._add(low[:i] if sliced else to_lower(word[:i]), suffix,
                      roots, suffixes)
            if upper:
                if not sliced:
                    cap = capitalize(word[:i])
                elif i > 1:
                    cap = head + low[1:i]
                else:
                    cap = word[0]  # capitalize() leaves one letter as it is
                self._add(cap, suffix, roots, suffixes)
        suffixes.append("")
        roots.append(low)
        if upper:
            suffixes.append("")
            roots.append(capitalize(word))
        roots = [_ROOT_TRANSFORM.get(r, r) for r in roots]
        return roots, suffixes

    # --- tag lookup -----------------------------------------------------

    def _parsed_tags(self, suffix: str) -> tuple:
        """``(first, seq, joined)`` per tag of ``suffix``, in sorted tag
        order: ``first`` is the tag the stem must carry, ``seq`` the split
        tag sequence and ``joined`` its analysis-string form.  Memoized
        per suffix; bounded by the suffix table."""
        hit = self._parsed.get(suffix)
        if hit is not None:
            return hit
        if suffix:
            if suffix in self.suffix_dic:
                tags = list(self.suffix_dic[suffix])
                if suffix.startswith("'") and suffix[1:] in self.suffix_dic:
                    tags += self.suffix_dic[suffix[1:]]
            elif suffix.startswith("'") and suffix[1:] in self.suffix_dic:
                tags = list(self.suffix_dic[suffix[1:]])
            else:
                return ()
        else:
            tags = list(self.suffix_dic.get("null", []))
        res = []
        for tag in sorted(set(tags)):
            seq = tuple(_TAG_SEP.split(tag))
            first = seq[0]
            if len(seq) > 1 and seq[1] in ("Prop", "Time"):
                first = "+".join(seq[:2])
            res.append((first, seq, "+".join(seq).replace("+DB", "^DB")))
        hit = self._parsed[suffix] = tuple(res)
        return hit

    def _tags_for_suffix(self, suffix: str, stem_tags=None) -> list:
        return [list(seq) for first, seq, _j in self._parsed_tags(suffix)
                if stem_tags is None or first in stem_tags]

    # --- candidate assembly --------------------------------------------

    def _analysis_candidates(self, word: str):
        """Returns list of (root, suffix, tags) where tags is a list of tag
        strings, or the literal string 'Unknown' for the fallback."""
        low = to_lower(word)
        if low in self.exact:
            out = []
            for analysis in self.exact[low]:
                suffix, rest = analysis.split("/", 1)
                parts = _TAG_SEP.split(rest)
                out.append((parts[0], suffix, parts[1:]))
            return out

        out = []
        seen: set = set()
        roots, suffixes = self._stem_suffix_candidates(word)
        for root, suffix in zip(roots, suffixes):
            if _NON_WORD.match(root):
                stem_tags = ["Num", "Noun+Time"] if _HAS_DIGIT.search(root) else ["Punc"]
            elif root not in self.stem_dic:
                if not suffix:
                    continue
                if "'" in suffix and suffix in self.suffix_dic:
                    stem_tags = ["Noun+Prop"]
                else:
                    continue
            else:
                stem_tags = list(self.stem_dic[root])
                upper = _STARTS_UPPER.match(root)
                if not upper and "Noun+Prop" in stem_tags:
                    stem_tags.remove("Noun+Prop")
                elif upper and "Noun+Prop" in stem_tags:
                    stem_tags = ["Noun+Prop"]
                elif (
                    suffix.startswith("'")
                    and suffix in self.suffix_dic
                    and "Noun+Prop" in stem_tags
                ):
                    stem_tags = ["Noun+Prop"]
                elif upper:
                    continue
            lroot = None
            for first, seq, joined in self._parsed_tags(suffix):
                if first not in stem_tags:
                    continue
                if lroot is None:
                    lroot = to_lower(root)
                key = lroot + "+" + joined
                if key not in seen:
                    seen.add(key)
                    out.append((lroot, suffix, list(seq)))
        if not out:
            out.append((low, "", "Unknown"))
        return out


class HeuristicDisambiguator:
    """Deterministic context-aware candidate selector (surrogate for the
    reference's context-GRU scorer — same selection interface)."""

    def __init__(self):
        self.known = resources.known_words()
        self.stems = _patched_stem_dict()
        # typed NER gazetteer doubles as a proper-noun prior: a sentence-
        # initial capitalized token has no positional Prop signal, but a
        # gazetteer hit (Ali, Murat, İzmir) disambiguates name-vs-common-
        # noun homographs (murat 'wish' vs Murat the name)
        self.gazetteer = {
            to_lower(w) for w, lbl in resources.ner_gazetteer().items() if lbl != "ORGKEY"
        }

    def _in_stems(self, root: str) -> bool:
        return root in self.stems or capitalize(root) in self.stems

    def score(
        self,
        root: str,
        suffix: str,
        tags,
        idx: int,
        tokens: Sequence[str],
        has_segmented_rival: bool,
        has_finite_rival: bool = False,
        prev_case: str = "",
        has_plain_finite_rival: bool = False,
        has_whole_rival: bool = False,
        has_pass_rival: bool = False,
        has_converb_rival: bool = False,
        has_adj_whole_rival: bool = False,
        has_seg_rival_nonp1: bool = True,
        has_any_rival: bool = False,
        has_acc_rival: bool = False,
    ) -> float:
        if tags == "Unknown" or tags == ["Unknown"]:
            return -1000.0
        s = 1.0 * len(root)
        if self._in_stems(root):
            s += 40.0
        if root in self.known:
            s += 10.0
        # voiced-boundary evidence for UNKNOWN stems: final b/c/d/ğ before
        # a vowel-initial suffix normally arises from k/t/p/ç voicing at
        # the morpheme boundary, so that cut is where the real split is
        # (kirliliğ+inden, sakatlığ+ına).  A bonus, not a hard filter:
        # loan stems genuinely end in b/c/d (ahad, metod, web) and their
        # rival cuts must stay competitive.
        if (
            suffix
            and root[-1:] in "bcdğ"
            and suffix[:1] in "aeıioöuü"
            and not self._in_stems(root)
            and root not in self.known
        ):
            s += 6.0
        tag_set = set(tags)
        first = tags[0]
        token = tokens[idx]
        # sentence-final (before trailing punctuation) verbs are likely
        sent_final = idx == len(tokens) - 1 or all(
            _NON_WORD.match(t) for t in tokens[idx + 1:]
        )
        if first == "Verb":
            # final-obstruent voicing is a NOMINAL alternation (kitap ->
            # kitabı); verb stems keep their voiceless final before
            # vowel-initial suffixes (sap+Ar = sapar, never *sabar) except
            # the closed t->d class (git+Iyor = gidiyor).  A verb reading
            # whose stem surfaces voiced (sabır != sap+Aor) is bogus.
            low_tok = to_lower(token)
            pre = low_tok[: len(root)]
            if (
                suffix
                and len(root) >= 2
                and pre != root
                and pre[:-1] == root[:-1]
                and root[-1] in "pçtk"
                and pre[-1:] in ("b", "c", "d", "ğ", "g")
                and not (root[-1] == "t"
                         and root in ("git", "et", "tat", "güt", "dit"))
            ):
                s -= 20.0
            # participle / verbal-noun derivations are not sentence-final
            # predicates; finite readings are (yapacak. = Fut, not FutPart)
            deriv = tag_set & {
                "PresPart", "FutPart", "PastPart", "Agt", "Inf", "Inf2",
                "Inf3", "Ness", "With", "Without", "Rel", "Ly",
            }
            if "Imp" in tag_set:
                if sent_final:
                    s += 2.0 if has_finite_rival else 25.0
                else:
                    s += -15.0
            elif sent_final:
                s += 8.0 if not deriv else -4.0
            if not deriv and tag_set & {"Aor", "Past", "Prog1", "Fut", "Narr"}:
                # finite readings beat nominal homographs also mid-sentence
                # (arttı = art+Past, not 'its remainder')
                s += 2.0
                # ... but a 1st/2nd-SINGULAR finite reading against a
                # whole-word noun is quotative-register only: in web
                # prose the lexicalized noun wins (Komşulara YARDIM
                # edildi = yardım the noun, not yar+Past+A1sg)
                if tag_set & {"A1sg", "A2sg"} and has_whole_rival:
                    s -= 1.0
                # an oblique complement to the left selects the verb over
                # a whole-word noun homograph (yola çıktı, parkta koştu
                # != 'the printout' / 'its parallel').  After a locative
                # the Aorist stays out: -Ar 3sg readings collide with
                # plural nouns (mahallede ELEKTRİKLER != elektrikle+Aor)
                if prev_case in ("Dat", "Abl") or (
                    prev_case == "Loc" and "Aor" not in tag_set
                ):
                    s += 6.0
                # clause coordination: a finite verb directly before a
                # coordinating conjunction is the first conjunct's
                # predicate (çadır KURDU ve ... dağıttı = kur+Past, not
                # kurt+P3sg); possessed-noun homographs before "ve" are
                # conjoined NPs and keep winning only when no finite
                # rival exists (okul müdürü ve öğretmenler)
                if _next_is_coord(tokens, idx):
                    # +8 matches the sentence-final finite bonus: the
                    # pre-coordinator slot IS clause-final for the first
                    # conjunct (parkta KOŞTU ve ... sallandı)
                    s += 8.0
            # incorporated-object frame: a bare-Nom nominal immediately
            # left is licensed only by the VERBAL reading of an Acc/Dat
            # -mA form (prim ÖDEMEYİ planlıyor = öde+Inf2, the bare
            # "prim" is its object); without that left licenser the
            # lexicalized -mA noun keeps winning (ödemeyi iade etti)
            if (
                "Inf2" in tag_set
                and "DB" in tags
                and tag_set & {"Acc", "Dat"}
                # a possessed-Nom izafet group licenses the frame the
                # same way a bare nominal does (rüzgar santrali KURMAYI
                # planlıyor)
                and prev_case in ("Nom", "NomP", "NomPl", "NomD", "NomDq")
                # the frame's verbal noun is UNPOSSESSED (ödemeyi,
                # kurmayı): a possessed -mA plural after a bare-Nom is
                # the izafet compound instead (öğretmen ATAMALARINI
                # erteledi = atama the noun; a verbal reading with a
                # possessor needs a genitive subject, not bare-Nom)
                and not tag_set & {"P3sg", "P3pl", "P1sg", "P1pl",
                                   "P2sg", "P2pl"}
            ):
                # must outweigh the lexicalized noun's whole-word margin
                # (stem-length + known-word edge ~12)
                s += 14.0
            # an oblique-case nominal directly to the left is an argument
            # looking for a licensor: the -An participle reading beats a
            # lexicalized whole-word noun homograph (Fabrikada ÇALIŞAN
            # işçiler = çalış+PresPart, not çalışan 'employee') — except
            # for title/role nouns, whose whole word stays the agent
            # (Toplantıda BAKAN konuştu)
            if (
                "PresPart" in tag_set
                and prev_case in ("Loc", "Dat", "Abl")
                and not sent_final
                and to_lower(token) not in TITLE_ROLES
            ):
                s += 10.0
            # prefer the underived finite reading over a voice-derived
            # rival (oynuyor = oyna+Prog1, not oy+Pass+Prog1)
            if "Pass" in tag_set and "DB" in tags and has_plain_finite_rival:
                s -= 6.0
            # ... except when the "underived" rival is itself a rare -Hn
            # lexicalization of the passive's base verb: karar alındı is
            # al+Pass 'was taken', almost never alın 'take offense'
            # ... or a rare -lA denominal shadowing an everyday passive:
            # pazar kuruluyor is kur+Pass 'is being set up', almost
            # never kurula- 'towel-dry'
            if root in ("alın", "kurula") and has_pass_rival:
                s -= 15.0
            # rare a-final stems whose a-drop -Iyor surface shadows an
            # everyday consonant-final verb: doluyor = dol- 'fill up',
            # almost never dola- 'wrap around'
            if root == "dola" and tag_set & {"Prog1", "Prog2"}:
                s -= 8.0
        if "Acquire" in tag_set and has_pass_rival:
            # when a denominal Acquire and a passive of the longer verb
            # stem spell the SAME surface (imza+lan- vs imzala+n-), the
            # passive parse carries the voice information downstream
            # (imzalanmadan önce = 'before being signed'); sized to beat
            # the known-lexicon gap of derived -lA verb stems
            s -= 12.0
        if first == "Noun" and root == "alındı" and has_pass_rival:
            # 'receipt' is live only as a modifier (alındı belgesi);
            # against a passive-finite rival the predicate reading wins
            # (karar alındı)
            s -= 15.0
        if first == "Noun" and "Ly" in tag_set and has_converb_rival:
            # a -CA adverb segmentation of a noun homograph (çıkın+ca
            # 'bundle-like', gelin+ce 'bride-like') loses to a converb
            # rival of the verb stem (çık+ınca, gel+ince): -HncA/-Hp
            # adverbial clauses are orders of magnitude more frequent
            # than noun+CA manner adverbs in web prose
            s -= 8.0
        if first == "Punc":
            s += 100.0
        if first == "Num" and prev_case != "Gen" and not has_finite_rival:
            # number-word whole readings beat nominal segmentation
            # homographs (iki != ik+Acc, altı != alt+P3sg) — except after
            # a genitive possessor, where the possessed reading is live
            # (masanın altı), and except against finite-verb rivals
            # (dondurma yedi = ye+Past, not 'seven')
            s += 6.0
        if first == "Conj":
            s += 6.0  # tiny closed class (ve, ama, fakat): near-certain
        if first == "Ques":
            # the question clitic is written as its own token (mı mi mu
            # mü): when a Ques candidate exists it is near-certain — the
            # rival whole-word nouns (mi 'the note E') are citation-form
            # rarities, same footing as the Conj class above
            s += 6.0
        if first == "Pron":
            s += 2.0  # closed-class readings are frequent
        if first == "Postp":
            # case-governing postpositions demand their case on the LEFT:
            # PCAbl sonra/önce/dolayı need an ablative complement, PCDat
            # göre/kadar/rağmen a dative.  Met -> the usual closed-class
            # bonus; unmet -> the reading is bogus (daha FAZLA vakit:
            # fazla+Postp+PCAbl has no ablative, the Adj reading stands).
            # PCNom postpositions (için, gibi, ile) take bare complements
            # and keep the bonus unconditionally.
            gov = next((t for t in tags if t.startswith("PC")), None)
            if gov in ("PCAbl", "PCGen", "PCIns", "PCAcc"):
                s += 6.0 if prev_case == gov[2:] else -6.0
            elif gov == "PCDat":
                # dative governors also take bare-Nom complements in the
                # equative use (okul KADAR kalabalık, çocuk GİBİ) — only
                # a non-Nom mismatched case kills the reading
                s += 6.0 if prev_case in ("Dat", "Nom", "NomP",
                                          "NomPl", "NomD",
                                          "NomDq") else -6.0
            else:
                s += 6.0  # postpositions (için, gibi, kadar) beat noun rivals
        if first == "Det":
            s += 8.0  # tiny closed class (bir, bu, şu, her...): near-certain
        if first == "Adverb" and idx == 0:
            s += 6.0  # sentence-initial adverbs (Şimdi, Sonra, ...)
        if first == "Adj" and len(tags) == 1:
            # citation-form adjectives resist over-segmentation, but the
            # bonus must stay below Pnon+Nom (5.0) so noun/adj homographs
            # in argument positions keep their nominal reading (taze
            # balık getirdi: balık = Noun, not Adj)
            s += 4.0
        if first != "Verb" and "Verb" in tag_set:
            # DERIVED verbs (Become/Acquire: kesinLEŞECEK) carry the same
            # sentence-final finite-vs-participle asymmetry as plain
            # verbs; judge the segment after the LAST derivation boundary
            last_db = len(tags) - 1 - tags[::-1].index("DB") if "DB" in tags else -1
            final_seg = set(tags[last_db + 1:])
            if sent_final:
                # zero-copula chains (aç+Adj+...+Zero+Past 'it was open')
                # keep their own penalties, and a Verb-first finite rival
                # (yenile+ndi vs yeni+lendi) needs no counterweight; only
                # derived-verb conjugations competing against OTHER
                # derived readings (kesinLEŞECEK FutPart vs Fut) earn the
                # finite bonus
                if (final_seg & {"Aor", "Past", "Prog1", "Fut", "Narr"}
                        and "Zero" not in final_seg
                        and not has_finite_rival):
                    s += 8.0
                elif final_seg & {"PresPart", "FutPart", "PastPart",
                                  "Agt", "Inf", "Inf2", "Inf3"}:
                    s -= 4.0
        # a case-marked segmentation with a dictionary root usually beats
        # the unmarked whole-word reading (baştan = baş+Abl, not
        # baştan+Nom) — except a whole-word NOUN whose only rival is a
        # P1-possessive split (yatırım vs yatır+P1sg: the lexicalized
        # -Im nominal stands)
        if (
            not suffix and first != "Adj"
            and (has_seg_rival_nonp1
                 or (has_segmented_rival and first != "Noun"))
        ):
            s -= 8.0
            # ... unless the token is capitalized MID-sentence: Turkish
            # orthography capitalizes only names there, so the whole-word
            # citation reading is a name in apposition/flat position
            # (Mimar KAYA = kaya+Nom, not kay+Dat).  Sentence-initial
            # capitals carry no such signal.
            if (
                idx > 0
                and first in ("Noun", "Adj")
                and "Nom" in tag_set
                and _STARTS_UPPER.match(token)
                and not _NON_WORD.match(tokens[idx - 1])
            ):
                s += 16.0
        # 2nd-person possessives are register-rare in web prose: when ANY
        # rival reading exists, a P2 parse needs discourse support a
        # single token can't supply (ziyaret EDEN = et+PresPart, not
        # ede+P2sg 'your ede'; bare-candidate words like baban keep it)
        if first == "Noun" and tag_set & {"P2sg", "P2pl"} and has_any_rival:
            s -= 4.0
        # ... but a possessive/genitive segmentation needs discourse
        # context a single token can't supply: when an unsegmented
        # dictionary reading exists, it wins (fırtına != fırt+P3sg+Dat,
        # Takım != takı+P1sg, ürün != ür+Gen; plain-case splits like
        # baş+tan are unaffected)
        if suffix and has_whole_rival and (
            tag_set & {"P1sg", "P1pl", "P2sg", "P2pl", "P3sg", "P3pl"}
            or "Gen" in tag_set
        ):
            s -= 5.0
        # zero-copula readings (X+DB+Verb+Zero: "evdeydi") are real but
        # rare relative to their segmentation rivals; a 1st/2nd-person
        # possessive under one ("şi+m+di" = 'it was my şi') is absurd
        if "Zero" in tag_set:
            s -= 2.0
            if tag_set & {"P1sg", "P2sg", "P1pl", "P2pl"}:
                s -= 8.0
            if not sent_final:
                # copular predicates are clause-final; a mid-clause token
                # is almost never 'tak+ım' = "I am a peg"
                s -= 12.0
        # one/two-letter roots mostly arise from over-segmentation —
        # except the plain plural of a real dictionary stem (SU+lar:
        # sular the noun, not sula+Aor)
        if suffix and len(root) <= 2 and not (
            suffix in ("lar", "ler") and self._in_stems(root)
        ):
            s -= 8.0 if len(root) == 1 else 3.0
        # gemination readings (root+suffix one char short of the surface,
        # his+i -> hissi) only exist for a closed root class; elsewhere
        # the reading steals a consonant (arttı != art+ı)
        if (
            suffix
            and len(root) + len(suffix) == len(tokens[idx]) - 1
            and root not in ("his", "hak", "zan", "af", "ret", "şık", "sır")
        ):
            s -= 6.0
        # the reference's 78k stem list contains some INFLECTED forms as
        # stems (durumun, listed as a Noun): a P3sg+Nom reading over such
        # a genitive-shaped root steals the whole-paradigm surface from
        # its base stem (oyuncunun DURUMUNU = durum+P3sg+Acc, never
        # durumun+u 'its durumun').  Penalize when the base is itself a
        # substantial stem; short bases (bas+ın, koy+un, alt+ın) are
        # real lexemes and stay out
        if (
            first == "Noun"
            and suffix
            and root[-2:] in ("ın", "in", "un", "ün")
            and len(root) - 2 >= 4
            and self._in_stems(root[:-2])
            and root not in _GENUINE_IN_FINAL_STEMS
        ):
            # every suffixed reading over the junk root competes with
            # the base-stem paradigm (durumun+u / durumun+a / ...);
            # vowel-final bases are safe by construction — their Gen is
            # the 3-char -nIn, so the 2-char strip never finds a stem
            s -= 12.0
        # t/d suffix-initial voicing assimilation is exceptionless for
        # the D-initial case morphemes: -DA/-DAn surface with t ONLY
        # after a voiceless final (kitap+tan, sanat+ta); after a vowel
        # or voiced consonant the t-initial segmentation is illegal
        # (üre+ten 'from the urea' is not a word — üreden would be —
        # so the rival üre+t+en Caus+PresPart must win)
        if (
            first == "Noun"
            and suffix[:1] == "t"
            and tag_set & {"Loc", "Abl"}
            and root[-1:] not in "fstkçşhp"
        ):
            s -= 1000.0
        # the mirror phonological kill for the BARE -t causative: it
        # attaches only to vowel/l/r-final stems (anla+t, otur+t,
        # azal+t); after any other consonant the causative surfaces as
        # -DIr/-It (uçuş+tur, kork+ut), so a t-initial segmentation
        # that is not the -DIr shape (t + high vowel + r) over a
        # consonant-final root is illegal — uçuş+t+an 'uçuştan' must
        # lose to uç+uş+tan Inf3+Abl
        if (
            first == "Verb"
            and "Caus" in tag_set
            and suffix[:1] == "t"
            and root[-1:] not in "aeıioöuülr"
            and not (len(suffix) >= 3 and suffix[1] in "ıiuü"
                     and suffix[2] == "r")
        ):
            s -= 1000.0
        # a possessed segmentation directly after a bare-Nom noun is the
        # izafet compound head; against a whole-word citation-adjective
        # homograph the compound reading wins (şehir MERKEZİ oldukça
        # kalabalık = merkez+P3sg, not merkezî+Adj)
        if (
            first == "Noun"
            and suffix
            and "P3sg" in tag_set
            and prev_case in ("Nom", "NomPl", "NomD", "NomDq")
            and has_adj_whole_rival
            # scoped to the CLOSED loan-î homograph class (merkez+i/
            # merkezî, tarih+i/tarihî, asker+i/askerî), where noun and
            # adjective are separate lexemes split by circumflex loss.
            # The earlier len-based guard over-fired on everyday
            # adjectives whose accidental noun split is archaic (Sürücü
            # KIRMIZI ışıkta durmayınca: kırmız+ı 'its crimson dye'
            # must not beat kırmızı+Adj)
            and (to_lower(token) in _LOAN_I_ACC_ADJS
                 # ... plus the institutional izafet heads, whose
                 # adjective twin is a participle homograph (Bakanlar
                 # KURULU = kurul+P3sg, never kurulu 'assembled')
                 or root in _PL_IZAFET_HEADS)
        ):
            # strong enough to override both the whole-word-rival demotion
            # (-5) and the citation-adjective bonus (+4)
            s += 8.0
        # possessed-Nom izafet needs a possessor on its LEFT (a bare-Nom
        # noun, a possessed-Nom chain head, or a genitive).  After a
        # case-less word (adjective, determiner, adverb, clause start)
        # the P3sg+Nom reading of an accusative-homograph surface is
        # unlicensed and the object reading wins: antik KENTİ gezdi,
        # kayıp ÇOCUĞU buldu — vs kar YAĞIŞI with its bare-Nom possessor,
        # which keeps the izafet reading via prev_case == "Nom".
        if (
            # derived P3sg+Nom twins (etkin+Ness+P3sg+Nom, first tag
            # Adj) join the class alongside plain stems: whenever an
            # Acc rival of the same surface exists, the izafet reading
            # needs its left possessor regardless of derivation depth
            (first == "Noun"
             or ("DB" in tag_set and "Noun" in tag_set))
            and "P3sg" in tag_set
            and "Nom" in tag_set
            and has_acc_rival
            and (
                prev_case not in ("Nom", "NomP", "Gen", "NomPl", "NomD", "NomDq")
                # a PLURAL bare-Nom licenses izafet only for the closed
                # institutional-head class (Bakanlar KURULU, öğretmenler
                # ODASI); an open-class plural (Organizatörler
                # ETKİNLİĞİ erteledi) is a subject next to an object,
                # so the Acc reading wins
                or (prev_case == "NomPl"
                    and root not in _PL_IZAFET_HEADS)
                # a QUALITY dual stem licenses no plural izafet at
                # all: a plural possessed after one reads attributive +
                # Acc (kışlık LASTİKLERİ); substance duals keep the
                # license (DOLU taneleri = hailstones)
                or (prev_case == "NomDq" and "A3pl" in tag_set
                    and root not in _PL_IZAFET_HEADS)
            )
        ):
            s -= 2.5
        # a -CI agentive over a DEVERBAL -mA noun is a profession word
        # (kavurma+cı, dondurma+cı): it outranks the paradigm-stealing
        # rare-stem rival that the longest-root tie-break would pick
        # (kavurmaç+ı 'his kavurmaç')
        if (
            first == "Noun"
            and "Agt" in tag_set
            and "DB" in tag_set
            and root[-2:] in ("ma", "me")
            # a real deverbal -mA noun, not an accidental short stem
            # (maç+ı must never fall to ma+çı)
            and len(root) >= 5
            and self._in_stems(root)
        ):
            s += 5.0
        # nominal priors: unmarked possessive > P3sg > other
        if "Pnon" in tag_set:
            s += 4.0
        elif "P3sg" in tag_set:
            s += 3.0
            # spatial relational nouns in possessed form (altına, üstünde,
            # arasında, içine) are overwhelmingly the relational reading,
            # not a homograph (altına != altın+Adj 'gold', önünde !=
            # ön+Gen): frozen postposition-like frames of Turkish
            if (
                root in SPATIAL_ROOTS
                # the surface must actually contain the root (altına,
                # üstünde) — a voiced-final segmentation (aldı != alt+ı)
                # is not the relational frame
                and to_lower(token).startswith(root)
            ):
                s += 6.0
        # 2nd-person possessive readings are vanishingly rare in web prose
        # relative to their segmentation homographs (hastane != hasta+P2sg+Dat)
        if tag_set & {"P2sg", "P2pl"}:
            s -= 3.0
        if "Nom" in tag_set:
            s += 1.0
        # a capitalized title/role noun takes its whole-word reading over
        # a case/participle segmentation of a shorter stem (Kaptan ... =
        # kaptan+Nom, not kap+Abl; Bakan != bak+PresPart)
        if (
            not suffix
            and self._in_stems(root)
            and _STARTS_UPPER.match(token)
            and to_lower(token) in TITLE_ROLES
            # the title is the COMMON-noun reading; a Prop-flagged
            # homograph of a title word (Sanatçı the place name) is not
            # what this prior is about
            and "Prop" not in tag_set
        ):
            s += 8.0
        if "Prop" in tag_set and (
            "'" in token
            or (_STARTS_UPPER.match(token) and idx > 0)
            or (_STARTS_UPPER.match(token) and to_lower(token) in self.gazetteer)
        ):
            s += 12.0  # apostrophe, mid-sentence capital, or gazetteer name
        elif "Prop" in tag_set and idx == 0 and "'" not in token:
            # sentence-initial capitalization alone is NOT a Prop signal:
            # prefer any real analysis rival (Yaşlı adam = yaş+lı, Sabah
            # kahvaltıda = sabah+Noun); novel true names keep winning
            # because their rivals are Unknown
            s -= 8.0
        return s

    def select(self, candidates, idx: int, tokens: Sequence[str],
               prev_case: str = "") -> int:
        # score every candidate: the reference's NUM_MAX_ANALYSIS cap is a
        # model-input shape, not a search bound, and the whole-word reading
        # is emitted LAST by the generator (hastane after hasta+ne)
        cands = candidates
        # a one-letter suffix barely outweighs the whole-word reading
        # (hava vs hav+a); only >=2-char NOMINAL case splits demote it
        # (baş+tan yes; toplan+tı finite-verb reading no — toplantı the
        # noun beats the passive-past verb reading)
        has_segmented_rival = any(
            sfx and len(sfx) >= 2 and not isinstance(tags, str)
            and tags and tags[0].startswith("Noun") and "DB" not in tags
            and self._in_stems(root)
            # genitive and 2nd-person-possessive splits don't demote the
            # whole word — a genitive needs a following possessed head
            # the whole-word reading doesn't, and P2sg is vanishingly
            # rare in web prose (yangın stays yangın, not yang+Gen /
            # yang+P2sg); P3sg splits still demote (günü = gün+P3sg)
            and "Gen" not in tags
            # bare -lA instrumental and -DA locative splits never demote
            # a whole-word dictionary noun (MAHALLE stays mahalle, not
            # mahal+Ins; KOMİTE stays komite, not komi+Loc — the classic
            # baş+tan demotion is ablative and still applies)
            and "Ins" not in tags
            and "Loc" not in tags
            and not {"P2sg", "P2pl"} & set(tags)
            for root, sfx, tags in cands
        )
        # a whole-word imperative loses to a finite segmentation rival
        # (içer = iç+Aor, not 'contain!'); keeps its bonus otherwise (başla)
        has_finite_rival = any(
            sfx and not isinstance(tags, str) and tags
            and tags[0].startswith("Verb")
            and {"Aor", "Past", "Prog1", "Fut", "Narr"} & set(tags)
            for _root, sfx, tags in cands
        )
        # an underived (no-DB) finite verb rival demotes voice-derived
        # readings of the same token (oynuyor: oyna+Prog1 over oy+Pass)
        has_plain_finite_rival = any(
            not isinstance(tags, str) and tags
            and tags[0] == "Verb" and "DB" not in tags
            and {"Aor", "Past", "Prog1", "Fut", "Narr"} & set(tags)
            for _root, _sfx, tags in cands
        )
        has_whole_rival = any(
            not sfx and not isinstance(tags, str) and tags
            and self._in_stems(root)
            for root, sfx, tags in cands
        )
        # does any demoting split exist BEYOND P1-possessive readings?
        # (a lexicalized -Im NOUN beats its accidental P1sg split —
        # yatırım stays yatırım, not yatır+P1sg — but P1 splits still
        # demote non-noun wholes: yarım+Num loses to the Adj reading)
        has_seg_rival_nonp1 = any(
            sfx and len(sfx) >= 2 and not isinstance(tags, str)
            and tags and tags[0].startswith("Noun") and "DB" not in tags
            and self._in_stems(root)
            and "Gen" not in tags
            and "Ins" not in tags
            and "Loc" not in tags
            and not {"P1sg", "P1pl", "P2sg", "P2pl"} & set(tags)
            for root, sfx, tags in cands
        )
        has_pass_rival = any(
            not isinstance(tags, str) and tags
            and "Pass" in tags and "DB" in tags
            for _root, _sfx, tags in cands
        )
        has_converb_rival = any(
            not isinstance(tags, str) and tags
            and tags[0].startswith("Verb")
            and set(tags) & _CONVERB_TAG_SET
            and self._in_stems(root)
            for root, _sfx, tags in cands
        )
        has_adj_whole_rival = any(
            not sfx and not isinstance(tags, str) and tags
            and tags[0] == "Adj" and self._in_stems(root)
            for root, sfx, tags in cands
        )
        # a plain accusative reading of a dictionary stem (kent+i, çocuğ+u)
        # rivals the P3sg+Nom izafet reading of the same surface — the
        # consonant-final homograph class where -(s)I possessive and -(y)I
        # accusative coincide
        has_acc_rival = any(
            sfx and not isinstance(tags, str) and tags
            and tags[0] == "Noun" and "DB" not in tags
            and "Acc" in tags and "Pnon" in tags
            and self._in_stems(root)
            for root, sfx, tags in cands
        ) or any(
            # the same rivalry holds between DERIVED twins of one root:
            # etkin+Ness+P3sg+Nom ('its etkinlik') vs etkin+Ness+Pnon+Acc
            # — the -(s)I/-(y)I homograph carries over to -lIk/-mA
            # nominalizations wholesale
            sfx and not isinstance(tags, str) and tags
            and "DB" in tags and "Acc" in tags and "Pnon" in tags
            and tags[-3:] == ["A3sg", "Pnon", "Acc"]
            and self._in_stems(root)
            and any(
                r2 == root and s2 == sfx and not isinstance(t2, str)
                and t2 and "P3sg" in t2 and "Nom" in t2
                for r2, s2, t2 in cands
            )
            for root, sfx, tags in cands
        )
        best, best_score = 0, float("-inf")
        for ci, (root, suffix, tags) in enumerate(cands):
            sc = self.score(
                root,
                suffix,
                tags if not isinstance(tags, str) else [tags],
                idx,
                tokens,
                has_segmented_rival,
                has_finite_rival,
                prev_case,
                has_plain_finite_rival,
                has_whole_rival,
                has_pass_rival,
                has_converb_rival,
                has_adj_whole_rival,
                has_seg_rival_nonp1,
                has_any_rival=len(cands) > 1,
                has_acc_rival=has_acc_rival,
            )
            # tie-break WITHIN nominal readings: prefer the longer root
            # (inflection over derivation — ağaç+P3sg over ağa+Agt), the
            # reference stemmer's own longest-match bias.  Scoped to
            # nominal-vs-nominal ties so a finite-verb reading tied with
            # a noun homograph keeps its list priority (koş+Past over
            # koşut+P3sg for 'koştu')
            tags0 = tags[0] if not isinstance(tags, str) else tags
            best_tags = cands[best][2]
            best0 = best_tags[0] if not isinstance(best_tags, str) else best_tags
            if sc > best_score or (
                sc == best_score
                and len(root) > len(cands[best][0])
                and tags0 in ("Noun", "Adj")
                and best0 in ("Noun", "Adj")
            ):
                best, best_score = ci, sc
        return best


@lru_cache(maxsize=1)
def _engine():
    return CandidateGenerator(), HeuristicDisambiguator()


def _unknown_fallback_candidates(word: str) -> list:
    """Productive nominal-inflection analyses for out-of-lexicon stems.

    Web text is full of derived and loan words the stem list lacks
    ('yağışı', 'incelemelerde', 'Google'): the reference emits
    word+Unknown there (the generator keeps that contract — parity-tested
    against the runnable reference).  This SELECTION-layer fallback
    re-runs the suffix machinery over an assumed-nominal unknown stem so
    downstream case/possession rules still work; the longest stem with a
    legal suffix parse wins, and tags are restricted to plain nominal
    inflection (an unknown stem gives no evidence for ^DB derivation).
    Returns [] when no split parses; callers then keep word+Unknown."""
    gen, _dis = _engine()
    low = to_lower(word)
    # foreign orthography or clitic apostrophes: not a Turkish inflection
    if "'" in word or "’" in word or not _TR_ALPHA.match(low):
        return []
    out: list = []
    for cut in range(len(low) - 1, 2, -1):
        stem, sfx = low[:cut], low[cut:]
        if (sfx not in gen.suffix_dic or not _harmony_ok(stem, sfx)
                or not _final_cluster_ok(stem)):
            continue
        for tag_seq in gen._tags_for_suffix(sfx, ["Noun"]):
            if "DB" in tag_seq:
                continue
            # 2nd-person possessive parses of UNKNOWN stems are noise in
            # web prose (sakatlığına = P3sg+Dat, not 'to your sakatlığı')
            if {"P2sg", "P2pl"} & set(tag_seq):
                continue
            out.append((stem, sfx, list(tag_seq)))
    # a cut whose stem is a PRODUCTIVE agentive derivation of a known
    # stem (oyun+cu, sanat+çı) is evidenced where arbitrary unknown
    # stems are not: the -CI noun behaves like a dictionary word, so its
    # cuts win outright (oyuncu+larını over oyuncuların+ı — the bare
    # longest-stem heuristic picks the wrong split for this class)
    agt = [
        (stem, sfx, tags) for stem, sfx, tags in out
        if len(stem) > 4 and len(sfx) >= 2
        and ((stem[-2:] in ("cı", "ci", "cu", "cü",
                            "çı", "çi", "çu", "çü")
              and stem[:-2] in gen.stem_dic)
             # ... and -lIk abstract nouns of known stems likewise
             # (kirli+lik: kirlilik+inden, not kirliliğin+den)
             or (len(stem) > 5
                 and stem[-3:] in ("lık", "lik", "luk", "lük",
                                   "lığ", "liğ", "luğ", "lüğ")
                 and stem[:-3] in gen.stem_dic))
    ]
    if agt:
        return agt
    # all legal cuts compete; the disambiguator's possessive/person priors
    # pick the split (işsizlik+ten Abl over işsizlikte+n P2sg), and its
    # voiced-boundary bonus prefers kirliliğ+inden over kirliliğin+den
    # WITHOUT discarding the rival cut outright — final b/c/d also occur
    # word-finally in loan stems (ahad, metod, web), where the pre-voicing
    # split assumption is wrong and the rival must stay available
    return out


_VOWELS = set("aeıioöuü")
# word-final consonant clusters Turkish phonotactics allows (incl. common
# loan finals lm/rm/zm/ns): an unknown stem ending in any other cluster is
# an artifact of a bad split (incelemelerd+e), not a word
_FINAL_CLUSTERS = {
    "lt", "rt", "nt", "st", "şt", "kt", "ft", "ht", "pt", "çt",
    "lk", "rk", "nk", "sk", "şk", "lp", "rp", "sp", "lç", "nç", "rç",
    "ls", "ns", "rs", "ks", "ps", "ts", "lf", "rf", "lm", "rm", "zm", "sm",
}


def _final_cluster_ok(stem: str) -> bool:
    if len(stem) < 2:
        return True
    a, b = stem[-2], stem[-1]
    if a in _VOWELS or b in _VOWELS:
        return True
    return (a + b) in _FINAL_CLUSTERS


_TR_ALPHA = re.compile(r"^[abcçdefgğhıijklmnoöprsştuüvyz]+$")
_BACK_V, _FRONT_V = set("aıou"), set("eiöü")


def _harmony_ok(stem: str, sfx: str) -> bool:
    """Turkish vowel harmony gate for the unknown-stem fallback: the
    suffix's first vowel must agree in backness with the stem's last vowel
    (and in rounding when the suffix vowel is high) — rejects accidental
    splits of foreign words (googl+e is not a dative)."""
    sv = next((c for c in reversed(stem) if c in _BACK_V or c in _FRONT_V), "")
    fv = next((c for c in sfx if c in _BACK_V or c in _FRONT_V), "")
    if not sv or not fv:
        return True
    if (sv in _BACK_V) != (fv in _BACK_V):
        return False
    if fv in "ıiuü":
        return (sv in "ouöü") == (fv in "uü")
    return True


# Process-wide bounded analysis cache.  Keyed on everything the selection
# depends on: the token plus its context facts (sentence-final-before-punct,
# non-initial, previous case, next-is-coordinator, previous-is-punct).  Web
# vocabulary is Zipfian, so steady-state hit rate is high; the bound caps
# worker memory on adversarial inputs.
_ANALYSIS_CACHE: dict = {}
_ANALYSIS_CACHE_MAX = 500_000


def _analyze_one(token: str, sent_final: bool, non_initial: bool,
                 prev_case: str = "", next_coord: bool = False,
                 prev_is_punct: bool = False) -> str:
    """One token's best analysis: the heuristic disambiguator's pick
    among the generator's candidates."""
    key = (token, sent_final, non_initial, prev_case, next_coord,
           prev_is_punct)
    hit = _ANALYSIS_CACHE.get(key)
    if hit is None:
        gen, dis = _engine()
        exist = _EXISTENTIAL_EXACT.get(to_lower(token))
        if exist is not None:
            # closed-class existential copula: deterministic analysis
            suffix, rest = exist[0].split("/", 1)
            parts = _TAG_SEP.split(rest)
            candidates = [(parts[0], suffix, parts[1:])]
            pick = 0
        else:
            candidates = gen.get_analysis_candidates(token)
            if len(candidates) == 1 and candidates[0][-1] == "Unknown":
                fb = _unknown_fallback_candidates(token)
                if fb:
                    candidates = fb
            # synthetic context: the one right-context fact the scorer
            # uses beyond sentence-finality is whether a coordinating
            # conjunction follows (clause-coordination prior), surfaced
            # here as a literal "ve"; the one left-context fact is
            # whether the previous token is punctuation (suppresses the
            # mid-sentence capitalized-name bonus after quotes/colons),
            # surfaced as a literal ":"
            right = [] if sent_final else (["ve"] if next_coord else ["x"])
            left = ([":"] if prev_is_punct else [""]) if non_initial else []
            ctx = left + [token] + right
            pick = dis.select(candidates, 1 if non_initial else 0, ctx,
                              prev_case)
        root, _suffix, tags = candidates[pick]
        if isinstance(tags, str):
            tags = [tags]
        hit = "+".join([root] + list(tags)).replace("+DB", "^DB")
        if len(_ANALYSIS_CACHE) >= _ANALYSIS_CACHE_MAX:
            _ANALYSIS_CACHE.clear()
        _ANALYSIS_CACHE[key] = hit
    return hit


_CASE_TAGS = ("Acc", "Dat", "Loc", "Abl", "Gen", "Ins", "Nom")

# analysis strings whose tag split and context class are kept (LRU): the
# post-passes re-read one sentence's analyses, so a small bound serves them
_TAG_SPLIT_MEMO_MAX = 2048


@lru_cache(maxsize=_TAG_SPLIT_MEMO_MAX)
def _tag_split(analysis: str) -> list:
    """``_TAG_SEP.split(analysis)``, memoized for the post-passes that
    re-read every chosen analysis; the list is shared, so callers must
    not mutate it."""
    return _TAG_SEP.split(analysis)


@lru_cache(maxsize=_TAG_SPLIT_MEMO_MAX)
def _context_case(analysis: str) -> str:
    """The left-context class a chosen analysis hands the next token's
    disambiguation: its case, with bare-Nom split into the classes
    below (memoized; a pure function of the analysis string)."""
    tags = set(analysis.split("+"))
    prev_case = next((c for c in _CASE_TAGS if c in tags), "")
    if prev_case == "Nom" and tags & {"P3sg", "P3pl", "P1sg", "P1pl",
                                      "P2sg", "P2pl"}:
        # possessed-Nom is its own context class: it heads izafet
        # chains rather than feeding them (ekibi TARİHİ konağı ...)
        prev_case = "NomP"
    elif prev_case == "Nom" and "A3pl" in tags and "Pnon" in tags:
        # a PLURAL bare-Nom is its own class too: it licenses izafet
        # only for institutional heads (Bakanlar Kurulu), not the
        # open class — see the P3sg+Nom demotion in score()
        prev_case = "NomPl"
    elif (prev_case == "Nom" and "A3sg" in tags
          and not _tag_split(analysis)[1:2] == ["Adj"]
          and "DB" not in analysis
          and "Adj" in _engine()[0].stem_dic.get(
              analysis.split("+", 1)[0], ())):
        # a bare Noun/Adj DUAL stem (kaçak, dolu) licenses singular
        # izafet heads (dolu YAĞIŞI) but not PLURAL possessed ones
        # (kaçak YAPILARI = the Acc object of a transitive, with
        # kaçak attributive) — see the matching demotion in score().
        # QUALITY duals (kışlık, yazlık, antika) never head plural
        # izafet at all (kışlık LASTİKLERİ is attributive + Acc),
        # while substance duals keep it (DOLU taneleri = hailstones)
        prev_case = ("NomDq"
                     if analysis.split("+", 1)[0]
                     in ("kışlık", "yazlık", "antika")
                     else "NomD")
    return prev_case

# bare time-period nouns that head "X sonunda/başında" izafet frames
_PERIOD_ROOTS = {"yıl", "hafta", "ay", "gün", "sezon", "dönem", "yüzyıl",
                 "asır", "maç", "film", "toplantı", "konser", "ders",
                 "sınav", "yarış", "tören", "görüşme", "seçim"}


def py_analyze_tokens(tokens: Sequence[str]) -> List[str]:
    """Tokenized sentence -> best analysis string per token (the
    ``StemmerAnalyzer.predict`` output contract, CAPITALIZE_PNONS=False).

    Left context (previous token's chosen case) feeds the disambiguator's
    homograph preferences (yola çıktı -> çık+Past, not the 'printout'
    noun); it is part of the bounded cache key."""
    out = []
    n = len(tokens)
    lows = [to_lower(t) for t in tokens]
    non_word = [_NON_WORD.match(t) is not None for t in tokens]
    # trailing-punct run: every token at or after this position is NON_WORD
    tail = n
    while tail > 0 and non_word[tail - 1]:
        tail -= 1
    prev_case = ""
    for idx, token in enumerate(tokens):
        sent_final = idx >= tail - 1
        next_coord = _next_is_coord(lows, idx)
        prev_is_punct = idx > 0 and non_word[idx - 1]
        analysis = _analyze_one(token, sent_final, idx > 0, prev_case,
                                next_coord, prev_is_punct)
        if (
            analysis == "aracı+Noun+A3sg+Pnon+Nom"
            and idx > 0
            and prev_case == "Nom"
        ):
            # the lexicalized agent noun "aracı" (broker) collides with
            # araç+P3sg; after a bare-Nom noun the izafet vehicle
            # reading is the web-prose default (SERVİS aracı tahsis
            # etti, belediye aracı) — the broker reading needs its own
            # determiner/possessor frame
            analysis = "araç+Noun+A3sg+P3sg+Nom"
        if (
            analysis == "sonunda+Adverb"
            and idx > 0
            and prev_case == "Nom"
            and out[-1].split("+", 1)[0] in _PERIOD_ROOTS
        ):
            # after a bare time-period noun the relational segmentation
            # is the izafet head (yıl SONUNDA, hafta sonunda), not the
            # lexicalized 'finally' adverb — the one homograph where the
            # whole-word adverb otherwise outscores the possessed noun
            analysis = "son+Noun+A3sg+P3sg+Loc"
        out.append(analysis)
        prev_case = _context_case(analysis)
    # LVC-nominal repair (needs RIGHT context the per-token pass lacks):
    # a chosen finite-verb reading directly before a light-verb finite
    # (tahliyesine KARAR verdi = karar the noun + ver-, never kar+Aor +
    # ver-: Turkish finite verbs do not stack) flips back to the token's
    # whole-word noun reading when the lexicon has one.  Scoped to the
    # light-verb family so -Ar -mAz reduplication converbs stay finite
    # (çıkar çıkmaz).
    gen, _dis = _engine()
    for idx in range(len(out) - 1):
        tags_i = set(_tag_split(out[idx]))
        if "Verb" not in tags_i or not tags_i & {"Aor", "Past", "Prog1",
                                                 "Fut", "Narr"}:
            continue
        nxt = _tag_split(out[idx + 1])
        if "Verb" not in nxt or nxt[0] not in ("ver", "et", "yap", "ol",
                                               "al", "kıl", "bulun"):
            continue
        if not {"Aor", "Past", "Prog1", "Fut", "Narr", "Imp"} & set(nxt):
            continue
        low = lows[idx]
        if low != out[idx].split("+", 1)[0] and "Noun" in gen.stem_dic.get(
                low, ()):
            out[idx] = low + "+Noun+A3sg+Pnon+Nom"
    # an Inf2 plural surface (-mAlArI) chosen as the Acc object after a
    # bare-Nom possessor flips to its P3sg+Nom izafet twin when the
    # clause predicate is PASSIVE (Kazı ÇALIŞMALARI ... sürdürülmektedir
    # = the izafet subject); before an active verb the Acc object
    # reading stands (Kurum YAZIŞMALARI ... şifreledi)
    for idx in range(1, len(out)):
        if ("+Inf2+" not in out[idx].replace("^", "+")
                or not out[idx].endswith("+A3pl+Pnon+Acc")):
            continue
        prv = _tag_split(out[idx - 1])
        if not ("Noun" in prv and "Pnon" in prv and "Nom" in prv):
            continue
        nxt_verb = next((a for a in out[idx + 1:]
                         if "Verb" in _tag_split(a)
                         and "Inf2" not in _tag_split(a)), None)
        if nxt_verb is not None and "Pass" in _tag_split(nxt_verb):
            out[idx] = out[idx].replace("+A3pl+Pnon+Acc",
                                        "+A3pl+P3sg+Nom")
    # every Turkish prose sentence needs a predicate: when NO chosen
    # analysis in the sentence is verbal (finite, participle, converb or
    # verbal noun) and the LAST content token has a plain finite rival,
    # the nominal homograph stole the predicate slot (Pideci hamuru
    # sabah erken YOĞURDU = yoğur+Past, never yoğurt+Acc — the noun's
    # known-word bonus outscores the verb lexically, but the clause
    # evidence is decisive).  Imperatives are excluded: zero-copula
    # nominal sentences (Hedef büyüme.) keep their reading.
    # ... and only with positive clause evidence: a case-marked nominal
    # ARGUMENT earlier in the sentence (hamuru+Acc in the yoğurdu case).
    # Bare copula-less equational sentences (Hedef büyüme. / Sonuç
    # başarı.) carry no such argument and keep their nominal reading
    # even when the final word has an Aor/Past noun-verb homograph.
    if not any("Verb" in _tag_split(a) for a in out):
        for idx in range(len(out) - 1, -1, -1):
            if not any(ch.isalpha() for ch in tokens[idx]):
                continue
            if not any(
                    ({"Acc", "Dat", "Loc", "Abl"} & set(tg))
                    # a possessed-Nom nominal is the Acc-ambiguous
                    # object shape (hamuru = hamur+P3sg+Nom / +Acc)
                    # and counts as argument evidence too
                    or {"P3sg", "Nom"} <= set(tg)
                    for tg in (_tag_split(out[j])
                               for j in range(idx))):
                break
            for root, sfx, tags in gen.get_analysis_candidates(
                    tokens[idx]):
                if (not isinstance(tags, str) and tags[0] == "Verb"
                        and "DB" not in tags
                        and {"Aor", "Past", "Prog1", "Fut",
                             "Narr"} & set(tags)):
                    out[idx] = root + "+" + "+".join(tags)
                    break
            break
    # a lexicalized deverbal-noun homograph of the kal-participle
    # (kalan 'the remainder') directly after a bare-Nom noun and before
    # a nominal is the participle in its idiomatic collocation (miras
    # KALAN evi, yadigar KALAN saat): the left nominal is the
    # participle's own argument.  Scoped to kal- — open agentive nouns
    # (çalışan sayısı 'employee count') keep their izafet reading.
    for idx in range(1, len(out) - 1):
        if out[idx] != "kalan+Noun+A3sg+Pnon+Nom":
            continue
        prv = _tag_split(out[idx - 1])
        nxt = _tag_split(out[idx + 1])
        if ("Noun" in prv and "Pnon" in prv and "Nom" in prv
                and "Noun" in nxt):
            out[idx] = "kal+Verb+Pos^DB+Adj+PresPart"
    # the mirror repair: a NOUN reading chosen for an et/ol/yap surface
    # directly AFTER a bare-Nom noun is the light-verb complex's verb
    # (kulüp başkanı istifa EDİNCE = et+When, never edinç+Dat 'to the
    # acquisition'): the bare nominal demands its support verb, and the
    # rival noun stems in this surface class are archaic
    for idx in range(1, len(out)):
        # cheap surface pre-filter: an et/ol/yap/kıl/bulun-rooted
        # candidate only exists for these prefixes — skipping the
        # candidate-generator call for everything else keeps this pass
        # out of the kernel's hot path
        if not lows[idx].startswith(
                ("ed", "et", "ol", "yap", "kıl", "bulun")):
            continue
        tags_i = _tag_split(out[idx])
        if "Verb" in tags_i:
            continue
        prv = _tag_split(out[idx - 1])
        if not (prv[0:1] and "Noun" in prv and "Pnon" in prv
                and "Nom" in prv):
            continue
        for root, sfx, tags in gen.get_analysis_candidates(tokens[idx]):
            if (not isinstance(tags, str) and tags[0] == "Verb"
                    and root in ("et", "ol", "yap", "kıl", "bulun")
                    # only UNDERIVED verb forms (edince, ederek, etti):
                    # a multiply-derived candidate is an artifact of the
                    # generator, not the support verb (taze ETTEN çekti
                    # must keep et+Abl 'from meat')
                    and "DB" not in tags
                    # ... and only SUFFIXED forms: the bare imperative
                    # reading of the naked surface (Aşçı ET suyunu
                    # süzdü) is never the support verb — every genuine
                    # complex carries tense/converb morphology (etti,
                    # edince, ederek), and the naked surface mid-
                    # sentence is the noun (et suyu = broth)
                    and "Imp" not in tags):
                out[idx] = root + "+" + "+".join(tags).replace(
                    "+DB", "^DB")
                break
    # the same repair for the frozen son-LVC frames: the Adj reading of
    # "son" directly before ver-/bul- finite is the lexicalized event
    # nominal (çalışmaya SON verdi, tartışma SON buldu), never the
    # adjective 'last' (which needs a nominal host)
    for idx in range(len(out) - 1):
        if out[idx] != "son+Adj":
            continue
        nxt = _tag_split(out[idx + 1])
        if ("Verb" in nxt and nxt[0] in ("ver", "bul")
                and {"Aor", "Past", "Prog1", "Fut", "Narr",
                     "Imp"} & set(nxt)):
            out[idx] = "son+Noun+A3sg+Pnon+Nom"
    # a whole-word adjective directly before a plain finite verb, with
    # an attributive-capable neighbor on its left and the clause's
    # subject AND Acc object both standing earlier, is the case-marked
    # noun rival (Emlakçı daireyi genç ÇİFTE gösterdi = çift+Dat 'to
    # the couple'): the adjective reading strands its neighbor hostless
    # before the verb, and the frame already has its arguments
    for idx in range(2, len(out) - 1):
        cur = out[idx]
        if cur.count("+") != 1 or not cur.endswith("+Adj"):
            continue
        nxt = _tag_split(out[idx + 1])
        if ("Verb" not in nxt
                or not {"Aor", "Past", "Prog1", "Fut", "Narr"}
                & set(nxt)):
            continue
        prv = _tag_split(out[idx - 1])
        prv_stem = prv[0]
        # final derivation segment's PoS: a derived adjective (yaşlı =
        # yaş+With, kiralık = kira+Ness) is attributive-capable too
        if "DB" in prv:
            last_db = len(prv) - 1 - prv[::-1].index("DB")
            prv_final = prv[last_db + 1] if last_db + 1 < len(prv) else ""
        else:
            prv_final = prv[1] if len(prv) > 1 else prv[-1]
        prev_attr = (prv[-1:] == ["Adj"]
                     or prv_final == "Adj"
                     or ("Adj" in gen.stem_dic.get(prv_stem, ())
                         and "Noun" in prv and "Pnon" in prv
                         and "Nom" in prv))
        if not prev_attr:
            continue
        earlier = [set(_tag_split(out[j])) for j in range(idx - 1)]
        if not any("Acc" in t for t in earlier):
            continue
        if not any("Noun" in t and "Pnon" in t and "Nom" in t
                   for t in earlier):
            continue
        cased = next(
            (root + "+" + "+".join(tags)
             for root, sfx, tags in gen.get_analysis_candidates(
                 tokens[idx])
             if not isinstance(tags, str) and sfx
             and tags[-1] in ("Dat", "Loc", "Abl", "Ins")
             and "Pnon" in tags),
            None,
        )
        if cased is None:
            continue
        out[idx] = cased.replace("+DB+", "^DB+")
        # the stranded neighbor re-reads as its attributive twin
        if prv[-1:] != ["Adj"] and "Adj" in gen.stem_dic.get(
                prv_stem, ()):
            out[idx - 1] = prv_stem + "+Adj"
    # the 'düşünce' homograph: the whole-word noun ('thought') directly
    # after a Nom/possessed-Nom NOMINAL, with a later finite verb, is
    # the düş- When-converb (tirajı DÜŞÜNCE kapağı yeniledi, üretimi
    # DÜŞÜNCE jeneratörü devreye aldı): the noun reading would need its
    # own izafet or determiner frame (bu düşünce, yeni bir düşünce),
    # never a bare-Nom left neighbor
    for idx in range(1, len(out)):
        if out[idx] != "düşünce+Noun+A3sg+Pnon+Nom":
            continue
        prv = set(_tag_split(out[idx - 1]))
        if not ({"Noun", "Nom"} <= prv or {"Noun", "Acc"} <= prv):
            continue
        if any("Verb" in _tag_split(out[j])
               and {"Aor", "Past", "Prog1", "Fut", "Narr"}
               & set(_tag_split(out[j]))
               for j in range(idx + 1, len(out))):
            out[idx] = "düş+Verb+Pos+When"
    # a -mA deverbal nominal whose surface collides with a RARE noun's
    # Dat (yükleme = yükle+Inf2 vs yüklem+Dat), directly before a PHASE
    # verb (bit-/başla-/tamamlan-), is the event nominal: phase verbs
    # select event subjects, and the Dat-goal reading has no licenser
    # (YÜKLEME bitince ambarı mühürledi).  Scoped to the phase class so
    # "bu ANLAMA gelir" keeps anlam+Dat.
    for idx in range(len(out) - 1):
        parts = _tag_split(out[idx])
        if parts[-1:] != ["Dat"] or parts[0:1] == ["Verb"]:
            continue
        nxt = _tag_split(out[idx + 1])
        if "Verb" not in nxt or nxt[0] not in ("bit", "başla", "sür",
                                               "tamamlan", "uza"):
            continue
        inf2 = next(
            (root + "+" + "+".join(tags).replace("+DB+", "^DB+")
             for root, sfx, tags in gen.get_analysis_candidates(
                 tokens[idx])
             if not isinstance(tags, str) and tags[0] == "Verb"
             and "Inf2" in tags and "Nom" in tags and "Pnon" in tags),
            None,
        )
        if inf2 is not None:
            out[idx] = inf2
    # a loan-î citation adjective directly before a plain finite verb is
    # the Acc-object segmentation when the clause already has a subject
    # (Yetkililer MERKEZİ kapattı; Rehber TARİHİ anlatıyor): an
    # adjective cannot modify a finite verb, and the manner-adverb
    # reading does not exist for this closed class.  Copular/light verbs
    # keep the predicative adjective (resmi OLDU).
    for idx in range(1, len(out) - 1):
        low = lows[idx]
        if low not in _LOAN_I_ACC_ADJS or out[idx] != low + "+Adj":
            continue
        nxt = _tag_split(out[idx + 1])
        if ("Verb" not in nxt
                or nxt[0] in ("et", "ol", "kıl", "bulun", "gel",
                              "görün", "dur", "kal", "say", "ver",
                              "yap", "al")
                # zero-copula predicates are not verb hosts for an
                # object; voice/causative derivations (kapattı) are
                or "Zero" in nxt
                or not {"Aor", "Past", "Prog1", "Fut",
                        "Narr"} & set(nxt)):
            continue
        if not any(
            "Noun" in _tag_split(o) and "Nom" in _tag_split(o)
            for o in out[:idx]
        ):
            continue
        acc = next(
            (f"{root}+" + "+".join(tags)
             for root, _sfx, tags in gen.get_analysis_candidates(
                 tokens[idx])
             if not isinstance(tags, str) and tags
             and tags[0] == "Noun" and "Acc" in tags
             and "Pnon" in tags and "DB" not in tags),
            None,
        )
        if acc:
            out[idx] = acc
    # the asker/resim/din sub-class of loan-î homographs is attributive
    # before a nominal host: their P3sg izafet readings are rare in web
    # prose (Bina ASKERİ birliklere devredildi -> askerî birlikler),
    # unlike tarih/merkez, whose possessed readings are everyday izafet
    # heads (ülke tarihi, şehir merkezi) and stay untouched
    for idx in range(len(out) - 1):
        low = lows[idx]
        if low not in ("askeri", "resmi", "dini", "madeni"):
            continue
        parts = _tag_split(out[idx])
        if parts[0] not in ("asker", "resim", "din", "maden") \
                or "P3sg" not in parts:
            continue
        # the HOST test reads the final derivation group's PoS, so a
        # deverbal noun host counts (resmi AÇILIŞLA başladı: açılış =
        # aç+Pass+Inf3 ends Noun)
        nxt_parts = _tag_split(out[idx + 1])
        if "DB" in nxt_parts:
            last_db = len(nxt_parts) - 1 - nxt_parts[::-1].index("DB")
            nxt_pos = nxt_parts[last_db + 1] \
                if last_db + 1 < len(nxt_parts) else ""
        else:
            nxt_pos = nxt_parts[1] if len(nxt_parts) > 1 else ""
        if nxt_pos == "Noun":
            out[idx] = low + "+Adj"
    # a DUAL Noun/Adj stem before a PLURAL possessed-Nom with an Acc
    # rival: when the clause already has a subject on the LEFT, the
    # plural is the Acc object and the dual is attributive (Zabıta
    # ekipleri kaçak YAPILARI mühürledi); sentence-initially the izafet
    # stands (DOLU taneleri camları kırdı)
    for idx in range(1, len(out) - 1):
        low = lows[idx]
        parts = _tag_split(out[idx])
        if (parts[0] == low
                and parts[1:2] == ["Noun"] and "Pnon" in parts
                and "Nom" in parts and "A3sg" in parts
                and "Adj" in gen.stem_dic.get(low, ())):
            nxt = _tag_split(out[idx + 1])
            if not ("A3pl" in nxt and "P3sg" in nxt and "Nom" in nxt
                    and "Noun" in nxt):
                continue
            if not any(
                "Noun" in _tag_split(o) and "Nom" in _tag_split(o)
                for o in out[:idx]
            ):
                continue
            acc = next(
                (f"{root}+" + "+".join(tags)
                 for root, _sfx, tags in gen.get_analysis_candidates(
                     tokens[idx + 1])
                 if not isinstance(tags, str) and tags
                 and tags[0] == "Noun" and "Acc" in tags
                 and "Pnon" in tags and "A3pl" in tags
                 and "DB" not in tags),
                None,
            )
            if acc:
                out[idx + 1] = acc
                out[idx] = low + "+Adj"
    # an Adverb/Adj dual stem (açık, yalnız, geri) directly before a
    # bare unpossessed nominal is the attributive adjective (AÇIK hava
    # sineması, YALNIZ kadın); the adverb reading needs a verb or
    # clause-level scope
    for idx in range(len(out) - 1):
        low = lows[idx]
        if out[idx] != low + "+Adverb":
            continue
        if "Adj" not in gen.stem_dic.get(low, ()):
            continue
        nxt_parts = _tag_split(out[idx + 1])
        if ("Noun" in nxt_parts and "Verb" not in nxt_parts
                and "Pnon" in nxt_parts
                and ("Nom" in nxt_parts
                     or not any(c in nxt_parts for c in _CASE_TAGS))):
            out[idx] = low + "+Adj"
    # clock-time frame: a numeral-Loc reading directly after bare "saat"
    # beats the pronoun homograph (Tören saat ONDA başladı != 'in it')
    for idx in range(1, len(out)):
        if lows[idx - 1] != "saat":
            continue
        if "Pron" not in _tag_split(out[idx]):
            continue
        num_loc = next(
            (f"{root}+" + "+".join(tags).replace("+DB+", "^DB+")
             for root, _sfx, tags in gen.get_analysis_candidates(
                 tokens[idx])
             if not isinstance(tags, str) and tags
             and tags[0] == "Num" and "Loc" in tags),
            None,
        )
        if num_loc:
            out[idx] = num_loc
    return out


def py_analyze_sentence(sentence: str) -> List[str]:
    from ..functions.tokenizer import py_treebank_tokenize

    return py_analyze_tokens(py_treebank_tokenize(sentence))


# array<string> tokens -> array<string> analyses
analyze_morphology = arrow_map(py_analyze_tokens, ArrayType(StringType()))


def root_of(analysis: str) -> str:
    return analysis.split("+", 1)[0]
