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
reproduces the reference's published golden outputs.  Per sentence,
``py_analyze_tokens`` chooses each token's analysis left to right from
its ``TokenContext`` (``_analyze_one``: a word no candidate analyzes is
``word+Unknown`` there; ``HeuristicDisambiguator.select`` scores only
real rivals, as named rule groups), then runs the ``MORPH_RULES``
post-passes, each ``rule(MorphState) -> None``, over the chosen analyses.

The suffix dictionary is a committed morphotactic table
(resources/suffix_tags_fixture.txt.gz), the source of truth, kept and
edited as data because the reference's full ``Suffixes&Tags.txt`` is
absent from the snapshot.

Spark mapping: one Arrow-UDF row = one tokenized sentence
(``array<string> -> array<string>``); the three lexicons are process-local
singletons inside the Python worker (shipped with the wheel — no per-task
deserialization, no driver broadcast traffic).
"""
from __future__ import annotations

import re
from functools import lru_cache
from typing import List, NamedTuple, Sequence, Tuple

from pyspark.sql.types import ArrayType, StringType

from .. import resources
from ..functions._udf import arrow_map

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

# titles / role nouns (shared with the dependency parser's mention logic:
# before a capitalized name they head the mention and the name attaches
# flat — Profesör Orhan konuştu -> Profesör nsubj, Orhan -> flat; they are
# never themselves proper nouns).  Several are segmentation-homographs of inflected shorter stems (kaptan =
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


def _next_is_coord(lows, idx) -> bool:
    """True when the lowered token after ``idx`` opens a coordinating
    conjunction, including the two-word 'ya da' (ya alone is the question
    particle and must NOT trigger the clause-coordination bonus)."""
    n = len(lows)
    if idx + 1 >= n:
        return False
    nxt = lows[idx + 1]
    if nxt in _COORD_CONJS:
        return True
    return nxt == "ya" and idx + 2 < n and lows[idx + 2] == "da"

# converb (adverbial-clause) suffixes: -(y)HncA, -(y)Hp, -(y)ArAk, -ken,
# -mAdAn.  Converbs are never finite predicates; -HncA clauses carry
# their own subject, the rest share the matrix subject.
_CONVERB_TAGS = {"When", "AfterDoingSo", "ByDoingSo", "While", "AsLongAs",
                 "WithoutHavingDoneSo"}
# subordinate (nominalized / participle) verb forms: a verb reading with
# one of these is no finite predicate
_SUBORD_TAGS = {"Inf", "Inf2", "Inf3", "FutPart", "PastPart", "PresPart"}
# finite tense tags of a verb reading
_FINITE_TAGS = {"Aor", "Past", "Prog1", "Fut", "Narr"}

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

# --- lexical classes and helpers shared by the PoS tagger and the
# dependency parser (pos.py imports them from here; dep_parser imports
# them and pos, so the import between the two runs one way)

_CAP_RE = re.compile(r"^[A-ZÇĞİIÖŞÜ]")

# words UD-Turkish treebanks tag ADV regardless of the morph table's
# nominal reading (dün = 'yesterday', not 'yesterday-the-noun')
_TEMPORAL_ADVS = {
    "dün", "bugün", "yarın", "şimdi", "demin", "artık", "hemen", "henüz",
    "hâlâ", "hala", "bazen", "asla", "belki", "yine", "gene", "ayrıca",
    "ardından", "sonunda", "birlikte", "beraber", "erkenden", "yeniden",
    "tekrar", "önce", "sonra", "erken", "geç", "gerçekten",
    # bare "yakında" is the lexicalized adverb ('soon' / 'nearby'); the
    # possessed spatial form (yakınında) never matches this surface
    "yakında",
    # lexicalized manner adverbs (Ins-case in the morph table).
    # "zamanında" is NOT here: UD keeps it a Loc-possessed NOUN oblique
    # (Borç ZAMANINDA ödenmezse -> zaman+P3sg+Loc, obl)
    "başarıyla", "hızla", "dikkatle", "özenle", "içeri", "dışarı",
    "sırayla", "önceden", "sonradan",
}

# degree adverbs: advmod to a following ADJ/ADV
_DEGREE_ADVS = {"çok", "en", "daha", "pek", "gayet", "oldukça", "epey", "az"}

# temporal noun ROOTS: bare-nominative time expressions are obl, never
# subjects/objects (sabah kalktım)
_TEMPORAL_ROOTS = {
    "sabah", "akşam", "gece", "öğle", "gündüz", "hafta", "yıl", "ay",
    "gün", "sene", "yaz", "kış", "bahar", "sonbahar", "ilkbahar",
    "dakika", "saat", "saniye", "dönem", "çeyrek", "mevsim", "asır",
    "sezon",
    "yüzyıl", "pazartesi", "salı", "çarşamba", "perşembe", "cuma",
    "cumartesi", "pazar",
    # frequency nouns behave identically (üçüncü KEZ kazandı -> obl);
    # "sefer" stays out — its trip/flight sense is a regular noun
    # (seferler durduruldu)
    "kez", "defa", "kere",
}

# transitive verb roots: used ONLY to resolve the Acc / P3sg+Nom surface
# homography next to the verb (Takım maçı kazandı = obj; Takım kaptanı
# oynadı = compound subject).  Small curated list of frequent verbs.
_TRANSITIVE_ROOTS = {
    "kazan", "oku", "gör", "izle", "seç", "al", "ver", "yap", "iç", "ye",
    "bul", "sev", "bekle", "söyle", "anlat", "duyur", "tanıt", "aç",
    "kapat", "kır", "getir", "götür", "koy", "yaz", "çiz", "öğren",
    "öğret", "bil", "iste", "dinle", "sat", "öde", "kes", "pişir",
    "hazırla", "topla", "at", "tut", "çek", "unut", "hatırla", "başlat",
    "bitir", "kur", "boz", "incele", "araştır", "savun", "eleştir",
    "destekle", "kutla", "belirle", "etkile", "sun", "gönder", "ölç",
    "yen", "taşı", "kullan", "paylaş", "yayınla", "keşfet", "genişlet",
    "işlet", "tamamla", "kovala", "şaşırt", "zorla", "yaptır", "geniş",
    "beğen", "bağışla", "yanıtla", "teslim", "gez", "say", "dağıt",
    "et", "çal", "sor", "ekle", "onar", "düzelt", "temizle", "yıka", "dile",
    "bırak", "değiştir", "kaydet", "üret", "uygula", "düzenle", "yönet",
    "çöz", "tasarla", "denetle", "tartış",
    # change-of-state causatives (renovate/improve/raise class): their
    # bare agent + ambiguous-Acc frame is the subject+object reading
    # (Belediye PARKI yeniledi)
    "yenile", "geliştir", "güçlendir", "iyileştir", "artır", "arttır",
    "azalt", "düşür", "yükselt", "büyüt", "vurgula", "hedefle",
    # frequent news-register transitives (blind-25 hardening: the
    # ambiguous Acc/P3sg frame before an UNLISTED verb defaults to the
    # izafet-subject reading, so missing members cost recall)
    "açıkla", "öner", "sürdür", "durdur", "ertele", "engelle", "önle",
    "yasakla", "sınırla", "koru", "kurtar", "kaldır", "güncelle",
    "dönüştür", "doğrula", "tanımla", "yorumla", "sorgula", "sergile",
    "suçla", "eğit", "görevlendir", "ödüllendir", "cezalandır",
    "karşıla", "ağırla", "canlandır", "zenginleştir", "pekiştir",
    "kapsa", "içer", "yayımla", "aktar", "devret", "üstlen",
    "kazandır", "kaybet", "programla", "gözlemle", "kopyala", "gizle",
    "reddet", "affet", "böl", "birleştir", "bağla", "yerleştir",
    "taşı", "karşılaştır",
    # addressee-directed communication transitives (blind-42: the
    # person-object frame KAPTAN yolcuları ... uyardı)
    "uyar", "bilgilendir", "selamla", "davet",
    # fifth-probe-sweep hardening: frequent news transitives still
    # unlisted (Kurum ... burs ve ücretsiz yemek SAĞLADI), plus the
    # blind-44 probe verbs that resolved only via adjacency
    "sağla", "oluştur", "gerçekleştir", "değerlendir", "imzala",
    "daralt", "geçir", "ilaçla", "ulaştır",
    # blind-45: arrange/lay-out class (Gözlükçü çerçeveleri cam rafa
    # DİZDİ — the izafet-subject reading left the verb objectless)
    "diz",
    # blind-48: the lexicalized -Ar causative çıkar- is transitive
    # (deri botları rafa ÇIKARDI); the intransitive çık- is a separate
    # stem and never reaches these rules
    "çıkar",
    # blind-49: artisanal process transitives (fındıkları KAVURDU,
    # hamuru MAYALADI, masaları CİLALADI)
    "kavur", "mayala", "cilala",
    # eleventh valency sweep: craft/kitchen/process transitives whose
    # stems the lexicon lists as verbs, each unambiguously transitive
    # (the productive causatives kaynat/kızart/dondur need no listing —
    # "Caus" in the tagset already obligates an object)
    "soğut", "ısıt", "zımparala", "yoğur", "öğüt", "demle", "közle",
    "ayıkla", "kırp", "aşıla", "istifle", "bük", "sar", "düğümle",
    "sürgüle", "perçinle", "lehimle", "rendele", "kapa",
    # ... and administrative/tech/judicial transitives from the same
    # sweep (mixed-valency verbs like bak/çarp/an deliberately left out)
    "feshet", "uyarla", "yedekle", "şifrele", "kodla", "dene",
    "hesapla", "anımsa", "yinele", "tekrarla", "soruştur", "tutukla",
    # experiencer transitive: its bare event-nominal complement is the
    # object (sorun yaşadı, ürün kaybı yaşadı); the residence sense
    # takes Loc obliques which never reach the object rules anyway
    "yaşa",
    # everyday physical-action transitives (the kitchen/craft class)
    "doğra", "kavur", "haşla", "dilimle", "soy", "ez", "süz", "kıy",
    "öv", "kirala", "onayla", "imzala", "yükle", "indir", "sakla",
    "boya", "dik", "yık", "sök", "tak", "as", "ser", "katla", "ütüle",
    "bas", "yay", "tart", "ölç", "say", "karıştır", "tara",
    # denominal -lA transitives (care/maintenance class: fidanları
    # SULADI) — the -lA verbalizer is near-uniformly transitive
    "sula", "yağla", "tuzla", "cilala", "parlat", "süsle", "paketle",
    "kilitle", "etiketle", "damgala", "mühürle", "listele", "besle",
    "törpüle", "fırçala", "süpür", "sil",
    # round-4 inventory sweep: perception/cognition, evaluation, and
    # everyday news-register transitives missing from the curated list
    # "işle" deliberately absent: dual valency (veriyi işledi vs faiz
    # işleyecek) keeps it in the unlisted middle class
    "belirt", "benimse", "değerlendir", "yakala", "boşalt",
    "anla", "duy", "hisset", "başar", "öngör", "planla", "amaçla",
    "yargıla", "görüntüle", "belgele", "ayır", "parçala", "fırlat",
    "ört", "kapla", "giy", "öp", "kına", "çiğne", "yut", "em",
    "derle", "özetle", "çevir", "tüket", "harca", "biriktir",
    "devral", "uğurla", "selamla", "alkışla", "arşivle", "depola",
    "sars",
    # bare-object activity verbs (top oynuyor, ders çalışıyor): take obj;
    # motion/stative intransitives (git, gel, koş, ulaş) stay out so a
    # bare preverbal nominal before them parses oblique (parka gidemedi)
    "oyna", "çalış", "söyle", "yüz", "kazan",
}

# motion / stative intransitives: a bare preverbal nominal before these
# is an oblique, not an indefinite object.  Blind-2 flipped the default
# the other way (kararlar AÇIKLADI must be obj even though açıkla is not
# enumerated above): unlisted verbs now take the object reading, which is
# the overwhelmingly more frequent frame for a bare preverbal nominal
# with the subject slot already filled.
_INTRANSITIVE_ROOTS = {
    # "ol" never takes an Acc object: possessed-Nom subjects stand
    # (Kardeşi hasta OLDU)
    "ol",
    "git", "gel", "koş", "ulaş", "dön", "kal", "otur", "yürü", "uç", "yağ",
    "düş", "çık", "gir", "in", "bat", "ak", "yat", "uyu", "dur", "kaç",
    "var", "öl", "doğ", "büyü", "gez",
    # unaccusative change-of-state verbs: no Acc object is possible, so
    # a preverbal nominal is never their obj and a later Nom nominal is
    # the subject (trafik yoğunluğu AZALDI, fiyatlar YÜKSELDİ)
    "azal", "art", "yüksel", "çoğal", "ısın", "soğu", "daral",
    "genişle", "hızlan", "yavaşla", "ucuzla", "zayıfla", "güçlen",
    "yaygınlaş",
    # completion / phase / state-change members of the same class:
    # none can take an Acc object (YARIŞ bittikten sonra — the
    # preverbal Nom is the subject, never an incorporated object)
    "bit", "başla", "sön", "eri", "kuru", "çürü", "gecik", "uyan",
    "doy", "din",
    # physical-process unaccusatives (round-4 inventory sweep): burn,
    # collapse, burst, fade, freeze, leak, boil-over, tremble, slip —
    # none take Acc objects; -lAş 'Become' derivations are handled
    # structurally by _intrans()
    "çök", "patla", "sol", "don", "kok", "şiş", "parla", "titre",
    "kay", "zıpla", "sıçra", "tüken", "yan", "piş", "kop", "sız",
    "düzel", "dol", "değiş",
}

# round-5 bulk valency induction: the curated transitive list above is
# the PRECISION core (~300 hand-verified roots, grown 12-per-sweep over
# rounds 3-4); the induced file is the RECALL sweep over the whole
# ~2,450-verb lexicon — verbs whose passive paradigm is attested >=3
# independent ways in the known-words derivational dictionary
# (personal passives presuppose a promotable object), minus a curated
# oblique-frame/mixed-valency exclusion list (scripts/induce_valency.py).
# Curated intransitives always win the merge.
def _merged_transitives() -> frozenset:
    return frozenset(_TRANSITIVE_ROOTS) | (
        resources.induced_transitives() - _INTRANSITIVE_ROOTS
    )


_TRANSITIVE_ROOTS = _merged_transitives()


@lru_cache(maxsize=1)
def _typed_gazetteer():
    gaz = resources.ner_gazetteer()
    per, typed = set(), {}
    for w, lbl in gaz.items():
        if lbl == "PER":
            per.add(to_lower(w))
        if lbl != "ORGKEY":
            typed[to_lower(w)] = lbl
    return per, typed


def _case_of(tags: set) -> str:
    """The first case tag in ``tags``, an analysis split on "+"."""
    for case in ("Acc", "Dat", "Loc", "Abl", "Gen", "Ins", "Nom"):
        if case in tags:
            return case
    return ""


def _base(token: str) -> str:
    return to_lower(token.split("'")[0].split("’")[0])


def _is_possessed(token: str, tags: set) -> bool:
    """Whether ``token``'s analysis, split on "+" and "^" into ``tags``,
    is possessed."""
    if tags & {"P1sg", "P2sg", "P3sg", "P1pl", "P2pl", "P3pl"}:
        return True
    # apostrophe-Prop analyses absorb the possessive into the root
    # (Belediyesi'nin -> belediyesi+...+Gen): recover P3sg from the
    # pre-apostrophe surface (-sH always; bare -H when the remainder is a
    # dictionary stem: Boğazı yes, Aslı no)
    if "'" in token or "’" in token:
        base = _base(token)
        if re.search(r"s[ıiuü]$", base):
            return True
        if len(base) > 3 and base[-1] in "ıiuü" and base[-2] not in "aeıioöuü":
            if base[:-1] in resources.stem_dict():
                return True
    return False


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

    def __init__(self):
        self.stem_dic = _patched_stem_dict()
        self.suffix_dic = resources.suffix_dict()
        self.exact = resources.exact_lookup()
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
            # _add emits only `suffix` or `rest`, and _parsed_tags
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


class TokenContext(NamedTuple):
    """One token and what the choice of its analysis knows of its sentence
    (``_analyze_one`` keys its cache on these fields)."""

    token: str
    sent_final: bool  # the last word before any trailing punctuation
    non_initial: bool  # a token precedes it
    prev_case: str  # the previous analysis's ``_context_case``
    next_coord: bool  # a coordinating conjunction follows (``_next_is_coord``)
    prev_is_punct: bool  # the previous token is punctuation


class Rivals:
    """The kinds of reading a token's candidate list holds, from one pass
    over it; ``HeuristicDisambiguator.score`` weighs candidates by them."""

    __slots__ = ("segmented", "seg_nonp1", "finite", "plain_finite",
                 "whole", "adj_whole", "passive", "converb", "acc")

    def __init__(self, candidates, in_stems):
        segmented = seg_nonp1 = finite = plain_finite = False
        whole = adj_whole = passive = converb = acc = False
        derived_acc, p3nom = set(), set()
        for root, sfx, tags in candidates:
            tset = set(tags)
            first = tags[0]
            stem = in_stems(root)
            # a one-letter suffix barely outweighs the whole-word reading
            # (hava vs hav+a); only >=2-char NOMINAL case splits demote it
            # (baş+tan yes; toplan+tı finite-verb reading no — toplantı the
            # noun beats the passive-past verb reading).  Genitive and
            # 2nd-person-possessive splits don't demote the whole word — a
            # genitive needs a following possessed head the whole-word
            # reading doesn't, and P2sg is vanishingly rare in web prose
            # (yangın stays yangın, not yang+Gen / yang+P2sg); P3sg splits
            # still demote (günü = gün+P3sg).  Bare -lA instrumental and
            # -DA locative splits never demote a whole-word dictionary noun
            # (MAHALLE stays mahalle, not mahal+Ins; KOMİTE stays komite,
            # not komi+Loc — the classic baş+tan demotion is ablative)
            if (len(sfx) >= 2 and first.startswith("Noun") and stem
                    and not tset & {"DB", "Gen", "Ins", "Loc", "P2sg",
                                    "P2pl"}):
                segmented = True
                # does any demoting split exist BEYOND P1-possessive
                # readings?  (a lexicalized -Im NOUN beats its accidental
                # P1sg split — yatırım stays yatırım, not yatır+P1sg — but
                # P1 splits still demote non-noun wholes: yarım+Num loses
                # to the Adj reading)
                seg_nonp1 = seg_nonp1 or not tset & {"P1sg", "P1pl"}
            if first.startswith("Verb") and tset & _FINITE_TAGS:
                # a whole-word imperative loses to a finite segmentation
                # rival (içer = iç+Aor, not 'contain!')
                finite = finite or bool(sfx)
                # an underived (no-DB) finite verb rival demotes
                # voice-derived readings of the same token (oynuyor:
                # oyna+Prog1 over oy+Pass)
                plain_finite = plain_finite or (first == "Verb"
                                                and "DB" not in tset)
            if not sfx and stem:
                whole = True
                adj_whole = adj_whole or first == "Adj"
            if "Pass" in tset and "DB" in tset:
                passive = True
            if first.startswith("Verb") and stem and tset & _CONVERB_TAGS:
                converb = True
            # a plain accusative reading of a dictionary stem (kent+i,
            # çocuğ+u) rivals the P3sg+Nom izafet reading of the same
            # surface — the consonant-final homograph class where -(s)I
            # possessive and -(y)I accusative coincide
            if sfx and stem and "Acc" in tset and "Pnon" in tset:
                if first == "Noun" and "DB" not in tset:
                    acc = True
                elif "DB" in tset and tags[-3:] == ["A3sg", "Pnon", "Acc"]:
                    derived_acc.add((root, sfx))
            if "P3sg" in tset and "Nom" in tset:
                p3nom.add((root, sfx))
        self.segmented, self.seg_nonp1 = segmented, seg_nonp1
        self.finite, self.plain_finite = finite, plain_finite
        self.whole, self.adj_whole = whole, adj_whole
        self.passive, self.converb = passive, converb
        # the same rivalry holds between DERIVED twins of one root:
        # etkin+Ness+P3sg+Nom ('its etkinlik') vs etkin+Ness+Pnon+Acc —
        # the -(s)I/-(y)I homograph carries over to -lIk/-mA
        # nominalizations wholesale
        self.acc = acc or not derived_acc.isdisjoint(p3nom)


class HeuristicDisambiguator:
    """Deterministic context-aware candidate selector (surrogate for the
    reference's context-GRU scorer)."""

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

    def score(self, root, suffix, tags, ctx: TokenContext, rivals) -> float:
        """One candidate's score: the sum of the rule groups below.  Every
        weight is a multiple of 0.5, so the sum is exact in any order."""
        tag_set = set(tags)
        return (self._lexicon_score(root, suffix)
                + self._verb_score(root, suffix, tags, tag_set, ctx, rivals)
                + self._class_score(tags, tag_set, ctx, rivals)
                + self._segment_score(root, suffix, tags, tag_set, ctx, rivals)
                + self._nominal_score(root, suffix, tags, tag_set, ctx, rivals))

    def _lexicon_score(self, root: str, suffix: str) -> float:
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
        return s

    def _verb_score(self, root, suffix, tags, tag_set, ctx, rivals):
        """Verb readings against their nominal homographs, and the voice
        and derivation rivals of a verb stem."""
        s = 0.0
        prev_case = ctx.prev_case
        if tags[0] == "Verb":
            # final-obstruent voicing is a NOMINAL alternation (kitap ->
            # kitabı); verb stems keep their voiceless final before
            # vowel-initial suffixes (sap+Ar = sapar, never *sabar) except
            # the closed t->d class (git+Iyor = gidiyor).  A verb reading
            # whose stem surfaces voiced (sabır != sap+Aor) is bogus.
            low_tok = to_lower(ctx.token)
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
                if ctx.sent_final:
                    s += 2.0 if rivals.finite else 25.0
                else:
                    s += -15.0
            elif ctx.sent_final:
                s += 8.0 if not deriv else -4.0
            if not deriv and tag_set & _FINITE_TAGS:
                # finite readings beat nominal homographs also mid-sentence
                # (arttı = art+Past, not 'its remainder')
                s += 2.0
                # ... but a 1st/2nd-SINGULAR finite reading against a
                # whole-word noun is quotative-register only: in web
                # prose the lexicalized noun wins (Komşulara YARDIM
                # edildi = yardım the noun, not yar+Past+A1sg)
                if tag_set & {"A1sg", "A2sg"} and rivals.whole:
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
                if ctx.next_coord:
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
                and not ctx.sent_final
                and low_tok not in TITLE_ROLES
            ):
                s += 10.0
            # prefer the underived finite reading over a voice-derived
            # rival (oynuyor = oyna+Prog1, not oy+Pass+Prog1)
            if "Pass" in tag_set and "DB" in tags and rivals.plain_finite:
                s -= 6.0
            # ... except when the "underived" rival is itself a rare -Hn
            # lexicalization of the passive's base verb: karar alındı is
            # al+Pass 'was taken', almost never alın 'take offense'
            # ... or a rare -lA denominal shadowing an everyday passive:
            # pazar kuruluyor is kur+Pass 'is being set up', almost
            # never kurula- 'towel-dry'
            if root in ("alın", "kurula") and rivals.passive:
                s -= 15.0
            # rare a-final stems whose a-drop -Iyor surface shadows an
            # everyday consonant-final verb: doluyor = dol- 'fill up',
            # almost never dola- 'wrap around'
            if root == "dola" and tag_set & {"Prog1", "Prog2"}:
                s -= 8.0
        if "Acquire" in tag_set and rivals.passive:
            # when a denominal Acquire and a passive of the longer verb
            # stem spell the SAME surface (imza+lan- vs imzala+n-), the
            # passive parse carries the voice information downstream
            # (imzalanmadan önce = 'before being signed'); sized to beat
            # the known-lexicon gap of derived -lA verb stems
            s -= 12.0
        if tags[0] == "Noun" and root == "alındı" and rivals.passive:
            # 'receipt' is live only as a modifier (alındı belgesi);
            # against a passive-finite rival the predicate reading wins
            # (karar alındı)
            s -= 15.0
        if tags[0] == "Noun" and "Ly" in tag_set and rivals.converb:
            # a -CA adverb segmentation of a noun homograph (çıkın+ca
            # 'bundle-like', gelin+ce 'bride-like') loses to a converb
            # rival of the verb stem (çık+ınca, gel+ince): -HncA/-Hp
            # adverbial clauses are orders of magnitude more frequent
            # than noun+CA manner adverbs in web prose
            s -= 8.0
        return s

    def _class_score(self, tags, tag_set, ctx, rivals):
        """Closed-class and part-of-speech priors."""
        s = 0.0
        first = tags[0]
        prev_case = ctx.prev_case
        if first == "Punc":
            s += 100.0
        if first == "Num" and prev_case != "Gen" and not rivals.finite:
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
        if first == "Adverb" and not ctx.non_initial:
            s += 6.0  # sentence-initial adverbs (Şimdi, Sonra, ...)
        if first == "Adj" and len(tags) == 1:
            # citation-form adjectives resist over-segmentation, but the
            # bonus must stay below Pnon+Nom (5.0) so noun/adj homographs
            # in argument positions keep their nominal reading (taze
            # balık getirdi: balık = Noun, not Adj)
            s += 4.0
        if first != "Verb" and "Verb" in tag_set and ctx.sent_final:
            # DERIVED verbs (Become/Acquire: kesinLEŞECEK) carry the same
            # sentence-final finite-vs-participle asymmetry as plain
            # verbs; judge the segment after the LAST derivation boundary
            last_db = len(tags) - 1 - tags[::-1].index("DB") if "DB" in tags else -1
            final_seg = set(tags[last_db + 1:])
            # zero-copula chains (aç+Adj+...+Zero+Past 'it was open')
            # keep their own penalties, and a Verb-first finite rival
            # (yenile+ndi vs yeni+lendi) needs no counterweight; only
            # derived-verb conjugations competing against OTHER
            # derived readings (kesinLEŞECEK FutPart vs Fut) earn the
            # finite bonus
            if (final_seg & _FINITE_TAGS
                    and "Zero" not in final_seg
                    and not rivals.finite):
                s += 8.0
            elif final_seg & {"PresPart", "FutPart", "PastPart",
                              "Agt", "Inf", "Inf2", "Inf3"}:
                s -= 4.0
        return s

    def _segment_score(self, root, suffix, tags, tag_set, ctx, rivals):
        """Whole word against segmentation, and the phonological and
        lexical checks on a cut."""
        s = 0.0
        first = tags[0]
        # a case-marked segmentation with a dictionary root usually beats
        # the unmarked whole-word reading (baştan = baş+Abl, not
        # baştan+Nom) — except a whole-word NOUN whose only rival is a
        # P1-possessive split (yatırım vs yatır+P1sg: the lexicalized
        # -Im nominal stands)
        if (
            not suffix and first != "Adj"
            and (rivals.seg_nonp1
                 or (rivals.segmented and first != "Noun"))
        ):
            s -= 8.0
            # ... unless the token is capitalized MID-sentence: Turkish
            # orthography capitalizes only names there, so the whole-word
            # citation reading is a name in apposition/flat position
            # (Mimar KAYA = kaya+Nom, not kay+Dat).  Sentence-initial
            # capitals carry no such signal.
            if (
                ctx.non_initial
                and first in ("Noun", "Adj")
                and "Nom" in tag_set
                and _STARTS_UPPER.match(ctx.token)
                and not ctx.prev_is_punct
            ):
                s += 16.0
        # 2nd-person possessives are register-rare in web prose: against
        # any rival reading (and a scored candidate always has one), a P2
        # parse needs discourse support a single token can't supply
        # (ziyaret EDEN = et+PresPart, not ede+P2sg 'your ede'; words
        # whose only candidate is P2, like baban, keep it)
        if first == "Noun" and tag_set & {"P2sg", "P2pl"}:
            s -= 4.0
        # ... but a possessive/genitive segmentation needs discourse
        # context a single token can't supply: when an unsegmented
        # dictionary reading exists, it wins (fırtına != fırt+P3sg+Dat,
        # Takım != takı+P1sg, ürün != ür+Gen; plain-case splits like
        # baş+tan are unaffected)
        if suffix and rivals.whole and (
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
            if not ctx.sent_final:
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
            and len(root) + len(suffix) == len(ctx.token) - 1
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
        return s

    def _nominal_score(self, root, suffix, tags, tag_set, ctx, rivals):
        """Izafet, possessive and proper-noun priors of nominal readings."""
        s = 0.0
        first = tags[0]
        token = ctx.token
        prev_case = ctx.prev_case
        # a possessed segmentation directly after a bare-Nom noun is the
        # izafet compound head; against a whole-word citation-adjective
        # homograph the compound reading wins (şehir MERKEZİ oldukça
        # kalabalık = merkez+P3sg, not merkezî+Adj)
        if (
            first == "Noun"
            and suffix
            and "P3sg" in tag_set
            and prev_case in ("Nom", "NomPl", "NomD", "NomDq")
            and rivals.adj_whole
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
            and rivals.acc
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
            or (_STARTS_UPPER.match(token) and ctx.non_initial)
            or (_STARTS_UPPER.match(token) and to_lower(token) in self.gazetteer)
        ):
            s += 12.0  # apostrophe, mid-sentence capital, or gazetteer name
        elif "Prop" in tag_set and not ctx.non_initial and "'" not in token:
            # sentence-initial capitalization alone is NOT a Prop signal:
            # prefer any real analysis rival (Yaşlı adam = yaş+lı, Sabah
            # kahvaltıda = sabah+Noun); novel true names keep winning
            # because their rivals are Unknown
            s -= 8.0
        return s

    def select(self, candidates, ctx: TokenContext) -> int:
        """Index of the best of ``candidates`` (each with a tag list) for
        the token in ``ctx``; a lone candidate is the pick, unscored."""
        if len(candidates) == 1:
            return 0
        # score every candidate: the reference's cap of 10 analyses is a
        # model-input shape, not a search bound, and the whole-word
        # reading is emitted LAST by the generator (hastane after hasta+ne)
        rivals = Rivals(candidates, self._in_stems)
        best, best_score = 0, float("-inf")
        for ci, (root, suffix, tags) in enumerate(candidates):
            sc = self.score(root, suffix, tags, ctx, rivals)
            # tie-break WITHIN nominal readings: prefer the longer root
            # (inflection over derivation — ağaç+P3sg over ağa+Agt), the
            # reference stemmer's own longest-match bias.  Scoped to
            # nominal-vs-nominal ties so a finite-verb reading tied with
            # a noun homograph keeps its list priority (koş+Past over
            # koşut+P3sg for 'koştu')
            best_root, _suffix, best_tags = candidates[best]
            if sc > best_score or (
                sc == best_score
                and len(root) > len(best_root)
                and tags[0] in ("Noun", "Adj")
                and best_tags[0] in ("Noun", "Adj")
            ):
                best, best_score = ci, sc
        return best


@lru_cache(maxsize=1)
def _engine():
    return CandidateGenerator(), HeuristicDisambiguator()


def _real_candidates(token: str):
    """The generator's candidates for ``token``, each with a tag list: none
    where it fell back to its lone ``(word, "", "Unknown")``, the reference
    contract.  The list is the generator's memo; callers must not mutate it."""
    candidates = _engine()[0].get_analysis_candidates(token)
    _root, _suffix, tags = candidates[0]
    return () if isinstance(tags, str) else candidates


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
    Returns [] when no split parses: the word stays word+Unknown."""
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
        for first, tag_seq, _joined in gen._parsed_tags(sfx):
            # 2nd-person possessive parses of UNKNOWN stems are noise in
            # web prose (sakatlığına = P3sg+Dat, not 'to your sakatlığı')
            if (first != "Noun" or "DB" in tag_seq
                    or {"P2sg", "P2pl"} & set(tag_seq)):
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
                 prev_case: str, next_coord: bool, prev_is_punct: bool) -> str:
    """One token's best analysis: the heuristic disambiguator's pick among
    the generator's candidates (or, for an out-of-lexicon word, the
    nominal fallback's), and ``word+Unknown`` where neither has one."""
    key = (token, sent_final, non_initial, prev_case, next_coord,
           prev_is_punct)
    hit = _ANALYSIS_CACHE.get(key)
    if hit is None:
        exist = _EXISTENTIAL_EXACT.get(to_lower(token))
        if exist is not None:
            # closed-class existential copula: deterministic analysis
            suffix, rest = exist[0].split("/", 1)
            parts = _TAG_SEP.split(rest)
            candidates = [(parts[0], suffix, parts[1:])]
        else:
            candidates = (_real_candidates(token)
                          or _unknown_fallback_candidates(token))
        if candidates:
            pick = _engine()[1].select(candidates, TokenContext._make(key))
            root, _suffix, tags = candidates[pick]
            hit = "+".join([root, *tags]).replace("+DB", "^DB")
        else:
            hit = to_lower(token) + "+Unknown"
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
        # open class — see the P3sg+Nom demotion in ``_nominal_score``
        prev_case = "NomPl"
    elif (prev_case == "Nom" and "A3sg" in tags
          and not _tag_split(analysis)[1:2] == ["Adj"]
          and "DB" not in analysis
          and "Adj" in _engine()[0].stem_dic.get(
              analysis.split("+", 1)[0], ())):
        # a bare Noun/Adj DUAL stem (kaçak, dolu) licenses singular
        # izafet heads (dolu YAĞIŞI) but not PLURAL possessed ones
        # (kaçak YAPILARI = the Acc object of a transitive, with
        # kaçak attributive) — see the matching demotion in ``_nominal_score``.
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


class MorphState:
    """One sentence as the morphology passes see it: the tokens, their
    Turkish-lowered forms and the chosen analyses, which the selection
    pass fills left to right and the ``MORPH_RULES`` rewrite in place."""

    __slots__ = ("tokens", "lows", "analyses")

    def __init__(self, tokens: Sequence[str]):
        self.tokens = tokens
        self.lows = [to_lower(t) for t in tokens]
        self.analyses: List[str] = []


def _select_analyses(s: MorphState) -> None:
    """Each token's analysis, left to right: the previous token's chosen
    analysis gives the next one its left context (``prev_case``)."""
    tokens, lows, out = s.tokens, s.lows, s.analyses
    non_word = [_NON_WORD.match(t) is not None for t in tokens]
    # trailing-punct run: every token at or after this position is NON_WORD
    tail = len(tokens)
    while tail > 0 and non_word[tail - 1]:
        tail -= 1
    prev_case = ""
    for idx, token in enumerate(tokens):
        analysis = _analyze_one(token, idx >= tail - 1, idx > 0, prev_case,
                                _next_is_coord(lows, idx),
                                idx > 0 and non_word[idx - 1])
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
def _light_verb_nominal(s: MorphState) -> None:
    out, lows, stems = s.analyses, s.lows, _patched_stem_dict()
    for idx in range(len(out) - 1):
        nxt = _tag_split(out[idx + 1])
        if "Verb" not in nxt or nxt[0] not in ("ver", "et", "yap", "ol",
                                               "al", "kıl", "bulun"):
            continue
        if not {"Aor", "Past", "Prog1", "Fut", "Narr", "Imp"} & set(nxt):
            continue
        tags_i = set(_tag_split(out[idx]))
        if "Verb" not in tags_i or not tags_i & _FINITE_TAGS:
            continue
        low = lows[idx]
        if low != out[idx].split("+", 1)[0] and "Noun" in stems.get(low, ()):
            out[idx] = low + "+Noun+A3sg+Pnon+Nom"


# an Inf2 plural surface (-mAlArI) chosen as the Acc object after a
# bare-Nom possessor flips to its P3sg+Nom izafet twin when the
# clause predicate is PASSIVE (Kazı ÇALIŞMALARI ... sürdürülmektedir
# = the izafet subject); before an active verb the Acc object
# reading stands (Kurum YAZIŞMALARI ... şifreledi)
def _inf2_plural_izafet(s: MorphState) -> None:
    out = s.analyses
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
def _missing_predicate(s: MorphState) -> None:
    out, tokens = s.analyses, s.tokens
    if any("Verb" in _tag_split(a) for a in out):
        return
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
        for root, sfx, tags in _real_candidates(tokens[idx]):
            if (tags[0] == "Verb" and "DB" not in tags
                    and _FINITE_TAGS & set(tags)):
                out[idx] = root + "+" + "+".join(tags)
                break
        break


# a lexicalized deverbal-noun homograph of the kal-participle
# (kalan 'the remainder') directly after a bare-Nom noun and before
# a nominal is the participle in its idiomatic collocation (miras
# KALAN evi, yadigar KALAN saat): the left nominal is the
# participle's own argument.  Scoped to kal- — open agentive nouns
# (çalışan sayısı 'employee count') keep their izafet reading.
def _kalan_participle(s: MorphState) -> None:
    out = s.analyses
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
def _support_verb(s: MorphState) -> None:
    out, tokens, lows = s.analyses, s.tokens, s.lows
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
        for root, sfx, tags in _real_candidates(tokens[idx]):
            if (tags[0] == "Verb"
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
def _son_light_verb(s: MorphState) -> None:
    out = s.analyses
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
def _stranded_adjective(s: MorphState) -> None:
    out, tokens, stems = s.analyses, s.tokens, _patched_stem_dict()
    for idx in range(2, len(out) - 1):
        cur = out[idx]
        if cur.count("+") != 1 or not cur.endswith("+Adj"):
            continue
        nxt = _tag_split(out[idx + 1])
        if "Verb" not in nxt or not _FINITE_TAGS & set(nxt):
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
                     or ("Adj" in stems.get(prv_stem, ())
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
             for root, sfx, tags in _real_candidates(tokens[idx])
             if sfx
             and tags[-1] in ("Dat", "Loc", "Abl", "Ins")
             and "Pnon" in tags),
            None,
        )
        if cased is None:
            continue
        out[idx] = cased.replace("+DB+", "^DB+")
        # the stranded neighbor re-reads as its attributive twin
        if prv[-1:] != ["Adj"] and "Adj" in stems.get(prv_stem, ()):
            out[idx - 1] = prv_stem + "+Adj"


# the 'düşünce' homograph: the whole-word noun ('thought') directly
# after a Nom/possessed-Nom NOMINAL, with a later finite verb, is
# the düş- When-converb (tirajı DÜŞÜNCE kapağı yeniledi, üretimi
# DÜŞÜNCE jeneratörü devreye aldı): the noun reading would need its
# own izafet or determiner frame (bu düşünce, yeni bir düşünce),
# never a bare-Nom left neighbor
def _dusunce_converb(s: MorphState) -> None:
    out = s.analyses
    for idx in range(1, len(out)):
        if out[idx] != "düşünce+Noun+A3sg+Pnon+Nom":
            continue
        prv = set(_tag_split(out[idx - 1]))
        if not ({"Noun", "Nom"} <= prv or {"Noun", "Acc"} <= prv):
            continue
        if any("Verb" in _tag_split(out[j])
               and _FINITE_TAGS & set(_tag_split(out[j]))
               for j in range(idx + 1, len(out))):
            out[idx] = "düş+Verb+Pos+When"


# a -mA deverbal nominal whose surface collides with a RARE noun's
# Dat (yükleme = yükle+Inf2 vs yüklem+Dat), directly before a PHASE
# verb (bit-/başla-/tamamlan-), is the event nominal: phase verbs
# select event subjects, and the Dat-goal reading has no licenser
# (YÜKLEME bitince ambarı mühürledi).  Scoped to the phase class so
# "bu ANLAMA gelir" keeps anlam+Dat.
def _phase_event_nominal(s: MorphState) -> None:
    out, tokens = s.analyses, s.tokens
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
             for root, sfx, tags in _real_candidates(tokens[idx])
             if tags[0] == "Verb"
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
def _loan_i_object(s: MorphState) -> None:
    out, tokens, lows = s.analyses, s.tokens, s.lows
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
                or not _FINITE_TAGS & set(nxt)):
            continue
        if not any(
            "Noun" in _tag_split(o) and "Nom" in _tag_split(o)
            for o in out[:idx]
        ):
            continue
        acc = next(
            (f"{root}+" + "+".join(tags)
             for root, _sfx, tags in _real_candidates(tokens[idx])
             if tags[0] == "Noun" and "Acc" in tags
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
def _loan_i_attributive(s: MorphState) -> None:
    out, lows = s.analyses, s.lows
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
def _dual_stem_attributive(s: MorphState) -> None:
    out, tokens, lows = s.analyses, s.tokens, s.lows
    stems = _patched_stem_dict()
    for idx in range(1, len(out) - 1):
        low = lows[idx]
        parts = _tag_split(out[idx])
        if not (parts[0] == low
                and parts[1:2] == ["Noun"] and "Pnon" in parts
                and "Nom" in parts and "A3sg" in parts
                and "Adj" in stems.get(low, ())):
            continue
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
             for root, _sfx, tags in _real_candidates(tokens[idx + 1])
             if tags[0] == "Noun" and "Acc" in tags
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
def _adverb_attributive(s: MorphState) -> None:
    out, lows, stems = s.analyses, s.lows, _patched_stem_dict()
    for idx in range(len(out) - 1):
        low = lows[idx]
        if out[idx] != low + "+Adverb":
            continue
        if "Adj" not in stems.get(low, ()):
            continue
        nxt_parts = _tag_split(out[idx + 1])
        if ("Noun" in nxt_parts and "Verb" not in nxt_parts
                and "Pnon" in nxt_parts
                and ("Nom" in nxt_parts
                     or not any(c in nxt_parts for c in _CASE_TAGS))):
            out[idx] = low + "+Adj"


# clock-time frame: a numeral-Loc reading directly after bare "saat"
# beats the pronoun homograph (Tören saat ONDA başladı != 'in it')
def _clock_time(s: MorphState) -> None:
    out, tokens, lows = s.analyses, s.tokens, s.lows
    for idx in range(1, len(out)):
        if lows[idx - 1] != "saat":
            continue
        if "Pron" not in _tag_split(out[idx]):
            continue
        num_loc = next(
            (f"{root}+" + "+".join(tags).replace("+DB+", "^DB+")
             for root, _sfx, tags in _real_candidates(tokens[idx])
             if tags[0] == "Num" and "Loc" in tags),
            None,
        )
        if num_loc:
            out[idx] = num_loc


# the post-passes, in order, over the analyses ``_select_analyses`` chose:
# each reads right context the left-to-right selection lacks
MORPH_RULES = (
    _light_verb_nominal, _inf2_plural_izafet, _missing_predicate,
    _kalan_participle, _support_verb, _son_light_verb, _stranded_adjective,
    _dusunce_converb, _phase_event_nominal, _loan_i_object,
    _loan_i_attributive, _dual_stem_attributive, _adverb_attributive,
    _clock_time,
)


def py_analyze_tokens(tokens: Sequence[str]) -> List[str]:
    """Tokenized sentence -> best analysis string per token (the
    ``StemmerAnalyzer.predict`` output contract, CAPITALIZE_PNONS=False):
    the left-to-right selection, then each of ``MORPH_RULES`` in order."""
    s = MorphState(tokens)
    _select_analyses(s)
    for rule in MORPH_RULES:
        rule(s)
    return s.analyses


def py_analyze_sentence(sentence: str) -> List[str]:
    from ..functions.tokenizer import py_treebank_tokenize

    return py_analyze_tokens(py_treebank_tokenize(sentence))


# array<string> tokens -> array<string> analyses
analyze_morphology = arrow_map(py_analyze_tokens, ArrayType(StringType()))
