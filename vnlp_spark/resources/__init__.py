"""Lazy, cached loaders for the data resources shipped with the package.

All resources are plain data (lexicons, pattern tables) extracted from the
reference's resource files (see scripts/extract_reference_data.py).  Loaders
are process-local singletons so that an Arrow-UDF worker pays the parse cost
once; on a cluster the dicts are additionally shipped via
``SparkContext.broadcast`` (see vnlp_spark.operators) so each executor
deserializes once instead of once per task.
"""
from __future__ import annotations

import gzip
import json
import math
import os
from functools import lru_cache

_DIR = os.path.dirname(__file__)


def _read_gz_lines(name: str) -> list[str]:
    with gzip.open(os.path.join(_DIR, name), "rt", encoding="utf-8") as f:
        return [line.rstrip("\n") for line in f]


@lru_cache(maxsize=None)
def stop_words() -> frozenset[str]:
    """Static Turkish stopword list (reference: vnlp/resources/turkish_stop_words.txt,
    loaded at stopword_remover.py:27-31)."""
    return frozenset(
        line.strip() for line in _read_gz_lines("turkish_stop_words.txt.gz") if line.strip()
    )


@lru_cache(maxsize=None)
def induced_transitives() -> frozenset[str]:
    """Transitive verb roots induced in bulk from the vendored lexicons
    (scripts/induce_valency.py): verbs from the 78k flagged stem list
    whose passive paradigm is attested >=3 independent ways in the 111k
    known-words derivational dictionary, minus a curated oblique-frame /
    mixed-valency exclusion list.  Frozen as data; the dependency parser
    merges these UNDER the curated lists (curated intransitives win)."""
    out = set()
    for line in _read_gz_lines("induced_transitives.txt.gz"):
        parts = line.split("\t")
        if parts and parts[0]:
            out.add(parts[0])
    return frozenset(out)


@lru_cache(maxsize=None)
def known_words() -> frozenset[str]:
    """111,899-word Turkish lexicon (reference: normalizer.py:25-35)."""
    return frozenset(
        line.strip()
        for line in _read_gz_lines("turkish_known_words_lexicon.txt.gz")
        if line.strip()
    )


@lru_cache(maxsize=None)
def non_breaking_prefixes() -> dict[str, int]:
    """Sentence-splitter non-breaking prefixes.

    Value 1 = DEFAULT (honorific/abbreviation), 2 = NUMERIC_ONLY —
    mirrors the reference's ``_PrefixType`` enum semantics
    (sentence_splitter.py:19-47): strip ``#...`` comments, blank lines skipped.
    """
    import re

    out: dict[str, int] = {}
    for line in _read_gz_lines("non_breaking_prefixes_tr.txt.gz"):
        kind = 2 if "#NUMERIC_ONLY#" in line else 1
        line = re.sub(r"#.*", "", line, flags=re.DOTALL).strip()
        if line:
            out[line] = kind
    return out


@lru_cache(maxsize=None)
def deasciifier_patterns() -> dict[str, dict[str, int]]:
    """Emre Sevinç deasciifier context-pattern table (public data; vendored
    by the reference at normalizer/_deasciifier.py:19-13494)."""
    with gzip.open(
        os.path.join(_DIR, "deasciifier_patterns.json.gz"), "rt", encoding="utf-8"
    ) as f:
        return json.load(f)


# Morphology --------------------------------------------------------------

_TAG_FLAG_MAP = {
    0: "Adj", 1: "Adverb", 2: "Conj", 3: "Det", 4: "Dup", 5: "Interj",
    6: "Noun", 7: "Postp", 8: "Pron", 9: "Ques", 10: "Verb", 11: "Num",
    12: "Noun+Prop",
}


def _parse_flag(flag: int) -> list[str]:
    # bitmask decode, highest bit first (reference: _yildiz_analyzer.py:118-127)
    res = []
    for i in range(12, -1, -1):
        if flag >= math.pow(2, i):
            res.append(_TAG_FLAG_MAP[i])
            flag -= math.pow(2, i)
    return res


@lru_cache(maxsize=None)
def stem_dict() -> dict[str, list[str]]:
    """stem -> list of possible PoS tags, from the 78k-entry flagged stem list
    (reference: _yildiz_analyzer.py:98-116)."""
    out: dict[str, list[str]] = {}
    for line in _read_gz_lines("stem_list_with_flags.txt.gz"):
        if not line.strip():
            continue
        splits = line.split("\t")
        stem = splits[0]
        postags = _parse_flag(int(splits[1].strip()))
        if stem in out:
            out[stem] = list(set(postags + out[stem]))
        else:
            out[stem] = postags
    return out


@lru_cache(maxsize=None)
def exact_lookup() -> dict[str, list[str]]:
    """word -> list of 'suffix/analysis' strings, 2,544 entries
    (reference: _yildiz_analyzer.py:73-83)."""
    out: dict[str, list[str]] = {}
    for line in _read_gz_lines("exact_lookup.txt.gz"):
        if not line.strip():
            continue
        splits = line.strip().split("\t")
        out[splits[0]] = splits[1].split(" ")
    return out


@lru_cache(maxsize=None)
def ner_gazetteer() -> dict[str, str]:
    """Typed gazetteer for the rule-based NER surrogate: surface -> label
    (LOC/PER/ORG) or ORGKEY (organization head-word stems).  Curated for
    Turkish web text; keys are matched case-preserved and via Turkish
    lowercase."""
    out: dict[str, str] = {}
    for line in _read_gz_lines("ner_gazetteer.txt.gz"):
        if line.strip():
            word, label = line.split("\t")
            out[word] = label
    return out


@lru_cache(maxsize=None)
def suffix_dict() -> dict[str, list[str]]:
    """suffix -> list of '+'-joined tag strings.

    The reference's full ``Suffixes&Tags.txt`` is absent from the snapshot
    (/root/reference/.MISSING_LARGE_BLOBS), so this is a curated fixture
    table covering the suffixes exercised by the reference's own unit tests
    plus the most common Turkish inflection paradigms.  The loading semantics
    match _yildiz_analyzer.py:85-96 (multiple tag rows per suffix).
    """
    out: dict[str, list[str]] = {}
    for line in _read_gz_lines("suffix_tags_fixture.txt.gz"):
        if not line.strip():
            continue
        suffix, tags = line.split("\t")
        out.setdefault(suffix, []).append(tags)
    return out
