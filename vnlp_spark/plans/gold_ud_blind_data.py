"""Loader for every frozen gold split under ``plans/gold_blind/``.

Each gold split is a committed data file, frozen before the engine
touches its sentences; this module is the only code that reads them.

UD splits (``tuning``, ``heldout``, ``blind1`` … ``blind60``) are
``{name}.conllu`` files in a pragmatic CoNLL-U subset: one sentence block
per ``# text =`` header, blank-line separated, other ``#`` lines are
comments::

    # text = Tersane işçileri kaynak dikişlerini kontrol etti.
    1\tTersane\tNOUN\t2\tnmod\tO
    2\tişçileri\tNOUN\t6\tnsubj\tO
    ...

Columns: ID, FORM, UPOS, HEAD (1-based, 0 = root), DEPREL and an
optional NER tag (PER/LOC/ORG/O), tab-separated.  A sentence carries NER
on all of its tokens or on none; only the former gets a ``ner`` key.
``load_split`` returns ``List[dict]`` with keys text / tokens / upos /
heads / deprels (/ ner).

Sentiment and entity-linking golds are ``{name}.tsv`` files, one
tab-separated row per item, ``#`` lines are comments:

- ``sentiment1`` … ``sentiment4``: category, text, label (1 positive,
  0 negative);
- ``linking1_kb``, ``linking2_kb``: canonical surface, type, seed
  mention count;
- ``linking1_links``, ``linking1_tuning``, ``linking2_links``: mention,
  label, gold canon_key (``_`` = the mention must stay unlinked).
"""
from __future__ import annotations

import os
from typing import List, Optional, Tuple

_DATA_DIR = os.path.join(os.path.dirname(__file__), "gold_blind")


def available_splits() -> List[str]:
    """UD split names: ``tuning``, ``heldout``, then ``blind1`` … in
    numeric order."""
    names = [f[: -len(".conllu")] for f in os.listdir(_DATA_DIR) if f.endswith(".conllu")]

    def _key(n: str):
        digits = "".join(ch for ch in n if ch.isdigit())
        return (n != "tuning", n != "heldout", int(digits) if digits else 0, n)

    return sorted(names, key=_key)


def load_split(name: str) -> List[dict]:
    """Parse ``gold_blind/{name}.conllu`` into a list of sentence dicts."""
    path = os.path.join(_DATA_DIR, name + ".conllu")
    entries: List[dict] = []
    cur_text = None
    rows: List[List[str]] = []

    def _flush():
        nonlocal cur_text, rows
        if cur_text is not None and rows:
            ncols = {len(r) for r in rows}
            if len(ncols) != 1:
                raise ValueError(f"{path}: NER column on only some tokens of {cur_text!r}")
            entry = dict(
                text=cur_text,
                tokens=[r[1] for r in rows],
                upos=[r[2] for r in rows],
                heads=[int(r[3]) for r in rows],
                deprels=[r[4] for r in rows],
            )
            if ncols == {6}:
                entry["ner"] = [r[5] for r in rows]
            entries.append(entry)
        cur_text, rows = None, []

    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.rstrip("\n")
            if not line.strip():
                _flush()
                continue
            if line.startswith("# text ="):
                _flush()
                cur_text = line.split("=", 1)[1].strip()
                continue
            if line.startswith("#"):
                continue
            parts = line.split("\t")
            if len(parts) not in (5, 6):
                raise ValueError(
                    f"{path}: bad line (need 5 or 6 tab-separated cols): {line!r}"
                )
            if int(parts[0]) != len(rows) + 1:
                raise ValueError(f"{path}: non-sequential token id: {line!r}")
            rows.append(parts)
    _flush()
    if not entries:
        raise ValueError(f"{path}: no sentences parsed")
    return entries


def _read_tsv(name: str, ncols: int) -> List[List[str]]:
    path = os.path.join(_DATA_DIR, name + ".tsv")
    out = []
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.rstrip("\n")
            if not line.strip() or line.startswith("#"):
                continue
            parts = line.split("\t")
            if len(parts) != ncols:
                raise ValueError(f"{path}: bad line (need {ncols} tab-separated cols): {line!r}")
            out.append(parts)
    return out


def load_sentiment(name: str) -> Tuple[List[Tuple[str, int]], List[str]]:
    """``(text, label)`` pairs of a sentiment split, and each pair's
    category."""
    rows = _read_tsv(name, 3)
    return [(text, int(label)) for _cat, text, label in rows], [r[0] for r in rows]


def load_kb(name: str) -> List[Tuple[str, str, int]]:
    """Linking KB rows: (canonical surface, type, seed mention count)."""
    return [(surface, typ, int(n)) for surface, typ, n in _read_tsv(name, 3)]


def load_links(name: str) -> List[Tuple[str, str, Optional[str]]]:
    """Linking gold rows: (mention, label, gold canon_key or None)."""
    return [(m, label, None if gold == "_" else gold) for m, label, gold in _read_tsv(name, 3)]
