"""The annotation kernel run in this process: per-annotator timing and the
per-URL parity check against the Spark rows.

The kernel is the five public functions the fused Spark UDF calls per
document: ``py_split_sentences``, ``py_treebank_tokenize``,
``py_analyze_tokens``, ``py_ner_mentions`` and ``py_parse_tokens``.
"""
from __future__ import annotations

import time

ANNOTATORS = ("split", "tokenize", "morph", "ner", "parse")


def _kernel():
    from vnlp_spark.functions import sentence_splitter, tokenizer
    from vnlp_spark.operators import dep_parser, morphology, ner
    from vnlp_spark.resources import non_breaking_prefixes

    return (non_breaking_prefixes(), sentence_splitter, tokenizer, morphology, ner,
            dep_parser)


def annotate_text(text: str) -> list:
    """One document as the Spark rows carry it:
    [(sent_id, sentence, tokens, analyses, mentions, arcs)]."""
    prefixes, ss, tok, morph, ner, dp = _kernel()
    rows = []
    for sid, sent in enumerate(ss.py_split_sentences(text, prefixes)):
        tokens = tok.py_treebank_tokenize(sent)
        analyses = morph.py_analyze_tokens(tokens)
        mentions = [(m["mention"], m["label"], m["first_tok"], m["last_tok"])
                    for m in ner.py_ner_mentions(tokens)]
        arcs = dp.py_parse_tokens(tokens, analyses=analyses)
        rows.append((sid, sent, list(tokens), list(analyses), mentions,
                     None if arcs is None else [tuple(a) for a in arcs]))
    return rows


def first_call_s() -> float:
    """Time of the first kernel call in this process (lexicon loads)."""
    t = time.perf_counter()
    annotate_text("Ahmet dün İstanbul'da yeni bir mağaza açtı.")
    return time.perf_counter() - t


def tree_malformed(arcs: list) -> bool:
    """Not exactly one root, a head outside [0, n], or a cycle."""
    n = len(arcs)
    heads = {a[0]: a[2] for a in arcs}
    if sorted(heads) != list(range(1, n + 1)):
        return True
    if sum(1 for h in heads.values() if h == 0) != 1:
        return True
    if any(h < 0 or h > n for h in heads.values()):
        return True
    for start in heads:
        seen, node = set(), start
        while node != 0:
            if node in seen:
                return True
            seen.add(node)
            node = heads[node]
    return False


class KernelTimes:
    """Per-annotator busy time and work counts over one run of the kernel
    across a list of documents, with a sentence cache scoped like the
    UDF's (sentences repeated in the run are annotated once)."""

    def __init__(self):
        self.busy = dict.fromkeys(ANNOTATORS, 0.0)
        self.docs = self.rows = self.computed = self.tokens = 0
        self.unknown = self.mentions = self.refused = self.parsed = self.malformed = 0

    def run(self, texts) -> "KernelTimes":
        prefixes, ss, tok, morph, ner, dp = _kernel()
        clock = time.perf_counter
        busy = self.busy
        cache: set = set()
        for text in texts:
            self.docs += 1
            t0 = clock()
            sents = ss.py_split_sentences(text, prefixes)
            busy["split"] += clock() - t0
            for sent in sents:
                self.rows += 1
                if sent in cache:
                    continue
                cache.add(sent)
                self.computed += 1
                t0 = clock()
                tokens = tok.py_treebank_tokenize(sent)
                t1 = clock()
                analyses = morph.py_analyze_tokens(tokens)
                t2 = clock()
                mentions = ner.py_ner_mentions(tokens)
                t3 = clock()
                arcs = dp.py_parse_tokens(tokens, analyses=analyses)
                t4 = clock()
                busy["tokenize"] += t1 - t0
                busy["morph"] += t2 - t1
                busy["ner"] += t3 - t2
                busy["parse"] += t4 - t3
                self.tokens += len(tokens)
                self.unknown += sum(1 for a in analyses if a.endswith("+Unknown"))
                self.mentions += len(mentions)
                if arcs is None:
                    self.refused += 1
                elif arcs:
                    self.parsed += 1
                    self.malformed += tree_malformed(arcs)
        return self

    @property
    def total_s(self) -> float:
        return sum(self.busy.values())


def spark_row(row) -> tuple:
    """A collected annotated Spark row in ``annotate_text``'s shape."""
    return (
        row["sent_id"], row["sentence"],
        None if row["tokens"] is None else list(row["tokens"]),
        None if row["analyses"] is None else list(row["analyses"]),
        None if row["mentions"] is None else [tuple(m) for m in row["mentions"]],
        None if row["arcs"] is None else [tuple(a) for a in row["arcs"]],
    )


def parity_mismatches(text: str, spark_rows: list) -> int:
    """Sentence rows of one URL that differ from the in-process kernel
    (missing or extra rows count too)."""
    want = annotate_text(text)
    got = sorted(spark_rows, key=lambda r: r[0])
    bad = abs(len(want) - len(got))
    bad += sum(1 for w, g in zip(want, got) if w != g)
    return bad
