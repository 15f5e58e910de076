"""Re-extract the frozen word and sentence lists the generator reads.

Run once from the repository root:

    python3 perfbench/data/extract.py

The lists are committed, so later edits to ``plans/corpus.py``, the gold
splits or the stem lexicon do not change any benchmark input.  Rerunning
this script is a benchmark change of its own.

- ``pool.txt``: the 30 Turkish sentences of ``corpus.SENTENCE_POOL``, in
  pool order (head entries first), then ``EN`` lines for the English pool.
- ``gold_text.txt``: the ``# text =`` lines of the frozen CoNLL-U gold
  splits; they make the fixed warm-up slice.
- ``names.txt.gz`` / ``nouns.txt.gz``: proper-noun (flag 4096) and
  common-noun (flag 64) entries of ``resources/stem_list_with_flags.txt.gz``
  that are single alphabetic words, sorted.
"""
from __future__ import annotations

import glob
import gzip
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


def main() -> None:
    sys.path.insert(0, ROOT)
    from vnlp_spark.plans import corpus

    with open(os.path.join(HERE, "pool.txt"), "w", encoding="utf-8") as f:
        for s in corpus.SENTENCE_POOL:
            f.write(f"TR\t{s}\n")
        for s in corpus._EN_SENTENCES:
            f.write(f"EN\t{s}\n")

    pool = set(corpus.SENTENCE_POOL)
    gold = []
    for path in sorted(glob.glob(os.path.join(ROOT, "vnlp_spark/plans/gold_blind/*.conllu"))):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if line.startswith("# text = "):
                    s = line[len("# text = "):].strip()
                    if s not in pool and s not in gold:
                        gold.append(s)
    with open(os.path.join(HERE, "gold_text.txt"), "w", encoding="utf-8") as f:
        f.writelines(s + "\n" for s in gold)

    names, nouns = set(), set()
    lex = os.path.join(ROOT, "vnlp_spark/resources/stem_list_with_flags.txt.gz")
    with gzip.open(lex, "rt", encoding="utf-8") as f:
        for line in f:
            word, _, flag = line.rstrip("\n").partition("\t")
            if not word.isalpha() or len(word) < 3:
                continue
            if flag == "4096" and word[0].isupper():
                names.add(word)
            elif flag == "64" and word.islower():
                nouns.add(word)
    for fname, words in (("names.txt.gz", names), ("nouns.txt.gz", nouns)):
        # mtime=0 keeps the gzip bytes reproducible
        with open(os.path.join(HERE, fname), "wb") as raw:
            with gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as gz:
                gz.write("".join(w + "\n" for w in sorted(words)).encode("utf-8"))
    print(f"pool {len(corpus.SENTENCE_POOL)}+{len(corpus._EN_SENTENCES)}, "
          f"gold {len(gold)}, names {len(names)}, nouns {len(nouns)}")


if __name__ == "__main__":
    main()
