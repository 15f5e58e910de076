"""Score every gold split quietly — regression harness for rule changes.

Prints one line per split: triples P/R, UPOS, UAS/LAS.  Used while fixing
blind-split miss categories to prove tuning stays exact and burned splits
do not regress.
"""
from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from gold_error_analysis import run

    from vnlp_spark.plans.gold_ud_blind_data import available_splits, load_split

    for name in available_splits():
        buf = io.StringIO()
        with redirect_stdout(buf):
            run(load_split(name), verbose=False)
        print(f"{name:8s} {buf.getvalue().strip().lstrip()}")


if __name__ == "__main__":
    main()
