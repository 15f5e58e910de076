"""Extract DATA resources (lexicons, pattern tables) from the reference
snapshot at /root/reference into vnlp_spark/resources/*.gz.

Only *data* is extracted — no code. The deasciifier pattern table is the
public Emre Sevinç turkish-deasciifier pattern dictionary (vendored as data
by the reference at vnlp/normalizer/_deasciifier.py:19-13494); the lexicons
are plain text resource files under vnlp/resources/ and
vnlp/stemmer_morph_analyzer/resources/.

Run once:  python scripts/extract_reference_data.py
Outputs are committed so the repo is standalone (no runtime dependency on
the reference checkout).
"""
from __future__ import annotations

import gzip
import importlib.util
import json
import os
import shutil
import sys

REF = "/root/reference/vnlp"
OUT = os.path.join(os.path.dirname(__file__), "..", "vnlp_spark", "resources")


def gz_copy(src: str, dst_name: str) -> None:
    dst = os.path.join(OUT, dst_name)
    with open(src, "rb") as f_in, gzip.open(dst, "wb", compresslevel=9) as f_out:
        shutil.copyfileobj(f_in, f_out)
    print(f"wrote {dst} ({os.path.getsize(dst)} bytes)")


def extract_deasciifier_table() -> None:
    """Import the reference's vendored deasciifier module (pure python,
    no deps) and dump its pattern table as compressed JSON."""
    spec = importlib.util.spec_from_file_location(
        "_ref_deasciifier", os.path.join(REF, "normalizer", "_deasciifier.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    table = mod.Deasciifier.turkish_pattern_table
    dst = os.path.join(OUT, "deasciifier_patterns.json.gz")
    with gzip.open(dst, "wt", encoding="utf-8", compresslevel=9) as f:
        json.dump(table, f, ensure_ascii=False)
    print(f"wrote {dst} ({os.path.getsize(dst)} bytes, {len(table)} letters)")


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    gz_copy(f"{REF}/resources/turkish_stop_words.txt", "turkish_stop_words.txt.gz")
    gz_copy(
        f"{REF}/resources/non_breaking_prefixes_tr.txt",
        "non_breaking_prefixes_tr.txt.gz",
    )
    gz_copy(
        f"{REF}/resources/turkish_known_words_lexicon.txt",
        "turkish_known_words_lexicon.txt.gz",
    )
    gz_copy(
        f"{REF}/stemmer_morph_analyzer/resources/StemListWithFlags_v2.txt",
        "stem_list_with_flags.txt.gz",
    )
    gz_copy(
        f"{REF}/stemmer_morph_analyzer/resources/ExactLookup.txt",
        "exact_lookup.txt.gz",
    )
    extract_deasciifier_table()


if __name__ == "__main__":
    sys.exit(main())
