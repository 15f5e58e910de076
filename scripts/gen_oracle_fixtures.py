"""Generate pinned expected-output parquet fixtures for the DuckDB oracle.

Independence argument (VERDICT r03 item #1/#2): every fixture here is
computed by the PURE-PYTHON twin functions (py_split_sentences,
py_analyze_tokens, py_ner_mentions, py_parse_tokens, ...) executed in
this plain CPython process — no Spark, no Arrow, no JVM.  The driver's
correctness gate then compares the LIVE Spark query (Arrow-UDF plumbing,
Arrow transport, relational stages) against these fixtures via DuckDB:

- simple annotator queries (morph_analyses, pos_tags, ...) check
  Spark == pinned pure-python output (catches UDF batching / null /
  encoding bugs);
- the KG chain (kg_triples, kg_entities, kg_edges) pins ONLY the
  annotated sentence fixture and replays triple extraction, entity
  aggregation and the edge join as real DuckDB SQL — value-checking the
  Spark relational logic, not just the annotation.

Inputs are fully deterministic: the driver's sf0.01 documents table and
the synthetic corpus (reproduced here in pure python via the validated
xxhash64 twin — bit-identical to plans/corpus.generate_web_pages, see
tests/test_hashing.py).

Entity ids (Spark ``xxhash64(canon_key, type)``) come from
vnlp_spark.functions.hashing (bit-for-bit Spark-validated), pinned as a
(canon_key, type, entity_id) map the oracle SQL joins.

Usage: python scripts/gen_oracle_fixtures.py [sf_dir] [out_dir]
Defaults: /root/testdata/sf0.01 -> <repo>/fixtures
"""
from __future__ import annotations

import json
import os
import sys
from decimal import ROUND_HALF_UP, Decimal

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from vnlp_spark.functions.hashing import spark_xxhash64
from vnlp_spark.plans.corpus import (
    MAX_SENTS_PER_DOC,
    SENTENCE_POOL,
    _EN_SENTENCES,
)

MENTION_T = pa.struct(
    [("mention", pa.string()), ("label", pa.string()),
     ("first_tok", pa.int32()), ("last_tok", pa.int32())]
)
ARC_T = pa.struct(
    [("idx", pa.int32()), ("token", pa.string()),
     ("head", pa.int32()), ("deprel", pa.string())]
)


def pure_python_web_pages(n_docs: int):
    """plans/corpus.generate_web_pages in pure python (same hash chain:
    xxhash64(id, lit(42), lit(j)); python % == Spark pmod for positive
    modulus)."""
    pages = []
    for i in range(n_docs):
        def h(j):
            return spark_xxhash64(i, ("int", 42), ("int", j))

        is_tr = h(0) % 100 < 90
        n_sents = h(1) % MAX_SENTS_PER_DOC + 1
        sents = []
        for j in range(n_sents):
            u = h(10 + j) % 1000
            if is_tr:
                idx = (u % 6 + 1) if u < 500 else (u % len(SENTENCE_POOL) + 1)
                sents.append(SENTENCE_POOL[idx - 1])
            else:
                sents.append(_EN_SENTENCES[u % len(_EN_SENTENCES) + 1 - 1])
        pages.append(
            {
                "url": f"https://tr.example.com/page/{i}",
                "warc_epoch": 1700000000 + h(2) % (86400 * 180),
                "text": " ".join(sents),
                "lang": "tr" if is_tr else "en",
            }
        )
    return pages


def annotate_text(text: str) -> list:
    """Full pure-python annotation of one document (the kernel of the KG
    jobs' annotation UDF): -> list of per-sentence dicts (sent_id,
    sentence, tokens, analyses, mentions, arcs)."""
    from vnlp_spark.plans.pipeline import py_annotate_document

    return [
        {"sent_id": sid, "sentence": sent, "tokens": tokens,
         "analyses": analyses,
         "mentions": [
             {"mention": m, "label": lab, "first_tok": first, "last_tok": last}
             for (m, lab, first, last) in mentions],
         # None = the reference's >40-token refusal -> null arcs column
         "arcs": None if arcs is None else [
             {"idx": i, "token": tok, "head": head, "deprel": rel}
             for (i, tok, head, rel) in arcs]}
        for sid, sent, tokens, analyses, mentions, arcs in py_annotate_document(text)
    ]


def write(out_dir, name, cols: dict, types: dict):
    arrays, fields = [], []
    for col, vals in cols.items():
        t = types[col]
        arrays.append(pa.array(vals, type=t))
        fields.append(pa.field(col, t))
    table = pa.Table.from_arrays(arrays, schema=pa.schema(fields))
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path, compression="zstd")
    print(f"  {name}: {table.num_rows} rows -> {path}")


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, "fixtures")
    os.makedirs(out_dir, exist_ok=True)

    from vnlp_spark.functions.deasciifier import py_deasciify
    from vnlp_spark.functions.display import dp_to_displacy, ner_to_displacy
    from vnlp_spark.functions.tokenizer import py_treebank_tokenize
    from vnlp_spark.operators.charner import py_charner
    from vnlp_spark.operators.dep_parser import py_parse_tokens
    from vnlp_spark.operators.morphology import py_analyze_tokens
    from vnlp_spark.operators.ner import py_ner_tags
    from vnlp_spark.operators.pos import py_pos_tags, upos_from_analysis
    from vnlp_spark.operators.sentiment import py_sentiment_proba
    from vnlp_spark.operators.validity import py_is_token_valid_turkish
    from vnlp_spark.resources import non_breaking_prefixes

    prefixes = non_breaking_prefixes()
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet') "
        "ORDER BY doc_id"
    ).fetchall()
    print(f"documents: {len(docs)} rows from {sf_dir}")

    # ---- per-document simple annotator fixtures ------------------------
    ss = {"doc_id": [], "sent_id": [], "sentence": []}
    ma = {"doc_id": [], "tok_idx": [], "analysis": []}
    pt = {"doc_id": [], "tok_idx": [], "upos": []}
    dp = {"doc_id": [], "idx": [], "token": [], "head": [], "deprel": []}
    ch = {"doc_id": [], "tok_idx": [], "token": [], "label": []}
    tv = {"doc_id": [], "n_valid": [], "n_tokens": []}
    da = {"doc_id": [], "text_deascii": []}
    dy = {"doc_id": [], "dp_displacy": [], "ner_displacy": []}
    ann_docs = {"url": [], "sent_id": [], "tokens": [], "analyses": [],
                "mentions": [], "arcs": []}
    se = {"doc_id": [], "p_positive": []}

    from vnlp_spark.functions.sentence_splitter import py_split_sentences

    for doc_id, text in docs:
        for sid, sent in enumerate(py_split_sentences(text, prefixes)):
            ss["doc_id"].append(doc_id)
            ss["sent_id"].append(sid)
            ss["sentence"].append(sent)

        tokens = py_treebank_tokenize(text)
        analyses = py_analyze_tokens(tokens)
        for ti, a in enumerate(analyses):
            ma["doc_id"].append(doc_id)
            ma["tok_idx"].append(ti)
            ma["analysis"].append(a)
        for ti, u in enumerate(py_pos_tags(tokens)):
            pt["doc_id"].append(doc_id)
            pt["tok_idx"].append(ti)
            pt["upos"].append(u)
        arcs = py_parse_tokens(tokens, analyses=analyses)
        # None = >40-token refusal; F.explode(null) emits no rows
        for (idx, token, head, deprel) in arcs or []:
            dp["doc_id"].append(doc_id)
            dp["idx"].append(idx)
            dp["token"].append(token)
            dp["head"].append(head)
            dp["deprel"].append(deprel)
        for ti, (tok, lab) in enumerate(py_charner(text)):
            ch["doc_id"].append(doc_id)
            ch["tok_idx"].append(ti)
            ch["token"].append(tok)
            ch["label"].append(lab)
        space_toks = text.split(" ")
        tv["doc_id"].append(doc_id)
        tv["n_valid"].append(
            sum(1 for t in space_toks if py_is_token_valid_turkish(t))
        )
        tv["n_tokens"].append(len(space_toks))
        da["doc_id"].append(doc_id)
        da["text_deascii"].append(" ".join(py_deasciify(space_toks)))
        # displacy: same inputs the query builds (treebank tokens, native
        # upos_from_analysis — NOT the adjusted py_pos_tags — and NER tags)
        upos_native = [upos_from_analysis(a) for a in analyses]
        dp_json = (
            None if arcs is None else json.dumps(
                dp_to_displacy(arcs, list(zip([a[1] for a in arcs], upos_native))),
                ensure_ascii=False,
            )
        )
        ner_json = json.dumps(
            ner_to_displacy(text, list(zip(tokens, py_ner_tags(tokens)))),
            ensure_ascii=False,
        )
        dy["doc_id"].append(doc_id)
        dy["dp_displacy"].append(dp_json)
        dy["ner_displacy"].append(ner_json)

        # sentiment: Spark's F.round is decimal HALF_UP on the exact
        # binary double — replicate via Decimal so values byte-match
        se["doc_id"].append(doc_id)
        se["p_positive"].append(float(
            Decimal(py_sentiment_proba(text)).quantize(
                Decimal("0.0001"), rounding=ROUND_HALF_UP)
        ))

        # annotated sentences for the kg_triples SQL replay (lang=None:
        # every doc, url = doc://<id>, per docs_to_web_pages)
        for row in annotate_text(text):
            ann_docs["url"].append(f"doc://{doc_id}")
            ann_docs["sent_id"].append(row["sent_id"])
            ann_docs["tokens"].append(row["tokens"])
            ann_docs["analyses"].append(row["analyses"])
            ann_docs["mentions"].append(row["mentions"])
            ann_docs["arcs"].append(row["arcs"])

    I64, I32, S = pa.int64(), pa.int32(), pa.string()
    write(out_dir, "sentence_split", ss,
          {"doc_id": I64, "sent_id": I32, "sentence": S})
    write(out_dir, "morph_analyses", ma,
          {"doc_id": I64, "tok_idx": I32, "analysis": S})
    write(out_dir, "pos_tags", pt, {"doc_id": I64, "tok_idx": I32, "upos": S})
    write(out_dir, "dep_parses", dp,
          {"doc_id": I64, "idx": I32, "token": S, "head": I32, "deprel": S})
    write(out_dir, "charner_tags", ch,
          {"doc_id": I64, "tok_idx": I32, "token": S, "label": S})
    write(out_dir, "token_validity", tv,
          {"doc_id": I64, "n_valid": I32, "n_tokens": I32})
    write(out_dir, "deasciify", da, {"doc_id": I64, "text_deascii": S})
    write(out_dir, "displacy_outputs", dy,
          {"doc_id": I64, "dp_displacy": S, "ner_displacy": S})
    write(out_dir, "sentiment_scores", se,
          {"doc_id": I64, "p_positive": pa.float64()})
    write(out_dir, "annotated_docs", ann_docs,
          {"url": S, "sent_id": I32, "tokens": pa.list_(S),
           "analyses": pa.list_(S), "mentions": pa.list_(MENTION_T),
           "arcs": pa.list_(ARC_T)})

    # ---- synthetic Turkish corpus fixtures (kg_entities / kg_edges /
    # ner_mentions run over _corpus_docs) -------------------------------
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        n_docs = max(200, int(float(sf) * 200_000))
    except ValueError:
        n_docs = 2000
    pages = pure_python_web_pages(n_docs)
    print(f"corpus: {n_docs} pages ({sum(1 for p in pages if p['lang']=='tr')} tr)")

    ann_c = {"url": [], "warc_epoch": [], "sent_id": [], "sentence": [],
             "tokens": [], "analyses": [], "mentions": [], "arcs": []}
    for p in pages:
        if p["lang"] != "tr":
            continue
        for row in annotate_text(p["text"]):
            ann_c["url"].append(p["url"])
            ann_c["warc_epoch"].append(p["warc_epoch"])
            ann_c["sent_id"].append(row["sent_id"])
            ann_c["sentence"].append(row["sentence"])
            ann_c["tokens"].append(row["tokens"])
            ann_c["analyses"].append(row["analyses"])
            ann_c["mentions"].append(row["mentions"])
            ann_c["arcs"].append(row["arcs"])
    write(out_dir, "annotated_corpus", ann_c,
          {"url": S, "warc_epoch": I64, "sent_id": I32, "sentence": S,
           "tokens": pa.list_(S), "analyses": pa.list_(S),
           "mentions": pa.list_(MENTION_T), "arcs": pa.list_(ARC_T)})

    # ---- entity-id map: Spark xxhash64(canon_key, type) in pure python -
    # canon keys exactly as mentions_stage computes them: the mention
    # head's morphological root (analysis of token at last_tok), falling
    # back to the apostrophe-stripped lowered head surface
    from vnlp_spark.operators.entity_resolution import GENERIC_ORG_HEADS
    from vnlp_spark.operators.morphology import to_lower

    def py_canon_key(mention: str, root: str | None) -> str:
        words = mention.split(" ")
        head_key = to_lower(words[-1].replace("’", "'").split("'")[0])
        if len(words) > 1 and head_key in GENERIC_ORG_HEADS:
            return to_lower(" ".join(words[:-1])) + " " + head_key
        return root if root is not None else head_key

    keys = set()
    for toks, anas, ms in zip(ann_c["tokens"], ann_c["analyses"],
                              ann_c["mentions"]):
        for m in ms:
            lt = m["last_tok"]
            root = anas[lt].split("+", 1)[0] if lt < len(anas) else None
            keys.add((py_canon_key(m["mention"], root), m["label"]))
    em = {"canon_key": [], "type": [], "entity_id": []}
    for k, t in sorted(keys):
        em["canon_key"].append(k)
        em["type"].append(t)
        em["entity_id"].append(spark_xxhash64(k, t))
    write(out_dir, "entity_ids", em,
          {"canon_key": S, "type": S, "entity_id": I64})

    # edge-side canon keys (subj/obj surfaces have no analyses: pure
    # surface keys) are computed in the oracle SQL itself.
    print("done.")


if __name__ == "__main__":
    main()
