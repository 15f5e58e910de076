"""(subj, pred, obj) triple extraction from dependency parses + mentions.

The KG core mandated by the north rule: after parsing, each clause
predicate (root / parataxis verb) is mined for its ``nsubj`` / ``obj`` /
``obl`` children (SURVEY §2.9 M6 mapping).  Entity types come from NER
mention spans covering the argument token.

The extractor is **one Spark SQL higher-order expression** over the
array<struct> columns produced by the annotator UDFs — no Python in the
extraction itself, so it stays in Tungsten and adds zero Python round
trips after the annotation pass.  Building it as SQL text also keeps the
driver cheap: the whole expression crosses to the JVM as one string
instead of one gateway call per Column-builder node.  The DuckDB replica
in ``__spark_entry__._triples_sql_body`` states the same semantics.
"""
from __future__ import annotations

from pyspark.sql import DataFrame

_PRED_RELS = ("root", "parataxis")


def triples_sql() -> str:
    """SQL text: ``arcs`` array<struct<idx,token,head,deprel>> + ``mentions``
    array<struct<mention,label,first_tok,last_tok>>
    -> array<struct<subj,pred,obj,obl,subj_type,obj_type>>.

    One struct per clause predicate; subj/obj may be null (Turkish is
    pro-drop — the reference's golden parse yields subject-less triples).
    """

    def child(rel: str) -> str:
        # try_element_at: ANSI-safe null when the predicate has no such child
        return ("try_element_at(filter(arcs, "
                f"x -> x.head = p.idx AND x.deprel = '{rel}'), 1)")

    def mention_label(tok: str) -> str:
        # token idx is 1-based; mention spans are 0-based token positions
        return (f"try_element_at(filter(mentions, m -> m.first_tok <= {tok}.idx - 1 "
                f"AND m.last_tok >= {tok}.idx - 1), 1).label")

    rels = ", ".join(f"'{r}'" for r in _PRED_RELS)
    # bind each predicate's children once, then read token and type off them
    clauses = (f"transform(filter(arcs, a -> a.deprel IN ({rels})), p -> named_struct("
               f"'pred', p.token, 's', {child('nsubj')}, 'o', {child('obj')}, "
               f"'l', {child('obl')}))")
    one = (f"named_struct('subj', c.s.token, 'pred', c.pred, 'obj', c.o.token, "
           f"'obl', c.l.token, 'subj_type', {mention_label('c.s')}, "
           f"'obj_type', {mention_label('c.o')})")
    # keep clauses that bind at least one argument
    return (f"filter(transform({clauses}, c -> {one}), "
            "t -> t.subj IS NOT NULL OR t.obj IS NOT NULL OR t.obl IS NOT NULL)")


def explode_triples(df: DataFrame) -> DataFrame:
    """Annotated sentence rows -> flat triples table
    (url, warc_ts, sent_id, subj, pred, obj, obl, subj_type, obj_type)."""
    return df.selectExpr("url", "warc_ts", "sent_id", f"inline({triples_sql()})")
