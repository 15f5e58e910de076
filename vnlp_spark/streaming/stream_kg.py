"""Structured Streaming surface for the KG engine.

The reference has no streaming semantics (SURVEY §2.11) and the north rule
asks for batch + checkpoint-resume, which plans/lineage.py provides.  This
module exists for the continuous-ingestion deployment mode: the SAME fused
annotation stage (``annotated_documents_stage``) and triple extractor run
unchanged on a streaming DataFrame (they are stateless per document, so
trivially micro-batch-safe), plus watermarked event-time windowing for
entity statistics, keyed like the batch entity table.

    pages = (spark.readStream.schema(WEB_PAGE_SCHEMA).parquet(landing_dir))
    triples = stream_triples(pages)                      # append mode
    counts  = windowed_mention_counts(pages, "10 minutes")
    counts.writeStream.outputMode("append")...           # late data handled
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.triples import explode_triples
from ..plans.pipeline import MENTION_KEY_SQL, annotated_documents_stage

WEB_PAGE_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def stream_triples(pages: DataFrame) -> DataFrame:
    """Streaming documents -> (url, warc_ts, sent_id, subj, pred, obj, ...)
    in append mode (no aggregation state)."""
    ann = annotated_documents_stage(pages)
    return explode_triples(ann)


def windowed_mention_counts(
    pages: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling per-entity mention counts over event time (warc_ts) with a
    watermark for late crawls — the streaming analog of the entities
    aggregate, keyed like it.  Output: (window, canon_key, label,
    n_mentions)."""
    ann = annotated_documents_stage(pages).withWatermark("warc_ts", watermark)
    mentions = ann.selectExpr("warc_ts", "analyses", "explode(mentions) AS m").selectExpr(
        "warc_ts", f"{MENTION_KEY_SQL} AS canon_key", "m.label AS label"
    )
    return (
        mentions.groupBy(F.window("warc_ts", window).alias("window"), "canon_key", "label")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
    )


def stateful_entity_totals(pages: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    running per-entity mention totals held in the state store across
    micro-batches.  Unlike the watermarked window aggregate above, totals
    never expire — this is the "entity popularity so far" accumulator a
    continuously-ingesting KG needs for hot-key detection without
    re-scanning history.

    Output (update mode): one (canon_key, total_mentions) row per entity
    per micro-batch that touched it.  State per key is a single long, so
    the state store stays entity-vocabulary-sized regardless of corpus
    size."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType as _Long
    from pyspark.sql.types import StringType as _Str
    from pyspark.sql.types import StructField as _Field
    from pyspark.sql.types import StructType as _Struct

    ann = annotated_documents_stage(pages)
    mentions = ann.selectExpr("analyses", "explode(mentions) AS m").selectExpr(
        f"{MENTION_KEY_SQL} AS canon_key"
    )

    out_schema = _Struct(
        [_Field("canon_key", _Str()), _Field("total_mentions", _Long())]
    )
    state_schema = _Struct([_Field("total", _Long())])

    def update_totals(key, pdfs, state: GroupState):
        n = 0
        for pdf in pdfs:
            n += len(pdf)
        (total,) = state.get if state.exists else (0,)
        total += n
        state.update((total,))
        yield pd.DataFrame({"canon_key": [key[0]], "total_mentions": [total]})

    return mentions.groupBy("canon_key").applyInPandasWithState(
        update_totals,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_exact_dedup(pages: DataFrame, watermark: str = "24 hours") -> DataFrame:
    """Streaming exact dedup: the first occurrence of each canonical-text
    fingerprint passes; copies arriving within the watermark horizon drop.

    Uses ``dropDuplicatesWithinWatermark`` — plain ``dropDuplicates`` on a
    non-event-time key would keep one state entry per distinct fingerprint
    FOREVER (Spark only evicts dedup state when the event-time column is
    part of the key), which is an executor-OOM time bomb at crawl scale.
    The WithinWatermark variant expires each fingerprint's state once the
    watermark passes its event time: state is bounded by the horizon's
    page volume, and duplicates farther apart than the horizon
    deliberately re-emit (cross-horizon dedup is the batch layer's job —
    exact_dedup over the materialized corpus)."""
    from ..functions.text_stats import normalized_fingerprint

    return (
        pages.withColumn("fp", normalized_fingerprint("text"))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["fp"])
        .drop("fp")
    )
