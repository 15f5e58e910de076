"""vnlp_spark — a PySpark-native Turkish NLP / knowledge-graph construction
engine with the query and data-processing capabilities of vngrs-ai/vnlp,
re-architected for Spark (DataFrame/Catalyst/Arrow) execution at web scale.

Layout
------
- ``vnlp_spark.functions``  deterministic text ops (normalizer, tokenizers,
  sentence splitter, deasciifier, text analytics) as native Column
  expressions where byte-parity allows, Arrow UDFs (one helper,
  ``functions/_udf.arrow_map``) otherwise.
- ``vnlp_spark.operators``  stopwords, morphology (candidate generation +
  disambiguation), NER / PoS / dependency annotators, triple extraction,
  entity resolution, dedup, similarity search, multimodal plumbing.
- ``vnlp_spark.plans``      the end-to-end KG pipeline, lineage/checkpoint
  bookkeeping, and the deterministic synthetic web-corpus generator.
- ``vnlp_spark.resources``  data resources (lexicons, pattern tables).

Everything is batch DataFrame-first: declare the logical plan, let Catalyst
pick the physical one; drop to Arrow UDFs only where Turkish-specific
Python `regex` semantics or model scoring genuinely require it.
"""

__version__ = "0.1.0"
