"""Word2Vec embedding training + similarity lookup (SURVEY M9).

The reference ships pre-trained gensim Word2Vec / FastText models
(vnlp/turkish_word_embeddings/ReadMe.md — trained offline on a 32 GB
corpus) and exposes ``most_similar(word, topn)``.  A Spark-native engine
trains the same kind of vectors ON the corpus it is processing:

- training: ``pyspark.ml.feature.Word2Vec`` over the tokenized sentence
  column — distributed skip-gram with negative sampling, seeded.
- lookup: the trained vector table is a small DataFrame
  (vocab x dim); ``most_similar`` = broadcast the query vectors and rank
  by native cosine (operators.similarity.brute_force_topk plan).

At 100 TB the training input is the already-materialized token arrays
(narrow lineage off the annotation stage); the vector table stays tiny
relative to the corpus and is the natural broadcast side of every
downstream similarity join (entity canonicalization per north_star).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def train_word2vec(
    tokens_df: DataFrame,
    dim: int = 32,
    min_count: int = 2,
    max_iter: int = 1,
    seed: int = 42,
):
    """Train Word2Vec over the array<string> ``tokens`` column; returns
    the fitted model (model.getVectors() is the (word, vector) table)."""
    from pyspark.ml.feature import Word2Vec

    w2v = Word2Vec(
        vectorSize=dim,
        minCount=min_count,
        maxIter=max_iter,
        seed=seed,
        inputCol="tokens",
        outputCol="_w2v",
    )
    return w2v.fit(tokens_df.select("tokens"))


def vectors_table(model) -> DataFrame:
    """(word, embedding array<float>) DataFrame from a fitted model."""
    from pyspark.ml.functions import vector_to_array

    return model.getVectors().select(
        "word", vector_to_array("vector", "float32").alias("embedding")
    )


def most_similar(
    vectors: DataFrame, query_words: list[str], topn: int = 10
) -> DataFrame:
    """gensim-style most_similar over a (word, embedding) table:
    broadcast the query vectors, rank the vocabulary by cosine.
    Returns (query_word, word, cos_sim, rank), self-matches excluded."""
    from .similarity import cosine_sim

    q = vectors.filter(F.col("word").isin(query_words)).select(
        F.col("word").alias("query_word"), F.col("embedding").alias("query_vec")
    )
    scored = (
        vectors.crossJoin(F.broadcast(q))
        .filter(F.col("word") != F.col("query_word"))
        .select(
            "query_word",
            "word",
            F.round(cosine_sim(F.col("embedding"), F.col("query_vec")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_word").orderBy(F.desc("cos_sim"), F.col("word"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topn)
        .orderBy("query_word", "rank")
    )
