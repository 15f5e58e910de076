"""Deduplication suite for web-scale training-data pipelines.

Five strategies, cheapest-first — the standard LLM-corpus cleaning ladder:

- **exact**: canonical-form MD5 fingerprint, hash aggregate.  One shuffle
  of (fingerprint) keys.  SQL-oracle-checkable.
- **MinHash + LSH**: word-shingle minhash signatures banded into buckets;
  only same-bucket docs become candidate pairs (no O(n²) compare).  All
  **native** expressions: shingles via transform/sequence, signatures via
  array_min of seeded xxhash64s, one shuffle per LSH band-group join.
- **SimHash**: 60-bit weighted-token-hash sign vector; near-dups have
  small Hamming distance, found by 4-segment exact-match blocking
  (any pair within distance 3 shares at least one identical 15-bit
  segment — pigeonhole).
- **n-gram Jaccard**: direct char-3-gram verification, used standalone on
  blocked pairs or as the verify stage after MinHash.
- **embedding cosine**: near-dup by semantic similarity — delegates to
  operators.similarity (same LSH-bucketed plan).

At 100 TB the only material shuffles are the band-bucket joins, all on
uniformly-distributed hash keys (no skew by construction); signature
computation is a narrow map fused into the scan.

The near-dup operators read the ``documents`` columns ``doc_id`` and
``text``.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text_stats import normalized_fingerprint

# --- exact --------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct canonical text: keeper id + duplicate count."""
    return (
        df.withColumn("fp", normalized_fingerprint(text_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias(f"keep_{id_col}"), F.count(F.lit(1)).alias("n_dupes"))
    )


# --- minhash + LSH ------------------------------------------------------


def word_shingles(text_col: Column | str) -> Column:
    """Distinct word 3-shingles, natively: slice the token array at every
    offset and re-join.  Turkish-aware lowering (not plain lower) so 'İ'
    canonicalizes identically here and in the DuckDB oracle."""
    from ..functions.normalizer import turkish_lower

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.split(turkish_lower(F.trim(c)), r"\s+")
    n = F.size(toks)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - 2, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 3)),
        )
    )


def minhash_signature(shingles: Column) -> Column:
    """64-wide minhash signature: for seed i, min over shingles of
    xxhash64(shingle, i).  Empty shingle sets get nulls (dropped later)."""
    return F.array(
        *[
            F.array_min(F.transform(shingles, lambda s: F.xxhash64(s, F.lit(i))))
            for i in range(64)
        ]
    )


def minhash_candidate_pairs(df: DataFrame) -> DataFrame:
    """LSH banding over 64-wide signatures of word 3-shingles: docs
    agreeing on all 4 rows of any of 16 bands become candidate pairs
    (a, b) with a < b."""
    bands, rows = 16, 4
    sig = df.select(
        F.col("doc_id"),
        minhash_signature(word_shingles("text")).alias("sig"),
    )
    banded = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(",", *[F.element_at("sig", b * rows + r + 1) for r in range(rows)]),
                        F.lit(b),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_hash"),
    )
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            on=[
                F.col(f"l.band") == F.col("r.band"),
                F.col("l.band_hash") == F.col("r.band_hash"),
                F.col("l.doc_id") < F.col("r.doc_id"),
            ],
        )
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .distinct()
    )
    return pairs


def verify_pairs_jaccard(pairs: DataFrame, df: DataFrame, min_jaccard: float = 0.8) -> DataFrame:
    """Verify candidate pairs with true word-3-shingle Jaccard (two hash
    joins to re-attach shingle sets, then native set math)."""
    sh = df.select(F.col("doc_id"), word_shingles("text").alias("sh"))
    out = (
        pairs.join(sh.withColumnRenamed("doc_id", "a").withColumnRenamed("sh", "sh_a"), "a")
        .join(sh.withColumnRenamed("doc_id", "b").withColumnRenamed("sh", "sh_b"), "b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("union", F.size("sh_a") + F.size("sh_b") - F.col("inter"))
        .withColumn(
            "jaccard",
            F.when(F.col("union") > 0, F.col("inter") / F.col("union")).otherwise(F.lit(0.0)),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )
    return out


def minhash_dedup(df: DataFrame, min_jaccard: float = 0.8) -> DataFrame:
    """Full near-dup pass: LSH candidates -> Jaccard verify -> keeper map
    (each doc maps to the min id of its verified dup group; one min-id
    propagation round — groups from near-dup text are near-cliques, so a
    single round resolves them; iterate for strict transitive closure)."""
    pairs = minhash_candidate_pairs(df)
    verified = verify_pairs_jaccard(pairs, df, min_jaccard=min_jaccard)
    fwd = verified.select(F.col("b").alias("doc_id"), F.col("a").alias("keep"))
    keeper = fwd.groupBy("doc_id").agg(F.min("keep").alias("keep_id"))
    return df.select("doc_id").distinct().join(keeper, "doc_id", "left").select(
        "doc_id", F.coalesce("keep_id", F.col("doc_id")).alias("keep_id")
    )


# --- simhash ------------------------------------------------------------


def simhash64(text_col: Column | str) -> Column:
    """SimHash, natively: per token-hash, each bit contributes +1/-1
    weighted by term frequency; the sign vector packs back into a long.

    The token hash is the top 15 hex chars of md5 (60 bits): it fits a
    signed long and is expressible in DuckDB, so the whole simhash is
    oracle-checkable.  Expressed as one aggregate over the token array per
    bit — compiled by Catalyst into a single projection (no Python)."""
    from ..functions.normalizer import turkish_lower

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.split(turkish_lower(F.trim(c)), r"\s+")
    hashes = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(F.encode(t, "UTF-8")), 1, 15), 16, 10).cast(
            "long"
        ),
    )
    # bit b: sum over tokens of (bit set ? 1 : -1) > 0
    bits = [
        (
            F.aggregate(
                hashes,
                F.lit(0),
                lambda acc, h: acc
                + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
            )
            > 0
        ).cast("long")
        for b in range(60)
    ]
    out = F.lit(0).cast("long")
    for b, bit in enumerate(bits):
        out = out.bitwiseOR(F.shiftleft(bit, b))
    return out


def simhash_candidate_pairs(df: DataFrame) -> DataFrame:
    """Hamming-distance blocking: split the 60-bit simhash into 4 equal
    segments; any pair within distance <= 3 agrees on >= 1 segment
    (pigeonhole), so join on (segment_idx, segment_value) finds all of
    them, then exact popcount verifies."""
    seg_bits = 60 // 4
    seg_mask = (1 << seg_bits) - 1
    sh = df.select(F.col("doc_id"), simhash64("text").alias("sh"))
    seg = sh.select(
        "doc_id",
        "sh",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("sh", s * seg_bits).bitwiseAND(F.lit(seg_mask))
                    for s in range(4)
                ]
            )
        ).alias("seg_idx", "seg_val"),
    )
    l, r = seg.alias("l"), seg.alias("r")
    cands = (
        l.join(
            r,
            on=[
                F.col("l.seg_idx") == F.col("r.seg_idx"),
                F.col("l.seg_val") == F.col("r.seg_val"),
                F.col("l.doc_id") < F.col("r.doc_id"),
            ],
        )
        .select(
            F.col("l.doc_id").alias("a"),
            F.col("r.doc_id").alias("b"),
            F.col("l.sh").alias("sh_a"),
            F.col("r.sh").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cands.withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= 3)
        .select("a", "b", "hamming")
    )


# --- n-gram jaccard (standalone) ---------------------------------------


def ngram_jaccard_dedup(df: DataFrame, min_jaccard: float = 0.8, mode: str = "lsh") -> DataFrame:
    """Char-3-gram Jaccard near-dup pairs (a, b, jaccard).

    ``mode="lsh"`` (default — the 100 TB path): candidate pairs come from
    word-3-shingle MinHash LSH banding (bucketed joins on uniform hash
    keys, no all-pairs anywhere), then each candidate is verified with
    exact char-3-gram Jaccard.  Candidate and verify metrics differ, so
    texts SHORTER than the shingle width (whose shingle set collapses to
    one whole-text shingle) would be silently under-recalled (ADVICE
    r02); those short rows — a bounded sliver of any web corpus — are
    routed through the exact length-blocked candidate path and unioned
    in.  ``mode="exact_blocked"``: all-pairs within length buckets for
    the WHOLE table — exact recall, O(bucket²) cost; audit twin of the
    LSH path (it is the semantics the DuckDB oracle replays at test
    scale)."""
    from ..functions.normalizer import turkish_lower
    from .entity_resolution import char_ngrams, jaccard

    g = df.select(
        F.col("doc_id"),
        char_ngrams(turkish_lower(F.col("text"))).alias("grams"),
        (F.length("text") / 20).cast("int").alias("len_bucket"),
        (F.size(F.split(turkish_lower(F.trim(F.col("text"))), r"\s+")) < 3).alias(
            "short"
        ),
    )
    if mode == "lsh":
        cands = minhash_candidate_pairs(df)
        # sub-shingle-width texts: exact blocked pairs within the short set
        sg = g.filter("short")
        short_cands = (
            sg.alias("l")
            .join(
                sg.alias("r"),
                on=[
                    F.col("l.len_bucket") == F.col("r.len_bucket"),
                    F.col("l.doc_id") < F.col("r.doc_id"),
                ],
            )
            .select(
                F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b")
            )
        )
        cands = cands.select("a", "b").union(short_cands).distinct()
        pairs = (
            cands.join(
                g.select(F.col("doc_id").alias("a"), F.col("grams").alias("grams_a")), "a"
            )
            .join(g.select(F.col("doc_id").alias("b"), F.col("grams").alias("grams_b")), "b")
            .select("a", "b", jaccard(F.col("grams_a"), F.col("grams_b")).alias("jaccard"))
        )
    elif mode == "exact_blocked":
        l, r = g.alias("l"), g.alias("r")
        pairs = l.join(
            r,
            on=[
                F.col("l.len_bucket") == F.col("r.len_bucket"),
                F.col("l.doc_id") < F.col("r.doc_id"),
            ],
        ).select(
            F.col("l.doc_id").alias("a"),
            F.col("r.doc_id").alias("b"),
            jaccard(F.col("l.grams"), F.col("r.grams")).alias("jaccard"),
        )
    else:
        raise ValueError(f"unknown mode {mode!r}; use 'lsh' or 'exact_blocked'")
    return pairs.filter(F.col("jaccard") >= min_jaccard).select(
        "a", "b", F.round("jaccard", 6).alias("jaccard")
    )
