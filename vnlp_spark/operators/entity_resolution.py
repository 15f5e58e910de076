"""Entity canonicalization + linking (SURVEY A4/J6/W4, north-rule core).

Pipeline:
1. **canonical key** — the morphological root of the mention's head token
   (Turkish is head-final: last token of the span), Turkish-lowered and
   apostrophe-stripped.  'İstanbul'da', 'İstanbul'u', 'İstanbullu' all key
   to 'istanbul' — this is the reference's stem-based canonicalization
   (M1 roots as entity keys).
2. **entities table** — hash aggregate over canon keys; canonical surface =
   most frequent surface form (two-level ``max_by`` aggregate, no window);
   entity_id = ``xxhash64(key, type)``: deterministic, join-free at any
   scale (no monotonically_increasing_id / no driver sequence).
3. **similarity linking** — near-miss mentions (typos, unseen inflections)
   link to known entities via a *blocked* char-3-gram Jaccard join:
   block on (first-2-chars, type); similarity computed natively with
   array_intersect over n-gram sets.

Skew handling (explicit per north rule): every join here is a plain
equi-join, and the engine balances it.  Zipfian head entities (İstanbul,
Türkiye) concentrate whole blocks on one key; AQE's skew join
(``spark.sql.adaptive.skewJoin.enabled``, on in session.py) reads the
actual shuffle sizes at runtime and splits each oversized partition of
the mention side across several tasks, each paired with a copy of the
matching entity partition.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from ..functions._udf import arrow_map
from ..functions.normalizer import turkish_lower, turkish_lower_sql


# generic organizational HEAD words (closed class): a multiword entity
# ending in one of these is distinctive in its NON-head words — keying
# it by the head alone conflates every "X Bankası" into one entity
# (Ziraat/İş/Garanti/Merkez Bankası all collapsed to 'bankası'; Koç and
# Sabancı Holding to 'holding').  Surfaced by the round-5 232-entity
# linking gold; for these, the canon key is the clitic-stripped FULL
# surface.  Bare-root and possessed-head forms both listed so the
# morphological-root path triggers identically.
GENERIC_ORG_HEADS = frozenset({
    "banka", "bankası", "üniversite", "üniversitesi",
    "bakanlık", "bakanlığı", "ajans", "ajansı", "holding",
    "jk", "fk", "kulüp", "kulübü", "belediye", "belediyesi",
    "müdürlük", "müdürlüğü", "başkanlık", "başkanlığı",
    "mahkeme", "mahkemesi", "kurum", "kurumu", "kurul", "kurulu",
    "grup", "grubu", "borsa", "borsası", "federasyon", "federasyonu",
    "dernek", "derneği", "vakıf", "vakfı", "oda", "odası",
    "birlik", "birliği", "sigorta", "sigortası", "yolları",
    "takım", "takımı",
})


# the literal IN list, built once (a Column ``isin`` sends one gateway
# call per head word on every plan build)
_GENERIC_HEADS_IN = ", ".join(f"'{h}'" for h in sorted(GENERIC_ORG_HEADS))
# the regex ['’] as a SQL literal (backslash escapes are on by default)
_CLITIC_RE = r"'[\'’]'"


def canonical_key_sql(mention: str, root: str | None = None) -> str:
    """SQL text: mention surface -> canonical entity key.  The head (last)
    word, apostrophe-clitic-stripped and lowered; the morphological
    ``root`` wins over the head surface when supplied — EXCEPT when the
    head word is a generic organizational head (GENERIC_ORG_HEADS) of a
    multiword surface, where the key is the clitic-stripped lowered FULL
    surface on both paths (the root path must not fragment from the
    surface path: edge endpoints carry no analyses).

    ``mention`` and ``root`` are SQL expressions over the caller's
    columns (``"mention"``, ``"m.mention"``, ``"subj"``)."""
    words = f"split({mention}, ' ')"
    head_key = turkish_lower_sql(f"split(element_at({words}, -1), {_CLITIC_RE})[0]")
    non_head = turkish_lower_sql(f"concat_ws(' ', slice({words}, 1, size({words}) - 1))")
    full_key = f"concat({non_head}, ' ', {head_key})"
    generic = f"size({words}) > 1 AND {head_key} IN ({_GENERIC_HEADS_IN})"
    other = head_key if root is None else f"coalesce({root}, {head_key})"
    return f"CASE WHEN {generic} THEN {full_key} ELSE {other} END"


def canonical_key(mention: str) -> Column:
    """``canonical_key_sql`` of a surface alone, as a Column for
    DataFrame-API callers."""
    return F.expr(canonical_key_sql(mention))


def build_entities(mentions_df: DataFrame) -> DataFrame:
    """mentions(canon_key, label, mention, ...) -> entities(entity_id,
    canon_key, canonical, type, n_mentions).

    Two hash aggregates, both map-side-combining; the second groups the
    already-small (key, surface) table.  No window functions, no sort of
    the full mention set."""
    per_surface = mentions_df.groupBy("canon_key", "label", "mention").agg(
        F.expr("count(1) AS surface_cnt"))
    return (
        per_surface.groupBy("canon_key", "label")
        .agg(
            # struct ordering makes the count-tie deterministic (max
            # surface wins) — a bare max_by would pick whichever surface
            # the partial-aggregate merge order happened to see first
            F.expr("max_by(mention, struct(surface_cnt, mention)) AS canonical"),
            F.expr("sum(surface_cnt) AS n_mentions"),
        )
        .selectExpr(
            "xxhash64(canon_key, label) AS entity_id",
            "canon_key",
            "canonical",
            "label AS type",
            "n_mentions",
        )
    )


def fold_key(col: Column | str) -> Column:
    """ASCII-fold a canon key for BLOCKING and n-gram similarity only
    (linking identity stays on the true key): web text freely drops
    Turkish diacritics (Istanbul, Turkiye, Besiktas), which otherwise
    breaks both the prefix block and the gram overlap.  Native
    ``translate`` — no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(c, "çğıöşüâîû", "cgiosuaiu")


# fold_key images of GENERIC_ORG_HEADS, for similarity-time stripping
_GENERIC_FOLDED = (
    "ajans", "ajansi", "bakanligi", "bakanlik", "banka", "bankasi",
    "baskanligi", "baskanlik", "belediye", "belediyesi", "birligi",
    "birlik", "borsa", "borsasi", "dernegi", "dernek", "federasyon",
    "federasyonu", "fk", "grubu", "grup", "holding", "jk", "kulubu",
    "kulup", "kurul", "kurulu", "kurum", "kurumu", "mahkeme",
    "mahkemesi", "mudurlugu", "mudurluk", "oda", "odasi", "sigorta",
    "sigortasi", "takim", "takimi", "universite", "universitesi",
    "vakfi", "vakif", "yollari",
)


def strip_generic_head(folded_key: Column) -> Column:
    """Drop a trailing generic organizational head from a FOLDED
    multiword key for blocking/similarity only: the distinctive part
    carries the identity ('akdeniz universitesi' vs 'ankara
    universitesi' must NOT gram-match on the shared head; the partial
    mention 'ziraat' MUST match 'ziraat bankasi')."""
    words = F.split(folded_key, " ")
    nw = F.size(words)
    head = F.element_at(words, -1)
    return F.when(
        (nw > 1) & head.isin(*_GENERIC_FOLDED),
        F.concat_ws(" ", F.slice(words, 1, nw - 1)),
    ).otherwise(folded_key)


def containment(cand: Column, mention: Column) -> Column:
    """|cand ∩ mention| / |cand| — the asymmetric overlap that catches
    FUSED suffixed surfaces (İzmirliler ⊇ izmir's grams) where Jaccard
    is diluted by the suffix grams."""
    inter = F.size(F.array_intersect(cand, mention))
    return F.when(F.size(cand) > 0, inter / F.size(cand)).otherwise(F.lit(0.0))


# conventional short forms of the big Turkish clubs — a tiny CLOSED
# public set (same gazetteer argument as the reference's NER lists)
TURKISH_CLUB_ABBREVIATIONS = {
    "gs": "galatasaray",
    "fb": "fenerbahçe",
    "bjk": "beşiktaş",
    "ts": "trabzonspor",
}


def initials_aliases(entities_df: DataFrame) -> DataFrame:
    """entities -> (alias_key, type, entity_id) rows: folded initials of
    multi-word canonicals (Türk Hava Yolları -> thy) plus the curated
    club short forms.  Consulted as a second EXACT path in
    link_mentions — broadcast-sized by construction."""
    multi = entities_df.filter(F.size(F.split("canonical", " ")) >= 2)
    initials = multi.select(
        fold_key(turkish_lower(F.concat_ws(
            "", F.transform(F.split("canonical", " "),
                            lambda w: F.substring(w, 1, 1))
        ))).alias("alias_key"),
        F.col("type"),
        F.col("entity_id"),
    ).filter(F.length("alias_key") >= 2)
    club_rows = F.array(*[
        F.struct(F.lit(k).alias("alias_key"), F.lit(v).alias("canon_key"))
        for k, v in TURKISH_CLUB_ABBREVIATIONS.items()
    ])
    clubs = (
        entities_df.select("entity_id", "type", "canon_key")
        .join(
            entities_df.sparkSession.range(1).select(
                F.explode(club_rows).alias("a"))
            .select("a.alias_key", "a.canon_key"),
            on="canon_key")
        .select("alias_key", "type", "entity_id")
    )
    return initials.unionByName(clubs).distinct()


def py_damerau_levenshtein(x: str, y: str | None) -> int:
    """Bounded Damerau-Levenshtein on BLOCKED candidate pairs — the
    verify stage of the similarity join (runs only on the residual that
    failed the gram thresholds, a tiny fraction of the block join).
    99 = no match: a null side or a length gap over 2."""
    if y is None:
        return 99
    lx, ly = len(x), len(y)
    if abs(lx - ly) > 2:
        return 99
    prev2: list = []
    prev = list(range(ly + 1))
    for i in range(1, lx + 1):
        cur = [i] + [0] * ly
        for j in range(1, ly + 1):
            cost = 0 if x[i - 1] == y[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (i > 1 and j > 1 and x[i - 1] == y[j - 2]
                    and x[i - 2] == y[j - 1]):
                cur[j] = min(cur[j], prev2[j - 2] + 1)
        prev2, prev = prev, cur
    return prev[ly]


_damerau_levenshtein = arrow_map(py_damerau_levenshtein, IntegerType())


def _damerau_levenshtein_udf(a: Column | str, b: Column | str) -> Column:
    # a null left side is 99 too (the helper returns null for it)
    return F.coalesce(_damerau_levenshtein(a, b), F.lit(99))


def char_ngrams(col: Column | str) -> Column:
    """Distinct character 3-grams of a string, natively (no UDF)."""
    c = F.col(col) if isinstance(col, str) else col
    padded = F.concat(F.lit("^"), c, F.lit("$"))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(padded) - 2, F.lit(1))),
            lambda i: padded.substr(i, F.lit(3)),
        )
    )


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def link_mentions(
    mentions_df: DataFrame, entities_df: DataFrame, aliases_df: DataFrame | None = None
) -> DataFrame:
    """Link mentions whose key has NO exact entity to the nearest known
    entity by a blocked ASCII-folded char-3-gram join with a bounded
    edit-distance verify.

    Plan shape (all join sides explicit, nothing all-pairs):
    1. exact hits resolve via hash join on (canon_key, type);
    2. alias exact hits (initials / curated short forms) on the folded
       key — broadcast-sized by construction;
    3. the residual joins on (type, 2-char FOLDED-key prefix) blocks — a
       plain equi-join that AQE skew-splits — and a candidate passes on
       folded-gram Jaccard >= 0.4, OR candidate-gram containment >= 0.7
       (fused suffixed surfaces: İzmirliler ⊇ izmir), OR
       Damerau-Levenshtein <= 1 with matching first char (typos the gram
       overlap dilutes: Ankra, Anakra).  Argmax by (score, -distance) via
       one max_by aggregation — no sort, no window."""
    exact = mentions_df.join(
        entities_df.select("canon_key", F.col("type").alias("label"), "entity_id"),
        on=["canon_key", "label"],
        how="left",
    )
    resolved = exact.filter(F.col("entity_id").isNotNull())
    unresolved = exact.filter(F.col("entity_id").isNull()).drop("entity_id")

    if aliases_df is not None:
        ali = unresolved.withColumn("_fkey", fold_key("canon_key")).join(
            F.broadcast(aliases_df.select(
                F.col("alias_key").alias("_fkey"),
                F.col("type").alias("label"),
                F.col("entity_id"))),
            on=["_fkey", "label"], how="left",
        ).drop("_fkey")
        resolved = resolved.unionByName(
            ali.filter(F.col("entity_id").isNotNull()))
        unresolved = ali.filter(F.col("entity_id").isNull()).drop("entity_id")

    blocked_entities = entities_df.select(
        F.col("entity_id").alias("cand_id"),
        F.col("type").alias("_cand_label"),
        F.col("canon_key").alias("cand_key"),
        strip_generic_head(fold_key("canon_key")).alias("_cand_fkey"),
    ).withColumn("_block", F.substring("_cand_fkey", 1, 2)) \
        .withColumn("_cand_grams", char_ngrams("_cand_fkey"))
    blocked_mentions = unresolved.withColumn(
        "_fkey", strip_generic_head(fold_key("canon_key"))) \
        .withColumn("_block", F.substring("_fkey", 1, 2)) \
        .withColumn("_grams", char_ngrams("_fkey"))

    joined = blocked_mentions.join(blocked_entities, on="_block") \
        .filter(F.col("label") == F.col("_cand_label"))
    scored = joined.withColumn(
        "_jac", jaccard(F.col("_grams"), F.col("_cand_grams"))
    ).withColumn(
        "_cont", containment(F.col("_cand_grams"), F.col("_grams"))
    ).withColumn(
        # edit-verify only where the cheap gram gate failed but the pair
        # is plausibly a typo (same first char, close length)
        "_dl",
        F.when((F.col("_jac") >= 0.4) | (F.col("_cont") >= 0.7), F.lit(0)).when(
            (F.substring("_fkey", 1, 1) == F.substring("_cand_fkey", 1, 1))
            & (F.abs(F.length("_fkey") - F.length("_cand_fkey")) <= 2),
            _damerau_levenshtein_udf("_fkey", "_cand_fkey"),
        ).otherwise(F.lit(99)),
    ).filter((F.col("_jac") >= 0.4) | (F.col("_cont") >= 0.7) | (F.col("_dl") <= 1))
    group_cols = [c for c in unresolved.columns]
    best = (
        scored.groupBy(*group_cols)
        .agg(F.max_by(
            "cand_id",
            F.struct(F.greatest("_jac", "_cont"), -F.col("_dl")),
        ).alias("entity_id"))
    )
    still_unlinked = unresolved.join(best.select(*group_cols), on=group_cols, how="left_anti").withColumn(
        "entity_id", F.lit(None).cast("long")
    )
    return resolved.unionByName(best).unionByName(still_unlinked)
