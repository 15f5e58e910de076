"""Dedup suite + similarity search + multimodal plumbing."""
import pyspark.sql.functions as F
import pytest

from vnlp_spark.operators.dedup import (
    exact_dedup,
    minhash_candidate_pairs,
    minhash_dedup,
    ngram_jaccard_dedup,
    simhash64,
    simhash_candidate_pairs,
)
from vnlp_spark.operators.multimodal import extract_features, sample_frames, synth_media
from vnlp_spark.operators.similarity import brute_force_topk, embedding_near_dups, lsh_topk


@pytest.fixture(scope="module")
def dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    near = base.replace("tonight", "today")          # near-dup of base
    other = "completely different text about spark dataframes and shuffle partitions at scale"
    rows = [
        (0, base), (1, base), (2, near), (3, other),
        (4, "short one"), (5, "short one"),
        (6, other + " with an extra tail of tokens appended here"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"]).cache()


def test_exact_dedup(dup_docs):
    out = {r["keep_doc_id"]: r["n_dupes"] for r in exact_dedup(dup_docs).collect()}
    assert out[0] == 2   # 0 and 1 identical
    assert out[4] == 2   # 4 and 5 identical


def test_minhash_candidates_and_verify(dup_docs):
    pairs = {(r["a"], r["b"]) for r in minhash_candidate_pairs(dup_docs).collect()}
    assert (0, 1) in pairs          # identical docs always collide
    assert (0, 2) in pairs or (1, 2) in pairs   # near-dup caught by LSH
    keep = {r["doc_id"]: r["keep_id"] for r in minhash_dedup(dup_docs, min_jaccard=0.7).collect()}
    assert keep[1] == 0
    assert keep[2] == 0
    assert keep[3] == 3             # distinct doc keeps itself


def test_simhash(spark):
    # simhash distance <= 3 on 64 bits implies ~97% feature overlap — use
    # realistically long docs (the operator's intended regime; short texts
    # belong to minhash/ngram-jaccard)
    base_words = (
        "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight " * 6
    ).split()
    near_words = list(base_words)
    near_words[3] = "wolf"  # 1 token of ~100 changed
    df = spark.createDataFrame(
        [
            (0, " ".join(base_words)),
            (1, " ".join(base_words)),
            (2, " ".join(near_words)),
            (3, "totally different content about query planners and shuffles " * 8),
        ],
        ["doc_id", "text"],
    )
    vals = {r["doc_id"]: r["sh"] for r in df.select("doc_id", simhash64("text").alias("sh")).collect()}
    assert vals[0] == vals[1]       # identical text -> identical simhash
    pairs = {(r["a"], r["b"]): r["hamming"] for r in simhash_candidate_pairs(df).collect()}
    assert pairs[(0, 1)] == 0
    assert (0, 2) in pairs and pairs[(0, 2)] <= 3
    assert (0, 3) not in pairs


def test_ngram_jaccard_dedup_exact_blocked(spark):
    # short-text tables use the exact all-pairs-in-length-bucket twin
    rows = [(0, "istanbul gezisi notlari"), (1, "istanbul gezisi notleri"), (2, "bambaska bir metin")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r["a"], r["b"])
        for r in ngram_jaccard_dedup(df, min_jaccard=0.6, mode="exact_blocked").collect()
    }
    assert (0, 1) in pairs and (0, 2) not in pairs


def test_ngram_jaccard_dedup_lsh_default(spark):
    # the default (100 TB) path: MinHash-LSH candidates -> char-3-gram
    # verify; near-dup long docs are found, no all-pairs join anywhere
    base = "istanbul bogazinda sabah kahvaltisi yaptik sonra vapurla karsiya gectik ve muzeleri gezdik"
    rows = [(0, base), (1, base.replace("muzeleri", "muzeyi")), (2, "tamamen alakasiz kisa metin")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {(r["a"], r["b"]) for r in ngram_jaccard_dedup(df, min_jaccard=0.6).collect()}
    assert (0, 1) in pairs and (0, 2) not in pairs and (1, 2) not in pairs


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_brute_force_topk(spark, emb):
    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = brute_force_topk(emb, queries, k=5)
    rows = out.collect()
    assert len(rows) == 15
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        assert [r["rank"] for r in rs] == [1, 2, 3, 4, 5]
        assert rs[0]["vec_id"] == qid and rs[0]["cos_sim"] == pytest.approx(1.0)
        sims = [r["cos_sim"] for r in rs]
        assert sims == sorted(sims, reverse=True)


def test_lsh_topk_recall_vs_bruteforce(spark, emb):
    dim = len(emb.first()["embedding"])
    queries = emb.limit(5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = brute_force_topk(emb, queries, k=3).collect()
    approx = lsh_topk(emb, queries, dim=dim, k=3, n_planes=8).collect()
    # self-match (rank 1) must always be found: the query's own bucket
    approx_top1 = {r["query_id"]: r["vec_id"] for r in approx if r["rank"] == 1}
    for r in exact:
        if r["rank"] == 1:
            assert approx_top1[r["query_id"]] == r["vec_id"]
    # recall@3 is approximate but should be well above zero
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx}
    assert len(exact_set & approx_set) >= len(exact_set) // 2


def test_embedding_near_dups_selfconsistent(spark):
    import numpy as np

    rng = np.random.default_rng(0)
    v = rng.standard_normal(16).astype("float32")
    rows = [
        (0, v.tolist()),
        (1, (v + 0.01 * rng.standard_normal(16).astype("float32")).tolist()),
        (2, rng.standard_normal(16).astype("float32").tolist()),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = {(r["a"], r["b"]) for r in embedding_near_dups(df, dim=16, min_cos=0.95).collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs


def test_multimodal_plumbing(spark):
    media = synth_media(spark, 60)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 60
    assert all(len(r["feature"]) == 64 for r in rows)
    # determinism: same payload -> same pseudo-features
    again = {r["doc_id"]: r["feature"] for r in extract_features(media).collect()}
    first = {r["doc_id"]: r["feature"] for r in rows}
    assert first == again
    frames = sample_frames(media, every_ms=1000)
    fr = frames.collect()
    assert len(fr) > 0
    assert all(r["ts_ms"] == r["frame_idx"] * 1000 for r in fr)


def test_rolling_hash_fingerprint_golden(spark):
    from vnlp_spark.functions.text_stats import rolling_hash_fingerprint

    def py_rhash(s, base=31, mod=1_000_000_007):
        h = 0
        for ch in s:
            h = (h * base + ord(ch)) % mod
        return h

    texts = ["merhaba dünya İĞ!", "a", "çok güzel 123", "x" * 300]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "text"])
    got = {r["i"]: r["h"] for r in df.select("i", rolling_hash_fingerprint("text").alias("h")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == py_rhash(t), t


def test_near_dups_multiprobe_superset(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal((30, 16)).astype("float32")
    rows = [(i, v.tolist()) for i, v in enumerate(base)]
    rows += [
        (1000 + i, (base[i] + np.float32(0.005) * rng.standard_normal(16).astype("float32")).tolist())
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    single = {(r["a"], r["b"]) for r in embedding_near_dups(df, dim=16, multi_probe=False).collect()}
    multi = {(r["a"], r["b"]) for r in embedding_near_dups(df, dim=16, multi_probe=True).collect()}
    assert single <= multi
    # every planted pair must be recovered by the multi-probe plan
    assert {(i, 1000 + i) for i in range(10)} <= multi


def test_ivf_topk_recall_vs_bruteforce(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    # clustered corpus: 8 centers x 40 points, so IVF cells are meaningful
    centers = rng.standard_normal((8, 16)).astype("float64") * 3
    rows = []
    for i in range(320):
        c = centers[i % 8]
        rows.append((i, (c + rng.standard_normal(16) * 0.3).astype("float32").tolist()))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    from vnlp_spark.operators.similarity import ivf_topk

    exact = brute_force_topk(df, queries, k=5).collect()
    approx = ivf_topk(df, queries, dim=16, k=5, n_cells=8, n_probe=2).collect()
    # self-match must be found (the query's own cell is always probed first)
    approx_top1 = {r["query_id"]: r["vec_id"] for r in approx if r["rank"] == 1}
    for r in exact:
        if r["rank"] == 1:
            assert approx_top1[r["query_id"]] == r["vec_id"]
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx}
    # with clustered data and 2-of-8 probes, recall@5 should be high
    assert len(exact_set & approx_set) >= int(0.8 * len(exact_set))


def test_ivf_deterministic(spark):
    import numpy as np
    from vnlp_spark.operators.similarity import train_coarse_quantizer

    rng = np.random.default_rng(5)
    rows = [(i, rng.standard_normal(8).astype("float32").tolist()) for i in range(100)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    c1 = train_coarse_quantizer(df.orderBy("vec_id"), dim=8, n_cells=4, seed=9)
    c2 = train_coarse_quantizer(df.orderBy("vec_id"), dim=8, n_cells=4, seed=9)
    assert np.allclose(c1, c2)


def test_word2vec_train_and_most_similar(spark):
    from vnlp_spark.operators.embeddings import most_similar, train_word2vec, vectors_table

    sents = [
        "kedi süt içer", "köpek su içer", "kedi uyur", "köpek havlar",
        "kedi süt sever", "köpek kemik sever", "kedi ve köpek oynar",
    ] * 10
    df = spark.createDataFrame([(s.split(),) for s in sents], ["tokens"])
    model = train_word2vec(df, dim=8, min_count=2, seed=1)
    vectors = vectors_table(model)
    vocab = {r["word"] for r in vectors.collect()}
    assert {"kedi", "köpek", "içer"} <= vocab
    sim = most_similar(vectors, ["kedi"], topn=3).collect()
    assert len(sim) == 3
    assert all(r["query_word"] == "kedi" and r["word"] != "kedi" for r in sim)
    assert [r["rank"] for r in sim] == [1, 2, 3]


def test_turkish_dotted_i_oracle_parity(spark, tmp_path):
    """Spark lower('İ') yields 'i'+U+0307 (2 codepoints) while DuckDB
    yields 'i' (1 codepoint); the dedup canonicalizers use Turkish-aware
    lowering (translate 'İIĞÜÖŞÇ' first) on BOTH sides so fingerprints,
    shingles, and char-grams agree engine-to-oracle for real Turkish text."""
    import duckdb
    import pandas as pd
    import __spark_entry__ as m

    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": [
            "İstanbul Büyükşehir Belediyesi duyurdu",
            "istanbul büyükşehir belediyesi duyurdu",
            "İIĞÜÖŞÇ harfleri İstanbul İzmir",
            "normal metin hiç büyük harf yok",
        ],
        "lang": ["tr"] * 4, "source": ["t"] * 4, "n_chars": [10] * 4,
    })
    p = tmp_path / "documents.parquet"
    pdf.to_parquet(p)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{p}'")
    qs, osql = m.queries(), m.oracle_sql()
    for name in ("dedup_exact", "minhash_dedup", "ngram_jaccard_pairs"):
        sdf = qs[name](spark, str(tmp_path))
        cols = sorted(sdf.columns)
        srows = sorted(tuple(r[c] for c in cols) for r in sdf.collect())
        res = con.execute(osql[name])
        dcols = [d[0] for d in res.description]
        dmap = [dcols.index(c) for c in sorted(dcols)]
        drows = sorted(tuple(r[i] for i in dmap) for r in res.fetchall())
        assert srows == drows, name
    # the İ/i pair must canonicalize to ONE exact-dedup group
    fp = {r["keep_doc_id"]: r["n_dupes"] for r in qs["dedup_exact"](spark, str(tmp_path)).collect()}
    assert fp[1] == 2
