"""Training-data pipeline operators: dedup ladders, ANN, text analysis."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from spapy_spark.operators import ann, dedup, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    base = "the quick brown fox jumps over the lazy dog again and again"
    for i in range(20):
        rows.append((i, base))  # 20 exact dups
    for i in range(20, 40):
        rows.append((i, base + f" variant {i}"))  # near dups
    for i in range(40, 60):
        rows.append((i, f"totally different content number {i} "
                        f"with unrelated words galore {i * 7}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    out = dedup.exact_dedup(docs).collect()
    groups = {r["h"]: r for r in out}
    assert len(groups) == 41  # 1 dup-group + 40 singles
    big = [r for r in out if r["n_dups"] == 20]
    assert len(big) == 1 and big[0]["rep_doc_id"] == 0


def test_minhash_near_dups(spark, docs):
    pairs = dedup.minhash_candidate_pairs(docs, n_hashes=16, bands=4).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # all 20 exact dups must collide in every band
    for a in range(20):
        for b in range(a + 1, 20):
            assert (a, b) in got
    # unrelated docs should rarely collide with the dup cluster
    wrong = [p for p in got if (p[0] < 40) != (p[1] < 40)]
    assert len(wrong) < 20


def test_jaccard_pairs(spark, docs):
    out = dedup.jaccard_pairs(docs, shingle_len=3, threshold=0.9).collect()
    got = {(r["id_a"], r["id_b"]): (r["inter"], r["union_n"]) for r in out}
    assert got[(0, 1)][0] == got[(0, 1)][1]  # identical texts: J = 1
    # near-dup variants share the long prefix but differ in suffix
    assert all(a < 40 and b < 40 for (a, b) in got)


def test_simhash_and_hamming(spark, docs):
    sims = dedup.simhash(docs, bits=16)
    rows = {r["doc_id"]: r["simhash"] for r in sims.collect()}
    assert rows[0] == rows[5]  # identical text → identical fingerprint
    pairs = dedup.hamming_pairs(sims, max_dist=3, bits=16).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in got


def test_ann_brute_vs_numpy(spark):
    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(100, 16)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(100)],
        "vec_id long, embedding array<float>",
    )
    q = df.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ann.cosine_topk(df, q, k=4).collect()
    vd = vecs.astype(np.float64)
    norms = np.linalg.norm(vd, axis=1)
    cos = (vd @ vd.T) / np.outer(norms, norms)
    for qid in range(3):
        order = np.lexsort((np.arange(100), -cos[qid]))[:4]
        mine = [r["vec_id"] for r in got if r["query_id"] == qid]
        assert mine == order.tolist()
        assert mine[0] == qid  # self is rank 1


def test_text_ops(spark, docs):
    s = {r["doc_id"]: r for r in text.token_stats(docs).collect()}
    assert s[0]["n_tokens"] == 12
    assert s[0]["n_stop"] == 3  # the, over, the ... ("and" too) → check
    q = {r["doc_id"]: r for r in text.quality_scores(docs).collect()}
    assert q[0]["stop_ratio"] == pytest.approx(s[0]["n_stop"] / 12)
    fp = text.fingerprint(docs).collect()
    vals = {r["doc_id"]: r["fp"] for r in fp}
    assert vals[0] == vals[1]  # identical text
    assert vals[0] != vals[45]
    lg = {r["doc_id"]: r["lang_guess"]
          for r in text.lang_guess(docs).collect()}
    assert lg[0] == "en"
    sha = text.text_sha256(docs).collect()
    assert len({r["text_sha"] for r in sha if r["doc_id"] < 20}) == 1


def test_embedding_near_dup_exact(spark):
    rng = np.random.default_rng(7)
    arr = rng.normal(size=(40, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in arr[i]]) for i in range(len(arr))],
        "vec_id long, embedding array<float>",
    )
    out = dedup.embedding_near_dup_exact(df, threshold=0.25).collect()
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in out}
    # numpy brute-force oracle
    V = arr.astype(np.float64)
    n = V / np.linalg.norm(V, axis=1, keepdims=True)
    C = n @ n.T
    expect = {
        (a, b): C[a, b]
        for a in range(40) for b in range(a + 1, 40)
        if C[a, b] >= 0.25
    }
    assert set(got) == set(expect)
    for k, v in expect.items():
        assert abs(got[k] - v) < 1e-9


def test_embedding_near_dup_pairs(spark):
    rng = np.random.default_rng(21)
    base = rng.normal(size=(30, 16))
    vecs = []
    # 30 base vectors, each with one near-duplicate (tiny perturbation)
    for i, b in enumerate(base):
        vecs.append(b)
        vecs.append(b + 0.01 * rng.normal(size=16))
    arr = np.array(vecs, dtype=np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in arr[i]]) for i in range(len(arr))],
        "vec_id long, embedding array<float>",
    )
    out = dedup.embedding_near_dup_pairs(df, dim=16, threshold=0.99).collect()
    got = {(r["id_a"], r["id_b"]) for r in out}
    # every planted near-dup pair (2i, 2i+1) must be found
    planted = {(2 * i, 2 * i + 1) for i in range(30)}
    assert planted <= got
    # spurious high-cosine pairs among random gaussians are rare
    assert len(got - planted) < 5
    for r in out:
        assert r["cosine"] >= 0.99


def test_lang_ngram(spark):
    docs = spark.createDataFrame(
        [(0, "the thing and the other thing for them"),
         (1, "der ich sch und der die gen ich"),
         (2, "les ent une our est les ait eur")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["lang_pred"]
           for r in text.lang_ngram(docs).collect()}
    assert out[0] == "en" and out[1] == "de" and out[2] == "fr"


def test_cosine_topk_arrow_matches_exact(spark):
    from spapy_spark.operators import ann
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = ann.cosine_topk_arrow(emb, queries, k=5).collect()
    b = ann.cosine_topk(emb, queries, k=5).collect()
    ka = {(r["query_id"], r["rank"]): r["vec_id"] for r in a}
    kb = {(r["query_id"], r["rank"]): r["vec_id"] for r in b}
    assert ka == kb
    ca = {(r["query_id"], r["rank"]): r["cosine"] for r in a}
    cb = {(r["query_id"], r["rank"]): r["cosine"] for r in b}
    for key in ca:
        assert abs(ca[key] - cb[key]) < 1e-9
