"""Training-data operators over the driver testdata (documents /
embeddings), cross-checked against DuckDB / numpy oracles."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from pyspark.sql import functions as F

from simplepolygon_spark.operators.dedup import (
    embedding_dup_pairs,
    exact_dup_groups,
    minhash_dup_pairs,
    ngram_jaccard_pairs,
    simhash_dup_pairs,
)
from simplepolygon_spark.operators.similarity import (
    cosine_topk_arrow,
    cosine_topk_window,
    ivf_topk,
    kmeans_centroids,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dup_groups(spark, docs):
    # testdata has no exact dups; add two to prove the operator fires
    extra = docs.limit(2).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    groups = exact_dup_groups(docs.unionByName(extra))
    dups = groups.filter(F.col("n_docs") > 1).collect()
    assert len(dups) == 2
    assert all(r.n_docs == 2 for r in dups)


def test_ngram_jaccard_and_minhash_consistency(spark, docs):
    """MinHash+LSH is a recall-oriented approximation of exact Jaccard:
    every high-similarity pair it returns must be verified-correct, and
    at θ=0.8 its verified pairs must contain all exact pairs ≥ 0.9
    found by the exhaustive operator (generous LSH margin)."""
    small = docs.limit(120).cache()
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(small, k=5, threshold=0.30, block_col="lang").collect()
    }
    mh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_dup_pairs(small, threshold=0.30).collect()
    }
    # verification step makes every MinHash pair exact-correct
    for pair, jac in mh.items():
        assert jac >= 0.30
    # pairs in the same block found by exact must appear in minhash
    # results when similarity is well above the LSH threshold
    for pair, jac in exact.items():
        if jac >= 0.9:
            assert pair in mh
    small.unpersist()


def test_simhash_pairs_are_low_hamming(docs):
    pairs = simhash_dup_pairs(docs.limit(150), max_hamming=10).collect()
    for r in pairs:
        assert r.hamming <= 10


def test_embedding_dups_vs_duckdb(emb):
    got = {
        (r.vec_a, r.vec_b): r.cosine
        for r in embedding_dup_pairs(emb, threshold=0.9, block_col="label").collect()
    }
    con = duckdb.connect()
    exp = {
        (a, b): round(c, 6)
        for a, b, c in con.execute(
            f"""SELECT a.vec_id, b.vec_id,
                       list_cosine_similarity(a.embedding, b.embedding) AS c
                FROM '{SF}/embeddings.parquet' a JOIN '{SF}/embeddings.parquet' b
                  ON a.label = b.label AND a.vec_id < b.vec_id
                WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.9"""
        ).fetchall()
    }
    assert set(got) == set(exp)
    for pair in got:
        assert abs(got[pair] - exp[pair]) < 1e-5


def test_cosine_topk_window_vs_arrow_vs_numpy(spark, emb):
    pdf = emb.toPandas()
    vecs = {int(r.vec_id): np.asarray(r.embedding, np.float64) for r in pdf.itertuples()}
    qids = [0, 7, 42]
    queries = {q: vecs[q] for q in qids}

    arrow = cosine_topk_arrow(emb, queries, k=5).collect()
    qdf = spark.createDataFrame(
        [(q, queries[q].tolist()) for q in qids], "query_id long, embedding array<double>"
    )
    window = cosine_topk_window(emb, qdf, k=5).collect()

    def key(rows):
        return {(r.query_id, r.rank): r.vec_id for r in rows}

    assert key(arrow) == key(window)

    # numpy oracle
    M = np.stack([vecs[i] for i in sorted(vecs)])
    ids = np.array(sorted(vecs))
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    for q in qids:
        qs = queries[q] / np.linalg.norm(queries[q])
        sims = Mn @ qs
        order = np.lexsort((ids, -np.round(sims, 6)))[:5]
        expect = ids[order].tolist()
        got_q = [r.vec_id for r in sorted(arrow, key=lambda r: r.rank) if r.query_id == q]
        assert got_q == expect


def test_ivf_recall(spark, emb):
    pdf = emb.toPandas()
    vecs = {int(r.vec_id): np.asarray(r.embedding, np.float64) for r in pdf.itertuples()}
    sample = np.stack([vecs[i] for i in sorted(vecs)[:200]])
    C = kmeans_centroids(sample, n_centroids=8, iters=5)
    queries = {q: vecs[q] for q in (1, 13)}
    exact = cosine_topk_arrow(emb, queries, k=5).collect()
    approx = ivf_topk(emb, queries, C, k=5, probes=3).collect()
    ex = {(r.query_id, r.vec_id) for r in exact}
    ap = {(r.query_id, r.vec_id) for r in approx}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.6  # probes=3/8 of a 64-dim random corpus


def test_simhash_token_hash_matches_duckdb_sql():
    """The numpy token hash (codepoint Horner + splitmix64) and its SQL
    rendering must be bit-identical — this is what makes the simhash
    driver oracle an independent recomputation."""
    from simplepolygon_spark.operators.dedup import _token_hashes, simhash_token_sql

    toks = ["hello", "a", "zz", "the", "qu1ck", "x" * 25, "café", "mixedCASE7"]
    np_h = _token_hashes(toks)
    con = duckdb.connect()
    vals = ", ".join(f"('{t}')" for t in toks)
    rows = con.execute(
        f"SELECT CAST({simhash_token_sql('tok')} AS HUGEINT) "
        f"FROM (VALUES {vals}) AS t(tok)"
    ).fetchall()
    assert [int(x) for x in np_h] == [int(r[0]) for r in rows]


def test_simhash_banding_pigeonhole(spark, docs):
    """At max_hamming=3 with 4 bands, banding recall is exactly 1: the
    banded pairs equal the brute-force all-pairs popcount filter."""
    from simplepolygon_spark.operators.dedup import simhash_64, simhash_dup_pairs

    d = docs.limit(200).cache()
    sigs = {r.doc_id: r.simhash for r in simhash_64(d).collect()}
    brute = set()
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1") <= 3:
                brute.add((a, b))
    banded = {(r.doc_a, r.doc_b) for r in simhash_dup_pairs(d, max_hamming=3).collect()}
    d.unpersist()
    assert banded == brute


def test_ivf_single_pass_matches_numpy_oracle(spark, emb):
    """The one-scan IVF (broadcast probe lists, no join) must equal a
    driver-side numpy replica of assignment → probe → exact cosine."""
    from simplepolygon_spark.operators.similarity import ivf_topk

    pdf = emb.toPandas()
    vecs = {int(r.vec_id): np.asarray(r.embedding, np.float64) for r in pdf.itertuples()}
    cent_ids = sorted(vecs)[:8]
    C = np.stack([vecs[c] for c in cent_ids])
    queries = {q: vecs[q] for q in (1, 13)}
    got = {
        (r.query_id, r.rank): r.vec_id
        for r in ivf_topk(emb, queries, C, k=5, probes=3).collect()
    }

    ids = np.array(sorted(vecs))
    M = np.stack([vecs[i] for i in ids])
    d = ((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    assign = d.argmin(axis=1)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    for qid, qv in queries.items():
        dq = ((C - qv[None, :]) ** 2).sum(axis=1)
        probes = set(np.argsort(dq, kind="stable")[:3].tolist())
        mask = np.isin(assign, list(probes))
        sims = Mn[mask] @ (qv / np.linalg.norm(qv))
        sub_ids = ids[mask]
        order = np.lexsort((sub_ids, -np.round(sims, 6)))[:5]
        for rank, vid in enumerate(sub_ids[order], start=1):
            assert got[(qid, rank)] == vid


def test_dup_clusters_matches_union_find(spark):
    """Distributed min-label propagation == driver union-find on a
    graph with a diameter-4 chain, a triangle, and an isolated pair."""
    from simplepolygon_spark.operators.dedup import dup_clusters

    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)]
    pdf = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {r.doc_id: r.cluster_id for r in dup_clusters(pdf).collect()}

    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in pairs:
        union(a, b)
    expect = {x: find(x) for x in parent}
    assert got == expect


def test_dup_clusters_driver_path_equals_distributed(spark, docs):
    """The size-gated driver union-find fast path (r6) emits exactly
    the labels of the distributed pointer-jumping rounds — forced onto
    each path via driver_edges_max."""
    from simplepolygon_spark.operators.dedup import (
        dup_clusters,
        minhash_dup_pairs,
    )

    pairs = minhash_dup_pairs(docs.limit(400), threshold=0.5).localCheckpoint(
        eager=True
    )
    fast = {
        (r.doc_id, r.cluster_id)
        for r in dup_clusters(pairs, driver_edges_max=10**6).collect()
    }
    dist = {
        (r.doc_id, r.cluster_id)
        for r in dup_clusters(pairs, driver_edges_max=0).collect()
    }
    assert fast == dist
    assert fast, "vacuous: no duplicate pairs in the fixture slice"
