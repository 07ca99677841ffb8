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
from simplepolygon_spark.operators.text import (
    fingerprints,
    lang_id,
    quality_scores,
    token_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_token_counts_vs_duckdb(docs):
    got = {r.doc_id: (r.n_tokens, r.n_pieces) for r in token_counts(docs).collect()}
    con = duckdb.connect()
    exp = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            f"""SELECT doc_id,
                       len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
                       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS n_pieces
                FROM '{SF}/documents.parquet'"""
        ).fetchall()
    }
    assert got == exp


def test_fingerprints_vs_duckdb(docs):
    got = {r.doc_id: r.fingerprint for r in fingerprints(docs).collect()}
    con = duckdb.connect()
    exp = dict(
        con.execute(
            f"""SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))
                FROM '{SF}/documents.parquet'"""
        ).fetchall()
    )
    assert got == exp


def test_quality_and_lang_deterministic(docs):
    q1 = sorted(map(tuple, quality_scores(docs).collect()))
    q2 = sorted(map(tuple, quality_scores(docs).collect()))
    assert q1 == q2
    langs = {r.lang_guess for r in lang_id(docs).collect()}
    assert langs <= {"en", "de", "fr", "es", "zh", "und"}


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


def test_pack_sequences_invariants(spark, docs):
    """Packing invariants: offsets inside the window, bins contiguous
    and monotone in doc order, prefix telescopes exactly."""
    from simplepolygon_spark.operators.sampling import pack_sequences

    W = 500
    rows = pack_sequences(docs.limit(200), window_tokens=W).orderBy("doc_id").collect()
    prefix = 0
    last_bin = 0
    for r in rows:
        assert 0 <= r.bin_offset < W
        assert r.bin_id == prefix // W
        assert r.bin_offset == prefix % W
        assert r.bin_id >= last_bin  # bins never go backwards
        last_bin = r.bin_id
        prefix += r.n_tokens


def test_stratified_sample_invariants(spark, docs):
    """≤ n rows per stratum, subset of input, and deterministic across
    invocations (md5-order, not RNG)."""
    from simplepolygon_spark.operators.sampling import stratified_sample

    a = stratified_sample(docs, "lang", 7).select("doc_id", "lang").collect()
    b = stratified_sample(docs, "lang", 7).select("doc_id", "lang").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    from collections import Counter

    per = Counter(r.lang for r in a)
    assert all(c <= 7 for c in per.values())
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert {r.doc_id for r in a} <= all_ids


def test_decontaminate_removes_exact_dupes_of_benchmark(spark, docs):
    """Every doc sharing a fingerprint with the benchmark slice is
    gone; every other doc survives."""
    from simplepolygon_spark.operators.sampling import decontaminate
    from simplepolygon_spark.operators.text import fingerprints

    bench = docs.where(F.col("doc_id") % 7 == 0)
    kept = {r.doc_id for r in decontaminate(docs, bench).select("doc_id").collect()}
    fps = {r.doc_id: r.fingerprint for r in fingerprints(docs).collect()}
    bench_fps = {fps[d] for d in fps if d % 7 == 0}
    for d, f in fps.items():
        assert (d in kept) == (f not in bench_fps)


# ---------------------------------------------------------------------------
# token_budget_sample — deterministic token-budgeted mixture sampling
# ---------------------------------------------------------------------------


def _tbs_docs(spark):
    rows = []
    for i in range(60):
        dom = ["en", "de", "code"][i % 3]
        body = " ".join(f"w{j}" for j in range(5 + (i % 7)))
        rows.append((i, dom, body))
    rows += [(100, "en", None), (101, "en", "   \t  "), (102, "nobudget", "x y z")]
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def _tbs_naive(spark, docs, budgets, default_budget=0):
    """Single-window reference implementation of the same contract."""
    from pyspark.sql import Window as W

    from simplepolygon_spark.operators.sampling import _n_tokens_col

    h = F.md5(F.col("doc_id").cast("string"))
    w = (
        W.partitionBy("lang")
        .orderBy(h, "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    t = docs.select("doc_id", "lang", _n_tokens_col().alias("n_tokens")).withColumn(
        "cum_tokens", F.sum("n_tokens").over(w)
    )
    rows = []
    for r in t.collect():
        b = budgets.get(r.lang, default_budget)
        if r.cum_tokens <= b:
            rows.append((r.doc_id, r.lang, r.n_tokens, r.cum_tokens))
    return sorted(rows)


def test_token_budget_sample_equals_naive_window(spark):
    from simplepolygon_spark.operators.sampling import token_budget_sample

    docs = _tbs_docs(spark)
    budgets = {"en": 60, "de": 45, "code": 10**9}
    got = sorted(
        tuple(r) for r in token_budget_sample(docs, budgets).collect()
    )
    assert got == _tbs_naive(spark, docs, budgets)
    # the budget actually bit: en and de are strict subsets, code is all
    doms = {d for (_, d, _, _) in got}
    assert {"en", "de", "code"} == doms
    n_by = {d: sum(1 for g in got if g[1] == d) for d in doms}
    assert n_by["code"] == 20  # unbounded budget takes the whole domain
    assert 0 < n_by["en"] < 22 and 0 < n_by["de"] < 20
    # absent-domain fallback is 0 -> dropped
    assert not [g for g in got if g[1] == "nobudget"]


def test_token_budget_sample_prefix_semantics(spark):
    """The selected set is the maximal PREFIX: the first overflowing doc
    excludes everything after it, even a small doc that would fit."""
    from simplepolygon_spark.operators.sampling import token_budget_sample

    # md5 order for ids 0..3 within one domain; craft token counts so
    # the second doc in md5 order overflows
    docs = spark.createDataFrame(
        [(i, "en", " ".join(["w"] * n)) for i, n in [(0, 3), (1, 3), (2, 50), (3, 3)]],
        "doc_id long, lang string, text string",
    )
    out = token_budget_sample(docs, {"en": 10})
    got = sorted(r.doc_id for r in out.collect())
    naive = _tbs_naive(spark, docs, {"en": 10})
    assert got == sorted(r[0] for r in naive)
    # and the cut is a prefix in md5 order, not a knapsack fit
    import hashlib

    order = sorted(range(4), key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    sel = set(got)
    seen_out = False
    for i in order:
        if i not in sel:
            seen_out = True
        else:
            assert not seen_out, f"doc {i} selected after a gap — not a prefix"


def test_token_budget_sample_bucket_invariance_and_guards(spark):
    import pytest as _pytest

    from simplepolygon_spark.operators.sampling import token_budget_sample

    docs = _tbs_docs(spark)
    budgets = {"en": 60, "de": 45, "code": 70}
    a = sorted(tuple(r) for r in token_budget_sample(docs, budgets, n_buckets=256).collect())
    b = sorted(tuple(r) for r in token_budget_sample(docs, budgets, n_buckets=1).collect())
    c = sorted(tuple(r) for r in token_budget_sample(docs, budgets, n_buckets=7).collect())
    assert a == b == c
    with _pytest.raises(ValueError, match="n_buckets"):
        token_budget_sample(docs, budgets, n_buckets=0)
    with _pytest.raises(ValueError, match="column"):
        token_budget_sample(docs.withColumn("__tb_h", F.lit(1)), budgets)


def test_token_budget_sample_null_domain_raises(spark):
    import pytest as _pytest

    from simplepolygon_spark.operators.sampling import token_budget_sample

    docs = spark.createDataFrame(
        [(0, "en", "a b c"), (1, None, "d e f")],
        "doc_id long, lang string, text string",
    )
    with _pytest.raises(Exception, match="NULL lang"):
        token_budget_sample(docs, {"en": 100}).collect()


def test_token_length_percentiles_numpy_and_nulls(spark):
    """Exact per-group percentiles equal numpy's linear interpolation;
    NULL-text docs are excluded from the quantile but counted in
    n_docs; the aggregate is partial (map-side combined), never a
    single-partition window."""
    import numpy as np

    from simplepolygon_spark.operators.text import token_length_percentiles

    rows = [(i, "en", "w " * (i + 1)) for i in range(10)]  # 1..10 tokens
    rows += [(10, "en", None), (11, "de", "a b c"), (12, "de", "a b c d e f g")]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {
        r.lang: r.asDict()
        for r in token_length_percentiles(docs, probs=(0.5, 0.9)).collect()
    }
    en = np.arange(1, 11, dtype=float)
    assert out["en"]["p50"] == np.percentile(en, 50)
    assert out["en"]["p90"] == np.percentile(en, 90)
    assert out["en"]["n_docs"] == 11  # NULL text counted in rows
    assert out["de"]["p50"] == 5.0 and out["de"]["n_docs"] == 2

    plan = token_length_percentiles(docs)._jdf.queryExecution().executedPlan().toString()
    assert "partial_percentile" in plan, plan[:2000]


def test_token_length_percentiles_approx_mode(spark):
    """approx=True (KLL sketch at accuracy 10000): estimates track the
    exact per-group percentiles within a tight band on the test corpus
    — the unbounded-value-domain escape hatch the exact map-state
    aggregate can't offer."""
    from simplepolygon_spark.operators.text import token_length_percentiles

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    exact = {r.lang: r for r in token_length_percentiles(docs).collect()}
    appr = {r.lang: r for r in token_length_percentiles(docs, approx=True).collect()}
    assert exact.keys() == appr.keys()
    for lang in exact:
        assert appr[lang].n_docs == exact[lang].n_docs  # counts stay exact
        for c in ("p10", "p25", "p50", "p75", "p90"):
            e, a = getattr(exact[lang], c), getattr(appr[lang], c)
            assert abs(a - e) <= max(2.0, 0.05 * e), (lang, c, e, a)


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
