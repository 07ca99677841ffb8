"""Round-4 hardening: ADVICE r3 fixes (bands=1 SRP key, mixed-dim
rejection, single-scan empty-FC patch) and the numpy qnt-codec mask."""

from __future__ import annotations

import json

import numpy as np
import pytest


# ---------------------------------------------------------------------------
# ADVICE r3 #1: embedding_dup_pairs_lsh at bands=1 (threshold→1.0 or
# explicit) must not overflow Spark's long literal with a 2^64-1 mask
# ---------------------------------------------------------------------------


def _emb_df(spark, planted_scale=2.0):
    rng = np.random.default_rng(11)
    rows = [(i, rng.standard_normal(16).tolist()) for i in range(40)]
    # planted exact dup: power-of-two rescale is FP-exact, cosine == 1.0
    rows.append((1000, [x * planted_scale for x in rows[0][1]]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_embedding_lsh_bands_1_exact_equality_join(spark):
    from simplepolygon_spark.operators.dedup import embedding_dup_pairs_lsh

    emb = _emb_df(spark)
    # explicit bands=1: the whole 64-bit signature is one band key —
    # previously raised at plan time (mask literal 2^64-1 overflows long)
    got = embedding_dup_pairs_lsh(emb, threshold=0.999, bands=1).collect()
    assert {(r.vec_a, r.vec_b) for r in got} == {(0, 1000)}
    assert all(r.cosine >= 0.999 for r in got)


def test_embedding_lsh_threshold_1_derives_single_band(spark):
    from simplepolygon_spark.operators.dedup import (
        embedding_dup_pairs_lsh,
        srp_bands_for_threshold,
    )

    # threshold 1.0 → p=1.0 → fewest bands = 1 (the overflow trigger)
    assert srp_bands_for_threshold(64, 1.0) == 1
    got = embedding_dup_pairs_lsh(_emb_df(spark), threshold=1.0).collect()
    assert {(r.vec_a, r.vec_b) for r in got} == {(0, 1000)}


# ---------------------------------------------------------------------------
# ADVICE r3 #3: srp_signatures rejects mixed-dimension corpora loudly
# ---------------------------------------------------------------------------


def test_srp_signatures_mixed_dims_raise(spark):
    from simplepolygon_spark.operators.dedup import srp_signatures

    rows = [(i, [float(i)] * 8) for i in range(5)] + [
        (100 + i, [float(i)] * 16) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>").coalesce(1)
    # mixed dims within ONE Arrow batch already die loudly in
    # _emb_matrix ("ragged embeddings"); the ADVICE hazard is dims
    # split ACROSS batches of one task, where each batch is internally
    # rectangular — force that with a tiny Arrow batch size
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "5")
    try:
        with pytest.raises(Exception, match="mixed embedding dimensions"):
            srp_signatures(df).collect()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_srp_signatures_uniform_dims_still_pass(spark):
    from simplepolygon_spark.operators.dedup import srp_signatures

    rows = [(i, [float(i + 1)] * 8) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    out = srp_signatures(df).collect()
    assert len(out) == 6
    # identical directions → identical signatures
    assert len({r.sig for r in out}) == 1


# ---------------------------------------------------------------------------
# ADVICE r3 #4: decompose_geojson parses the corpus ONCE — the empty-FC
# row comes from the same Arrow pass, not a second filter
# ---------------------------------------------------------------------------


def _feat(coords):
    return json.dumps(
        {"type": "Feature", "geometry": {"type": "Polygon", "coordinates": coords}}
    )


def test_decompose_geojson_single_parse_in_plan(spark):
    from simplepolygon_spark.operators.geojson import decompose_geojson

    square = [[[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0], [0.0, 0.0]]]
    df = spark.createDataFrame(
        [("a", _feat(square)), ("b", _feat([]))], "polygon_id string, geojson string"
    )
    out = decompose_geojson(df)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("from_json") == 1, plan
    rows = {r.polygon_id: r for r in out.collect()}
    assert set(rows) == {"a", "b"}
    assert json.loads(rows["b"].feature_collection)["features"] == []
    assert len(json.loads(rows["a"].feature_collection)["features"]) == 1


def test_decompose_polygons_drops_empty_geometry(spark):
    from simplepolygon_spark.operators.decompose import decompose_polygons

    square = [[[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0], [0.0, 0.0]]]
    df = spark.createDataFrame(
        [("a", square), ("b", [])],
        "polygon_id string, rings array<array<array<double>>>",
    )
    assert {r.polygon_id for r in decompose_polygons(df).collect()} == {"a"}


# ---------------------------------------------------------------------------
# VERDICT r3 next-#2: ngram_jaccard scale path — MinHash-banded
# candidates constrained to the block, exact Jaccard verify
# ---------------------------------------------------------------------------


def test_ngram_jaccard_lsh_blocked_banded(spark):
    from simplepolygon_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_lsh,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, "en", base),
        (2, "en", base),  # same block, exact dup → must pair
        (3, "de", base),  # cross block, exact dup → must NOT pair
        (4, "en", base.replace("lazy", "hazy")),  # same block near-dup
        (5, "en", "completely unrelated text about maritime navigation beacons"),
    ] + [(100 + i, "en", f"filler document number {i} with its own words") for i in range(10)]
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs_lsh(
            d, k=5, threshold=0.8, block_col="lang"
        ).collect()
    }
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert (1, 4) in got and got[(1, 4)] < 1.0
    assert not any(3 in p for p in got), "cross-block pair leaked"
    # recall parity with the exhaustive oracle shape on this corpus
    oracle = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(
            d, k=5, threshold=0.8, block_col="lang"
        ).collect()
    }
    assert got == oracle


# ---------------------------------------------------------------------------
# VERDICT r3 next-#4: kmeans early stop + persisted projection
# ---------------------------------------------------------------------------


def _persisted_rdd_count(spark):
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_kmeans_early_stop_and_unpersist(spark):
    import numpy as np

    from simplepolygon_spark.operators.similarity import kmeans_fit_distributed

    rng = np.random.default_rng(3)
    # two tight, well-separated blobs: converges in 2 iterations
    pts = np.concatenate(
        [rng.normal(0, 0.01, (30, 4)), rng.normal(10, 0.01, (30, 4))]
    )
    emb = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(pts)],
        "vec_id long, embedding array<double>",
    )
    init = np.asarray([pts[0], pts[30]])
    before = _persisted_rdd_count(spark)
    C, used = kmeans_fit_distributed(
        emb, 2, iters=8, init=init, tol=1e-6, return_iters=True
    )
    # converged long before the iteration cap — scans were skipped
    assert used < 8
    # and the same centroids as a full run from the same init
    C_full = kmeans_fit_distributed(emb, 2, iters=8, init=init, tol=0.0)
    assert np.allclose(C, C_full)
    # projection unpersisted on return: no net storage growth (<=, not
    # ==: an earlier test's superseded block may be GC'd mid-test,
    # shrinking the count below the baseline)
    assert _persisted_rdd_count(spark) <= before


# ---------------------------------------------------------------------------
# VERDICT r3 next-#5: dup_clusters storage stays bounded across calls
# ---------------------------------------------------------------------------


def test_dup_clusters_storage_bounded_across_calls(spark):
    from simplepolygon_spark.operators.dedup import dup_clusters

    def persisted_ids():
        return {
            r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    # a 12-hop chain forces several pointer-jumping rounds per call
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    before = persisted_ids()
    calls = 3
    for _ in range(calls):
        out = dup_clusters(pairs)
        assert {r.cluster_id for r in out.collect()} == {0}
        del out
    # superseded rounds are freed explicitly, so at most the RETURNED
    # frame's own checkpoint per call can linger awaiting GC — never the
    # rounds × calls pile the unfixed code accumulated (a 12-hop chain
    # runs ~4-5 rounds per call).  Set-difference on RDD ids, not a
    # global count: other tests' stale blocks being GC'd mid-test must
    # not move this assertion.
    new = persisted_ids() - before
    assert len(new) <= calls, sorted(new)


# ---------------------------------------------------------------------------
# VERDICT r3 next-#6: IVF recall anchoring — probing every inverted
# list must reproduce the exact scan (recall@k exactly 1)
# ---------------------------------------------------------------------------


def test_ivf_full_probe_equals_exact_scan(spark):
    import numpy as np

    from simplepolygon_spark.operators.similarity import (
        cosine_topk_arrow,
        ivf_topk,
        kmeans_centroids,
    )

    rng = np.random.default_rng(21)
    X = rng.standard_normal((120, 8))
    emb = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    queries = {int(q): X[q] for q in (3, 40, 77)}
    C = kmeans_centroids(X, n_centroids=4)
    exact = {
        (r.query_id, r.vec_id)
        for r in cosine_topk_arrow(emb, queries, k=7).collect()
    }
    full_probe = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(emb, queries, C, k=7, probes=4).collect()
    }
    assert full_probe == exact


# ---------------------------------------------------------------------------
# VERDICT r3 next-#8: mega-polygon cost routing via max_vertices cap
# ---------------------------------------------------------------------------


def _dense_ring(n):
    import math

    pts = [
        [math.cos(2 * math.pi * i / n), math.sin(2 * math.pi * i / n)]
        for i in range(n)
    ]
    return [pts + [pts[0]]]


def test_max_vertices_cap_routes_oversized(spark):
    from simplepolygon_spark.operators.decompose import (
        decompose_polygons,
        validate_polygons,
    )

    square = [[[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0], [0.0, 0.0]]]
    df = spark.createDataFrame(
        [("small", square), ("mega", _dense_ring(5000))],
        "polygon_id string, rings array<array<array<double>>>",
    )
    # skip: job completes, oversized row routed out, small one intact
    got = decompose_polygons(df, on_error="skip", max_vertices=1000).collect()
    assert {r.polygon_id for r in got} == {"small"}
    # raise: typed error names the cap
    with pytest.raises(Exception, match="exceeds max_vertices cap"):
        decompose_polygons(df, on_error="raise", max_vertices=1000).collect()
    # report: validate surfaces the reject as a row, job completes
    v = {r.polygon_id: r for r in validate_polygons(df, max_vertices=1000).collect()}
    assert v["small"].ok and v["small"].error is None
    assert not v["mega"].ok and "exceeds max_vertices cap" in v["mega"].error
    # no cap (default): the dense polygon is simply valid work
    assert {r.polygon_id for r in decompose_polygons(df).collect()} == {
        "small",
        "mega",
    }
    # a NULL ring ELEMENT under the cap must keep its typed kernel
    # error (skip-mode drops it; validate reports the kernel message,
    # not a raw TypeError from len(None))
    dfn = spark.createDataFrame(
        [("nullring", [square[0], None]), ("ok", square)],
        "polygon_id string, rings array<array<array<double>>>",
    )
    got = decompose_polygons(dfn, on_error="skip", max_vertices=1000).collect()
    assert {r.polygon_id for r in got} == {"ok"}
    v = {r.polygon_id: r for r in validate_polygons(dfn, max_vertices=1000).collect()}
    assert not v["nullring"].ok
    assert "TypeError" not in v["nullring"].error


# ---------------------------------------------------------------------------
# Round-4 extension: canonical-document selection over the pair graph
# ---------------------------------------------------------------------------


def test_canonicalize_duplicates(spark):
    from simplepolygon_spark.operators.dedup import canonicalize_duplicates

    docs = spark.createDataFrame(
        [
            (1, 10.0),
            (2, 30.0),  # cluster {1,2,3}: highest score → keep
            (3, 30.0),  # tie with 2 → higher id loses
            (7, None),  # NULL score, clustered with 8
            (8, 5.0),
            (9, 1.0),  # singleton: kept, own cluster
        ],
        "doc_id long, score double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: (r.cluster_id, r.keep)
        for r in canonicalize_duplicates(docs, pairs, score_col="score").collect()
    }
    assert got == {
        1: (1, False),
        2: (1, True),
        3: (1, False),
        7: (7, False),  # NULL score sorts lowest
        8: (7, True),
        9: (9, True),
    }
    # score_col=None: lowest id per cluster keeps
    got2 = {
        r.doc_id: r.keep
        for r in canonicalize_duplicates(docs, pairs).collect()
    }
    assert got2 == {1: True, 2: False, 3: False, 7: True, 8: False, 9: True}


# ---------------------------------------------------------------------------
# Round-4 extension: distributed covariance / PCA / whitening
# ---------------------------------------------------------------------------


def _pca_corpus(spark, n=200, d=6, seed=5):
    rng = np.random.default_rng(seed)
    # anisotropic: distinct eigenvalues so eigenvectors are unique
    A = rng.standard_normal((d, d))
    X = rng.standard_normal((n, d)) @ A + rng.standard_normal(d) * 3
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    return X, df


def test_covariance_matches_numpy_and_partitioning(spark):
    from simplepolygon_spark.operators.stats import covariance_matrix

    X, df = _pca_corpus(spark)
    expect = np.cov(X, rowvar=False, bias=True)
    got = covariance_matrix(df.repartition(7))
    assert np.allclose(got, expect, atol=1e-10)
    got2 = covariance_matrix(df.coalesce(1))
    assert np.allclose(got, got2, atol=1e-10)


def test_pca_fit_matches_numpy(spark):
    from simplepolygon_spark.operators.stats import pca_fit

    X, df = _pca_corpus(spark)
    model = pca_fit(df, k=3)
    C = np.cov(X, rowvar=False, bias=True)
    w, V = np.linalg.eigh(C)
    order = np.argsort(w)[::-1][:3]
    comps = V[:, order].T
    for r in range(3):  # same sign canonicalization
        j = int(np.abs(comps[r]).argmax())
        if comps[r, j] < 0:
            comps[r] = -comps[r]
    assert np.allclose(model["eigvals"], w[order], rtol=1e-9)
    assert np.allclose(model["components"], comps, atol=1e-9)
    assert np.allclose(model["mean"], X.mean(axis=0), atol=1e-10)


def test_moment_sums_mixed_dims_raise(spark):
    from simplepolygon_spark.operators.stats import covariance_matrix

    # dims split ACROSS Arrow batches of one task (each batch internally
    # rectangular, so _emb_matrix's ragged check passes) — force small
    # batches so the dim boundary falls between them; only the per-index
    # count check catches the cross-batch mix
    rows = [(i, [float(i)] * 4) for i in range(5)] + [
        (10 + i, [float(i)] * 8) for i in range(5)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).coalesce(1)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "5")
    try:
        with pytest.raises(Exception, match="mixed embedding dimensions"):
            covariance_matrix(df)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_pca_whiten_rank_deficient_no_nan(spark):
    from simplepolygon_spark.operators.stats import pca_fit, pca_project

    rng = np.random.default_rng(9)
    X = rng.standard_normal((6, 8))  # n < d: null-space eigenvalues
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    model = pca_fit(df, k=8)
    assert (np.asarray(model["eigvals"]) >= 0).all()
    P = np.asarray(
        [r.projected for r in pca_project(df, model, whiten=True).collect()]
    )
    assert np.isfinite(P).all(), "whitening produced NaN/inf on null space"
    with pytest.raises(ValueError, match="must be in"):
        pca_fit(df, k=9)


def test_canonicalize_string_ids(spark):
    from simplepolygon_spark.operators.dedup import canonicalize_duplicates

    docs = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("c", 2.0), ("z", 9.0)],
        "doc_id string, score double",
    )
    pairs = spark.createDataFrame([("a", "b"), ("b", "c")], "doc_a string, doc_b string")
    got = {
        r.doc_id: (r.cluster_id, r.keep)
        for r in canonicalize_duplicates(docs, pairs, score_col="score").collect()
    }
    # tie between b and c at 2.0 → lexicographically lowest id wins
    assert got == {
        "a": ("a", False),
        "b": ("a", True),
        "c": ("a", False),
        "z": ("z", True),
    }


def test_pca_project_whiten_decorrelates(spark):
    from simplepolygon_spark.operators.stats import pca_fit, pca_project

    X, df = _pca_corpus(spark, n=400)
    model = pca_fit(df, k=4)
    out = pca_project(df, model, whiten=True).orderBy("vec_id").collect()
    P = np.asarray([r.projected for r in out])
    assert P.shape == (400, 4)
    C = np.cov(P, rowvar=False, bias=True)
    # whitened: identity covariance (population, same divisor)
    assert np.allclose(C, np.eye(4), atol=1e-6)
    # projection reproduces the numpy computation exactly
    comps = model["components"] / np.sqrt(model["eigvals"])[:, None]
    expect = (X - model["mean"]) @ comps.T
    assert np.allclose(P, expect, atol=1e-9)


# ---------------------------------------------------------------------------
# VERDICT r3 wrong-#2: qnt codec masks before the uint8 cast — runs
# clean under DeprecationWarning-as-error
# ---------------------------------------------------------------------------


def test_qnt_quantize_no_numpy_deprecation():
    import warnings

    from simplepolygon_spark.sources.images import pixels_of, quantize

    px = pixels_of(7, 16, 12)
    with warnings.catch_warnings():
        warnings.simplefilter("error", DeprecationWarning)
        q = quantize(px, bits=2)
    assert q.dtype == np.uint8
    assert int(np.abs(px.astype(int) - q.astype(int)).max()) <= 3
