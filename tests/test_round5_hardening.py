"""Round-5 hardening: VERDICT r4 next-round items + ADVICE fixes.

Covers:
  * ivf_topk probe misuse guard + ivf_probes_for_recall derivation
    (VERDICT r4 #7)
  * pca_project id-dtype passthrough (r4 ADVICE)
  * assert_uniform_dims global mixed-dimension guard (r4 ADVICE)
  * ngram_jaccard_lsh block attach inside the signature pass +
    dup_clusters observe()-fused changed-check (VERDICT r4 #3)
  * whitened embedding dedup composition (VERDICT r4 #4)
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# IVF probes (VERDICT r4 #7)
# ---------------------------------------------------------------------------


def test_ivf_topk_requires_probes(spark):
    """No silent recall cliff: omitting probes must raise, and the error
    must point at the measured curve / the derivation helper."""
    from simplepolygon_spark.operators.similarity import ivf_topk

    emb = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(4)], "vec_id long, embedding array<double>"
    )
    C = np.asarray([[0.0, 0.0], [3.0, 0.0]])
    with pytest.raises(ValueError, match="probes is required"):
        ivf_topk(emb, {0: np.asarray([1.0, 0.0])}, C, k=2)
    with pytest.raises(ValueError, match="must be in"):
        ivf_topk(emb, {0: np.asarray([1.0, 0.0])}, C, k=2, probes=3)


def test_ivf_probes_for_recall_matches_measured_curve():
    from simplepolygon_spark.operators.similarity import ivf_probes_for_recall

    # exact search demanded -> every list
    assert ivf_probes_for_recall(16, 1.0) == 16
    assert ivf_probes_for_recall(8, 2.0) == 8
    # measured: 4/16 probes -> 0.591; 0.6 needs one more
    assert ivf_probes_for_recall(16, 0.6) == 5
    # at/below an anchor the anchor's probe count suffices
    assert ivf_probes_for_recall(16, 0.59) == 4
    assert ivf_probes_for_recall(16, 0.3) <= 2
    # monotone in the target
    probes = [ivf_probes_for_recall(16, t) for t in (0.2, 0.5, 0.8, 0.95, 1.0)]
    assert probes == sorted(probes)


# ---------------------------------------------------------------------------
# pca_project id dtype passthrough (r4 ADVICE)
# ---------------------------------------------------------------------------


def test_pca_project_string_ids(spark):
    from simplepolygon_spark.operators.stats import pca_fit, pca_project

    rng = np.random.default_rng(5)
    X = rng.standard_normal((40, 6))
    emb = spark.createDataFrame(
        [(f"doc{i:03d}", X[i].tolist()) for i in range(len(X))],
        "vec_id string, embedding array<double>",
    )
    model = pca_fit(emb, k=3)
    out = {r.vec_id: np.asarray(r.projected) for r in pca_project(emb, model).collect()}
    assert set(out) == {f"doc{i:03d}" for i in range(len(X))}
    # values match the numpy projection
    P = (X - model["mean"]) @ model["components"].T
    for i in range(len(X)):
        assert np.allclose(out[f"doc{i:03d}"], P[i], atol=1e-9)


# ---------------------------------------------------------------------------
# assert_uniform_dims (r4 ADVICE: global mixed-dim guard)
# ---------------------------------------------------------------------------


def test_assert_uniform_dims(spark):
    from simplepolygon_spark.operators.dedup import assert_uniform_dims

    ok = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    assert assert_uniform_dims(ok) == 3

    # partition-aligned mixed dims: each partition sees ONE dim, so the
    # per-task srp guard passes — the global check must still catch it
    a = spark.createDataFrame(
        [(i, [1.0, 2.0]) for i in range(5)], "vec_id long, embedding array<double>"
    ).repartition(1)
    b = spark.createDataFrame(
        [(i + 10, [1.0, 2.0, 3.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    ).repartition(1)
    with pytest.raises(ValueError, match="mixed embedding dimensions"):
        assert_uniform_dims(a.union(b))

    null = spark.createDataFrame(
        [(0, [1.0]), (1, None)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="NULL"):
        assert_uniform_dims(null)


# ---------------------------------------------------------------------------
# minhash carry_col + dup_clusters observe fusion (VERDICT r4 #3)
# ---------------------------------------------------------------------------


def test_minhash_sigs_carry_col_passthrough(spark):
    """The blocking key rides the signature Arrow kernel: same values,
    input dtype preserved, no extra join needed downstream."""
    from simplepolygon_spark.operators.dedup import minhash_doc_sigs

    docs = spark.createDataFrame(
        [(1, "aaaa bbbb cccc", "en"), (2, "dddd eeee ffff", "de"), (3, None, "fr")],
        "doc_id long, text string, lang string",
    )
    out = minhash_doc_sigs(docs, num_hashes=8, carry_col="lang")
    assert dict(out.dtypes)["lang"] == "string"
    rows = {r.doc_id: r.lang for r in out.collect()}
    assert rows == {1: "en", 2: "de"}  # NULL text excluded, lang intact

    # signatures identical with and without the carry
    plain = {r.doc_id: r.sig for r in minhash_doc_sigs(docs, num_hashes=8).collect()}
    carried = {r.doc_id: r.sig for r in out.collect()}
    assert plain == carried

    import pytest as _pytest

    with _pytest.raises(ValueError, match="collides"):
        minhash_doc_sigs(docs, carry_col="sig")


def test_block_col_pairs_unchanged_and_blocked(spark):
    """minhash_dup_pairs(block_col=...) after the carry-col rewrite:
    identical duplicate text in DIFFERENT blocks must not pair; same
    block must."""
    from simplepolygon_spark.operators.dedup import minhash_dup_pairs

    dup = "the quick brown fox jumps over the lazy dog " * 8
    docs = spark.createDataFrame(
        [(1, dup, "a"), (2, dup, "a"), (3, dup, "b"), (4, "totally other words " * 9, "a")],
        "doc_id long, text string, src string",
    )
    pairs = {
        (r.doc_a, r.doc_b)
        for r in minhash_dup_pairs(docs, threshold=0.9, block_col="src").collect()
    }
    assert pairs == {(1, 2)}


def test_dup_clusters_converges_on_chain(spark):
    """Pointer jumping with the observed changed-count: a 12-hop chain
    converges (O(log d) rounds) to one component labeled by its min."""
    from simplepolygon_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    out = {r.doc_id: r.cluster_id for r in dup_clusters(pairs).collect()}
    assert out == {i: 0 for i in range(13)}


# ---------------------------------------------------------------------------
# whitened embedding dedup composition (VERDICT r4 #4)
# ---------------------------------------------------------------------------


def _whiten_corpus(spark, n=60, d=8, seed=11):
    """Random corpus + planted identical pairs (ids 1000/1001, 1002/1003)."""
    rng = np.random.default_rng(seed)
    X = rng.standard_normal((n, d)) @ np.diag(np.linspace(0.2, 3.0, d))
    rows = [(i, X[i].tolist()) for i in range(n)]
    rows += [
        (1000, X[0].tolist()),
        (1001, X[0].tolist()),
        (1002, (X[1] * 1.0).tolist()),
        (1003, X[1].tolist()),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_whitened_dup_pairs_equals_brute_force_on_whitened(spark):
    """Composed fit → whiten-project → LSH dedup ≡ brute-force cosine
    pairs computed on the SAME whitened vectors (identical raw vectors
    project identically → cosine 1 → recall 1 through every band;
    random non-dups sit far below 0.95 in the whitened space)."""
    from simplepolygon_spark.operators.dedup import (
        embedding_dup_pairs,
        whitened_dup_pairs_lsh,
    )
    from simplepolygon_spark.operators.stats import pca_fit, pca_project

    emb = _whiten_corpus(spark)
    got = {
        (r.vec_a, r.vec_b): r.cosine
        for r in whitened_dup_pairs_lsh(emb, threshold=0.95).collect()
    }

    model = pca_fit(emb, None)
    proj = pca_project(emb, model, whiten=True).withColumnRenamed(
        "projected", "embedding"
    )
    brute = {
        (r.vec_a, r.vec_b): r.cosine
        for r in embedding_dup_pairs(proj, threshold=0.95, block_col=None).collect()
    }
    assert got == brute
    # the planted identical pairs are all present with cosine 1
    for pair in [(0, 1000), (0, 1001), (1000, 1001), (1, 1002), (1, 1003), (1002, 1003)]:
        assert got[pair] == 1.0


def test_whitened_plan_no_extra_exchange(spark):
    """The whitening projection FUSES with the SRP signature kernel:
    mapInArrow feeding mapInArrow is one narrow chain — the signature
    stage of the whitened path contains ZERO Exchange (no added
    shuffle vs the unwhitened path)."""
    from simplepolygon_spark.operators.dedup import srp_signatures
    from simplepolygon_spark.operators.stats import pca_fit, pca_project

    emb = _whiten_corpus(spark)
    model = pca_fit(emb, None)
    proj = pca_project(emb, model, whiten=True)
    vecs = proj.select("vec_id", F.col("projected").alias("v"))
    sigs = srp_signatures(vecs, 64, 7, id_col="vec_id", vec_col="v")
    plan = sigs._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert plan.count("MapInArrow") >= 2  # projection + signature kernels
