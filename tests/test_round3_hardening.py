"""Round-3 hardening: inverted-bbox guard, pointer-doubling cluster
convergence, threshold-derived LSH banding."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# tile_cells_df inverted-bbox guard (ADVICE r2)
# ---------------------------------------------------------------------------


def test_tile_cells_inverted_bbox_raises(spark):
    from simplepolygon_spark.operators.crosswalk import tile_cells_df

    bad = spark.createDataFrame(
        [("t0", 10.0, -10.0, 0.0, 1.0)],
        "image_id string, lon_min double, lon_max double, lat_min double, lat_max double",
    )
    with pytest.raises(Exception, match="inverted bbox"):
        tile_cells_df(bad, level=12).collect()


def test_tile_cells_normal_bbox_still_works(spark):
    from simplepolygon_spark.operators.crosswalk import tile_cells_df

    ok = spark.createDataFrame(
        [("t0", -0.01, 0.01, -0.01, 0.01)],
        "image_id string, lon_min double, lon_max double, lat_min double, lat_max double",
    )
    rows = tile_cells_df(ok, level=12).collect()
    assert len(rows) >= 1
    assert all(r.image_id == "t0" for r in rows)


# ---------------------------------------------------------------------------
# dup_clusters: pointer doubling converges on long chains
# ---------------------------------------------------------------------------


def test_dup_clusters_long_chain_converges(spark):
    """A 200-hop duplicate chain needs 200 rounds under plain one-hop
    propagation (previously: RuntimeError at max_iters=25); pointer
    doubling converges in O(log n)."""
    from simplepolygon_spark.operators.dedup import dup_clusters

    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    got = dup_clusters(pairs).collect()
    assert len(got) == n + 1
    assert all(r.cluster_id == 0 for r in got)


def test_dup_clusters_two_components(spark):
    from simplepolygon_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.cluster_id for r in dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


# ---------------------------------------------------------------------------
# threshold-derived banding
# ---------------------------------------------------------------------------


def test_bands_for_threshold_knees():
    from simplepolygon_spark.operators.dedup import bands_for_threshold

    assert bands_for_threshold(64, 0.8) == 8      # knee (1/8)^(1/8) ≈ 0.771
    assert bands_for_threshold(64, 0.5) == 16     # knee (1/16)^(1/4) = 0.5
    assert bands_for_threshold(64, 0.95) == 4     # knee (1/4)^(1/16) ≈ 0.917


# ---------------------------------------------------------------------------
# embedding near-dup via random-hyperplane LSH (VERDICT r2 top item)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def emb(spark):
    return (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .selectExpr("vec_id", "CAST(embedding AS array<double>) AS embedding")
        .cache()
    )


def test_embedding_lsh_matches_brute_force_on_planted_dups(spark, emb):
    """Corpus + exactly-rescaled copies (x2.0 is exact in binary FP, so
    SRP sign bits are bit-identical -> recall exactly 1): the LSH
    pipeline must return the same pair set as brute-force all-pairs."""
    from simplepolygon_spark.operators.dedup import (
        embedding_dup_pairs,
        embedding_dup_pairs_lsh,
    )

    planted = emb.where(F.col("vec_id") < 30).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 2.0).alias("embedding"),
    )
    aug = emb.unionByName(planted)
    got = sorted(
        (r.vec_a, r.vec_b)
        for r in embedding_dup_pairs_lsh(aug, threshold=0.95).collect()
    )
    brute = sorted(
        (r.vec_a, r.vec_b)
        for r in embedding_dup_pairs(aug, threshold=0.95, block_col=None).collect()
    )
    assert got == brute == [(i, i + 1000000) for i in range(30)]


def test_embedding_lsh_candidates_far_below_all_pairs(spark, emb):
    """The bucket join must generate FAR fewer candidates than n^2/2 —
    the whole point of replacing within-block all-pairs."""
    from simplepolygon_spark.operators.dedup import srp_signatures

    n = emb.count()
    vecs = emb.select("vec_id", F.col("embedding").alias("v"))
    sigs = srp_signatures(vecs, 64, 7, id_col="vec_id", vec_col="v")
    bk = sigs.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("sig"), 8 * i).bitwiseAND(F.lit(255))
                    for i in range(8)
                ]
            )
        ).alias("band", "key"),
    )
    a = bk.select(F.col("vec_id").alias("a"), "band", "key")
    b = bk.select(F.col("vec_id").alias("b"), "band", "key")
    n_cand = (
        a.join(b, ["band", "key"]).where(F.col("a") < F.col("b")).distinct().count()
    )
    assert n_cand < (n * (n - 1) // 2) * 0.05, (n_cand, n)


def test_srp_signatures_deterministic_across_partitionings(spark, emb):
    from simplepolygon_spark.operators.dedup import srp_signatures

    vecs = emb.select("vec_id", F.col("embedding").alias("v"))
    s1 = {r.vec_id: r.sig for r in srp_signatures(vecs.coalesce(1)).collect()}
    s8 = {r.vec_id: r.sig for r in srp_signatures(vecs.repartition(8)).collect()}
    assert s1 == s8


def test_batch_minhash_equals_per_doc_reference():
    """Whole-batch reduceat kernel == per-doc _shingle_hashes signatures
    (including sub-k and empty texts, which pad to k spaces)."""
    import numpy as np

    from simplepolygon_spark.operators.dedup import (
        _MERSENNE,
        _batch_minhash,
        _shingle_hashes,
    )

    rng = np.random.default_rng(7)
    A = rng.integers(1, _MERSENNE, 16, dtype=np.uint64)
    B = rng.integers(0, _MERSENNE, 16, dtype=np.uint64)
    texts = ["hello world", "", "ab", "ümlauts ünd more", "x" * 300, "hello world"]
    got = _batch_minhash(texts, A, B, 5)
    for j, t in enumerate(texts):
        sh = _shingle_hashes(t, 5)
        with np.errstate(over="ignore"):
            ref = ((A[:, None] * sh[None, :] + B[:, None]) % np.uint64(_MERSENNE)).min(axis=1)
        assert (got[:, j] == ref).all(), t


def test_srp_bands_for_threshold():
    from simplepolygon_spark.operators.dedup import srp_bands_for_threshold

    # c=0.95 -> p~0.899 -> 8 bands (knee 0.771 <= p; 4 bands' 0.917 > p)
    assert srp_bands_for_threshold(64, 0.95) == 8
    # c=0.99 -> p~0.955 -> 4 bands (knee 0.917)
    assert srp_bands_for_threshold(64, 0.99) == 4
    # c=1.0 -> p=1.0 -> 1 band suffices (exact dups collide everywhere)
    assert srp_bands_for_threshold(64, 1.0) == 1


# ---------------------------------------------------------------------------
# distributed k-means (IVF index build at scale)
# ---------------------------------------------------------------------------


def test_kmeans_distributed_matches_single_node(spark, emb):
    """Same init, same iters: the cluster-fitted centroids must equal a
    plain numpy k-means to float accumulation order; and the fit must be
    invariant to how the corpus is partitioned."""
    import numpy as np

    from simplepolygon_spark.operators.similarity import kmeans_fit_distributed

    X = np.asarray(
        [r.embedding for r in emb.orderBy("vec_id").collect()], np.float64
    )
    rng = np.random.default_rng(3)
    init = X[rng.choice(len(X), size=8, replace=False)].copy()

    # single-node reference with identical update rule (empty keeps old)
    C = init.copy()
    for _ in range(4):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for c in range(8):
            m = a == c
            if m.any():
                C[c] = X[m].mean(axis=0)

    got1 = kmeans_fit_distributed(emb.repartition(7), 8, iters=4, init=init)
    got2 = kmeans_fit_distributed(emb.coalesce(1), 8, iters=4, init=init)
    assert np.allclose(got1, C, rtol=1e-9, atol=1e-9)
    assert np.allclose(got2, C, rtol=1e-9, atol=1e-9)


def test_kmeans_distributed_default_init_deterministic(spark, emb):
    import numpy as np

    from simplepolygon_spark.operators.similarity import kmeans_fit_distributed

    a = kmeans_fit_distributed(emb.repartition(5), 4, iters=2)
    b = kmeans_fit_distributed(emb.repartition(2), 4, iters=2)
    assert np.allclose(a, b, rtol=1e-9, atol=1e-9)
    assert a.shape == (4, 64)


def test_kmeans_distributed_feeds_ivf(spark, emb):
    """End-to-end: cluster-fitted centroids drive ivf_topk.  With ALL
    centroids probed IVF must equal brute force EXACTLY (the candidate
    mask covers the corpus); with 3/8 probes it returns a valid partial
    recall (this corpus is random 64-dim noise — no cluster structure —
    so partial-probe recall is inherently modest; the point of the test
    is the plumbing, the exactness invariant, and monotonicity)."""
    import numpy as np

    from simplepolygon_spark.operators.similarity import (
        cosine_topk_window,
        ivf_topk,
        kmeans_fit_distributed,
    )

    C = kmeans_fit_distributed(emb, 8, iters=4)
    pdf = emb.where(F.col("vec_id").isin([1, 2, 3])).toPandas()
    queries = {int(r.vec_id): np.asarray(r.embedding, np.float64) for r in pdf.itertuples()}
    q = spark.createDataFrame(pdf[["vec_id", "embedding"]]).selectExpr(
        "vec_id AS query_id", "embedding"
    )
    exact = {(r.query_id, r.rank, r.vec_id) for r in cosine_topk_window(emb, q, k=5).collect()}
    full = {
        (r.query_id, r.rank, r.vec_id)
        for r in ivf_topk(emb, queries, C, k=5, probes=8).collect()
    }
    assert full == exact  # all probes == brute force, bit-exact ranks

    ex_pairs = {(a, c) for a, _, c in exact}
    r3 = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(emb, queries, C, k=5, probes=3).collect()
    }
    r6 = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(emb, queries, C, k=5, probes=6).collect()
    }
    assert len(r3 & ex_pairs) >= 1
    assert len(r6 & ex_pairs) >= len(r3 & ex_pairs)  # recall grows with probes


def test_tile_cells_antimeridian_split(spark):
    """antimeridian='split' treats lon_min > lon_max as a dateline
    crossing: cells appear on BOTH sides of the dateline and equal the
    union of the two half-tiles; the default mode still rejects."""
    from simplepolygon_spark.operators.crosswalk import tile_cells_df

    schema = "image_id string, lon_min double, lon_max double, lat_min double, lat_max double"
    crossing = spark.createDataFrame(
        [("t0", 179.9, -179.9, 0.0, 0.1)], schema
    )
    got = {
        r.cell_id
        for r in tile_cells_df(crossing, level=12, antimeridian="split").collect()
    }
    halves = spark.createDataFrame(
        [("e", 179.9, 180.0, 0.0, 0.1), ("w", -180.0, -179.9, 0.0, 0.1)], schema
    )
    expect = {r.cell_id for r in tile_cells_df(halves, level=12).collect()}
    assert got == expect and len(got) > 2

    with pytest.raises(Exception, match="inverted bbox"):
        tile_cells_df(crossing, level=12).collect()
    # latitude inversion has no wrap meaning — split mode still rejects
    bad_lat = spark.createDataFrame([("t1", 0.0, 1.0, 5.0, 4.0)], schema)
    with pytest.raises(Exception, match="inverted bbox"):
        tile_cells_df(bad_lat, level=12, antimeridian="split").collect()
    # the skew cap applies to the SUMMED width of a wrapped tile
    wide = spark.createDataFrame([("t2", 10.0, 9.0, -80.0, 80.0)], schema)
    with pytest.raises(Exception, match="cells at level"):
        tile_cells_df(wide, level=12, antimeridian="split").collect()


# ---------------------------------------------------------------------------
# third review pass: fused coordinate guard, id_col rename, NULL-rings
# skip
# ---------------------------------------------------------------------------


def test_fused_invalid_coordinates_never_assigned(spark):
    """A NaN/out-of-window point must surface as the NULL-ring validity
    row, never be clip-assigned to a boundary cell's ring (same guard as
    pip_join)."""
    import numpy as np

    from simplepolygon_spark.operators.fused import validate_and_assign
    from simplepolygon_spark.operators.tiling import (
        build_interval_index,
        broadcast_index,
    )
    from simplepolygon_spark.sources.images import encode_image

    # one world-spanning ring: every VALID point is inside
    ring = [[-179.0, -89.0], [179.0, -89.0], [179.0, 89.0], [-179.0, 89.0], [-179.0, -89.0]]
    idx = build_interval_index(
        [{"polygon_id": "p0", "ring_index": 0, "coords": ring}]
    )
    bc = broadcast_index(spark, idx)

    def row(i, lon, lat):
        import hashlib as hl

        iid = f"img{i:09d}"
        digest = hl.blake2b(iid.encode()).digest()
        cap = f"synthetic image {i} :: {digest[:12].hex()}"
        data, w, h, fmt = encode_image(i)
        return (iid, data, fmt, cap, lon, lat)

    df = spark.createDataFrame(
        [
            row(1, 0.0, 0.0),          # valid, inside
            row(2, 190.0, 0.0),        # out of window
            row(3, float("nan"), 0.0), # NaN
        ],
        "image_id string, bytes binary, fmt string, caption string, lon double, lat double",
    )
    out = {r.image_id: r for r in validate_and_assign(df, bc).collect()}
    assert out["img000000001"].polygon_id == "p0"
    assert out["img000000002"].polygon_id is None
    assert out["img000000003"].polygon_id is None
    # validity still computed for the invalid-coordinate rows
    assert all(r.caption_ok for r in out.values())


def test_decompose_geojson_custom_id_col(spark):
    import json

    from simplepolygon_spark.operators.geojson import decompose_geojson

    feat = {
        "type": "Feature",
        "geometry": {
            "type": "Polygon",
            "coordinates": [[[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0], [0.0, 0.0]]],
        },
    }
    df = spark.createDataFrame([("f7", json.dumps(feat))], "fid string, geojson string")
    rows = decompose_geojson(df, id_col="fid").collect()
    assert len(rows) == 1 and rows[0].fid == "f7"
    fc = json.loads(rows[0].feature_collection)
    assert len(fc["features"]) == 1


def test_null_rings_cell_is_typed_and_skippable(spark):
    from simplepolygon_spark.operators.decompose import (
        POLYGONS_SCHEMA,
        decompose_polygons,
    )

    good = [[[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0], [0.0, 0.0]]]
    df = spark.createDataFrame([("ok", good), ("bad", None)], POLYGONS_SCHEMA)
    rows = decompose_polygons(df, on_error="skip").collect()
    assert {r.polygon_id for r in rows} == {"ok"}
    with pytest.raises(Exception, match="non-empty geometry"):
        decompose_polygons(df, on_error="raise").collect()


# ---------------------------------------------------------------------------
# fifth review pass: banding guards, column-clash safety, bbox kernel guard
# ---------------------------------------------------------------------------


def test_lsh_banding_guards(spark):
    from simplepolygon_spark.operators.dedup import (
        minhash_band_buckets,
        srp_signatures,
    )

    d = spark.createDataFrame([("a", "some text")], "doc_id string, text string")
    with pytest.raises(ValueError, match="must divide num_hashes"):
        minhash_band_buckets(d, num_hashes=64, bands=10)
    e = spark.createDataFrame([(1, [0.1, 0.2])], "vec_id long, v array<double>")
    with pytest.raises(ValueError, match=r"num_planes .* must be in \[1, 64\]"):
        srp_signatures(e, num_planes=128)


def test_crosswalk_kernel_rejects_inverted_bbox(spark):
    import numpy as np

    from simplepolygon_spark.operators.crosswalk import _bbox_cells_batch

    lo = np.array([10.0]); la = np.array([10.0])
    hi = np.array([0.0]); ha = np.array([0.0])
    with pytest.raises(ValueError, match="inverted bbox"):
        _bbox_cells_batch(lo, la, hi, ha, 12, ids=np.array(["t9"], object))
    nan = np.array([float("nan")])
    with pytest.raises(ValueError, match="non-finite"):
        _bbox_cells_batch(nan, la, hi, ha, 12)


def test_package_zip_rebuilds_on_content_change(tmp_path):
    """Content-hash caching: stable path for unchanged source, a NEW
    zip the moment any .py changes — the stale-shipment hazard a
    pid-keyed cache had (recycled pid → executors run old code)."""
    import os
    import zipfile

    from simplepolygon_spark import deploy

    pkg = tmp_path / "fakepkg"
    pkg.mkdir()
    (pkg / "mod.py").write_text("X = 1\n")
    p1 = deploy.package_zip(str(pkg))
    assert p1 == deploy.package_zip(str(pkg))  # stable while unchanged
    assert os.path.exists(p1)
    (pkg / "mod.py").write_text("X = 2\n")
    p2 = deploy.package_zip(str(pkg))
    assert p2 != p1  # edited content → different zip, never stale
    with zipfile.ZipFile(p2) as z:
        assert b"X = 2" in z.read("simplepolygon_spark/mod.py")
    # the real package zips and round-trips too
    assert os.path.exists(deploy.package_zip())


def test_decompose_geojson_empty_coordinates_emits_empty_fc(spark):
    """coordinates: [] must yield {"type":"FeatureCollection",
    "features":[]} (the reference fast path), not a silently dropped
    row."""
    import json

    from simplepolygon_spark.operators.geojson import decompose_geojson

    def feat(coords):
        return json.dumps(
            {"type": "Feature", "geometry": {"type": "Polygon", "coordinates": coords}}
        )

    square = [[[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0], [0.0, 0.0]]]
    df = spark.createDataFrame(
        [("a", feat(square)), ("b", feat([]))], "polygon_id string, geojson string"
    )
    rows = {r.polygon_id: r for r in decompose_geojson(df).collect()}
    assert set(rows) == {"a", "b"}  # no dropped ids
    assert json.loads(rows["b"].feature_collection) == {
        "type": "FeatureCollection",
        "features": [],
    }
    assert len(json.loads(rows["a"].feature_collection)["features"]) == 1


def test_emb_matrix_rejects_null_embeddings():
    import numpy as np
    import pyarrow as pa

    from simplepolygon_spark.operators.similarity import _emb_matrix

    ok = pa.array([[1.0, 2.0], [3.0, 4.0]])
    assert _emb_matrix(ok).shape == (2, 2)
    with pytest.raises(ValueError, match="NULL embedding"):
        _emb_matrix(pa.array([[1.0, 2.0], None, [3.0, 4.0]]))
    with pytest.raises(ValueError, match="ragged"):
        _emb_matrix(pa.array([[1.0, 2.0], [3.0, 4.0, 5.0]]))


def test_decompose_polygons_rejects_bad_on_error(spark):
    from simplepolygon_spark.operators.decompose import (
        POLYGONS_SCHEMA,
        decompose_polygons,
    )

    df = spark.createDataFrame([], POLYGONS_SCHEMA)
    with pytest.raises(ValueError, match="on_error"):
        decompose_polygons(df, on_error="ignore")


def test_banded_hamming_pairs_equals_brute_force(spark):
    """The generic 64-bit banded-Hamming join must equal the all-pairs
    popcount answer exactly — including negative signatures (sign bit
    set) and the remainder band when n_bands does not divide 64."""
    import itertools
    import random

    rng = random.Random(11)
    base = rng.getrandbits(64)

    def flip(sig, k):
        s = sig
        for b in rng.sample(range(64), k):
            s ^= 1 << b
        return s

    sigs = [base, flip(base, 1), flip(base, 3), flip(base, 17), rng.getrandbits(64)]
    sigs += [rng.getrandbits(64) for _ in range(20)]
    to_i64 = lambda u: u - (1 << 64) if u >= 1 << 63 else u
    rows = [(i, to_i64(s)) for i, s in enumerate(sigs)]

    from simplepolygon_spark.operators.dedup import banded_hamming_pairs

    for h, nb in ((3, None), (4, None), (5, 7)):  # 7 bands: 64 % 7 != 0
        df = spark.createDataFrame(rows, "id long, sig long")
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in banded_hamming_pairs(df, "sig", "id", h, n_bands=nb).collect()
        }
        expect = {
            (i, j, bin((sigs[i] ^ sigs[j])).count("1"))
            for i, j in itertools.combinations(range(len(sigs)), 2)
            if bin(sigs[i] ^ sigs[j]).count("1") <= h
        }
        assert got == expect, (h, nb)


def test_phash_dup_pairs_finds_planted_image_dups(spark):
    from simplepolygon_spark.operators.dedup import phash_dup_pairs
    from simplepolygon_spark.sources.images import images_df

    imgs = images_df(spark, 50, partitions=2, with_bytes=False)
    # organic phashes are blake2b-derived — random pairs sit at ~32 bits
    # apart, so nothing organic qualifies at <=4; plant two near-dups
    base = imgs.where(F.col("image_id") == "img000000007").select("phash").head().phash
    planted = spark.createDataFrame(
        [("dupA", base ^ (1 << 5)), ("dupB", base ^ (1 << 5) ^ (1 << 44))],
        "image_id string, phash long",
    )
    allimg = imgs.select("image_id", "phash").unionByName(planted)
    got = {
        (frozenset((r.image_a, r.image_b)), r.hamming)
        for r in phash_dup_pairs(allimg, max_hamming=4).collect()
    }
    # EXACTLY the three planted pairs — an unexpected organic near-dup
    # (or a missed planted one) must fail, not slip past a loose check
    assert got == {
        (frozenset(("dupA", "img000000007")), 1),
        (frozenset(("dupA", "dupB")), 1),
        (frozenset(("dupB", "img000000007")), 2),
    }


def test_banded_hamming_guards_and_exact_join_mode(spark):
    from simplepolygon_spark.operators.dedup import banded_hamming_pairs

    df = spark.createDataFrame(
        [(1, 42), (2, 42), (3, 43)], "id long, sig long"
    )
    # recall-1 pigeonhole requires n_bands > max_hamming
    with pytest.raises(ValueError, match="must exceed max_hamming"):
        banded_hamming_pairs(df, "sig", "id", max_hamming=4, n_bands=4)
    # max_hamming=0 → single 64-bit band → exact-equality join (the
    # 2^64-1 mask literal would overflow a Spark long; raw column key)
    got = {(r.id_a, r.id_b, r.hamming) for r in
           banded_hamming_pairs(df, "sig", "id", max_hamming=0).collect()}
    assert got == {(1, 2, 0)}


def test_emb_matrix_rejects_compensating_ragged_lengths():
    import pyarrow as pa

    from simplepolygon_spark.operators.similarity import _emb_matrix

    # 3 + 5 = 8 = 2 rows x 4: total divides, per-row lengths don't
    with pytest.raises(ValueError, match="ragged"):
        _emb_matrix(pa.array([[1.0, 2.0, 3.0], [4.0, 5.0, 6.0, 7.0, 8.0]]))


def test_signature_kernels_skip_null_text(spark):
    """NULL text has no signature: the Arrow kernels must exclude it
    (previously: AttributeError crash inside the worker), and NULL-text
    rows never enter the dedup candidate graph."""
    from simplepolygon_spark.operators.dedup import (
        minhash_doc_sigs,
        ngram_jaccard_pairs,
        simhash_64,
    )

    d = spark.createDataFrame(
        [(1, "hello world"), (2, None), (3, "hello world")],
        "doc_id long, text string",
    )
    assert {r.doc_id for r in simhash_64(d).collect()} == {1, 3}
    assert {r.doc_id for r in minhash_doc_sigs(d).collect()} == {1, 3}
    pairs = ngram_jaccard_pairs(
        d.withColumn("source", F.lit(0)), block_col="source"
    ).collect()
    assert {(p.doc_a, p.doc_b) for p in pairs} == {(1, 3)}


def test_srp_signatures_reject_null_embedding(spark):
    """SRP signatures: NULL vectors are rejected loudly (shared guard)."""
    from simplepolygon_spark.operators.dedup import srp_signatures

    emb = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, None)], "vec_id long, v array<double>"
    )
    with pytest.raises(Exception, match="NULL embedding"):
        srp_signatures(emb).collect()
