"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship spatial-join pipeline on sf0.001;
``queries()`` exposes one callable per implemented operator family from
SURVEY.md §2 over the driver testdata tables; ``oracle_sql()`` gives the
DuckDB-equivalent SQL for every SQL-expressible query (the others get
rows-only checks).

Shared SQL fragments (point derivation, cell bit-math, unrolled ray-cast
PIP) are generated once and used verbatim by both engines so values
match bit-for-bit.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simplepolygon_spark.deploy import ensure_shipped as _ship
from simplepolygon_spark.functions.cells_sql import cell_sql_expr

# --------------------------------------------------------------------------
# shared SQL fragments (identical text for Spark SQL and DuckDB)
# --------------------------------------------------------------------------

LON_SQL = "(((CAST(event_id AS DOUBLE) * 0.6180339887498949) - floor(CAST(event_id AS DOUBLE) * 0.6180339887498949)) * 360.0 - 180.0)"
LAT_SQL = "(((CAST(event_id AS DOUBLE) * 0.3819660112501051) - floor(CAST(event_id AS DOUBLE) * 0.3819660112501051)) * 170.0 - 85.0)"

# two fixed simple rings for the PIP oracle (closed, CCW)
PIP_RINGS = {
    "tri": [(-120.0, -40.0), (40.0, -55.0), (-10.0, 60.0), (-120.0, -40.0)],
    "rect": [(60.0, -20.0), (160.0, -20.0), (160.0, 50.0), (60.0, 50.0), (60.0, -20.0)],
}


def _pip_sql(ring, x: str, y: str) -> str:
    """Unrolled strict ray-cast (boundary excluded is measure-zero for
    the derived points) — identical text for both engines."""
    terms = []
    n = len(ring) - 1
    for i in range(n):
        xi, yi = ring[i]
        xj, yj = ring[(i - 1) % n]
        if yi == yj:
            continue  # horizontal edge: never crossed by the ray, and
            # emitting it would divide by zero under Spark ANSI mode
        terms.append(
            f"(CASE WHEN (({yi} > {y}) != ({yj} > {y})) AND "
            f"({x} < ({xj} - {xi}) * ({y} - {yi}) / ({yj} - {yi}) + {xi}) "
            f"THEN 1 ELSE 0 END)"
        )
    return "((" + " + ".join(terms) + ") % 2 = 1)"


def _events_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ship(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.selectExpr(
        "event_id", f"{LON_SQL} AS lon", f"{LAT_SQL} AS lat"
    )


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    _ship(spark)
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: decompose the fixture footprint grid, build the
    broadcast interval index, PIP-join the sf0.001 event-derived points,
    and aggregate per-ring stats with salting."""
    from simplepolygon_spark.operators.decompose import decompose_polygons
    from simplepolygon_spark.operators.tiling import (
        broadcast_index,
        build_interval_index,
        pip_join,
    )
    from simplepolygon_spark.plans.pipeline import salted_ring_stats
    from simplepolygon_spark.sources.footprints import footprints_df

    _ship(spark)
    rings = decompose_polygons(footprints_df(spark, grid=3))
    index = build_interval_index(rings.collect(), cover_level=9)
    bc = broadcast_index(spark, index)
    pts = _events_points(spark, "/root/testdata/sf0.001").selectExpr(
        "CAST(event_id AS STRING) AS image_id", "lon", "lat"
    )
    asg = pip_join(pts, bc)
    return salted_ring_stats(asg).orderBy("polygon_id", "ring_index")


# --------------------------------------------------------------------------
# queries + oracles
# --------------------------------------------------------------------------


def q_decompose_rings(spark, sf_dir):
    """C1-C5: decomposition summary per fixture footprint, checked
    against a frozen golden table (the goldens derive from the
    vertex-exact reference-parity suite in tests/test_decompose_parity;
    freezing them pins the distributed operator against regression)."""
    from simplepolygon_spark.operators.decompose import decompose_polygons
    from simplepolygon_spark.sources.fixtures import REFERENCE_TEST_DIR
    from simplepolygon_spark.sources.footprints import footprints_df

    # the golden's grid includes the reference checkout's fixtures;
    # without them footprints_df lays out other polygons under other ids
    if not os.path.isdir(REFERENCE_TEST_DIR):
        raise FileNotFoundError(
            f"decompose_rings needs the reference fixtures, and "
            f"{REFERENCE_TEST_DIR!r} is missing"
        )
    _ship(spark)
    out = decompose_polygons(footprints_df(spark, grid=2))
    return out.select(
        "polygon_id",
        "ring_index",
        "parent",
        "winding",
        "net_winding",
        F.size("coords").alias("n_vertices"),
    ).orderBy("polygon_id", "ring_index")


# (polygon_id, ring_index, parent, winding, net_winding, n_vertices) of
# footprints_df(grid=2) — frozen from the parity-verified kernel output
_DECOMPOSE_GOLDEN = [
    ("8-shape@0,0", 0, -1, 1, 1, 4),
    ("8-shape@0,0", 1, -1, -1, -1, 4),
    ("banana@1,0", 0, -1, 1, 1, 6),
    ("banana@1,0", 1, 0, 1, 2, 4),
    ("complex@0,1", 0, -1, -1, -1, 5),
    ("complex@0,1", 1, -1, 1, 1, 23),
    ("complex@0,1", 2, 1, 1, 2, 16),
    ("complex@0,1", 3, 2, 1, 3, 6),
    ("crossing-rings@1,1", 0, 1, 1, 0, 5),
    ("crossing-rings@1,1", 1, -1, -1, -1, 9),
]


def _q_decompose_rings_sql():
    vals = ", ".join(
        f"('{p}', {ri}, {pa}, {w}, {nw}, {nv})"
        for p, ri, pa, w, nw, nv in _DECOMPOSE_GOLDEN
    )
    return (
        "SELECT polygon_id, ring_index, parent, winding, net_winding, n_vertices "
        f"FROM (VALUES {vals}) AS t(polygon_id, ring_index, parent, winding, "
        "net_winding, n_vertices)"
    )


def q_cell_ids(spark, sf_dir):
    c12 = cell_sql_expr("lon", "lat", 12)
    c16 = cell_sql_expr("lon", "lat", 16)
    return _events_points(spark, sf_dir).selectExpr(
        "event_id",
        f"{c12} AS cell12",
        f"{c16} AS cell16",
        f"(({c16}) >> 8) AS cell16_parent12",
    )


def _q_cell_ids_sql():
    c12 = cell_sql_expr("lon", "lat", 12)
    c16 = cell_sql_expr("lon", "lat", 16)
    return f"""
        WITH pts AS (SELECT event_id, {LON_SQL} AS lon, {LAT_SQL} AS lat FROM events)
        SELECT event_id, {c12} AS cell12, {c16} AS cell16,
               (({c16}) >> 8) AS cell16_parent12
        FROM pts
    """


def q_pip_join(spark, sf_dir):
    """J5: engine pip_join (interval index + mapInArrow refine) against
    two fixed rings; oracle is the unrolled ray-cast in SQL."""
    from simplepolygon_spark.operators.decompose import (
        POLYGONS_SCHEMA,
        decompose_polygons,
    )
    from simplepolygon_spark.operators.tiling import (
        broadcast_index,
        build_interval_index,
        pip_join,
    )

    polys = spark.createDataFrame(
        [
            (name, [[[float(x), float(y)] for x, y in ring]])
            for name, ring in PIP_RINGS.items()
        ],
        POLYGONS_SCHEMA,
    )
    rings = decompose_polygons(polys)
    bc = broadcast_index(spark, build_interval_index(rings.collect(), cover_level=9))
    pts = _events_points(spark, sf_dir).selectExpr(
        "CAST(event_id AS STRING) AS event_id", "lon", "lat"
    )
    return (
        pip_join(pts, bc, id_col="event_id")
        .select("event_id", "polygon_id")
        .orderBy("event_id", "polygon_id")
    )


def q_pip_join_relational(spark, sf_dir):
    """J5 fallback path: PIP via the cell-bucket equi-join (no
    broadcast index — for ring layers beyond executor memory); same
    ray-cast oracle as the broadcast path."""
    from simplepolygon_spark.operators.decompose import (
        POLYGONS_SCHEMA,
        decompose_polygons,
    )
    from simplepolygon_spark.operators.tiling import pip_join_relational

    _ship(spark)
    polys = spark.createDataFrame(
        [
            (name, [[[float(x), float(y)] for x, y in ring]])
            for name, ring in PIP_RINGS.items()
        ],
        POLYGONS_SCHEMA,
    )
    rings = decompose_polygons(polys)
    pts = _events_points(spark, sf_dir).selectExpr(
        "CAST(event_id AS STRING) AS event_id", "lon", "lat"
    )
    return (
        pip_join_relational(pts, rings, cover_level=9, id_col="event_id")
        .select("event_id", "polygon_id")
        .orderBy("event_id", "polygon_id")
    )


def _q_pip_join_sql():
    parts = []
    for name, ring in PIP_RINGS.items():
        parts.append(
            f"""SELECT CAST(event_id AS VARCHAR) AS event_id, '{name}' AS polygon_id
                FROM (SELECT event_id, {LON_SQL} AS lon, {LAT_SQL} AS lat FROM events)
                WHERE {_pip_sql(ring, 'lon', 'lat')}"""
        )
    return " UNION ALL ".join(parts)


KNN_CENTROIDS = [
    ("c0", -120.0, -40.0),
    ("c1", -10.0, 10.0),
    ("c2", 80.0, 35.0),
    ("c3", 150.0, -60.0),
]


def q_knn(spark, sf_dir):
    """J6: k=2 nearest fixed centroids per event point (window form)."""
    from simplepolygon_spark.operators.knn import knn_join_window

    pts = _events_points(spark, sf_dir).withColumnRenamed("event_id", "image_id")
    cents = spark.createDataFrame(
        [(cid, 0, x, y) for cid, x, y in KNN_CENTROIDS],
        "polygon_id string, ring_index int, cx double, cy double",
    )
    return (
        knn_join_window(pts, cents, k=2, id_col="image_id")
        .selectExpr("CAST(image_id AS BIGINT) AS event_id", "polygon_id AS cid", "rank")
        .orderBy("event_id", "rank")
    )


def _q_knn_sql():
    cent_rows = ", ".join(f"('{c}', {x}, {y})" for c, x, y in KNN_CENTROIDS)
    return f"""
        WITH pts AS (SELECT event_id, {LON_SQL} AS lon, {LAT_SQL} AS lat FROM events),
        cents(cid, cx, cy) AS (VALUES {cent_rows}),
        d AS (SELECT event_id, cid,
                     sqrt((lon - cx) * (lon - cx) + (lat - cy) * (lat - cy)) AS dist
              FROM pts CROSS JOIN cents),
        r AS (SELECT event_id, cid,
                     row_number() OVER (PARTITION BY event_id ORDER BY dist, cid) AS rank
              FROM d)
        SELECT event_id, cid, CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= 2
    """


def q_exact_dedup(spark, sf_dir):
    from simplepolygon_spark.operators.dedup import exact_dup_groups

    return exact_dup_groups(_read(spark, sf_dir, "documents")).orderBy("text_hash")


def _q_exact_dedup_sql():
    return """
        SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS min_doc_id
        FROM documents GROUP BY md5(text)
    """


def q_quantize(spark, sf_dir):
    """Symmetric int8 embedding quantization, flattened to (vec_id, i,
    q, qscale) rows for the gate.  Every step — float→double cast,
    abs/max, /127, floor(x/scale + 0.5) — is shared-IEEE arithmetic,
    so q AND the double qscale hash bit-for-bit against DuckDB with no
    rounding escape hatch.  floor(+0.5) is deliberate: Spark round()
    is HALF_UP, DuckDB's HALF_EVEN — the explicit form is the one
    rule both engines evaluate identically.  Uses the flattened
    scalar-codegen form (``quantize_embeddings_long``, r6): identical
    rule and rows (pinned equal to posexplode(quantize_embeddings) by
    test), ~2x faster — the array form pays an interpreted HOF eval
    per element."""
    from simplepolygon_spark.operators.similarity import quantize_embeddings_long

    return quantize_embeddings_long(_read(spark, sf_dir, "embeddings")).orderBy(
        "vec_id", "i"
    )


def _q_quantize_sql():
    return """
        WITH v AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), s AS (
          SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) / 127.0 AS qscale
          FROM v
        )
        SELECT vec_id, CAST(i1 - 1 AS INTEGER) AS i,
               CAST(CASE WHEN qscale = 0 THEN 0
                         ELSE floor(v[i1] / qscale + 0.5) END AS INTEGER) AS q,
               CASE WHEN qscale = 0 THEN 0.0 ELSE qscale END AS qscale
        FROM s, UNNEST(range(1, len(v) + 1)) AS t(i1)
    """


def q_overlap_join(spark, sf_dir):
    """Polygon↔polygon overlap join over two synthesized square layers
    (grid from doc_id arithmetic; layer B shifted by (0.45, 0.35) with
    a smaller side).  For axis-aligned squares, interiors-intersect ≡
    STRICT bbox overlap, so the DuckDB oracle is an exact strict-
    inequality join — gating the full distributed path (cover melt,
    bucket equi-join, larger-cell-FULL accept rule, exact refine
    kernel) cross-engine; concave/crossing geometry is pytest-gated vs
    an independent brute-force reference (test_overlap.py)."""
    from simplepolygon_spark.operators.overlap import overlap_join

    d = _read(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    x = (F.col("doc_id") % 17).cast("double")
    y = F.floor(F.col("doc_id") / 17).cast("double")

    def square(x0, y0, s):
        return F.array(
            F.array(x0, y0),
            F.array(x0 + s, y0),
            F.array(x0 + s, y0 + s),
            F.array(x0, y0 + s),
            F.array(x0, y0),
        )

    a = d.select(
        F.col("doc_id").cast("string").alias("polygon_id"),
        F.lit(0).alias("ring_index"),
        square(x, y, F.lit(1.2)).alias("coords"),
    )
    b = d.select(
        F.col("doc_id").cast("string").alias("polygon_id"),
        F.lit(0).alias("ring_index"),
        square(x + F.lit(0.45), y + F.lit(0.35), F.lit(0.8)).alias("coords"),
    )
    return (
        overlap_join(a, b)
        .select("a_polygon_id", "b_polygon_id")
        .orderBy("a_polygon_id", "b_polygon_id")
    )


def _q_overlap_join_sql():
    return """
        WITH g AS (
          SELECT CAST(doc_id AS VARCHAR) AS id,
                 CAST(doc_id % 17 AS DOUBLE) AS x,
                 CAST(doc_id // 17 AS DOUBLE) AS y
          FROM documents WHERE doc_id < 300
        )
        SELECT a.id AS a_polygon_id, b.id AS b_polygon_id
        FROM g a JOIN g b
          ON a.x < (b.x + 0.45) + 0.8 AND (b.x + 0.45) < a.x + 1.2
         AND a.y < (b.y + 0.35) + 0.8 AND (b.y + 0.35) < a.y + 1.2
    """


# identical planted-PII expression for both engines: `||` is
# NULL-propagating in Spark AND DuckDB (concat() is not — DuckDB's
# skips NULL args), CAST AS STRING and lpad agree in both
def q_ngram_jaccard(spark, sf_dir):
    from simplepolygon_spark.operators.dedup import ngram_jaccard_pairs

    d = _read(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, k=5, threshold=0.5, block_col="lang").orderBy(
        "doc_a", "doc_b"
    )


def _q_ngram_jaccard_sql():
    return """
        WITH sh AS (
          SELECT doc_id, lang,
                 list_distinct(list_transform(range(1, greatest(length(text) - 4, 1) + 1),
                               i -> substr(lower(text), i, 5))) AS s
          FROM documents)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                     / greatest(len(list_distinct(list_concat(a.s, b.s))), 1), 6) AS jaccard
        FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / greatest(len(list_distinct(list_concat(a.s, b.s))), 1) >= 0.5
    """


def q_ngram_jaccard_lsh(spark, sf_dir):
    """Scale path of q:ngram_jaccard: same exact-Jaccard definition and
    same-block (lang) constraint, but candidates come from MinHash
    banding with the block key joined into the bucket key — never a
    quadratic within-block self-join.  At threshold 0.8 every true pair
    on this corpus sits at j≥0.92 (see q_minhash_pairs), so the banded
    pipeline's output equals the exhaustive blocked oracle."""
    from simplepolygon_spark.operators.dedup import ngram_jaccard_pairs_lsh

    d = _read(spark, sf_dir, "documents")
    return ngram_jaccard_pairs_lsh(
        d, k=5, threshold=0.8, block_col="lang"
    ).orderBy("doc_a", "doc_b")


def _q_ngram_jaccard_lsh_sql():
    # exhaustive blocked oracle at the LSH query's threshold — the
    # relational set-similarity formulation (see _q_minhash_sql) with
    # the block equality folded into the shingle equi-join
    return """
        WITH sh AS (
          SELECT doc_id, lang,
                 list_distinct(list_transform(range(1, greatest(length(text) - 4, 1) + 1),
                               i -> substr(lower(text), i, 5))) AS s
          FROM documents),
        tok AS (SELECT doc_id, lang, unnest(s) AS g FROM sh),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
          FROM tok a JOIN tok b ON a.g = b.g AND a.lang = b.lang
                                AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        sizes AS (SELECT doc_id, len(s) AS n FROM sh)
        SELECT doc_a, doc_b,
               round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
    """


_HAM_A = 0x0123456789ABCDE  # 60-bit planted base signature
_HAM_B = _HAM_A ^ 1  # hamming 1 vs A
_HAM_C = _HAM_A ^ (1 << 5) ^ (1 << 17) ^ (1 << 33) ^ (1 << 49)  # 4 vs A, 5 vs B


def q_hamming_dups(spark, sf_dir):
    """Generic 64-bit banded-Hamming near-dup join (the machinery
    behind phash_dup_pairs image dedup and simhash text dedup),
    value-gated end to end: signatures are the first 15 md5 hex chars
    of each doc (deterministic, engine-portable, 60 bits so the long
    cast cannot overflow under ANSI), plus three PLANTED literal sigs
    at hamming 1/4/5 so the gate is non-vacuous — organic md5 sigs
    only pair at hamming 0 (exact-dup texts; avalanche puts everything
    else at ~30 bits).  The hamming-5 pair must be absent at
    max_hamming=4."""
    from simplepolygon_spark.operators.dedup import banded_hamming_pairs

    d = _read(spark, sf_dir, "documents")
    sigs = d.select(
        "doc_id",
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long").alias("sig"),
    )
    planted = spark.createDataFrame(
        [(-1, _HAM_A), (-2, _HAM_B), (-3, _HAM_C)], "doc_id long, sig long"
    )
    return banded_hamming_pairs(
        sigs.unionByName(planted), "sig", "doc_id", max_hamming=4
    ).orderBy("id_a", "id_b")


def _q_hamming_dups_sql():
    return rf"""
        WITH sigs AS (
          SELECT doc_id,
                 list_reduce(
                   list_transform(string_split(substr(md5(text), 1, 15), ''),
                                  c -> CAST(strpos('0123456789abcdef', c) AS BIGINT) - 1),
                   (a, b) -> a * 16 + b) AS sig
          FROM documents
          UNION ALL
          SELECT * FROM (VALUES (-1, {_HAM_A}), (-2, {_HAM_B}), (-3, {_HAM_C})) t(doc_id, sig)
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
        FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sig, b.sig)) <= 4
    """


def q_embedding_dups(spark, sf_dir):
    """All-pairs-within-block near-dup (the small-scale oracle shape;
    q:embedding_dups_lsh is the scale path).  The corpus is augmented
    with exactly-rescaled copies (x2.0 — exact in binary FP) of the
    first 30 vectors, copies keeping their source's label, so the gate
    is NON-VACUOUS: 30 planted pairs must surface (the organic max
    pairwise cosine is ~0.51, so nothing else qualifies at 0.9)."""
    from simplepolygon_spark.operators.dedup import embedding_dup_pairs

    e = _read(spark, sf_dir, "embeddings")
    planted = e.where(F.col("vec_id") < 30).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(F.col("embedding").cast("array<double>"), lambda x: x * 2.0)
        .cast("array<float>")
        .alias("embedding"),
        "label",
    )
    aug = e.unionByName(planted)
    return (
        embedding_dup_pairs(aug, threshold=0.9, block_col="label")
        .select("vec_a", "vec_b")
        .orderBy("vec_a", "vec_b")
    )


def _q_embedding_dups_sql():
    return """
        WITH aug AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
          UNION ALL
          SELECT vec_id + 1000000,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> CAST(CAST(x * 2.0 AS FLOAT) AS DOUBLE)),
                 label
          FROM embeddings WHERE vec_id < 30
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM aug a JOIN aug b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.v, b.v) >= 0.9
    """


def q_embedding_dups_lsh(spark, sf_dir):
    """Random-hyperplane LSH near-dup (the scale path): the corpus is
    augmented with exactly-rescaled copies of the first 50 vectors
    (×2.0 — a power of two, so every float operation scales EXACTLY and
    sign/cosine computations are bit-identical).  At threshold 0.95 the
    only qualifying pairs are those planted exact duplicates (max
    organic pairwise cosine in this corpus is ~0.51), and SRP recall at
    cosine 1 is exactly 1 — so the LSH pipeline's output provably
    equals the brute-force all-pairs oracle."""
    from simplepolygon_spark.operators.dedup import embedding_dup_pairs_lsh

    e = _read(spark, sf_dir, "embeddings")
    base = e.selectExpr("vec_id", "CAST(embedding AS array<double>) AS embedding")
    planted = base.where(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 2.0).alias("embedding"),
    )
    aug = base.unionByName(planted)
    return (
        embedding_dup_pairs_lsh(aug, threshold=0.95)
        .select("vec_a", "vec_b")
        .orderBy("vec_a", "vec_b")
    )


def _q_embedding_dups_lsh_sql():
    return """
        WITH aug AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
          UNION ALL
          SELECT vec_id + 1000000,
                 list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2.0)
          FROM embeddings WHERE vec_id < 50
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM aug a JOIN aug b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.v, b.v) >= 0.95
    """


def q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k (window form): 3 fixed query vectors."""
    from simplepolygon_spark.operators.similarity import cosine_topk_window

    e = _read(spark, sf_dir, "embeddings")
    q = (
        e.where(F.col("vec_id").isin([0, 7, 42]))
        .selectExpr("vec_id AS query_id", "CAST(embedding AS array<double>) AS embedding")
    )
    corp = e.selectExpr("vec_id", "CAST(embedding AS array<double>) AS embedding")
    return (
        cosine_topk_window(corp, q, k=5)
        .select("query_id", "vec_id", "rank")
        .orderBy("query_id", "rank")
    )


def _q_cosine_topk_sql():
    return """
        WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id IN (0, 7, 42)),
        d AS (SELECT q.query_id, e.vec_id,
                     round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS cosine
              FROM embeddings e CROSS JOIN q),
        r AS (SELECT query_id, vec_id,
                     row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
              FROM d)
        SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= 5
    """


def q_minhash_pairs(spark, sf_dir):
    """MinHash+LSH verified pairs == the brute-force exact-Jaccard set:
    the emitted jaccard is the exact distinct-5-gram Jaccard recomputed
    for candidates, and on this corpus every true pair sits at j≥0.92
    (banding miss probability < 1e-9 per pair, deterministic data), so
    the approximate pipeline's output equals the exhaustive oracle."""
    from simplepolygon_spark.operators.dedup import minhash_dup_pairs

    d = _read(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    return minhash_dup_pairs(d, threshold=0.8, rebalance=par).orderBy(
        "doc_a", "doc_b"
    )


def _q_minhash_sql(threshold: float = 0.8):
    # relational set-similarity formulation (unnest + equi-join on the
    # shingle) — exact, and ~15x faster in DuckDB than pairwise
    # list_intersect over all doc pairs
    return f"""
        WITH sh AS (
          SELECT doc_id,
                 list_distinct(list_transform(range(1, greatest(length(text) - 4, 1) + 1),
                               i -> substr(lower(text), i, 5))) AS s
          FROM documents),
        tok AS (SELECT doc_id, unnest(s) AS g FROM sh),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
          FROM tok a JOIN tok b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        sizes AS (SELECT doc_id, len(s) AS n FROM sh)
        SELECT doc_a, doc_b,
               round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {threshold}
    """


def q_covariance(spark, sf_dir):
    """Distributed covariance of the embedding corpus: one Arrow scan
    emits per-batch (n, Σx, ΣxxT) partials (d + d² doubles per batch,
    independent of rows), map-side-combined to the driver — the moment
    core of the PCA/whitening preprocessing step (operators/stats.py).
    Oracle recomputes E[xixj] − E[xi]E[xj] relationally in DuckDB."""
    from simplepolygon_spark.operators.stats import covariance_df

    e = _read(spark, sf_dir, "embeddings")
    return covariance_df(e).orderBy("i", "j")


def _q_covariance_sql():
    return """
        WITH u AS (
          SELECT vec_id, i1 - 1 AS i, embedding[i1] AS x
          FROM (SELECT vec_id, embedding,
                       unnest(range(1, len(embedding) + 1)) AS i1
                FROM embeddings)
        ),
        m AS (SELECT i, avg(x) AS mu FROM u GROUP BY i),
        p AS (SELECT a.i AS i, b.i AS j, avg(a.x * b.x) AS exy
              FROM u a JOIN u b USING (vec_id)
              GROUP BY a.i, b.i)
        SELECT CAST(p.i AS INTEGER) AS i, CAST(p.j AS INTEGER) AS j,
               round(exy - ma.mu * mb.mu, 6) + 0.0 AS cov
        FROM p
        JOIN m ma ON ma.i = p.i
        JOIN m mb ON mb.i = p.j
    """


def q_dup_clusters(spark, sf_dir):
    """Near-dup clustering: connected components (min-label
    propagation) over the verified MinHash pair graph — the
    canonical-document selection step; oracle recomputes the pairs
    brute-force in SQL and the components with a recursive CTE."""
    from simplepolygon_spark.operators.dedup import dup_clusters, minhash_dup_pairs

    d = _read(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    return dup_clusters(
        minhash_dup_pairs(d, threshold=0.8, rebalance=par)
    ).orderBy("doc_id")


def q_canonical(spark, sf_dir):
    """Canonical-document selection: every doc gets its near-dup cluster
    (singletons included) and exactly one doc per cluster keeps —
    highest length(text) score, ties to lowest doc_id.  The operator
    resolves best-per-cluster with a map-side-combined max_by aggregate
    (skew-safe), the oracle with a window; tie order is identical."""
    from pyspark.sql import functions as F

    from simplepolygon_spark.operators.dedup import (
        canonicalize_duplicates,
        minhash_dup_pairs,
    )

    d = _read(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    scored = d.withColumn("score", F.length("text").cast("double"))
    return canonicalize_duplicates(
        scored,
        minhash_dup_pairs(d, threshold=0.8, rebalance=par),
        score_col="score",
    ).orderBy("doc_id")


def _q_canonical_sql():
    return f"""
        WITH RECURSIVE pairs AS ({_q_minhash_sql()}),
        edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                  UNION ALL
                  SELECT doc_b AS a, doc_a AS b FROM pairs),
        nodes AS (SELECT DISTINCT a AS node FROM edges),
        reach(node, r) AS (
          SELECT node, node FROM nodes
          UNION
          SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r
        ),
        clus AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
        scored AS (
          SELECT d.doc_id,
                 coalesce(c.cluster_id, d.doc_id) AS cluster_id,
                 coalesce(CAST(length(d.text) AS DOUBLE),
                          CAST('-infinity' AS DOUBLE)) AS s
          FROM documents d LEFT JOIN clus c ON c.doc_id = d.doc_id)
        SELECT doc_id, cluster_id,
               (row_number() OVER (PARTITION BY cluster_id
                                   ORDER BY s DESC, doc_id ASC) = 1) AS keep
        FROM scored
    """


def _q_dup_clusters_sql():
    return f"""
        WITH RECURSIVE pairs AS ({_q_minhash_sql()}),
        edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                  UNION ALL
                  SELECT doc_b AS a, doc_a AS b FROM pairs),
        nodes AS (SELECT DISTINCT a AS node FROM edges),
        reach(node, r) AS (
          SELECT node, node FROM nodes
          UNION
          SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r
        )
        SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
    """


def q_simhash(spark, sf_dir):
    """SimHash banded near-dup pairs at max_hamming=3: with 4 bands of
    16 bits, hamming ≤ 3 pigeonholes at least one band intact, so the
    banded join has recall exactly 1 and the output PROVABLY equals the
    brute-force all-pairs oracle (which recomputes the signatures from
    scratch in SQL: codepoint-Horner + splitmix64 token hash, bit-wise
    majority vote, popcount distance)."""
    from simplepolygon_spark.operators.dedup import simhash_dup_pairs

    d = _read(spark, sf_dir, "documents")
    return simhash_dup_pairs(d, max_hamming=3).orderBy("doc_a", "doc_b")


def _q_simhash_sql():
    from simplepolygon_spark.operators.dedup import simhash_token_sql

    return f"""
        WITH toks AS MATERIALIZED (
          SELECT doc_id, {simhash_token_sql('tok')} AS h
          FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
                FROM documents)
          WHERE tok != ''
        ),
        votes AS (
          SELECT doc_id, b,
                 CASE WHEN 2 * sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE 0 END) > count(*)
                      THEN 1 ELSE 0 END AS bit
          FROM toks CROSS JOIN range(0, 64) t(b)
          GROUP BY doc_id, b
        ),
        sigs0 AS (
          SELECT doc_id, sum(CAST(bit AS HUGEINT) * (CAST(1 AS HUGEINT) << b)) AS us
          FROM votes GROUP BY doc_id
        ),
        sigs AS (
          SELECT d.doc_id,
                 CAST(CASE WHEN COALESCE(us, 0) >= 9223372036854775808
                           THEN COALESCE(us, 0) - 18446744073709551616
                           ELSE COALESCE(us, 0) END AS BIGINT) AS simhash
          FROM documents d LEFT JOIN sigs0 USING (doc_id)
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """


def q_crosswalk(spark, sf_dir):
    """J7 raster↔vector crosswalk over event-derived tiles (rows-only)."""
    from simplepolygon_spark.operators.crosswalk import crosswalk
    from simplepolygon_spark.operators.decompose import decompose_polygons
    from simplepolygon_spark.operators.tiling import (
        broadcast_index,
        build_interval_index,
    )
    from simplepolygon_spark.sources.footprints import footprints_df

    _ship(spark)
    rings = decompose_polygons(footprints_df(spark, grid=2))
    bc = broadcast_index(spark, build_interval_index(rings.collect(), cover_level=8))
    tiles = _events_points(spark, sf_dir).selectExpr(
        "CAST(event_id AS STRING) AS image_id",
        "lon - 0.5 AS lon_min",
        "lat - 0.5 AS lat_min",
        "lon + 0.5 AS lon_max",
        "lat + 0.5 AS lat_max",
    )
    return crosswalk(tiles, bc, level=10).orderBy(
        "image_id", "cell_id", "polygon_id", "ring_index"
    )


def q_crosswalk_relational(spark, sf_dir):
    """J7 fallback path: the cell-bucket equi-join crosswalk (no
    broadcast index — the plan for ring layers beyond executor memory)
    over the same tiles; must equal the broadcast path's oracle."""
    from simplepolygon_spark.operators.crosswalk import crosswalk_relational
    from simplepolygon_spark.operators.decompose import decompose_polygons
    from simplepolygon_spark.sources.footprints import footprints_df

    _ship(spark)
    rings = decompose_polygons(footprints_df(spark, grid=2))
    tiles = _events_points(spark, sf_dir).selectExpr(
        "CAST(event_id AS STRING) AS image_id",
        "lon - 0.5 AS lon_min",
        "lat - 0.5 AS lat_min",
        "lon + 0.5 AS lon_max",
        "lat + 0.5 AS lat_max",
    )
    return crosswalk_relational(
        tiles, rings, level=10, cover_level=8, bucket_level=6
    ).orderBy("image_id", "cell_id", "polygon_id", "ring_index")


def q_knn_arrow(spark, sf_dir):
    """J6 scale path: the broadcast vectorized top-k kNN (mapInArrow,
    no shuffle, no window sort) against rings whose centroids are
    exactly the fixed query centroids — same oracle as the window
    form, so both kNN physical strategies are value-verified."""
    from simplepolygon_spark.operators.knn import knn_join
    from simplepolygon_spark.operators.tiling import (
        broadcast_index,
        build_interval_index,
    )

    _ship(spark)
    rows = [
        {
            "polygon_id": cid,
            "ring_index": 0,
            "coords": [
                [cx - 2.0, cy - 2.0], [cx + 2.0, cy - 2.0],
                [cx + 2.0, cy + 2.0], [cx - 2.0, cy + 2.0],
                [cx - 2.0, cy - 2.0],
            ],
        }
        for cid, cx, cy in KNN_CENTROIDS
    ]
    bc = broadcast_index(spark, build_interval_index(rows, cover_level=6))
    pts = _events_points(spark, sf_dir).selectExpr(
        "CAST(event_id AS STRING) AS image_id", "lon", "lat"
    )
    return (
        knn_join(pts, bc, k=2, id_col="image_id")
        .selectExpr("CAST(image_id AS BIGINT) AS event_id", "polygon_id AS cid", "rank")
        .orderBy("event_id", "rank")
    )


def _q_crosswalk_sql():
    """Oracle: tile→cell expansion, Morton bit-math, and the
    cell-interval overlap join are all recomputed natively in SQL; only
    the small ring-cover dimension (a pure function of the fixture
    footprints, no Spark involved) is inlined as VALUES — its own
    correctness is pinned separately by tests/test_cells.py and the
    crosswalk brute-force pytest oracle."""
    import numpy as np

    from simplepolygon_spark.cells import cover_ring
    from simplepolygon_spark.decompose import decompose
    from simplepolygon_spark.functions.cells_sql import _spread_sql
    from simplepolygon_spark.sources.footprints import footprint_rows

    rmap_vals, iv_vals = [], []
    rid = 0
    for pid, rings in footprint_rows(grid=2):
        for k, f in enumerate(decompose(rings)):
            rmap_vals.append(f"({rid}, '{pid}', {k})")
            cov = cover_ring(
                np.asarray(f["coords"], np.float64), max_level=8, abs_max=16
            )
            iv_vals.extend(f"({int(lo)}, {int(hi)}, {rid})" for lo, hi, _fl in cov)
            rid += 1

    n = 1 << 10  # crosswalk level
    shift = 2 * (16 - 10)  # level-10 cell → max-level Morton range

    def axis(coord, off, extent):
        return (
            f"greatest(0, least({n - 1}, "
            f"CAST(floor((({coord}) + {off}) / {extent} * {n}) AS BIGINT)))"
        )

    return f"""
        WITH tiles AS (
          SELECT CAST(event_id AS VARCHAR) AS image_id,
                 {LON_SQL} - 0.5 AS lon_min, {LAT_SQL} - 0.5 AS lat_min,
                 {LON_SQL} + 0.5 AS lon_max, {LAT_SQL} + 0.5 AS lat_max
          FROM events),
        gx AS (
          SELECT image_id, lat_min, lat_max,
                 unnest(range({axis('lon_min', 180.0, 360.0)},
                              {axis('lon_max', 180.0, 360.0)} + 1)) AS ix
          FROM tiles),
        gxy AS (
          SELECT image_id, ix,
                 unnest(range({axis('lat_min', 90.0, 180.0)},
                              {axis('lat_max', 90.0, 180.0)} + 1)) AS iy
          FROM gx),
        cells AS (
          SELECT image_id, ({_spread_sql('ix')} | ({_spread_sql('iy')} << 1)) AS cell_id
          FROM gxy),
        ivs(lo, hi, rid) AS (VALUES {', '.join(iv_vals)}),
        rmap(rid, polygon_id, ring_index) AS (VALUES {', '.join(rmap_vals)}),
        hits AS (
          SELECT DISTINCT c.image_id, c.cell_id, iv.rid
          FROM cells c JOIN ivs iv
            ON (c.cell_id << {shift}) <= iv.hi
           AND ((c.cell_id + 1) << {shift}) - 1 >= iv.lo)
        SELECT h.image_id, h.cell_id, r.polygon_id,
               CAST(r.ring_index AS INTEGER) AS ring_index
        FROM hits h JOIN rmap r USING (rid)
        UNION ALL
        SELECT c.image_id, c.cell_id, CAST(NULL AS VARCHAR) AS polygon_id,
               CAST(NULL AS INTEGER) AS ring_index
        FROM cells c ANTI JOIN hits h
          ON h.image_id = c.image_id AND h.cell_id = c.cell_id
    """


IVF_CENTROID_IDS = (3, 11, 29, 47, 65, 83, 91, 99)
IVF_QUERY_IDS = (1, 13)


def q_ivf_topk(spark, sf_dir):
    """IVF approximate ANN, single corpus pass.  For the oracle the
    centroids are the embeddings of 8 fixed vec_ids (instead of k-means
    — which stays in the pytest recall suite) so the entire IVF plan
    (assignment argmin, probe selection, masked exact cosine, top-k) is
    recomputed independently in SQL and compared value-for-value."""
    import numpy as np

    from simplepolygon_spark.operators.similarity import ivf_topk

    e = _read(spark, sf_dir, "embeddings")
    fixed = (
        e.where(F.col("vec_id").isin(list(IVF_CENTROID_IDS + IVF_QUERY_IDS)))
        .toPandas()
    )
    vecs = {int(r.vec_id): np.asarray(r.embedding, np.float64) for r in fixed.itertuples()}
    C = np.stack([vecs[c] for c in IVF_CENTROID_IDS])
    queries = {q: vecs[q] for q in IVF_QUERY_IDS}
    return (
        ivf_topk(e, queries, C, k=5, probes=3)
        .select("query_id", "vec_id", "rank")
        .orderBy("query_id", "rank")
    )


def _q_ivf_sql():
    cents = ", ".join(str(c) for c in IVF_CENTROID_IDS)
    qs = ", ".join(str(q) for q in IVF_QUERY_IDS)
    return f"""
        WITH cents AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
                       FROM embeddings WHERE vec_id IN ({cents})),
        corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        assign AS (
          SELECT vec_id, cid FROM (
            SELECT c.vec_id, t.cid,
                   row_number() OVER (PARTITION BY c.vec_id
                                      ORDER BY list_distance(c.v, t.cv), t.cid) AS rn
            FROM corpus c CROSS JOIN cents t) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id IN ({qs})),
        probes AS (
          SELECT query_id, cid FROM (
            SELECT q.query_id, t.cid,
                   row_number() OVER (PARTITION BY q.query_id
                                      ORDER BY list_distance(q.qv, t.cv), t.cid) AS rn
            FROM q CROSS JOIN cents t) WHERE rn <= 3),
        cand AS (
          SELECT q.query_id, c.vec_id,
                 round(list_cosine_similarity(c.v, q.qv), 6) AS cosine
          FROM corpus c
          JOIN assign a USING (vec_id)
          JOIN probes p ON p.cid = a.cid
          JOIN q ON q.query_id = p.query_id),
        r AS (SELECT query_id, vec_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, vec_id) AS rank
              FROM cand)
        SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= 5
    """


def q_fused_validate_assign(spark, sf_dir):
    """Fused single-pass validate+assign over 500 deterministic images.
    The oracle recomputes the geometric assignment (Kronecker lon/lat
    of the row index, unrolled ray-cast against the decomposed fixture
    rings, LEFT JOIN for the not-contained NULL rows) natively in SQL;
    caption_ok/psnr_ok are verified honestly Spark-side (decode + PSNR
    + caption equality per row) and must come out all-true on valid
    generator output, which is what the oracle asserts.  skew=False:
    the hot-cell relocation keys off a blake2b phash the oracle cannot
    express; the skewed path is exercised by bench + skew tests."""
    from pyspark.sql import functions as F2

    from simplepolygon_spark.operators.decompose import decompose_polygons
    from simplepolygon_spark.operators.fused import validate_and_assign
    from simplepolygon_spark.operators.tiling import (
        broadcast_index,
        build_interval_index,
    )
    from simplepolygon_spark.sources.footprints import footprints_df
    from simplepolygon_spark.sources.images import images_df

    _ship(spark)
    rings = decompose_polygons(footprints_df(spark, grid=2))
    bc = broadcast_index(spark, build_interval_index(rings.collect(), cover_level=8))
    imgs = images_df(spark, 500, partitions=4, skew=False)
    return (
        validate_and_assign(imgs, bc)
        .withColumn("psnr_ok", F2.col("psnr_db") >= 40)
        .drop("psnr_db")
        .orderBy("image_id", "polygon_id", "ring_index")
    )


def _q_fused_sql():
    from simplepolygon_spark.decompose import decompose
    from simplepolygon_spark.sources.footprints import footprint_rows

    branches = []
    for pid, rings in footprint_rows(grid=2):
        for k, f in enumerate(decompose(rings)):
            ring = [(p[0], p[1]) for p in f["coords"]]
            branches.append(
                f"""SELECT image_id, '{pid}' AS polygon_id,
                           CAST({k} AS INTEGER) AS ring_index
                    FROM imgs WHERE {_pip_sql(ring, 'lon', 'lat')}"""
            )
    asg = " UNION ALL ".join(branches)
    phi, psi = "0.6180339887498949", "0.5698402909980532"
    return f"""
        WITH imgs AS (
          SELECT 'img' || lpad(CAST(i AS VARCHAR), 9, '0') AS image_id,
                 ((i * {phi}) - floor(i * {phi})) * 360.0 - 180.0 AS lon,
                 ((i * {psi}) - floor(i * {psi})) * 170.0 - 85.0 AS lat
          FROM range(0, 500) t(i)),
        asg AS ({asg})
        SELECT i.image_id, a.polygon_id, a.ring_index,
               TRUE AS caption_ok, TRUE AS psnr_ok
        FROM imgs i LEFT JOIN asg a USING (image_id)
    """


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "decompose_rings": q_decompose_rings,
        "cell_ids": q_cell_ids,
        "pip_join": q_pip_join,
        "pip_join_relational": q_pip_join_relational,
        "overlap_join": q_overlap_join,
        "knn": q_knn,
        "exact_dedup": q_exact_dedup,
        "quantize": q_quantize,
        "ngram_jaccard": q_ngram_jaccard,
        "ngram_jaccard_lsh": q_ngram_jaccard_lsh,
        "canonical": q_canonical,
        "covariance": q_covariance,
        "hamming_dups": q_hamming_dups,
        "embedding_dups": q_embedding_dups,
        "embedding_dups_lsh": q_embedding_dups_lsh,
        "cosine_topk": q_cosine_topk,
        "minhash_pairs": q_minhash_pairs,
        "dup_clusters": q_dup_clusters,
        "simhash": q_simhash,
        "crosswalk": q_crosswalk,
        "crosswalk_relational": q_crosswalk_relational,
        "knn_arrow": q_knn_arrow,
        "ivf_topk": q_ivf_topk,
        "fused_validate_assign": q_fused_validate_assign,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "cell_ids": _q_cell_ids_sql(),
        "pip_join": _q_pip_join_sql(),
        "pip_join_relational": _q_pip_join_sql(),
        "overlap_join": _q_overlap_join_sql(),
        "knn": _q_knn_sql(),
        "exact_dedup": _q_exact_dedup_sql(),
        "quantize": _q_quantize_sql(),
        "ngram_jaccard": _q_ngram_jaccard_sql(),
        "ngram_jaccard_lsh": _q_ngram_jaccard_lsh_sql(),
        "canonical": _q_canonical_sql(),
        "covariance": _q_covariance_sql(),
        "hamming_dups": _q_hamming_dups_sql(),
        "embedding_dups": _q_embedding_dups_sql(),
        "embedding_dups_lsh": _q_embedding_dups_lsh_sql(),
        "cosine_topk": _q_cosine_topk_sql(),
        "decompose_rings": _q_decompose_rings_sql(),
        "minhash_pairs": _q_minhash_sql(),
        "dup_clusters": _q_dup_clusters_sql(),
        "simhash": _q_simhash_sql(),
        "crosswalk": _q_crosswalk_sql(),
        "crosswalk_relational": _q_crosswalk_sql(),
        "knn_arrow": _q_knn_sql(),
        "ivf_topk": _q_ivf_sql(),
        "fused_validate_assign": _q_fused_sql(),
    }
