"""The five timed operations, the two workload mixes, and the traced layer pass.

Every workload issues all five operations, one after another (closed
loop, one client), against its own inputs; the workloads differ in which
inputs are large:

  assign  — a large 2-D point/tile table and 4k SPIM images against the
            served grid-16 index: the broadcast read path (cell_of_point,
            interval lookup/refine, kNN kernel, salted skew aggregation)
            and payload decode + PSNR.
  ingest  — a large polygon refresh (fixture grid + crossing-heavy tail);
            the freshly built index is what the other operations then
            serve: decompose, segment intersections and cover_ring.

The operations outside a workload's focus run on small inputs, so each
run reports every end-to-end metric while the focus layers dominate it.
``overlap_self`` and ``run_pipeline`` (the data + lineage write) run,
and are checked, in the traced layer pass only.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import shutil
import statistics
import uuid

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql import Observation
from pyspark.sql import functions as F

from simplepolygon_spark.operators.crosswalk import covers_df, crosswalk
from simplepolygon_spark.operators.decompose import decompose_polygons
from simplepolygon_spark.operators.fused import validate_and_assign
from simplepolygon_spark.operators.knn import knn_join
from simplepolygon_spark.operators.overlap import overlap_self
from simplepolygon_spark.operators.tiling import broadcast_index, build_interval_index, pip_join
from simplepolygon_spark.plans.lineage import remaining, with_part_id, write_with_lineage
from simplepolygon_spark.plans.pipeline import run_pipeline, salted_ring_stats

from . import inputs, oracles
from .oracles import require

COVER_LEVEL = 10  # served and ingested indexes alike
CROSSWALK_LEVEL = 12
KNN_K = 3
NUM_PARTS = 16  # run_pipeline's logical partitions

_BASE = dict(points=20_000, knn=5_000, tiles=20_000, probe=20_000, fixture_grid=5,
             crossing_tail=1, images=2_000, hot_share=0.1, fact_on="served")
WORKLOADS = {
    "assign": dict(_BASE, points=200_000, knn=20_000, tiles=100_000, images=4_000),
    "ingest": dict(_BASE, fixture_grid=12, crossing_tail=6, fact_on="ingested"),
}
# (operation, unit, input table) in issue order; ingest comes first so
# the ingest workload has an index to serve
CYCLE = (
    ("ingest", "polygons", "polygons"),
    ("assign", "images", "points"),
    ("knn", "images", "knn"),
    ("crosswalk", "tiles", "tiles"),
    ("validate", "images", "images"),
)
# run and checked in the traced layer pass only: each takes 2-5 s a call
# here, and the timed window cannot give them enough samples next to the
# operations above
TRACED_ONLY = ("overlap", "land")


class Served:
    """An interval index and its broadcast, plus the oracle's view of it."""

    def __init__(self, spark, index, tracer, op: str | None = None):
        self.index = index
        with tracer.span("operators.tiling.broadcast_index", op):
            self.bc = broadcast_index(spark, index)
        self.keys = [tuple(k) for k in index.ring_keys]
        self.rings = index.rings
        h = hashlib.blake2b(repr(self.keys).encode())
        for a in (*index.rings, index.bp, index.seg_ptr, index.seg_ids, index.iv_ring, index.iv_full):
            h.update(np.ascontiguousarray(a).tobytes())
        self.digest = h.hexdigest()  # equal for indexes that must give equal answers
        self.expected: dict = {}  # oracle answers for this index, shared by equal digests once served

    def close(self):
        self.bc.destroy()


class Bench:
    def __init__(self, spark, workload: str, paths: dict, tracer, work_dir: str):
        self.spark, self.workload = spark, workload
        self.paths, self.tracer, self.work_dir = paths, tracer, work_dir
        self.served: Served | None = None
        self.tables = {k: pq.read_table(p) for k, p in paths.items() if k in ("points", "knn", "tiles", "probe")}
        self.tables["images"] = pq.read_table(paths["images"], columns=["image_id", "lon", "lat"])
        self.items = {t: tb.num_rows for t, tb in self.tables.items()}
        self.items["polygons"] = pq.ParquetFile(paths["polygons"]).metadata.num_rows
        self.items["fixture_rings"] = pq.read_table(paths["fixture_rings"], columns=["ring_index"]).num_rows
        self.counts: dict = {}  # observed counts, for the layer metrics
        self.cache: dict = {}  # oracle answers that do not depend on the served index
        self._expected: dict = {}  # index digest -> oracle answers, shared by identical re-ingests
        self._polys = None
        self._digests: dict = {}

    def df(self, name: str):
        return self.spark.read.parquet(self.paths[name])

    def col(self, table: str, name: str) -> np.ndarray:
        return self.tables[table].column(name).to_numpy()

    # ------------------------------------------------------------------
    # set-up: the served index (assign)
    # ------------------------------------------------------------------

    def build_served(self) -> None:
        from simplepolygon_spark.operators.decompose import POLYGONS_SCHEMA
        from simplepolygon_spark.sources.footprints import footprint_rows

        rows = footprint_rows(inputs.SERVED_GRID, inputs.FIXTURES)
        polys = self.spark.createDataFrame(rows, POLYGONS_SCHEMA).repartition(self.spark.sparkContext.defaultParallelism)
        rings = decompose_polygons(polys).persist()
        try:
            with self.tracer.span("operators.tiling.build_interval_index", "setup"):
                index = build_interval_index(rings, cover_level=COVER_LEVEL)
        finally:
            rings.unpersist()
        self._serve(Served(self.spark, index, self.tracer, "setup"))

    def _serve(self, served: Served) -> None:
        if self.served is not None:
            self.served.close()
        served.expected = self._expected.setdefault(served.digest, {})
        self.served = served

    # ------------------------------------------------------------------
    # operations: each returns its output; check_<op> compares it with
    # the oracle outside the timed region
    # ------------------------------------------------------------------

    def op_ingest(self):
        t = self.tracer
        with t.span("operators.decompose.decompose_polygons"):
            rings = decompose_polygons(self.df("polygons")).persist()
            n_rings = rings.count()
        try:
            with t.span("operators.tiling.build_interval_index"):
                index = build_interval_index(rings, cover_level=COVER_LEVEL)
        finally:
            rings.unpersist()
        served = Served(self.spark, index, t)
        n_probe = pip_join(self.df("probe"), served.bc).count()
        return served, n_rings, n_probe

    def check_ingest(self, out) -> None:
        served, n_rings, n_probe = out
        require(len(served.rings) == n_rings, f"ingest: index holds {len(served.rings)} rings, decompose emitted {n_rings}")
        if self._polys is None:
            t = pq.read_table(self.paths["polygons"])
            self._polys = dict(zip(t.column("polygon_id").to_pylist(), t.column("rings").to_pylist()))
        by_poly: dict = {}
        for (pid, ridx), ring in zip(served.keys, served.rings):
            by_poly.setdefault(pid, {})[ridx] = ring
        oracles.check_perimeters(self._polys, {p: list(r.values()) for p, r in by_poly.items()})
        # digest: a deterministic sample of polygons through the driver kernel
        if not self._digests:
            from simplepolygon_spark.decompose import decompose

            for pid in sorted(self._polys)[::16]:
                self._digests[pid] = [np.asarray(f["coords"], np.float64) for f in decompose(self._polys[pid])]
        for pid, want in self._digests.items():
            got = by_poly[pid]
            require(sorted(got) == list(range(len(want))) and all(np.array_equal(got[k], w) for k, w in enumerate(want)),
                    f"ingest: rings of {pid} differ from the driver kernel")
        exp = self._expected.setdefault(served.digest, {})
        if "probe" not in exp:
            q = self.tables["probe"]
            exp["probe"] = len(oracles.pip_pairs(q.column("lon").to_numpy(), q.column("lat").to_numpy(), served.rings)[0])
        want = exp["probe"]
        require(n_probe == want, f"ingest: probe pip_join found {n_probe} containments, oracle {want}")
        self.counts["ingest.rings_out"] = n_rings
        if self.tracer.enabled:
            self.counts["ingest.index"] = dict(served.index.stats, index_bytes=len(pickle.dumps(served.index)))
        if self.workload == "ingest":
            self._serve(served)
        else:
            served.close()

    def op_overlap(self):
        with self.tracer.span("operators.overlap.overlap_join"):
            return overlap_self(self.df("fixture_rings"), cover_level=COVER_LEVEL).collect()

    def check_overlap(self, rows) -> None:
        got = {tuple(sorted(((r.a_polygon_id, r.a_ring_index), (r.b_polygon_id, r.b_ring_index)))) for r in rows}
        require(len(got) == len(rows), "overlap: duplicate pairs")
        if "overlap" not in self.cache:
            t = pq.read_table(self.paths["fixture_rings"])
            keys = list(zip(t.column("polygon_id").to_pylist(), t.column("ring_index").to_pylist()))
            order = sorted(range(len(keys)), key=lambda i: keys[i])
            keys = [keys[i] for i in order]
            coords = t.column("coords").to_pylist()
            rings = [np.asarray(coords[i], np.float64) for i in order]
            sample = {i for i, k in enumerate(keys) if int(k[0][2:7]) % 8 == 0}
            self.cache["overlap"] = ({keys[i] for i in sample}, oracles.overlap_pairs(keys, rings, sample))
        sample, want = self.cache["overlap"]
        got = {p for p in got if p[0] in sample or p[1] in sample}
        require(got == want, f"overlap: {len(got ^ want)} sampled pairs differ from the pairwise predicate")
        self.counts["overlap.pairs_out"] = len(rows)

    def op_assign(self):
        return salted_ring_stats(pip_join(self.df("points"), self.served.bc)).select(
            "polygon_id", "ring_index", "n_images").collect()

    def check_assign(self, rows) -> None:
        got = {(r.polygon_id, r.ring_index): r.n_images for r in rows}
        exp = self.served.expected
        if "assign" not in exp:
            exp["assign"] = oracles.ring_counts(self.col("points", "lon"), self.col("points", "lat"), self.served.keys, self.served.rings)
        require(got == exp["assign"], f"assign: {len(set(got.items()) ^ set(exp['assign'].items()))} ring counts differ")

    def op_knn(self):
        obs = Observation("knn")
        rows = (knn_join(self.df("knn"), self.served.bc, k=KNN_K)
                .observe(obs, F.count(F.lit(1)).alias("n"))
                .where(F.col("image_id").endswith("00")).collect())
        return rows, obs.get

    def check_knn(self, out) -> None:
        rows, obs = out
        n = self.items["knn"]
        require(obs["n"] == KNN_K * n, f"knn: {obs['n']} rows for {n} points")
        exp = self.served.expected
        if "knn" not in exp:
            ids = self.tables["knn"].column("image_id").to_numpy(zero_copy_only=False)
            s = np.nonzero(np.char.endswith(ids.astype(str), "00"))[0]
            exp["knn"] = oracles.knn_rows(ids[s], self.col("knn", "lon")[s], self.col("knn", "lat")[s],
                                          self.served.keys, self.served.rings, KNN_K)
        got = sorted((r.image_id, r.polygon_id, r.ring_index, r.rank, r.dist) for r in rows)
        want = exp["knn"]
        require(len(got) == len(want) and all(g[:4] == w[:4] and abs(g[4] - w[4]) <= 1e-12 * max(1.0, w[4])
                                              for g, w in zip(got, want)), "knn: sampled neighbours differ from the brute-force sort")

    def op_crosswalk(self):
        obs = Observation("crosswalk")
        rows = (crosswalk(self.df("tiles"), self.served.bc, level=CROSSWALK_LEVEL)
                .observe(obs, F.count(F.lit(1)).alias("n"), F.count("polygon_id").alias("hits"))
                .where(F.col("image_id").endswith("000")).collect())
        return rows, obs.get

    def check_crosswalk(self, out) -> None:
        rows, obs = out
        exp = self.served.expected
        if "crosswalk" not in exp:
            t = self.tables["tiles"]
            ids = t.column("image_id").to_numpy(zero_copy_only=False).astype(str)
            s = np.nonzero(np.char.endswith(ids, "000"))[0]
            b = [t.column(c).to_numpy()[s] for c in ("lon_min", "lat_min", "lon_max", "lat_max")]
            exp["crosswalk"] = oracles.crosswalk_rows(list(ids[s]), *b, CROSSWALK_LEVEL, self.served.index)
        got = sorted(((r.image_id, r.cell_id, r.polygon_id, r.ring_index) for r in rows), key=oracles.null_last)
        require(got == exp["crosswalk"], f"crosswalk: {len(set(got) ^ set(exp['crosswalk']))} sampled rows differ")
        self.counts["crosswalk.rows"], self.counts["crosswalk.hits"] = obs["n"], obs["hits"]

    def op_validate(self):
        obs = Observation("validate")
        rows = (validate_and_assign(self.df("images"), self.served.bc)
                .observe(obs, F.count(F.lit(1)).alias("n"),
                         F.count_if(F.col("psnr_db") < 40).alias("psnr_fail"),
                         F.count_if(~F.col("caption_ok")).alias("caption_fail"))
                .where(F.col("image_id").endswith("00")).collect())
        return rows, obs.get

    def check_validate(self, out) -> None:
        rows, obs = out
        exp = self.served.expected
        if "validate" not in exp:
            ids = self.tables["images"].column("image_id").to_numpy(zero_copy_only=False).astype(str)
            lon, lat = self.col("images", "lon"), self.col("images", "lat")
            pt, _ = oracles.pip_pairs(lon, lat, self.served.rings)
            n_rows = len(pt) + len(ids) - len(np.unique(pt))
            s = np.nonzero(np.char.endswith(ids, "00"))[0]
            assigned = oracles.assignment_rows(ids[s], lon[s], lat[s], self.served.keys, self.served.rings)
            done = {a[0] for a in assigned}
            assigned += [(i, None, None) for i in ids[s] if i not in done]
            sample = pq.read_table(self.paths["images"], columns=["image_id", "bytes", "fmt", "caption"],
                                   filters=[("image_id", "in", list(ids[s]))])
            pay = {i: oracles.payload_row(i, b, f, c) for i, b, f, c in zip(*(sample.column(k).to_pylist() for k in sample.column_names))}
            exp["validate"] = (n_rows, sorted(assigned, key=oracles.null_last), pay)
        n_rows, assigned, pay = exp["validate"]
        require(obs["n"] == n_rows, f"validate: {obs['n']} rows, oracle {n_rows}")
        require(obs["psnr_fail"] == 0 and obs["caption_fail"] == 0,
                f"validate: {obs['psnr_fail']} PSNR and {obs['caption_fail']} caption failures on clean images")
        got = sorted(((r.image_id, r.polygon_id, r.ring_index) for r in rows), key=oracles.null_last)
        require(got == assigned, "validate: sampled assignments differ from the ray-cast")
        for r in rows:
            ps, ok = pay[r.image_id]
            require(abs(r.psnr_db - ps) <= 1e-9 * ps and r.caption_ok == ok, f"validate: payload of {r.image_id} misjudged")

    def op_land(self):
        out = os.path.join(self.work_dir, f"land-{uuid.uuid4().hex[:8]}")
        images = self.df("images")
        with self.tracer.span("plans.pipeline.run_pipeline"):
            run_pipeline(self.spark, images, self.served.bc, out, num_parts=NUM_PARTS)
        with self.tracer.span("plans.lineage.remaining"):
            done = remaining(with_part_id(images, "image_id", NUM_PARTS), self.spark, out).isEmpty()
        return out, done

    def check_land(self, out) -> None:
        out, done = out
        try:
            require(done, "land: remaining() still reports rows after a complete run")
            exp = self.served.expected
            if "land" not in exp:
                ids = self.tables["images"].column("image_id").to_numpy(zero_copy_only=False).astype(str)
                exp["land"] = oracles.assignment_rows(ids, self.col("images", "lon"), self.col("images", "lat"),
                                                      self.served.keys, self.served.rings)
            got = oracles.landed_rows(out)
            require(got == exp["land"], f"land: the committed files hold {len(got)} rows, oracle {len(exp['land'])}")
        finally:
            shutil.rmtree(out, ignore_errors=True)

    # ------------------------------------------------------------------
    # traced run only: one more pass with the layers split apart, and
    # the kernels called on the driver on a deterministic slice
    # ------------------------------------------------------------------

    def layer_pass(self) -> dict:
        t, m = self.tracer, {}
        bc = self.served.bc
        with t.span("layers"):
            with t.span("operators.tiling.pip_join"):
                asg = pip_join(self.df("points"), bc).persist()
                asg.count()
            with t.span("plans.pipeline.salted_ring_stats"):
                salted_ring_stats(asg).collect()
            asg.unpersist()
            with t.span("operators.knn.knn_join"):
                self.op_knn()
            with t.span("operators.crosswalk.crosswalk"):
                self.op_crosswalk()
            with t.span("op.overlap", "overlap"):
                rows = self.op_overlap()
            self.check_overlap(rows)
            with t.span("op.land", "land"):
                landed = self.op_land()
            self.check_land(landed)
            with t.span("operators.crosswalk.covers_df"):
                covers_df(self.df("fixture_rings"), COVER_LEVEL, 16).count()
            with t.span("operators.fused.validate_and_assign"):
                self.op_validate()
            lw = with_part_id(pip_join(self.df("images"), bc), "image_id", NUM_PARTS).persist()
            parts = sorted(r.part_id for r in lw.select("part_id").distinct().collect())
            out = os.path.join(self.work_dir, f"lineage-{uuid.uuid4().hex[:8]}")
            with t.span("plans.lineage.write_with_lineage"):
                write_with_lineage(lw, out, uuid.uuid4().hex[:12], parts)
            lw.unpersist()
            m["plans.lineage.write_with_lineage.parts"] = len(parts)
            m["plans.lineage.write_with_lineage.output_bytes"] = _du(out)
            shutil.rmtree(out, ignore_errors=True)
        m.update(self.kernel_slices())
        return m

    def kernel_slices(self) -> dict:
        from simplepolygon_spark.cells import cell_of_point, cover_ring
        from simplepolygon_spark.decompose import decompose
        from simplepolygon_spark.geom import point_in_ring_batch, rings_overlap, segment_intersections
        from simplepolygon_spark.operators.payload import validate_rows

        t, m, idx = self.tracer, {}, self.served.index
        poly = pq.read_table(self.paths["polygons"])
        pids, prings = poly.column("polygon_id").to_pylist(), poly.column("rings").to_pylist()
        by_id = sorted(zip(pids, prings))
        kinds = {"fixture": [r for p, r in by_id if p.startswith("fx")][:32],
                 "crossing": [r for p, r in by_id if p.startswith("cx")]}
        with t.span("kernels"):
            for kind, polys in kinds.items():
                with t.span(f"decompose.decompose.{kind}") as sp:
                    for rings in polys:
                        decompose(rings)
                m[f"decompose.decompose.ms_per_polygon.{kind}"] = 1e3 * sp.dur / max(1, len(polys))
            edges = [np.hstack([np.asarray(r[:-1]), np.asarray(r[1:])]) for rings in kinds["crossing"] for r in [np.vstack(rings)]]
            with t.span("geom.segment_intersections") as sp:
                crossings = sum(len(segment_intersections(e)[0]) for e in edges)
            m["geom.segment_intersections.s"] = sp.dur
            m["geom.segment_intersections.crossings"] = crossings
            m["decompose.decompose.crossings"] = crossings / max(1, len(edges))

            rings = idx.rings[:16]
            with t.span("cells.cover_ring") as sp:
                covers = [cover_ring(r, max_level=COVER_LEVEL, abs_max=16) for r in rings]
            cov = np.vstack(covers) if covers else np.zeros((0, 3), np.int64)
            m["cells.cover_ring.s"] = sp.dur
            m["cells.cover_ring.intervals"] = len(cov)
            m["cells.cover_ring.full_share"] = float(cov[:, 2].mean()) if len(cov) else 0.0

            lon, lat = self.col("points", "lon")[:100_000], self.col("points", "lat")[:100_000]
            with t.span("cells.cell_of_point") as sp:
                cell_of_point(lon, lat, 16)
            m["cells.cell_of_point.s"] = sp.dur
            with t.span("operators.tiling.IntervalIndex.lookup") as sp:
                pt, rid, full = idx.lookup(lon, lat)
            m["operators.tiling.IntervalIndex.lookup.s"] = sp.dur
            m["operators.tiling.IntervalIndex.lookup.candidates_per_point"] = len(pt) / len(lon)
            with t.span("operators.tiling.IntervalIndex.refine") as sp:
                kept, _ = idx.refine(lon, lat, pt, rid, full)
            n_part = int((~full).sum())
            m["operators.tiling.IntervalIndex.refine.s"] = sp.dur
            m["operators.tiling.IntervalIndex.refine.accept_ratio"] = (len(kept) - int(full.sum())) / n_part if n_part else 1.0
            m["operators.tiling.IntervalIndex.refine.full_share"] = float(full.mean()) if len(full) else 0.0
            part_pt, part_rid = pt[~full], rid[~full]
            with t.span("geom.point_in_ring_batch") as sp:
                for r in np.unique(part_rid):
                    sel = part_pt[part_rid == r]
                    point_in_ring_batch(lon[sel], lat[sel], idx.rings[r])
            m["geom.point_in_ring_batch.s"] = sp.dur

            tb = self.tables["tiles"].slice(0, 20_000)
            qlo, qhi = _tile_cell_ranges(*(tb.column(c).to_numpy() for c in ("lon_min", "lat_min", "lon_max", "lat_max")))
            with t.span("operators.tiling.IntervalIndex.overlap_batch") as sp:
                idx.overlap_batch(qlo, qhi)
            m["operators.tiling.IntervalIndex.overlap_batch.s"] = sp.dur
            m["operators.crosswalk.crosswalk.cells_per_tile"] = len(qlo) / max(1, tb.num_rows)

            fr = pq.read_table(self.paths["fixture_rings"]).column("coords").to_pylist()
            fr = [np.asarray(r, np.float64) for r in fr]
            bb = np.array([[r[:, 0].min(), r[:, 1].min(), r[:, 0].max(), r[:, 1].max()] for r in fr])
            pairs = [(a, b) for a in range(len(fr)) for b in np.nonzero(
                (bb[:, 0] <= bb[a, 2]) & (bb[:, 2] >= bb[a, 0]) & (bb[:, 1] <= bb[a, 3]) & (bb[:, 3] >= bb[a, 1]))[0] if b > a][:400]
            with t.span("geom.rings_overlap") as sp:
                for a, b in pairs:
                    rings_overlap(fr[a], fr[b])
            m["geom.rings_overlap.s"] = sp.dur

            im = pq.read_table(self.paths["images"], columns=["image_id", "bytes", "fmt", "caption"]).slice(0, 2_000)
            cols = [im.column(c).to_pylist() for c in ("image_id", "bytes", "fmt", "caption")]
            with t.span("operators.payload.validate_rows") as sp:
                ps, _ = validate_rows(*cols)
            m["operators.payload.validate_rows.s_per_10k"] = sp.dur * 1e4 / max(1, im.num_rows)
            m["operators.payload.validate_rows.psnr_fail"] = int((ps < 40).sum())
        blobs = pq.read_table(self.paths["images"], columns=["bytes"]).column("bytes")
        m["operators.fused.validate_and_assign.input_bytes"] = pc.sum(pc.binary_length(blobs)).as_py()
        return m


def _tile_cell_ranges(b0, b1, b2, b3, level: int = CROSSWALK_LEVEL, max_level: int = 16):
    """Max-level [lo, hi] range of every level-``level`` cell each tile touches."""
    from simplepolygon_spark.cells import cell_range_at_max, spread_bits

    n = 1 << level
    ix0 = np.clip(np.floor((b0 + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    ix1 = np.clip(np.floor((b2 + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    iy0 = np.clip(np.floor((b1 + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    iy1 = np.clip(np.floor((b3 + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    ny = iy1 - iy0 + 1
    per = (ix1 - ix0 + 1) * ny
    flat = np.arange(per.sum()) - np.repeat(np.cumsum(per) - per, per)
    gx = np.repeat(ix0, per) + flat // np.repeat(ny, per)
    gy = np.repeat(iy0, per) + flat % np.repeat(ny, per)
    cells = (spread_bits(gx) | (spread_bits(gy) << np.uint64(1))).astype(np.int64)
    return cell_range_at_max(cells, level, max_level)


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def percentile_summary(samples: list[float]) -> dict:
    """Median, the highest whole percentile with at least ten samples
    beyond it (None below 11 samples), and the sample count."""
    n = len(samples)
    out = {"median_s": statistics.median(samples), "samples": n, "pctl": None, "pctl_s": None}
    if n >= 11:
        p = int(100 * (1 - 10 / n))
        out["pctl"], out["pctl_s"] = p, float(np.percentile(samples, p))
    return out
