"""Fused single-pass image processing: validate + tile-assign.

At 100 TB the image table's byte column dominates I/O — every extra
pass over it costs a full table scan.  ``validate_and_assign`` performs
payload validation (SPIM decode, PSNR vs regenerated original, caption
equality) AND the PIP tile assignment in ONE ``mapInArrow`` pass: bytes
are decoded exactly once, the geometric lookup shares the same batch,
and the job runs one scan instead of two.

Output: one row per (image, containing ring) plus one row with NULL
ring columns for images contained by no ring — so per-image validity
always survives into the result (no silent drops).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame

from .payload import validate_rows


def validate_and_assign(images: DataFrame, index_bc) -> DataFrame:
    schema = (
        "image_id string, polygon_id string, ring_index int, "
        "psnr_db double, caption_ok boolean"
    )

    def run(batches):
        idx = index_bc.value
        for batch in batches:
            ids = batch.column("image_id").to_pylist()
            bts = batch.column("bytes").to_pylist()
            fmts = batch.column("fmt").to_pylist()
            caps = batch.column("caption").to_pylist()
            lon = batch.column("lon").to_numpy(zero_copy_only=False).astype(np.float64)
            lat = batch.column("lat").to_numpy(zero_copy_only=False).astype(np.float64)
            n = len(ids)
            if n == 0:
                continue

            ps, cap_ok = validate_rows(ids, bts, fmts, caps)

            # invalid points are never assigned (IntervalIndex.assign);
            # they surface as the NULL-ring validity row
            pt_idx, ring_id = idx.assign(lon, lat)

            assigned = np.zeros(n, dtype=bool)
            assigned[pt_idx] = True
            un = np.nonzero(~assigned)[0]
            rows_a = np.concatenate([pt_idx, un]).astype(np.intp)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("image_id").take(rows_a).cast(pa.string()),
                    *idx.ring_columns(ring_id, n_null=len(un)),
                    pa.array(ps[rows_a]),
                    pa.array(cap_ok[rows_a]),
                ],
                names=["image_id", "polygon_id", "ring_index", "psnr_db", "caption_ok"],
            )

    return images.select(
        "image_id", "bytes", "fmt", "caption", "lon", "lat"
    ).mapInArrow(run, schema)
