"""Image payload validation over the opaque binary image column.

The engine treats image bytes as an opaque ``binary`` column with typed
metadata (w, h, fmt) and processes them only inside Arrow-batched
``mapInArrow`` stages — the pattern a 100 TB training-data pipeline
needs: bytes never leave their partition, no shuffle, Python touches
each batch once.

Operators:
  validate_payload — per-row PSNR vs the regenerated original +
                     caption equality (the BASELINE.json:16 invariant)

Unsupported lossy formats (jpeg/...) raise NotImplementedError in
decode_image — explicitly stubbed, never silently faked.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame

from ..geom import numpy_to_arrow
from ..sources.images import decode_image, pixels_of, psnr


def validate_rows(ids, bts, fmts, caps):
    """ONE definition of per-image validity — decode, PSNR vs the
    regenerated original (inf → 1e9 sentinel for lossless), caption
    contract — shared by ``validate_payload`` and the fused
    validate+assign pass so the two can never drift apart.

    Returns (psnr_db float64 array, caption_ok bool array).

    A row whose payload cannot be decoded at all (NULL bytes, truncated
    container, malformed id) is REPORTED — psnr_db = NaN,
    caption_ok = False — never raised: one corrupt row in a dirty
    corpus must not kill the validation job whose purpose is finding
    such rows.  (Unknown-codec NotImplementedError still raises: that
    is a configuration error, not dirty data.)"""
    n = len(ids)
    ps = np.empty(n, dtype=np.float64)
    cap_ok = np.empty(n, dtype=bool)
    for k in range(n):
        try:
            i = int(ids[k][3:])
            px = decode_image(bts[k], fmts[k])
            orig = pixels_of(i, px.shape[1], px.shape[0])
            p = psnr(px, orig)
            ps[k] = 1e9 if p == float("inf") else p
            digest = hashlib.blake2b(ids[k].encode()).digest()
            cap_ok[k] = caps[k] == f"synthetic image {i} :: {digest[:12].hex()}"
        except NotImplementedError:
            raise  # missing codec is a config error, not a bad row
        except Exception:
            ps[k] = np.nan
            cap_ok[k] = False
    return ps, cap_ok


def validate_payload(images: DataFrame) -> DataFrame:
    """Per-row fidelity vs the regenerated original: PSNR (dB; inf →
    1e9 sentinel for lossless) + caption equality (BASELINE.json:16)."""
    schema = "image_id string, psnr_db double, caption_ok boolean"

    def run(batches):
        for batch in batches:
            ids = batch.column("image_id").to_pylist()
            bts = batch.column("bytes").to_pylist()
            fmts = batch.column("fmt").to_pylist()
            caps = batch.column("caption").to_pylist()
            ps, cap_ok = validate_rows(ids, bts, fmts, caps)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("image_id").cast(pa.string()),
                    numpy_to_arrow(ps),
                    numpy_to_arrow(cap_ok),
                ],
                names=["image_id", "psnr_db", "caption_ok"],
            )

    return images.select("image_id", "bytes", "fmt", "caption").mapInArrow(run, schema)

