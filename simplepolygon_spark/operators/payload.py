"""Multimodal payload operators over the opaque binary image column.

The engine treats image bytes as an opaque ``binary`` column with typed
metadata (w, h, fmt) and processes them only inside Arrow-batched
``mapInArrow`` stages — the pattern a 100 TB training-data pipeline
needs: bytes never leave their partition, no shuffle, Python touches
each batch once.

Operators:
  decode_features  — decode + per-channel mean/std feature extraction
  resize_images    — nearest-neighbour resize (pure numpy; no Pillow in
                     the sandbox) re-encoded as raw SPIM
  validate_payload — per-row PSNR vs the regenerated original +
                     caption equality (the BASELINE.json:16 invariant)
  patch_grid       — the ViT patch-window rule as pure column
                     expressions over (w, h) metadata — zero decode,
                     zero shuffle (the image twin of text.chunk_documents)
  extract_patches  — decode + emit every patch's pixels (checksummed)
                     under exactly patch_grid's rule
  channel_stats    — corpus-wide per-channel normalization constants
                     from EXACT integer pixel sums (partitioning-
                     invariant; decimal(38,0) global reduce)
  image_embeddings — deterministic decode→resize→project→normalize
                     embedding kernel (the embeddings-table shape, so
                     the whole embedding suite composes)
  image_dup_pairs_embedding — visual near-dup pairs: embed → SRP-LSH
                     bucket → exact cosine verify (the semantic
                     sibling of phash banded_hamming_pairs)

Unsupported lossy formats (jpeg/...) raise NotImplementedError in
decode_image — explicitly stubbed, never silently faked.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.images import MAGIC, decode_image, pixels_of, psnr


def _iter_images(batch: pa.RecordBatch):
    ids = batch.column("image_id").to_pylist()
    bts = batch.column("bytes").to_pylist()
    fmts = batch.column("fmt").to_pylist()
    return zip(ids, bts, fmts)


def decode_features(images: DataFrame) -> DataFrame:
    """(image_id, w, h, mean_r, mean_g, mean_b, std_gray)."""
    schema = "image_id string, w int, h int, mean_r double, mean_g double, mean_b double, std_gray double"

    def run(batches):
        for batch in batches:
            out = {k: [] for k in ("image_id", "w", "h", "mean_r", "mean_g", "mean_b", "std_gray")}
            for iid, data, fmt in _iter_images(batch):
                px = decode_image(data, fmt)
                means = px.reshape(-1, 3).mean(axis=0)
                gray = px.astype(np.float64).mean(axis=2)
                out["image_id"].append(iid)
                out["w"].append(px.shape[1])
                out["h"].append(px.shape[0])
                out["mean_r"].append(float(means[0]))
                out["mean_g"].append(float(means[1]))
                out["mean_b"].append(float(means[2]))
                out["std_gray"].append(float(gray.std()))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out["image_id"], pa.string()),
                    pa.array(out["w"], pa.int32()),
                    pa.array(out["h"], pa.int32()),
                    pa.array(out["mean_r"], pa.float64()),
                    pa.array(out["mean_g"], pa.float64()),
                    pa.array(out["mean_b"], pa.float64()),
                    pa.array(out["std_gray"], pa.float64()),
                ],
                names=["image_id", "w", "h", "mean_r", "mean_g", "mean_b", "std_gray"],
            )

    return images.select("image_id", "bytes", "fmt").mapInArrow(run, schema)


def resize_images(images: DataFrame, tw: int, th: int) -> DataFrame:
    """Nearest-neighbour resize to (tw, th); output raw SPIM bytes."""
    schema = "image_id string, bytes binary, w int, h int, fmt string"

    def run(batches):
        header = MAGIC + np.int32(tw).tobytes() + np.int32(th).tobytes()
        for batch in batches:
            ids, datas = [], []
            for iid, data, fmt in _iter_images(batch):
                px = decode_image(data, fmt)
                h, w = px.shape[:2]
                yi = (np.arange(th) * h // th).astype(np.intp)
                xi = (np.arange(tw) * w // tw).astype(np.intp)
                rs = px[yi][:, xi]
                ids.append(iid)
                datas.append(header + rs.tobytes())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.string()),
                    pa.array(datas, pa.binary()),
                    pa.array([tw] * len(ids), pa.int32()),
                    pa.array([th] * len(ids), pa.int32()),
                    pa.array(["raw"] * len(ids), pa.string()),
                ],
                names=["image_id", "bytes", "w", "h", "fmt"],
            )

    return images.select("image_id", "bytes", "fmt").mapInArrow(run, schema)


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
                    pa.array(ids, pa.string()),
                    pa.array(ps, pa.float64()),
                    pa.array(cap_ok, pa.bool_()),
                ],
                names=["image_id", "psnr_db", "caption_ok"],
            )

    return images.select("image_id", "bytes", "fmt", "caption").mapInArrow(run, schema)


def _check_patch_args(patch: int, stride: int) -> None:
    if not (1 <= stride <= patch):
        raise ValueError(
            f"patch ops: need 1 <= stride <= patch, got patch={patch}, "
            f"stride={stride}"
        )


def patch_grid(
    images: DataFrame,
    patch: int = 8,
    stride: int | None = None,
    id_col: str = "image_id",
    w_col: str = "w",
    h_col: str = "h",
) -> DataFrame:
    """(id, patch_index, px, py, pw, ph): the sliding patch-window grid
    over every image's (w, h) metadata — the ViT patchification rule,
    and the image twin of ``text.chunk_documents``.  Per axis of extent
    ``e``: windows start at ``i*stride``; the window count is 1 when
    ``e <= patch`` else ``floor((e - patch + stride - 1)/stride) + 1``
    (the first window whose end reaches the edge is the last), and the
    edge window may be narrower (``pw = min(patch, e - px)``) — exactly
    the chunker's tail rule, so every pixel lands in ≥1 patch and
    interior neighbours share ``patch - stride`` pixels.
    ``patch_index`` is row-major: ``iy * nx + ix``.

    Determinism/parity: integer-exact arithmetic end to end, so the
    DuckDB oracle (q:patch_grid) reproduces the grid bit-for-bit, and
    ``extract_patches`` (which re-derives the same rule in numpy next
    to the pixels) is pinned patch-for-patch equal by test.

    Scale: pure column expressions over metadata — zero decode, one
    scan, ZERO shuffle (a per-row ``sequence`` explode; rows multiply
    by ~(w/stride)·(h/stride)).  Runs on a 10^12-row image table
    without touching the bytes column (column pruning drops it)."""
    if stride is None:
        stride = patch
    _check_patch_args(patch, stride)

    def axis_n(e):
        return (
            F.when(e <= F.lit(patch), F.lit(1).cast("long"))
            .otherwise(
                F.floor((e - F.lit(patch) + F.lit(stride - 1)) / F.lit(stride))
                + F.lit(1)
            )
        )

    w, h = F.col(w_col).cast("long"), F.col(h_col).cast("long")
    base = images.select(
        F.col(id_col),
        w.alias("__w"),
        h.alias("__h"),
        axis_n(w).alias("__nx"),
        axis_n(h).alias("__ny"),
    )
    k = F.explode(
        F.sequence(F.lit(0).cast("long"), F.col("__nx") * F.col("__ny") - 1)
    )
    idx = base.select(id_col, "__w", "__h", "__nx", k.alias("patch_index"))
    px = (F.col("patch_index") % F.col("__nx")) * stride
    py = F.floor(F.col("patch_index") / F.col("__nx")) * stride
    return idx.select(
        F.col(id_col),
        "patch_index",
        px.alias("px"),
        py.alias("py"),
        F.least(F.lit(patch).cast("long"), F.col("__w") - px).alias("pw"),
        F.least(F.lit(patch).cast("long"), F.col("__h") - py).alias("ph"),
    )


def _np_axis_starts(e: int, patch: int, stride: int) -> list[int]:
    """The patch_grid axis rule, re-derived independently in Python."""
    n = 1 if e <= patch else -((e - patch) // -stride) + 1
    return [i * stride for i in range(n)]


def extract_patches(
    images: DataFrame, patch: int = 8, stride: int | None = None
) -> DataFrame:
    """(image_id, patch_index, px, py, pw, ph, checksum): decode every
    image and emit each patch under EXACTLY ``patch_grid``'s window
    rule, with ``checksum`` = the exact integer sum of the patch's
    uint8 pixel values (≤ patch²·3·255, loss-free in int64).  The grid
    columns are pinned row-for-row equal to ``patch_grid`` by test, and
    with ``stride == patch`` the per-image checksum total equals the
    whole image's pixel sum (the chunker's reconstruction property).

    Scale: one scan, one decode per image, ZERO shuffle — patches never
    leave their image's partition; Python sees each Arrow batch once.
    Emitting raw patch bytes instead of a checksum is the same loop —
    the checksum keeps the gate integer-exact and the test independent
    (numpy re-slices the decode on the other side)."""
    if stride is None:
        stride = patch
    _check_patch_args(patch, stride)
    schema = (
        "image_id string, patch_index long, px long, py long, "
        "pw long, ph long, checksum long"
    )

    def run(batches):
        for batch in batches:
            out = {k: [] for k in (
                "image_id", "patch_index", "px", "py", "pw", "ph", "checksum"
            )}
            for iid, data, fmt in _iter_images(batch):
                img = decode_image(data, fmt)
                ih, iw = img.shape[:2]
                xs = _np_axis_starts(iw, patch, stride)
                k = 0
                for py0 in _np_axis_starts(ih, patch, stride):
                    for px0 in xs:
                        sl = img[py0 : py0 + patch, px0 : px0 + patch]
                        out["image_id"].append(iid)
                        out["patch_index"].append(k)
                        out["px"].append(px0)
                        out["py"].append(py0)
                        out["pw"].append(sl.shape[1])
                        out["ph"].append(sl.shape[0])
                        out["checksum"].append(int(sl.sum(dtype=np.int64)))
                        k += 1
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out["image_id"], pa.string()),
                    pa.array(out["patch_index"], pa.int64()),
                    pa.array(out["px"], pa.int64()),
                    pa.array(out["py"], pa.int64()),
                    pa.array(out["pw"], pa.int64()),
                    pa.array(out["ph"], pa.int64()),
                    pa.array(out["checksum"], pa.int64()),
                ],
                names=list(out),
            )

    return images.select("image_id", "bytes", "fmt").mapInArrow(run, schema)


def channel_stats(images: DataFrame) -> DataFrame:
    """One-row corpus normalization constants: per-RGB-channel mean and
    population std over EVERY pixel, plus n_images / n_pixels — the
    numbers a vision training run bakes into its input transform.

    Exactness/scale: the mapInArrow stage emits per-Arrow-batch INTEGER
    partials (n, Σc, Σc² per channel — bounded by batch size, far from
    int64 range); the single global reduce sums them as decimal(38,0),
    which stays exact past 10^12 images × 3072 px × 255² (≈ 2·10^20 for
    Σc², headroom to 10^38) where an int64 Σc² would overflow — and
    ANSI mode would (correctly) refuse.  Means/stds are derived from
    the exact sums in one final double step, so the result is
    bit-identical under ANY partitioning (pinned by test) — no
    float-summation order sensitivity.  One scan, one decode per
    image; the only exchange carries O(partitions) 8-column rows."""
    part_schema = (
        "n_px long, sum_r long, sum_g long, sum_b long, "
        "sq_r long, sq_g long, sq_b long, n_img long"
    )

    def partials(batches):
        for batch in batches:
            n_px = n_img = 0
            s = np.zeros(3, dtype=np.int64)
            q = np.zeros(3, dtype=np.int64)
            for _iid, data, fmt in _iter_images(batch):
                px = decode_image(data, fmt).reshape(-1, 3).astype(np.int64)
                n_img += 1
                n_px += px.shape[0]
                s += px.sum(axis=0)
                q += (px * px).sum(axis=0)
            yield pa.RecordBatch.from_arrays(
                [pa.array([v], pa.int64()) for v in
                 (n_px, int(s[0]), int(s[1]), int(s[2]),
                  int(q[0]), int(q[1]), int(q[2]), n_img)],
                names=["n_px", "sum_r", "sum_g", "sum_b",
                       "sq_r", "sq_g", "sq_b", "n_img"],
            )

    dec = lambda c: F.sum(F.col(c).cast("decimal(38,0)"))
    agg = (
        images.select("image_id", "bytes", "fmt")
        .mapInArrow(partials, part_schema)
        .agg(
            F.sum("n_img").alias("n_images"),
            F.sum("n_px").alias("n_pixels"),
            *[dec(f"sum_{c}").alias(f"sum_{c}") for c in "rgb"],
            *[dec(f"sq_{c}").alias(f"sq_{c}") for c in "rgb"],
        )
    )
    n = F.col("n_pixels").cast("double")
    cols = [F.col("n_images"), F.col("n_pixels")]
    for c in "rgb":
        mean = F.col(f"sum_{c}").cast("double") / n
        cols.append(mean.alias(f"mean_{c}"))
        cols.append(
            F.sqrt(F.col(f"sq_{c}").cast("double") / n - mean * mean).alias(
                f"std_{c}"
            )
        )
    return agg.select(*cols)


def image_embeddings(
    images: DataFrame, dim: int = 64, canon: int = 16, seed: int = 11
) -> DataFrame:
    """(image_id, embedding array<float>): a deterministic image
    embedding — decode, nearest-neighbour resize to canon×canon (the
    same index rule as ``resize_images``), scale pixels to [-1, 1],
    project through a seeded N(0,1) matrix (3·canon² × dim), and
    L2-normalize.  A stand-in for a real vision encoder (no torch/CV
    stack in this sandbox — swap the kernel body for one when
    available) with the properties the downstream machinery actually
    needs: byte-identical images embed identically, lossy re-encodes
    and small perturbations land at cosine ≈ 1, unrelated images near
    0.  The output is the ``embeddings`` table shape, so the WHOLE
    embedding suite composes: ``embedding_dup_pairs(_lsh)``,
    ``ivf_topk``, ``covariance``/PCA/whitening.

    Scale: one scan, one decode per image, zero shuffle; the
    projection matrix is regenerated per executor from the seed
    (3·canon²·dim doubles — nothing shipped), the batch projection is
    one matmul.  All-constant images (zero variance after centering
    can still project to ~0) keep an unnormalized near-zero vector
    instead of dividing by ~0."""
    n_feat = 3 * canon * canon
    schema = "image_id string, embedding array<float>"

    def run(batches):
        P = np.random.default_rng(seed).standard_normal((n_feat, dim))
        for batch in batches:
            ids, feats = [], []
            for iid, data, fmt in _iter_images(batch):
                px = decode_image(data, fmt)
                h, w = px.shape[:2]
                yi = (np.arange(canon) * h // canon).astype(np.intp)
                xi = (np.arange(canon) * w // canon).astype(np.intp)
                rs = px[yi][:, xi].astype(np.float64)
                ids.append(iid)
                feats.append(rs.ravel() / 127.5 - 1.0)
            if not ids:
                continue
            X = np.vstack(feats)
            E = X @ P
            nrm = np.linalg.norm(E, axis=1, keepdims=True)
            E = np.where(nrm > 1e-12, E / np.maximum(nrm, 1e-12), E)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.string()),
                    pa.array(
                        [row.astype(np.float32) for row in E],
                        pa.list_(pa.float32()),
                    ),
                ],
                names=["image_id", "embedding"],
            )

    return images.select("image_id", "bytes", "fmt").mapInArrow(run, schema)


def image_dup_pairs_embedding(
    images: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    canon: int = 16,
    seed: int = 11,
    **lsh_kwargs,
) -> DataFrame:
    """(vec_a, vec_b, cosine): visual near-duplicate image pairs — the
    composed embed → LSH-bucket → exact-verify pipeline, i.e. the
    semantic sibling of ``phash``-based ``banded_hamming_pairs`` (which
    catches crops/re-encodes structurally; this catches anything the
    embedding places nearby).  ids in vec_a/vec_b are image_ids.

    Scale: ``image_embeddings``' zero-shuffle kernel feeds
    ``embedding_dup_pairs_lsh`` unchanged — signatures are the only
    join payload, vectors are pulled once for verified candidates
    only.  At rest, LAND the embeddings once and reuse them across
    dedup / ANN / PCA instead of re-decoding the corpus per consumer."""
    from .dedup import embedding_dup_pairs_lsh

    emb = image_embeddings(images, dim=dim, canon=canon, seed=seed)
    return embedding_dup_pairs_lsh(
        emb,
        threshold=threshold,
        id_col="image_id",
        vec_col="embedding",
        **lsh_kwargs,
    )
