"""Image-column operators: decode / verify / resize / footprint as
Arrow-batched mapInPandas stages.

The multimodal pattern: image payloads ride as opaque binary columns with
typed metadata (w, h, fmt); pixel work happens in vectorized pandas stages
whose batch shape is (rows × decoded ndarray); everything returns flat
columns so downstream joins/aggregations stay JVM-side. Codecs come from
sources.images (PPM/PNG real, JPEG a deterministic fake — the plumbing,
schemas and batch shapes are the production contract).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..kernels import quadtree as qtk
from ..sources import images as img
from . import sortblocks

DECODE_STATS_SCHEMA = (
    "image_id string, w int, h int, fmt string, pix_sum bigint, pix_min int, pix_max int, "
    "decode_ok boolean"
)


def decode_stats(images: DataFrame) -> DataFrame:
    """Decode every image and emit per-image pixel statistics — the
    verification stage for the decoded-pixel invariant (allclose / PSNR).
    mapInPandas: one Arrow batch in, one flat stats frame out."""

    def run(batches):
        for pdf in batches:
            out = {
                "image_id": pdf["image_id"],
                "w": pdf["w"],
                "h": pdf["h"],
                "fmt": pdf["fmt"],
                "pix_sum": [],
                "pix_min": [],
                "pix_max": [],
                "decode_ok": [],
            }
            for fmt, data, w, h in zip(pdf["fmt"], pdf["bytes"], pdf["w"], pdf["h"]):
                # compute ALL values before appending ANY: a zero-size
                # decode raises on .min() AFTER .sum() succeeded, and a
                # partial append desynchronizes the column lists (the
                # DataFrame constructor then kills the whole task instead
                # of emitting decode_ok=False for the one bad row)
                try:
                    pix = img.decode_image(fmt, bytes(data))
                    row = (
                        int(pix.sum(dtype=np.int64)),
                        int(pix.min()),
                        int(pix.max()),
                        pix.shape == (h, w, 3),
                    )
                except Exception:
                    row = (0, -1, -1, False)
                out["pix_sum"].append(row[0])
                out["pix_min"].append(row[1])
                out["pix_max"].append(row[2])
                out["decode_ok"].append(bool(row[3]))
            yield pd.DataFrame(out)

    return images.mapInPandas(run, DECODE_STATS_SCHEMA)


VERIFY_SCHEMA = "image_id string, fmt string, psnr double, exact boolean, caption_ok boolean"


def verify_roundtrip(images: DataFrame) -> DataFrame:
    """Per-row invariant check against the deterministic generator: decoded
    pixels byte-exact for lossless formats, PSNR ≥ 40 dB for lossy; caption
    byte-equal. This is the post-tiling verification pass of the north rule
    (rows can arrive in any order/partition — the expectation is recomputed
    from image_id alone)."""

    def run(batches):
        for pdf in batches:
            rows = []
            for image_id, data, fmt, caption, phash, w, h in zip(
                pdf["image_id"], pdf["bytes"], pdf["fmt"], pdf["caption"],
                pdf["phash"], pdf["w"], pdf["h"],
            ):
                i = int(image_id[3:])
                expect = img.pixels_for(int(phash), int(w), int(h))
                got = img.decode_image(fmt, bytes(data))
                p = img.psnr(expect, got)
                rows.append(
                    {
                        "image_id": image_id,
                        "fmt": fmt,
                        "psnr": float(p),
                        "exact": bool(np.array_equal(expect, got)),
                        "caption_ok": caption == img.caption_for(i),
                    }
                )
            yield pd.DataFrame(rows)

    return images.mapInPandas(run, VERIFY_SCHEMA)


RESIZE_SCHEMA = "image_id string, fmt string, out_w int, out_h int, bytes binary"


def resize(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize, re-encoded in the row's own format — the
    feature-extraction plumbing stage (decode → ndarray op → encode)."""

    def run(batches):
        for pdf in batches:
            rows = []
            for image_id, data, fmt in zip(pdf["image_id"], pdf["bytes"], pdf["fmt"]):
                pix = img.decode_image(fmt, bytes(data))
                h, w, _ = pix.shape
                yi = (np.arange(out_h) * h // out_h).clip(0, h - 1)
                xi = (np.arange(out_w) * w // out_w).clip(0, w - 1)
                small = pix[np.ix_(yi, xi)]
                rows.append(
                    {
                        "image_id": image_id,
                        "fmt": fmt,
                        "out_w": out_w,
                        "out_h": out_h,
                        "bytes": img.CODECS[fmt][0](small),
                    }
                )
            yield pd.DataFrame(rows)

    return images.mapInPandas(run, RESIZE_SCHEMA)


FOOTPRINT_SCHEMA = "minx bigint, miny bigint, maxx bigint, maxy bigint, qt bigint"


def footprint_cells(idx: pd.Series, phash: pd.Series, w: pd.Series, h: pd.Series) -> dict:
    """The deterministic georeferenced footprint + quadtree cell id of a
    batch of rows (FIXTURES.md §1 rule), as int64 arrays keyed by the
    FOOTPRINT_SCHEMA fields. ``idx`` is the row index image_id[3:]."""
    minx, miny, maxx, maxy = img.footprints(
        phash.to_numpy("int64"), w.to_numpy("int32"), h.to_numpy("int32"),
        idx.to_numpy("int64"),
    )
    qt = qtk.calculate(minx, miny, maxx, maxy)
    return {"minx": minx, "miny": miny, "maxx": maxx, "maxy": maxy, "qt": qt}


def _footprint_inputs() -> list:
    # the row index is sliced and parsed in the JVM, so the Arrow batch
    # carries four integer columns instead of the id strings
    return [F.substr("image_id", F.lit(4)).cast("bigint"), "phash", "w", "h"]


def with_footprint(images: DataFrame) -> DataFrame:
    """Attach the deterministic georeferenced footprint + quadtree cell id
    columns (footprint_cells): pandas UDF over (image_id index, phash, w, h)."""

    @pandas_udf(FOOTPRINT_SCHEMA)
    def fp(idx: pd.Series, phash: pd.Series, w: pd.Series, h: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(footprint_cells(idx, phash, w, h))

    out = images.withColumn("_fp", fp(*_footprint_inputs()))
    return out.select("*", "_fp.minx", "_fp.miny", "_fp.maxx", "_fp.maxy", "_fp.qt").drop("_fp")


def image_tiles(
    images: DataFrame,
    group_qts: np.ndarray,
    sort_cols: list[str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """``tile_sorted(with_footprint(images), group_qts, ...)`` in one Arrow
    pass: footprint, cell, group cell and destination partition of every
    row come from (image_id index, phash, w, h) together, then the rows are
    laid out as tile_sorted lays them out. This is the ``layout`` that
    ``write_tile_sorted`` takes for image rows."""

    def place(group_qts, parts, idx, phash, w, h):
        fp = footprint_cells(idx, phash, w, h)
        return {**fp, **sortblocks.place_tiles(group_qts, parts, fp["qt"])}

    return sortblocks.lay_out_tiles(
        images, group_qts, place, f"{FOOTPRINT_SCHEMA}, {sortblocks.PLACE_SCHEMA}",
        _footprint_inputs(), sort_cols, num_partitions,
    )


def phash_near_dup(
    catalog: DataFrame,
    max_hamming: int = 3,
    id_col: str = "img_idx",
    phash_col: str = "phash",
    bucket_cap: int | None = 100_000,
    metrics_path: str | None = None,
) -> DataFrame:
    """64-bit perceptual-hash near-dup pairs — the image-payload twin of
    dedup.simhash_pairs, over the north-rule input shape's ``phash``
    column (a lossy re-encode perturbs a perceptual hash by a few bits,
    so image near-dup detection is a hamming ball around phash).

    Pigeonhole block join: the 64 bits split into ``max_hamming + 1``
    contiguous blocks, so any pair within hamming ≤ max_hamming agrees on
    at least one whole block and the candidate stage is an equi-join on
    (block_idx, block_value) — no pairwise scan, the only shape that
    survives a 10^12-image catalog. The signature is one bigint and rides
    the join (no re-join stage); ``bucket_cap`` drops degenerate blocks
    (flat-color images collapse to few distinct phashes at scale) with
    drops committed to the run metrics (see dedup.cap_hot_buckets).
    Returns (img_a, img_b, hamming) with img_a < img_b."""
    from .dedup import hamming_block_pairs

    return hamming_block_pairs(
        catalog, 64, max_hamming, id_col=id_col, sig_col=phash_col,
        out_a="img_a", out_b="img_b", bucket_cap=bucket_cap,
        metrics_path=metrics_path, operator="image_phash_dedup",
    )
