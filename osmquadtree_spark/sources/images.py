"""Synthetic image+caption table — the engine's primary input shape
(BASELINE.json input_hint: image_id, bytes, w, h, fmt, caption, phash).

Deterministic generator per FIXTURES.md §1: pixels are a gradient+checker
pattern parameterized by phash (splitmix64 of the row index); encoders are
pure-python PPM (lossless), PNG (lossless, zlib, filter 0) and a clearly
marked deterministic fake JPEG (lossy 2-bit quantization → PSNR ≈ 46 dB,
satisfying the ≥40 dB gate; the container has no real JPEG codec, so the
Spark-side plumbing is real and the codec is swappable).

Georeferencing rule (FIXTURES.md §1): the footprint is a pure function of
phash — even rows get a point footprint (the reference's *node* path), odd
rows a bbox footprint scaled by w/h (the *way* path).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf

MASK64 = (1 << 64) - 1

LON_SPAN = 3_600_000_000
LAT_SPAN = 1_700_000_000
LON_MAX = 1_799_999_999
LAT_MAX = 849_999_999

_WORDS = (
    "tile quad tree image caption spark shuffle merge scan filter "
    "group sort join index cell lat lon zoom raster vector"
).split()


def splitmix64(x: np.ndarray | int):
    """Standard splitmix64 mix (public algorithm); uint64 wraparound is the
    point, so overflow warnings are silenced."""
    with np.errstate(over="ignore"):
        z = np.asarray(x, dtype=np.uint64) + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def pixels_for(phash: int, w: int, h: int) -> np.ndarray:
    """Deterministic (h, w, 3) uint8 gradient+checker pattern from phash."""
    u = int(phash) & MASK64
    a = (u & 0xFF) | 1
    b = ((u >> 8) & 0xFF) | 1
    c = (u >> 16) & 0xFF
    d = ((u >> 24) & 0x7F) + 16
    y, x = np.mgrid[0:h, 0:w]
    base = (x * a + y * b + c) % 256
    checker = ((x // 8 + y // 8) % 2) * d
    out = np.empty((h, w, 3), dtype=np.uint8)
    for ch in range(3):
        off = (u >> (32 + 8 * ch)) & 0xFF
        out[:, :, ch] = ((base + checker + off) % 256).astype(np.uint8)
    return out


# -- codecs -------------------------------------------------------------------


def encode_ppm(pix: np.ndarray) -> bytes:
    h, w, _ = pix.shape
    return b"P6\n%d %d\n255\n" % (w, h) + pix.tobytes()


def decode_ppm(data: bytes) -> np.ndarray:
    assert data[:2] == b"P6"
    parts = data.split(b"\n", 3)
    w, h = (int(v) for v in parts[1].split())
    return np.frombuffer(parts[3], dtype=np.uint8, count=w * h * 3).reshape(h, w, 3)


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    raw = tag + body
    return struct.pack(">I", len(body)) + raw + struct.pack(">I", zlib.crc32(raw))


def encode_png(pix: np.ndarray) -> bytes:
    h, w, _ = pix.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    scan = np.concatenate([np.zeros((h, 1), dtype=np.uint8), pix.reshape(h, w * 3)], axis=1)
    idat = zlib.compress(scan.tobytes(), 6)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    pos = 8
    w = h = 0
    idat = b""
    while pos < len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + ln]
        if tag == b"IHDR":
            w, h, bitd, ctype = struct.unpack(">IIBB", body[:10])
            assert bitd == 8 and ctype == 2, "only 8-bit RGB supported"
        elif tag == b"IDAT":
            idat += body
        pos += 12 + ln
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(h, w * 3 + 1)
    assert (raw[:, 0] == 0).all(), "only filter 0 supported"
    return raw[:, 1:].reshape(h, w, 3)


FAKE_JPEG_MAGIC = b"FJPG"
_JPEG_Q = 4  # quantization step → max error 2 → PSNR ≈ 46 dB


def encode_jpeg_fake(pix: np.ndarray) -> bytes:
    """Deterministic stand-in for a lossy JPEG codec: uniform quantization.
    NOT a real JPEG — the container has no libjpeg; swap `encode_jpeg_fake`/
    `decode_jpeg_fake` for a real codec in production. The loss profile
    (PSNR ≈ 46 dB) exercises the same allclose/PSNR verification path."""
    h, w, _ = pix.shape
    q = (pix.astype(np.int32) + _JPEG_Q // 2) // _JPEG_Q
    q = np.clip(q, 0, 255 // _JPEG_Q).astype(np.uint8)
    return FAKE_JPEG_MAGIC + struct.pack(">II", w, h) + zlib.compress(q.tobytes(), 6)


def decode_jpeg_fake(data: bytes) -> np.ndarray:
    assert data[:4] == FAKE_JPEG_MAGIC
    w, h = struct.unpack(">II", data[4:12])
    q = np.frombuffer(zlib.decompress(data[12:]), dtype=np.uint8)
    return (q.reshape(h, w, 3).astype(np.int32) * _JPEG_Q).clip(0, 255).astype(np.uint8)


CODECS = {
    "ppm": (encode_ppm, decode_ppm, True),
    "png": (encode_png, decode_png, True),
    "jpeg": (encode_jpeg_fake, decode_jpeg_fake, False),  # lossy
}


def decode_image(fmt: str, data: bytes) -> np.ndarray:
    return CODECS[fmt][1](data)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


# -- table generation ----------------------------------------------------------

_W_CYCLE = (16, 32, 64, 128)
_H_CYCLE = (16, 24, 48, 96)
_FMT_CYCLE = ("png", "jpeg", "ppm")


def caption_for(i: int) -> str:
    u = int(splitmix64(np.uint64(i + 1)))
    words = [_WORDS[(u >> (6 * k)) % len(_WORDS)] for k in range(5)]
    return f"caption {i}: " + " ".join(words)


def image_meta(i: int) -> dict:
    """Row ``i`` of the table without its payload: every column but ``bytes``."""
    return {
        "image_id": f"img{i:012d}",
        "w": np.int32(_W_CYCLE[i % 4]),
        "h": np.int32(_H_CYCLE[(i // 4) % 4]),
        "fmt": _FMT_CYCLE[i % 3],
        "caption": caption_for(i),
        "phash": np.int64(np.uint64(splitmix64(np.uint64(i)))),
    }


def image_payload(i: int) -> bytes:
    """The ``bytes`` of row ``i``: its phash pattern encoded in its format."""
    m = image_meta(i)
    return CODECS[m["fmt"]][0](pixels_for(int(m["phash"]), int(m["w"]), int(m["h"])))


def image_row(i: int) -> dict:
    m = image_meta(i)
    return {"image_id": m.pop("image_id"), "bytes": image_payload(i), **m}


def footprints(phash: np.ndarray, w: np.ndarray, h: np.ndarray, idx: np.ndarray):
    """Vectorized georeferencing rule (FIXTURES.md §1) →
    (minx, miny, maxx, maxy) int64 fixed-point."""
    u = phash.astype(np.uint64)
    lon = (u % np.uint64(LON_SPAN)).astype(np.int64) - LON_SPAN // 2
    lat = ((u // np.uint64(LON_SPAN)) % np.uint64(LAT_SPAN)).astype(np.int64) - LAT_SPAN // 2
    is_box = (idx % 2) == 1
    dlon = w.astype(np.int64) * 1000
    dlat = h.astype(np.int64) * 1000
    maxx = np.where(is_box, np.minimum(lon + dlon, LON_MAX), lon)
    maxy = np.where(is_box, np.minimum(lat + dlat, LAT_MAX), lat)
    return lon, lat, maxx, maxy


_W_ARR = np.asarray(_W_CYCLE, dtype=np.int64)
_H_ARR = np.asarray(_H_CYCLE, dtype=np.int64)


def derive_footprints(idx: np.ndarray):
    """Row index → (minx, miny, maxx, maxy): the FULL fixture rule
    (phash = splitmix64(idx), w/h cycles, footprints) in one call. The
    single definition the scaling benchmark's histogram pass, assignment
    pass and element generators all share — the benchmark's determinism
    claim (identical table at any parallelism) rests on every pass
    deriving from the same rule, so there must be exactly one copy."""
    ph = splitmix64(idx.astype(np.uint64)).astype(np.int64)
    w = _W_ARR[idx % 4]
    h = _H_ARR[(idx // 4) % 4]
    return footprints(ph, w, h, idx)


META_SCHEMA = "image_id string, w int, h int, fmt string, caption string, phash bigint"


def _range_partitions(spark, partitions: int | None) -> int:
    return partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))


def images_df(spark, n: int, partitions: int | None = None):
    """Distributed generation: spark.range → pandas UDFs of the row index.
    The generator is a pure function of the row index, so any partitioning
    yields the same table — this is how the 10^12-row design point scales
    (no driver-side materialization). ``partitions`` defaults to the
    session's shuffle partitions.

    The metadata and ``bytes`` are two UDFs of the index that Spark runs in
    one Python pass, so a plan that never reads ``bytes`` prunes the
    encoding away (the qts stage reads only the metadata)."""

    @pandas_udf(META_SCHEMA)
    def meta(idx: pd.Series) -> pd.DataFrame:
        return pd.DataFrame([image_meta(int(i)) for i in idx])

    @pandas_udf("binary")
    def encode(idx: pd.Series) -> pd.Series:
        return pd.Series([image_payload(int(i)) for i in idx])

    rows = spark.range(0, n, 1, _range_partitions(spark, partitions)).select(
        meta("id").alias("m"), encode("id").alias("bytes")
    )
    return rows.select("m.image_id", "bytes", "m.w", "m.h", "m.fmt", "m.caption", "m.phash")


def phash_catalog(spark, n: int, partitions: int | None = None):
    """(img_idx, phash) perceptual-hash catalog with planted near-dup
    variants — the dedup input over the north-rule image shape (phash is
    an input_hint column; real pipelines compute it from pixels, here it
    is the same splitmix64(i) the image generator uses).

    Planted "re-encoded uploads" (a lossy re-encode perturbs a perceptual
    hash by a few bits): rows with i % 7 == 3 get a 1-bit-flipped variant
    (img_idx = -1 - i), rows with i % 11 == 5 a ≤3-bit variant
    (img_idx = -10^9 - 1 - i). Negative variant ids keep the id space
    independent of n, so the DuckDB oracle restates the catalog without a
    scale parameter. Pure function of the row index — any partitioning
    yields the same table (the 10^12-row design point); ``partitions``
    defaults to the session's shuffle partitions."""

    one = np.uint64(1)

    def gen(batches):
        for pdf in batches:
            i = pdf["id"].to_numpy().astype(np.int64)
            u = splitmix64(i.astype(np.uint64))
            frames = [pd.DataFrame({"img_idx": i, "phash": u.astype(np.int64)})]
            m7 = i[i % 7 == 3]
            if len(m7):
                v = splitmix64(m7.astype(np.uint64)) ^ (
                    one << (m7.astype(np.uint64) % np.uint64(64))
                )
                frames.append(
                    pd.DataFrame({"img_idx": -1 - m7, "phash": v.astype(np.int64)})
                )
            m11 = i[i % 11 == 5]
            if len(m11):
                v = splitmix64(m11.astype(np.uint64))
                for mult, add in ((7, 0), (13, 5), (29, 11)):
                    v = v ^ (one << ((m11 * mult + add) % 64).astype(np.uint64))
                frames.append(
                    pd.DataFrame(
                        {"img_idx": -1_000_000_001 - m11, "phash": v.astype(np.int64)}
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return spark.range(0, n, 1, _range_partitions(spark, partitions)).mapInPandas(
        gen, "img_idx bigint, phash bigint"
    )
