"""Stage commit: the one write–observe–commit path both resumable
pipelines (pipeline.py, curation.py) share.

A stage writes its data, takes its row counts from the write job itself
(``DataFrame.observe`` — accumulator-backed, exactly-once per successful
job, no read-back ``count()``), then commits by writing
``_manifest.json`` LAST. The manifest is the sandbox stand-in for an
Iceberg snapshot commit: ``is_committed`` is an existence check, and a
resumed run skips every stage whose manifest is present. So the manifest
must appear atomically and durably: tmp file → fsync → rename → fsync of
the directory, and a failed commit leaves no tmp file behind.

The manifest also records the written schema, so the next stage reads
the committed data with it (``read_committed``) instead of inferring it
from the parquet footers — a Spark job per stage boundary.

A stage's ``data`` table is written zstd-compressed: the Parquet counterpart of
the reference's per-block zlib and Iceberg's default
``write.parquet.compression-codec``. A column chunk that overflows its
dictionary, as a payload column with many distinct values does in a
large file, falls back to PLAIN pages, which zstd still compresses and
snappy, Spark's default, barely does. The codec sits on the writer, not
in the session, because it is a property of the committed table and
holds under any session, a launcher's included.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

MANIFEST = "_manifest.json"


def is_committed(path: str) -> bool:
    """A stage output is resumable iff its manifest (written after data +
    metrics) exists."""
    return os.path.exists(os.path.join(path, MANIFEST))


def read_manifest(path: str) -> dict:
    with open(os.path.join(path, MANIFEST)) as f:
        return json.load(f)


def commit_manifest(path: str, manifest: dict) -> dict:
    """Atomic, durable manifest commit. A kill mid-write must not leave a
    truncated ``_manifest.json`` that ``is_committed`` treats as a
    completed stage — the resume contract is 'manifest present ⇒ stage
    output complete'."""
    final = os.path.join(path, MANIFEST)
    tmp = final + ".tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, final)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)
    return manifest


def write_observed(
    df: DataFrame, path: str, extra: dict | None = None, verify: bool = False
) -> dict:
    """Write ``df`` as the stage's zstd ``data`` parquet; the row count (+ any ``extra``
    aggregate columns) is observed ON the write job — zero read-back.
    The result also holds the written ``schema`` (JSON) for the manifest.
    ``verify`` re-reads the committed files and cross-checks the observed
    count (an opt-in integrity mode; the manifest gains
    ``verified_rows``)."""
    data = os.path.join(path, "data")
    obs = Observation()
    aggs = [F.count(F.lit(1)).alias("rows")] + [
        v.alias(k) for k, v in (extra or {}).items()
    ]
    df.observe(obs, *aggs).write.mode("overwrite").option("compression", "zstd").parquet(data)
    got = {k: int(v) if v is not None else 0 for k, v in obs.get.items()}
    if verify:
        rb = int(df.sparkSession.read.parquet(data).count())
        if rb != got["rows"]:
            raise RuntimeError(
                f"stage verify failed at {data}: wrote {got['rows']} rows, "
                f"read back {rb}"
            )
        got["verified_rows"] = rb
    got["schema"] = df.schema.jsonValue()
    return got


def read_committed(
    spark: SparkSession, path: str, manifest: dict | None = None
) -> DataFrame:
    """The stage's ``data`` parquet, read with the schema its manifest
    records (``manifest`` defaults to the committed one; a
    ``write_observed`` result works too). A manifest committed without
    ``schema`` by an older version still reads, with footer inference."""
    if manifest is None:
        manifest = read_manifest(path)
    reader = spark.read
    if "schema" in manifest:
        reader = reader.schema(StructType.fromJson(manifest["schema"]))
    return reader.parquet(os.path.join(path, "data"))
