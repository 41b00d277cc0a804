"""End-to-end spark-submit --py-files smoke: the north rule requires the
pipeline to run as a submitted job with the package shipped via --py-files,
resumable from its stage commits. This zips the package, submits the real
CLI (jobs/tile_pipeline.py) against local[4], kills it between stages
(--stop-after), and resumes."""

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit")

pytestmark = pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")


def _zip_package(tmp_path) -> str:
    zpath = str(tmp_path / "oqt_spark.zip")
    pkg = os.path.join(REPO, "osmquadtree_spark")
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    return zpath


def _submit(zpath, *cli_args, job="tile_pipeline.py") -> dict:
    cmd = [
        SPARK_SUBMIT,
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        # not the builder's 2 × 4: the session line must show the launcher's
        "--conf", "spark.sql.shuffle.partitions=6",
        "--py-files", zpath,
        os.path.join(REPO, "jobs", job),
        *cli_args,
    ]
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be self-sufficient
    r = subprocess.run(cmd, capture_output=True, text=True, env=env, timeout=420)
    assert r.returncode == 0, r.stderr[-2000:]
    lines = [json.loads(ln) for ln in r.stdout.splitlines() if ln.startswith("{")]
    # the launcher's master and partitions win over the session builder's
    shape = next(ln["session"] for ln in lines if "session" in ln)
    assert shape["master"] == "local[4]"
    assert shape["shuffle_partitions"] == "6"
    return lines[-1]


def test_spark_submit_pipeline_runs_and_resumes(tmp_path):
    zpath = _zip_package(tmp_path)
    out = str(tmp_path / "tiles")

    # first run dies after the qts stage commit
    m1 = _submit(zpath, "--out-dir", out, "--n-images", "2000",
                 "--target", "200", "--minsize", "100", "--stop-after", "qts")
    assert m1["qts"]["rows"] == 2000 and "tiles" not in m1

    # resume without input: committed qts is reused, groups+tiles complete
    m2 = _submit(zpath, "--out-dir", out, "--n-images", "2000",
                 "--target", "200", "--minsize", "100")
    assert m2["tiles"]["rows"] == 2000
    assert m2["tiles"]["tiles"] >= 2
    assert m2["total"]["rows_per_sec"] > 0
    # the resumed qts manifest is the ORIGINAL commit (stage skipped)
    assert m2["qts"]["elapsed_sec"] == m1["qts"]["elapsed_sec"]


def test_spark_submit_curation_runs_and_resumes(tmp_path):
    """Same contract for the curation chain: submitted via --py-files,
    killed between stage commits, resumed to completion."""
    zpath = _zip_package(tmp_path)
    out = str(tmp_path / "curated")
    docs = "/root/testdata/sf0.001/documents.parquet"
    qp = '{"max_mean_freq_x100": 100000, "max_dup_x10000": 10000, "small_vocab": true}'

    m1 = _submit(zpath, "--out-dir", out, "--input", docs,
                 "--quality-params", qp, "--stop-after", "dedup",
                 job="curation_pipeline.py")
    assert set(m1) == {"quality", "dedup"}
    assert m1["quality"]["rows"] == 500

    m2 = _submit(zpath, "--out-dir", out, "--input", docs,
                 "--quality-params", qp, job="curation_pipeline.py")
    assert m2["shards"]["docs"] == m2["weights"]["rows"] > 0
    assert m2["total"]["final_docs"] == m2["shards"]["docs"]
    # committed stages were skipped, not recomputed
    assert m2["quality"]["elapsed_sec"] == m1["quality"]["elapsed_sec"]
    assert m2["dedup"]["elapsed_sec"] == m1["dedup"]["elapsed_sec"]
