"""Stage-commit helpers: a manifest commit and a driver-side export either
complete or leave nothing behind."""

import os

import pandas as pd
import pytest

from osmquadtree_spark import metrics
from osmquadtree_spark.commit import commit_manifest, is_committed, read_manifest


def test_manifest_commit_roundtrip(tmp_path):
    path = str(tmp_path / "stage")
    os.makedirs(path)
    assert not is_committed(path)
    commit_manifest(path, {"rows": 3})
    assert is_committed(path)
    assert read_manifest(path) == {"rows": 3}
    assert os.listdir(path) == ["_manifest.json"]


def test_failed_manifest_commit_leaves_nothing(tmp_path):
    path = str(tmp_path / "stage")
    os.makedirs(path)
    with pytest.raises(TypeError):
        commit_manifest(path, {"rows": object()})  # not JSON-serializable
    assert os.listdir(path) == []
    assert not is_committed(path)


def test_failed_local_export_removes_tmp_dir(tmp_path):
    path = str(tmp_path / "lineage")
    bad = pd.DataFrame({"x": [1, "a"]})  # mixed column: pyarrow cannot type it
    with pytest.raises(Exception):
        metrics.atomic_export_local(bad, path)
    assert os.listdir(tmp_path) == []
    metrics.atomic_export_local(pd.DataFrame({"x": [1, 2]}), path)
    assert os.listdir(tmp_path) == ["lineage"]
    assert pd.read_parquet(path)["x"].tolist() == [1, 2]
