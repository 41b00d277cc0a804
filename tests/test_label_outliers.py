"""label_outlier_stats pins: independent numpy reference (float quantize →
integer centroid → integer distances), planted-outlier recovery, NULL
label/embedding handling. Value parity vs DuckDB over the fixture table is
gated by tools/gates.py --check (`embedding_outliers`)."""

import numpy as np

from osmquadtree_spark.operators.ann import (
    OUTLIER_FACTOR,
    OUTLIER_OFFSET,
    OUTLIER_SCALE,
    label_outlier_stats,
)

DIM = 4


def _reference(rows):
    """Spec restated with numpy int64 (floor-div semantics == nonneg div)."""
    q = {}
    for vid, label, vec in rows:
        if vec is None:
            continue
        codes = (
            np.floor(np.asarray(vec, np.float64) * OUTLIER_SCALE + 0.5).astype(np.int64)
            + OUTLIER_OFFSET
        )
        q[vid] = (label, codes)
    by_label = {}
    for vid, (label, codes) in q.items():
        by_label.setdefault(label, []).append(codes)
    cm = {k: np.sum(v, axis=0) // len(v) for k, v in by_label.items()}
    d = {vid: (label, int(np.sum((codes - cm[label]) ** 2))) for vid, (label, codes) in q.items()}
    sums = {}
    for label, dist2 in d.values():
        s, n = sums.get(label, (0, 0))
        sums[label] = (s + dist2, n + 1)
    mean = {k: s // n for k, (s, n) in sums.items()}
    return {
        vid: (label, dist2, mean[label], dist2 > OUTLIER_FACTOR * mean[label])
        for vid, (label, dist2) in d.items()
    }


def _run(spark, rows):
    df = spark.createDataFrame(rows, "vec_id bigint, label int, embedding array<float>")
    return {
        r["vec_id"]: (r["label"], r["dist2"], r["mean_dist2"], r["is_outlier"])
        for r in label_outlier_stats(df, dim=DIM).collect()
    }


def test_outliers_match_numpy_reference(spark):
    rng = np.random.RandomState(7)
    rows = [
        (i, int(i % 3), [float(x) for x in rng.uniform(-0.5, 0.5, DIM).astype(np.float32)])
        for i in range(60)
    ]
    assert _run(spark, rows) == _reference(rows)


def test_outliers_planted_far_vector_flagged(spark):
    # 20 tight vectors at ~0 and one far away in the same label
    rows = [(i, 1, [0.01 * (i % 2)] * DIM) for i in range(20)]
    rows.append((99, 1, [0.9] * DIM))
    got = _run(spark, rows)
    assert got[99][3] is True
    assert sum(1 for v in got.values() if v[3]) == 1


def test_outliers_null_handling(spark):
    rows = [
        (1, None, [0.1] * DIM),
        (2, None, [0.1] * DIM),
        (3, 5, None),          # NULL embedding excluded
        (4, 5, [0.2] * DIM),
    ]
    got = _run(spark, rows)
    assert set(got) == {1, 2, 4}
    assert got[1][0] is None and got[2][0] is None  # NULL label is one group
    assert got[4][1] == 0  # singleton group sits on its own centroid


def test_outliers_empty_input(spark):
    df = spark.createDataFrame([], "vec_id bigint, label int, embedding array<float>")
    assert label_outlier_stats(df, dim=DIM).collect() == []


def test_outliers_mixed_null_labels_match_numpy_reference(spark):
    """A mixed fixture — four labels plus NULL labels every 7th row —
    agrees value-for-value with the numpy reference."""
    rng = np.random.RandomState(11)
    rows = [
        (i, int(i % 4) if i % 7 else None,
         [float(x) for x in rng.uniform(-0.6, 0.6, DIM).astype(np.float32)])
        for i in range(80)
    ]
    assert _run(spark, rows) == _reference(rows)
