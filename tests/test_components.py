"""Connected-components (large-star/small-star) tests: exactness vs an
in-test union-find on hand and random graphs, long-chain convergence (the
multi-round case), cluster-table semantics, and empty inputs. The driver
value gate is the dedup_components recursive-CTE oracle (queries.py)."""

import random

import pandas as pd
import pytest

from osmquadtree_spark.operators import components as cc


def _union_find(n_edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in n_edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # union-by-min keeps every root the min id of its component, so
    # find(x) IS the canonical representative
    return {x: find(x) for x in parent}


def _edges_df(spark, edges):
    return spark.createDataFrame(
        pd.DataFrame(edges, columns=["id_a", "id_b"]).astype("int64")
    )


def _run(spark, edges):
    got = cc.connected_components(_edges_df(spark, edges)).collect()
    return {r.node: r.component_id for r in got}


def _convergence(spark, mp):
    from osmquadtree_spark import metrics

    metrics.commit_pending()
    return {
        r.bucket_key: r.value
        for r in metrics.read_metrics(spark, mp).collect()
        if r.operator == "connected_components"
    }


def test_chain_and_islands(spark):
    # chain 1-2-3-4 (transitivity), island {10,11}, triangle {20,21,22}
    edges = [(1, 2), (2, 3), (3, 4), (11, 10), (20, 21), (21, 22), (20, 22)]
    got = _run(spark, edges)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_long_chain_needs_multiple_rounds(spark):
    # a 64-node path is the worst case for naive min-propagation (diameter
    # rounds); large-star/small-star must still converge quickly and exactly
    edges = [(i, i + 1) for i in range(100, 164)]
    got = _run(spark, edges)
    assert set(got.values()) == {100}
    assert len(got) == 65


def test_duplicate_reversed_and_self_edges(spark):
    edges = [(2, 1), (1, 2), (3, 3), (2, 3), (5, 4)]
    got = _run(spark, edges)
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}


def test_random_graphs_match_union_find(spark):
    rng = random.Random(42)
    for trial in range(3):
        n = 120
        edges = [
            (rng.randrange(n) * 7, rng.randrange(n) * 7) for _ in range(90)
        ]
        edges = [e for e in edges if e[0] != e[1]]
        assert _run(spark, edges) == _union_find(edges)


def test_empty_edges(spark):
    got = cc.connected_components(
        spark.createDataFrame([], "id_a bigint, id_b bigint")
    )
    assert got.collect() == []
    assert [f.name for f in got.schema.fields] == ["node", "component_id"]


def test_dup_clusters_covers_singletons(spark):
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4, 5]}).astype("int64")
    )
    edges = _edges_df(spark, [(1, 2), (2, 4)])
    rows = {
        r.doc_id: r
        for r in cc.dup_clusters(docs, edges, id_a="id_a", id_b="id_b").collect()
    }
    assert {d: r.component_id for d, r in rows.items()} == {
        1: 1, 2: 1, 4: 1, 3: 3, 5: 5,
    }
    assert {d: r.component_size for d, r in rows.items()} == {
        1: 3, 2: 3, 4: 3, 3: 1, 5: 1,
    }
    assert {d for d, r in rows.items() if r.is_representative} == {1, 3, 5}


def test_self_loop_only_node_is_covered(spark):
    # a node appearing ONLY in self-edges still gets a (node, node) row
    got = _run(spark, [(9, 9), (1, 2)])
    assert got == {1: 1, 2: 1, 9: 9}


def test_dup_clusters_recanonicalizes_missing_root(spark):
    """Edges from a stale/superset pair table may name ids absent from the
    corpus — including a component's min. The cluster must re-anchor on
    the smallest PRESENT doc so exactly one representative survives."""
    import pandas as pd

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [5, 7, 9]}).astype("int64")
    )
    # component {1, 5, 7}: root 1 is not in docs
    edges = _edges_df(spark, [(1, 5), (5, 7)])
    rows = {
        r.doc_id: r
        for r in cc.dup_clusters(docs, edges, id_a="id_a", id_b="id_b").collect()
    }
    assert {d: r.component_id for d, r in rows.items()} == {5: 5, 7: 5, 9: 9}
    assert {d: r.component_size for d, r in rows.items()} == {5: 2, 7: 2, 9: 1}
    assert {d for d, r in rows.items() if r.is_representative} == {5, 9}


def test_convergence_metrics_committed(spark, tmp_path):
    mp = str(tmp_path / "metrics")
    edges = _edges_df(spark, [(i, i + 1) for i in range(100, 116)])
    cc.connected_components(edges, metrics_path=mp).collect()
    rows = _convergence(spark, mp)
    assert rows["rounds"] >= 2  # a 16-node chain needs >1 alternation
    # final round's edge count = 16 non-root nodes of the one component
    assert rows[f"edges_round_{rows['rounds'] - 1}"] == 16


def test_star_input_runs_zero_rounds(spark, tmp_path):
    """An input that is already a star forest (every non-root node has one
    edge, to its component's min) stops before the first round, with the
    exact labels — the benchmark's isolated planted pairs are this case."""
    mp = str(tmp_path / "metrics")
    edges = [(1, 5), (7, 1), (1, 9), (12, 10), (30, 31), (40, 40)]
    got = {
        r.node: r.component_id
        for r in cc.connected_components(_edges_df(spark, edges), metrics_path=mp).collect()
    }
    assert got == {1: 1, 5: 1, 7: 1, 9: 1, 10: 10, 12: 10, 30: 30, 31: 30, 40: 40}
    assert _convergence(spark, mp) == {"rounds": 0}


def test_max_rounds_raises(spark):
    # a 64-node path needs more than one round; the backstop must raise,
    # never return the unconverged labels
    edges = [(i, i + 1) for i in range(100, 164)]
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        cc.connected_components(_edges_df(spark, edges), max_rounds=1)


def test_edges_input_evaluated_once(spark):
    """The node set and the round loop both read the oriented checkpoint,
    so the plan producing the edges (in the curation chain, the whole
    MinHash-LSH pair plan) runs once, not again for the node set."""
    from pyspark.sql import functions as F

    acc = spark.sparkContext.accumulator(0)

    def tap(x):
        acc.add(1)
        return x

    tap_udf = F.udf(tap, "bigint").asNondeterministic()
    chain = [(i, i + 1) for i in range(200, 216)]
    edges = _edges_df(spark, chain).select(tap_udf("id_a").alias("id_a"), "id_b")
    got = {r.node: r.component_id for r in cc.connected_components(edges).collect()}
    assert set(got.values()) == {200} and len(got) == 17
    assert acc.value == len(chain)


def test_cluster_split_leakage_safety_and_determinism(spark):
    """Every edge's endpoints land in the SAME split (the operator's whole
    point), all three splits appear on enough singleton clusters, the
    bucket matches a direct splitmix64 recomputation, and bad weights
    raise."""
    import numpy as np

    from osmquadtree_spark.sources.images import splitmix64

    edges = [(i, i + 1) for i in range(0, 60, 3)]  # 20 two-doc chains...
    edges += [(1000, 1001), (1001, 1002)]          # ...one 3-doc chain
    docs = spark.createDataFrame(
        [(i,) for i in range(0, 62)] + [(1000,), (1001,), (1002,)]
        + [(j,) for j in range(2000, 2300)],       # singletons
        "doc_id bigint",
    )
    clusters = cc.dup_clusters(
        docs, _edges_df(spark, edges), id_a="id_a", id_b="id_b"
    )
    out = cc.cluster_split(clusters).collect()
    split_of = {r.doc_id: r.split for r in out}
    comp_of = {r.doc_id: r.component_id for r in out}
    assert len(out) == docs.count()
    for a, b in edges:
        assert split_of[a] == split_of[b], (a, b)
    # bucket is exactly splitmix64(component_id) % 1000 with the 800/100 cut
    for r in out:
        bkt = int(splitmix64(np.uint64(np.int64(comp_of[r.doc_id]))) % np.uint64(1000))
        want = "train" if bkt < 800 else ("val" if bkt < 900 else "test")
        assert r.split == want, (r, bkt)
    # 300+ singleton clusters: all three splits must be populated
    assert {r.split for r in out} == {"train", "val", "test"}
    with pytest.raises(ValueError):
        cc.cluster_split(clusters, train_per_mille=950, val_per_mille=100)


def test_image_phash_clusters_variants_join_source(spark, sf_dir):
    """Every planted re-encode variant (1-bit id -1-i, 3-bit id
    -1000000001-i; sources/images.phash_catalog) must land in its source
    image's cluster, and that cluster's representative must be the
    smallest member id (the variant, since planted ids are negative) —
    the semantic claim behind the image_phash_clusters value gate."""
    from osmquadtree_spark.queries import q_image_phash_clusters

    rows = q_image_phash_clusters(spark, sf_dir).collect()
    comp = {r["img_idx"]: r["component_id"] for r in rows}
    reps = {r["img_idx"]: r["is_representative"] for r in rows}
    checked = 0
    for idx in comp:
        if idx < 0:
            src = (-1 - idx) if idx > -1000000001 else (-1000000001 - idx)
            assert comp[idx] == comp[src], (idx, src)
            checked += 1
    assert checked > 0
    # exactly one representative per component, and it is the min member
    by_comp = {}
    for idx, c in comp.items():
        by_comp.setdefault(c, []).append(idx)
    for c, members in by_comp.items():
        assert c == min(members)
        assert sum(1 for m in members if reps[m]) == 1
