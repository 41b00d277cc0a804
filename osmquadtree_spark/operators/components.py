"""Connected components over near-dup pair sets — pair lists → canonical
cluster representatives.

A dedup pipeline ends with "keep one document per duplicate CLUSTER", but
every pair operator (minhash/simhash/ngram/embedding LSH) emits EDGES.
Transitivity is real at corpus scale: A≈B and B≈C chains mean the keep/drop
decision needs the connected component, not the pair. The reference's quadtree
relation closure (calcqts.py rel→rel passes) is the same fixpoint problem over
a bounded graph; here the graph is unbounded, so the engine uses the
alternating large-star / small-star algorithm (Kiveris, Lattanzi, Mirrokni,
Rastogi, Vassilvitskii — "Connected Components in MapReduce and Beyond",
ACM SoCC 2014): each round is two groupBy-min shuffles over the edge list,
convergence in O(log² n) rounds (2-5 in practice), every step a plain
DataFrame op (no UDFs, no driver-side graph).

Scale shape: the input edges are oriented (large → small) and deduplicated
ONCE into an eager checkpoint; the node set and the loop both read that
checkpoint, so the (possibly expensive) plan that produced the edges runs
exactly once. State is only the current edge list (≤ input edges,
shrinking toward one star edge per non-root node); each round shuffles on
the node id — the natural key, skew-limited because large-star points
high-degree neighborhoods at their min and the edge list contracts
geometrically. Lineage is truncated per round via cache.stage_checkpoint
(reliable checkpoint dir on clusters, localCheckpoint in bounded local
runs). The loop stops on an exact star-forest test run BEFORE each round
(one groupBy over the u/v roles + one aggregate): an input that is
already a star forest runs zero rounds, and no round is spent confirming
a fixpoint already reached.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..cache import release_stage_checkpoint, stage_checkpoint


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(Γ(u) ∪ {u}).

    Input/output edges are (u, v) with u > v (large→small orientation);
    the symmetrized neighborhood is grouped on each endpoint, so one
    groupBy-min + one re-join per round."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("_mn"))
    m = F.least(F.col("_mn"), F.col("u")).alias("v")
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), m)
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Connect every smaller neighbor of u (and u itself) to
    min(Γ⁻(u) ∪ {u}) over the large→small-oriented edge list."""
    ori = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = ori.groupBy("u").agg(F.min("v").alias("_mn"))
    to_min = ori.join(mins, "u").select(F.col("v").alias("u"), F.col("_mn").alias("v"))
    self_edge = mins.select("u", F.col("_mn").alias("v"))
    return (
        to_min.unionByName(self_edge)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _oriented(edges: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """The input as distinct (u ≥ v) edges, self-loops KEPT, in an eager
    checkpoint: the one evaluation of ``edges``. Self-loops stay so the
    node set read off this frame covers a node that appears only in a
    self-edge; the loop filters them out."""
    e = edges.select(
        F.greatest(id_a, id_b).alias("u"), F.least(id_a, id_b).alias("v")
    ).distinct()
    return stage_checkpoint(e, eager=True)


def _star_test(e: DataFrame) -> tuple[int, int]:
    """(edges, violations) of a distinct u > v edge set. It is a star
    forest — the fixpoint, every non-root node pointing at its
    component's min — iff no node has two parents (appears twice as u)
    and no parent is also a child (appears as both v and u). One
    groupBy over the u/v roles + one aggregate; the per-node child
    counts sum to the edge count, so the same action feeds the metrics."""
    roles = e.select(
        F.col("u").alias("n"), F.lit(1).alias("_c"), F.lit(0).alias("_p")
    ).unionByName(
        e.select(F.col("v").alias("n"), F.lit(0).alias("_c"), F.lit(1).alias("_p"))
    )
    per = roles.groupBy("n").agg(
        F.sum("_c").alias("_c"), F.max("_p").alias("_p")
    )
    row = per.agg(
        F.coalesce(F.sum("_c"), F.lit(0)).alias("edges"),
        F.count_if(
            (F.col("_c") > 1) | ((F.col("_c") > 0) & (F.col("_p") > 0))
        ).alias("bad"),
    ).first()
    return int(row["edges"]), int(row["bad"])


def _converged_star(
    oriented: DataFrame,
    max_rounds: int,
    metrics_path: str | None = None,
    operator: str = "connected_components",
) -> DataFrame:
    """Alternate large-star / small-star over the ``u != v`` rows of
    ``oriented`` (see :func:`_oriented`) until they form a star forest,
    and return it as (u=non-root node, v=component root) edges — exactly
    one row per non-root node; roots carry no row (they label
    themselves).

    The stop test (:func:`_star_test`) runs BEFORE each round and is
    exact: both alternation steps preserve connectivity, so once the
    edge set is a star forest each star is one input component and its
    root (the star's smallest id, by orientation) is the canonical
    label. An input that is already a star forest runs zero rounds.
    ``max_rounds`` is a runaway backstop far above the O(log² n) bound
    (n = 2^30 nodes needs ~10 rounds); reaching it without a star forest
    raises instead of returning a wrong answer.

    Metrics (``metrics_path``): ``rounds`` = rounds run (0 when the
    input is already a star forest) and ``edges_round_<i>`` = edges
    after round i, for i < rounds."""
    e = oriented.filter(F.col("u") != F.col("v"))
    prev = None  # the previous round's checkpoint (never ``oriented``)
    rounds = 0
    edge_counts: list[int] = []
    while True:
        # the test's aggregate is the action that materializes this
        # round's lazy checkpoint, so each round pays one pass over its
        # new edge set for the checkpoint and the test together
        n, bad = _star_test(e)
        if rounds:
            edge_counts.append(n)
        if prev is not None:
            # lineage is truncated at this round's now-materialized
            # checkpoint, so the previous round's blocks are dead weight:
            # drop them NOW instead of leaving them to the async
            # reference-tracking cleaner. Without this the loop
            # accumulates O(rounds × edges) of MEMORY_AND_DISK blocks and
            # forces spill-to-disk churn mid-loop at the scaling bench's
            # 2 GiB/core sizing.
            release_stage_checkpoint(prev)
        if not bad:
            break
        if rounds == max_rounds:
            raise RuntimeError(
                f"connected_components did not converge in {max_rounds} rounds "
                "(theoretical bound is O(log^2 n) ≈ 10 for 2^30 nodes) — "
                "treat as a bug, not a data property"
            )
        # round 0 reads the oriented checkpoint, which the node set still
        # needs; only round outputs are released
        prev = e if rounds else None
        # eager=False: the star test above is the materializing action
        # (measured: ~9 s/round eager vs ~5 s non-eager at 8M edges — the
        # round loop's fixed cost is the serial term of the operator)
        e = stage_checkpoint(_small_star(_large_star(e)), eager=False)
        rounds += 1
    if metrics_path is not None:
        # convergence observability (the "no silent caps" discipline):
        # rounds-to-fixpoint and the per-round edge counts go to the
        # metrics table — a production run whose round count creeps toward
        # max_rounds is visible before it ever raises
        from .. import metrics

        spark = e.sparkSession
        rows = [("rounds", rounds)] + [
            (f"edges_round_{i}", c) for i, c in enumerate(edge_counts)
        ]
        frame = spark.createDataFrame(rows, "k string, v bigint").select(
            *metrics.metric_frame(operator, "convergence", F.col("k"), F.col("v"))
        )
        metrics.register(metrics_path, frame, key=(operator, "convergence"))
    return e


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 30,
    metrics_path: str | None = None,
    operator: str = "connected_components",
) -> DataFrame:
    """(node, component_id) for every node appearing in ``edges``;
    component_id = the smallest node id in the component (the canonical
    "keep" representative of a duplicate cluster).

    ``edges`` is evaluated once, into the oriented checkpoint; the node
    set is that checkpoint's distinct endpoints (self-loops included) and
    the labels are the star forest of :func:`_converged_star`."""
    oriented = _oriented(edges, id_a, id_b)
    star = _converged_star(oriented, max_rounds, metrics_path, operator)
    nodes = (
        oriented.select(F.col("u").alias("node"))
        .unionByName(oriented.select(F.col("v").alias("node")))
        .distinct()
    )
    labels = star.select(F.col("u").alias("node"), F.col("v").alias("component_id"))
    return (
        nodes.join(labels, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("component_id"), F.col("node")).alias("component_id"),
        )
    )


def dup_clusters(
    docs: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    metrics_path: str | None = None,
    operator: str = "connected_components",
) -> DataFrame:
    """Full-corpus cluster table: (doc_id, component_id, component_size,
    is_representative) — singletons (docs in no pair) map to themselves
    with size 1. The pipeline's keep/drop surface: keep
    ``is_representative``, drop the rest; component_size feeds dedup-rate
    reporting.

    Joins docs straight to the star forest (no separate node table — docs
    IS the node universe here) and re-canonicalizes the representative to
    the smallest doc PRESENT in docs inside the one size aggregate: if a
    stale/superset pair table names ids absent from the corpus (including
    a component's min), every cluster still keeps exactly one
    is_representative row — "keep representatives, drop the rest" can
    never silently delete a whole cluster. One left join + one
    groupBy(min, count) + one re-join."""
    star = _converged_star(_oriented(edges, id_a, id_b), max_rounds=30,
                           metrics_path=metrics_path, operator=operator)
    labels = star.select(F.col("u").alias("node"), F.col("v").alias("_root"))
    base = (
        docs.select(F.col(id_col).alias("node"))
        .join(labels, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce(F.col("_root"), F.col("node")).alias("_root"),
        )
    )
    sizes = base.groupBy("_root").agg(
        F.count(F.lit(1)).alias("component_size"),
        F.min(id_col).alias("component_id"),
    )
    return base.join(sizes, "_root").select(
        id_col,
        "component_id",
        "component_size",
        (F.col(id_col) == F.col("component_id")).alias("is_representative"),
    )


def cluster_split(
    clusters: DataFrame, train_per_mille: int = 800, val_per_mille: int = 100
) -> DataFrame:
    """(doc_id, component_id, split): leakage-safe train/val/test
    assignment — the bucket is a pure function of ``component_id``, so
    every member of a near-dup cluster lands in the SAME split and a
    near-duplicate of a test document can never leak into train (the
    standard contamination failure of per-document hash splits).

    bucket = splitmix64(component_id) mod 1000 (the shared
    make_splitmix64_mod kernel, bit-identical in numpy and the DuckDB
    HUGEINT oracle); split = train if bucket < train_per_mille, val if
    < train_per_mille + val_per_mille, else test. One Arrow projection
    over the cluster table — no shuffle beyond what produced it. NULL
    component ids are excluded up front (no meaningful hash — the
    sample_by_hash convention; dup_clusters never emits one)."""
    from ..functions.udfs import make_splitmix64_mod

    if not (isinstance(train_per_mille, int) and isinstance(val_per_mille, int)):
        raise ValueError(
            "per-mille weights must be ints (fractions like 0.8 would "
            f"silently select ~nothing): {train_per_mille!r}, {val_per_mille!r}"
        )
    if not (0 < train_per_mille and 0 <= val_per_mille
            and train_per_mille + val_per_mille < 1000):
        raise ValueError(
            f"per-mille weights out of range: {train_per_mille}, {val_per_mille}"
        )

    bucket_udf = make_splitmix64_mod(1000)
    b = F.col("_bucket")
    return (
        clusters.filter(F.col("component_id").isNotNull())
        .select(
            "doc_id", "component_id", bucket_udf("component_id").alias("_bucket")
        )
        .select(
            "doc_id",
            "component_id",
            F.when(b < train_per_mille, F.lit("train"))
            .when(b < train_per_mille + val_per_mille, F.lit("val"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
    )
