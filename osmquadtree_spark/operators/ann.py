"""Similarity search over embedding columns.

Brute-force cosine top-k is the exactness baseline (and the DuckDB-checkable
query); the LSH-bucketed variant is the 10^12-scale path: random-hyperplane
signatures bucket the vectors, candidates come from an equi-join on bucket
id, and exact re-scoring keeps only true neighbors. All vector math is
JVM-side higher-order functions over array<double> — no Python in the path.
"""

from __future__ import annotations

import functools
import operator

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    # products and left-to-right accumulation all in float64 → deterministic
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _dot_unrolled(a, b, d: int):
    """``_dot`` with the dimensionality statically known: a left-associated
    sum of ``element_at`` products. Bitwise-identical to the fold —
    ``0.0 + p0 == p0`` exactly, and both accumulate left-to-right in
    float64 (verified: 0 diffs over 800k random 64-dim pairs) — but the
    fold runs as an INTERPRETED Catalyst lambda per row while this is a
    plain expression tree that whole-stage codegen compiles (~2-4× faster
    on the candidate-rescore hot path, where the engine pays one dot per
    candidate pair). NULL arrays propagate to NULL like the fold. Contract:
    fixed-width vectors — under ANSI mode a row shorter than ``d`` raises
    (the fold would silently compute over the short array; at 10^12 scale
    failing loudly on malformed rows is the better default)."""
    return functools.reduce(
        operator.add,
        (F.element_at(a, i + 1) * F.element_at(b, i + 1) for i in range(d)),
    )


def _dot_u(a, b, d: int | None):
    """Unrolled dot when ``d`` is known, interpreted fold otherwise."""
    return _dot(a, b) if d is None else _dot_unrolled(a, b, d)


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    v = _as_double(F.col(vec_col))
    return df.withColumn("_v", v).withColumn("_norm", F.sqrt(_dot(F.col("_v"), F.col("_v"))))


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    qid_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast queries, JVM dot products, window top-k.
    Returns (query_id, vec_id, rank); ties broken by vec_id ascending."""
    v = with_norm(vectors, vec_col).select(id_col, "_v", "_norm")
    q = with_norm(queries, vec_col).select(
        F.col(qid_col), F.col("_v").alias("_q"), F.col("_norm").alias("_qnorm")
    )
    joined = v.crossJoin(F.broadcast(q)).withColumn(
        "sim", _dot(F.col("_v"), F.col("_q")) / (F.col("_norm") * F.col("_qnorm"))
    )
    w = Window.partitionBy(qid_col).orderBy(F.col("sim").desc(), F.col(id_col).asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid_col, id_col, "rank")
    )


def make_planes(n_tables: int, n_planes: int, d: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_tables, n_planes, d))


def bucket_signatures(
    df: DataFrame, planes: np.ndarray, id_cols: list[str], vec_col: str = "embedding"
) -> DataFrame:
    """Random-hyperplane bucket ids as ONE Arrow-batch matmul.

    The per-plane JVM higher-order-function dot products this replaces run
    as interpreted Catalyst lambdas — n_tables × n_planes array folds per
    row (~10× the whole query's cost). Here the whole batch does a single
    (rows × d) @ (d × n_tables·n_planes) numpy matmul against the
    broadcast plane matrix, then packs sign bits per table; one JVM↔Python
    crossing, vectorized end to end.

    Emits SLIM rows — (*id_cols, tbl int, bucket bigint), n_tables per
    input row — with the replication done by a JVM-side posexplode of the
    per-row bucket array, so the Arrow transfer carries one array of
    n_tables ints per vector. The earlier shape shipped the full
    ``_v array<double>`` + norm on every replicated row (n_tables × dim
    doubles per vector, ~250 MB at 60k×64×8) that every consumer then
    immediately pruned; vectors are re-attached from the source table at
    re-score time instead."""
    import pandas as pd

    n_tables, n_planes, d = planes.shape
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(
        np.ascontiguousarray(planes.reshape(n_tables * n_planes, d).T)
    )
    id_schema = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in id_cols
    )

    def gen(batches):
        M = bc.value
        weights = (1 << np.arange(n_planes, dtype=np.int64))
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            V = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            bits = (V @ M) >= 0  # (n, n_tables*n_planes)
            bits = bits.reshape(n, n_tables, n_planes)
            buckets = (bits * weights).sum(axis=2).astype(np.int64)  # (n, n_tables)
            cols = {c: pdf[c].to_numpy() for c in id_cols}
            cols["buckets"] = list(buckets)
            yield pd.DataFrame(cols)

    inner = df.select(*id_cols, vec_col).mapInPandas(
        gen, f"{id_schema}, buckets array<bigint>"
    )
    return inner.select(
        *id_cols, F.posexplode("buckets").alias("tbl", "bucket")
    ).withColumn("tbl", F.col("tbl").cast("int"))


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    n_planes: int = 12,
    n_tables: int = 4,
    dim: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    qid_col: str = "query_id",
    vec_col: str = "embedding",
    export_pairs_path: str | None = None,
    metrics_path: str | None = None,
) -> DataFrame:
    """Random-hyperplane LSH candidate generation + exact re-score.

    Scale shape: signatures are computed once per side (a single batch
    matmul against a broadcast plane matrix — bucket_signatures), candidates
    come from an equi-join on (table, bucket) — at 10^12 vectors this is the
    only viable join; recall is tunable via n_planes/n_tables and verified
    against cosine_topk in tests. Results are exact *within the candidate
    set*.

    ``dim`` skips the LIMIT-1 dimensionality sniff job.
    ``export_pairs_path`` commits the candidate set to parquet and feeds
    the returned plan FROM that export — the soundness-oracle surface: a
    DuckDB twin re-scores the exported candidates from the raw embeddings
    and must reproduce the exact within-candidate-set top-k ranking
    (full value gate; recall stays pytest-gated vs cosine_topk).
    """
    if dim is not None:
        d = dim
    else:
        row = vectors.select(vec_col).first()
        if row is None:  # empty corpus: schema-stable empty top-k
            spark = vectors.sparkSession
            qidt = queries.schema[qid_col].dataType.simpleString()
            idt = vectors.schema[id_col].dataType.simpleString()
            return spark.createDataFrame(
                [], f"{qid_col} {qidt}, {id_col} {idt}, rank int"
            )
        d = len(row[0])
    planes = make_planes(n_tables, n_planes, d, seed)

    # candidate generation on SLIM rows (ids + bucket only): the vector
    # arrays would otherwise ride the bucket join and the dedup shuffle on
    # every replicated row — they are re-attached once per surviving pair
    v = bucket_signatures(vectors, planes, [id_col], vec_col).select(
        id_col, "tbl", "bucket"
    )
    q = bucket_signatures(queries, planes, [qid_col], vec_col).select(
        qid_col, "tbl", "bucket"
    )
    pairs = (
        v.join(F.broadcast(q), ["tbl", "bucket"])
        .select(id_col, qid_col)
        .dropDuplicates([id_col, qid_col])
    )
    if export_pairs_path is not None:
        from .. import metrics

        pairs = metrics.export_candidates(
            pairs, export_pairs_path, metrics_path, "ann_lsh_topk"
        )
    return _rescore_topk(
        pairs, vectors, queries, k, id_col, qid_col, vec_col, dim=d
    )


def _rescore_topk(
    pairs: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    qid_col: str,
    vec_col: str,
    dim: int | None = None,
) -> DataFrame:
    """Shared exact re-score + window top-k tail of every candidate-based
    ANN path (LSH, IVF): attach vectors to the slim (id, qid) candidate
    pairs, cosine-score, rank per query with the deterministic (sim desc,
    id asc) tie-break. ONE canonical op order — the DuckDB soundness
    oracles pin this exact float sequence, so it must not fork per
    operator (``dim`` only swaps the interpreted fold for its codegen
    twin, bitwise-identical — see _dot_unrolled)."""
    vv = with_norm(vectors, vec_col).select(id_col, "_v", "_norm")
    qq = with_norm(queries, vec_col).select(
        qid_col, F.col("_v").alias("_q"), F.col("_norm").alias("_qnorm")
    )
    scored = (
        pairs.join(vv, id_col)
        .join(F.broadcast(qq), qid_col)
        .withColumn(
            "sim",
            _dot_u(F.col("_v"), F.col("_q"), dim)
            / (F.col("_norm") * F.col("_qnorm")),
        )
    )
    w = Window.partitionBy(qid_col).orderBy(F.col("sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid_col, id_col, "rank")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the centroid-probing alternative to LSH.
# Train a small spherical-k-means codebook on a bounded deterministic
# sample (driver-side numpy — the codebook is n_centroids × d, tiny),
# broadcast it, assign every vector to its nearest centroid in one Arrow
# matmul, and answer queries by probing the nprobe nearest centroid lists
# via an equi-join on centroid id + exact re-score. At 10^12 vectors the
# lists shard evenly (~n/n_centroids each; AQE splits residual skew) and
# no stage ever touches more than nprobe/n_centroids of the corpus per
# query — the classic IVF-Flat trade (recall tunable via nprobe).


def train_centroids(
    vectors: DataFrame,
    n_centroids: int,
    sample_mod: int = 1,
    iters: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shrink_to_sample: bool = False,
) -> np.ndarray | None:
    """Deterministic spherical k-means codebook, (n_centroids, dim) unit rows.

    The sample is ``xxhash64(id) % sample_mod == 0`` — a fixed property of
    the ROWS, so the same codebook comes back regardless of partitioning or
    cluster size (``.sample()`` is partition-order-dependent; this is not).
    Size ``sample_mod`` so n/sample_mod is a few-MB driver collect; the
    k-means itself is numpy on that bounded sample. Empty clusters reseed
    to the point farthest from its centroid (still deterministic).

    A sample smaller than ``n_centroids`` raises (misconfiguration) unless
    ``shrink_to_sample`` — then the codebook shrinks to the sample size
    (tiny corpora: every point its own cluster), and an EMPTY sample
    returns None so callers can take their typed empty-result path (the
    empty-diff/region contract, same as embedding_dup_pairs_lsh)."""
    s = vectors.select(id_col, vec_col)
    if sample_mod > 1:
        s = s.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(sample_mod)) == 0)
    pdf = s.toPandas().sort_values(id_col)
    X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    if X.shape[0] < n_centroids:
        if not shrink_to_sample:
            raise ValueError(
                f"sample of {X.shape[0]} rows cannot seed {n_centroids} "
                "centroids — lower sample_mod or n_centroids"
            )
        if X.shape[0] == 0:
            return None
        n_centroids = X.shape[0]
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    C = X[rng.choice(X.shape[0], n_centroids, replace=False)]
    for _ in range(iters):
        sims = X @ C.T  # (n, k)
        assign = sims.argmax(axis=1)
        best = sims[np.arange(X.shape[0]), assign]
        newC = np.zeros_like(C)
        np.add.at(newC, assign, X)
        counts = np.bincount(assign, minlength=n_centroids)
        empty = counts == 0
        if empty.any():
            # farthest points (lowest best-sim), one per empty cluster
            order = np.argsort(best)
            newC[empty] = X[order[: int(empty.sum())]]
        # spherical k-means: renormalize the summed assignments (no mean
        # division — direction is what matters on the unit sphere)
        C = newC / np.maximum(np.linalg.norm(newC, axis=1, keepdims=True), 1e-12)
    return C


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    id_cols: list[str],
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Nearest-centroid ids as ONE Arrow-batch matmul against the broadcast
    codebook — (*id_cols, cid int) with ``nprobe`` rows per input (rank-th
    nearest centroid each; nprobe=1 is the list-assignment side, >1 the
    query-probe side)."""
    import pandas as pd

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.ascontiguousarray(centroids.T))
    id_schema = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in id_cols
    )

    def gen(batches):
        CT = bc.value
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            V = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
            sims = V @ CT  # (n, k)
            if nprobe == 1:
                cid = sims.argmax(axis=1)[:, None]
            else:
                cid = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
            cols = {c: np.repeat(pdf[c].to_numpy(), cid.shape[1]) for c in id_cols}
            cols["cid"] = cid.reshape(-1).astype(np.int32)
            yield pd.DataFrame(cols)

    return df.select(*id_cols, vec_col).mapInPandas(gen, f"{id_schema}, cid int")


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    n_centroids: int = 64,
    nprobe: int = 8,
    sample_mod: int = 1,
    seed: int = 42,
    id_col: str = "vec_id",
    qid_col: str = "query_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    export_pairs_path: str | None = None,
    metrics_path: str | None = None,
) -> DataFrame:
    """IVF-Flat cosine top-k: probe the ``nprobe`` nearest centroid lists
    per query, re-score candidates exactly, window top-k — (query_id,
    vec_id, rank), exact within the probed lists; recall vs cosine_topk is
    the pytest gate (as for lsh_topk). Pass ``centroids`` to reuse a
    trained codebook (the production shape: train once, serve many).

    ``export_pairs_path`` commits the candidate set (atomic swap) and
    feeds the returned plan from it — the same soundness-oracle surface as
    lsh_topk: DuckDB re-ranks the exported candidates from the raw
    embeddings and the within-candidate-set top-k must match exactly."""
    if centroids is None:
        centroids = train_centroids(
            vectors, n_centroids, sample_mod, seed=seed,
            id_col=id_col, vec_col=vec_col,
        )
    v = ivf_assign(vectors, centroids, [id_col], vec_col, nprobe=1)
    q = ivf_assign(queries, centroids, [qid_col], vec_col, nprobe=nprobe)
    pairs = v.join(F.broadcast(q), "cid").select(id_col, qid_col)
    if export_pairs_path is not None:
        from .. import metrics

        pairs = metrics.export_candidates(
            pairs, export_pairs_path, metrics_path, "ann_ivf_topk"
        )
    return _rescore_topk(
        pairs, vectors, queries, k, id_col, qid_col, vec_col,
        dim=int(centroids.shape[1]),
    )


def sq8_scales(vectors: DataFrame, dim: int, vec_col: str = "embedding") -> list[float]:
    """Per-dimension max-abs scales for scalar int8 quantization (SQ8), in
    one aggregate pass. Returns ``dim`` float64 scalars to the driver —
    bounded by the dimensionality, not the row count (same discipline as
    the IVF codebook sample above). The max is taken in the column's
    native float32 and cast to double AFTER, matching the SQL twin
    bit-for-bit."""
    row = vectors.agg(
        *[
            F.max(F.abs(F.element_at(vec_col, i + 1))).cast("double").alias(f"s{i}")
            for i in range(dim)
        ]
    ).first()
    # max over an EMPTY table is NULL — treat as the all-zero dimension
    # (code 0) so downstream quantization stays total-function
    return [row[f"s{i}"] if row[f"s{i}"] is not None else 0.0 for i in range(dim)]


def sq8_quantize(
    vectors: DataFrame,
    scales: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """int8 scalar quantization: code_i = floor(x_i·127/s_i + 0.5).

    The production ANN compression step (4× smaller than float32, integer
    dot products downstream). floor(+0.5) is used instead of round() so
    both engines share one rounding rule (SQL round() half-away vs Spark
    half-up differ on negatives). |x| ≤ s makes the result ≤ 127 even
    after the 1-ulp division wobble (127.5 + ε floors to 127), so no
    clamp is needed; a zero scale (all-zero dimension) maps to code 0.
    Pure JVM projection — no shuffle, no Python."""
    codes = F.array(
        *[
            (
                F.lit(0)
                if s == 0.0
                else F.floor(
                    F.element_at(vec_col, i + 1).cast("double") * 127.0 / F.lit(s) + 0.5
                )
            ).cast("int")
            for i, s in enumerate(scales)
        ]
    )
    return vectors.select(id_col, codes.alias(out_col))


def sq8_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    id_col: str = "vec_id",
    qid_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by quantized integer dot product (SQ8 ANN).

    Both sides are quantized with the SAME per-dim scales (derived from the
    vector table), so the score Σ code_q·code_v is exact int64 arithmetic —
    the one ANN variant whose end-to-end result is bit-reproducible across
    engines with no candidate-export machinery. Returns
    (query_id, vec_id, score, rank); ties break on vec_id ascending.
    Scale shape: scales pass is one aggregate; scoring is a broadcast
    crossJoin like cosine_topk (exactness baseline at 10^12 rows is the
    bucketed path; this is the quantized refinement stage)."""
    scales = sq8_scales(vectors, dim, vec_col)
    vc = sq8_quantize(vectors, scales, id_col, vec_col)
    qc = sq8_quantize(queries, scales, qid_col, vec_col, out_col="qcodes")
    score = F.aggregate(
        F.zip_with(F.col("codes"), F.col("qcodes"), lambda a, b: (a * b).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    joined = vc.crossJoin(F.broadcast(qc)).withColumn("score", score)
    w = Window.partitionBy(qid_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid_col, id_col, "score", "rank")
    )


OUTLIER_SCALE = 1024          # quantization grid: q = floor(x·1024 + 0.5)
OUTLIER_OFFSET = 1 << 20      # shift making every code nonnegative (|x| ≤ 1024)
OUTLIER_FACTOR = 4            # flag when dist² > FACTOR · floor-mean dist²


def _outlier_dist2(
    vectors: DataFrame, dim: int, label_col: str, vec_col: str, id_col: str
) -> DataFrame:
    """The quantize→centroid→distance passes in numpy over Arrow batches
    (int64 sums are associative-exact, floor-div on nonnegative operands),
    so construct time is flat in dim — a Catalyst expression tree over
    3×dim columns paid ≈1.6 s of driver-side building at dim 64 alone.
    Two mapInPandas passes over the corpus (centroid partials, then
    distances); the centroid table is |labels| rows and ships to pass 2
    as a sparkContext broadcast."""
    import pandas as pd

    spark = vectors.sparkSession
    src = vectors.filter(F.col(vec_col).isNotNull()).select(
        id_col, label_col, vec_col
    )
    s = float(OUTLIER_SCALE)
    off = np.int64(OUTLIER_OFFSET)

    def _quantize(pdf) -> np.ndarray:
        mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
        return np.floor(mat * s + 0.5).astype(np.int64) + off

    def _label_groups(pdf):
        # NULL-safe grouping: NaN/None labels form their own group, keyed
        # None (the struct-wrapped join key, restated)
        lab = pdf[label_col]
        na = lab.isna().to_numpy()
        vals = lab.to_numpy(object)
        keys: dict[object, list[int]] = {}
        for i, (k, isna) in enumerate(zip(vals, na)):
            keys.setdefault(None if isna else k, []).append(i)
        return keys

    def centroid_partials(batches):
        acc: dict[object, list] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            q = _quantize(pdf)
            for k, idx in _label_groups(pdf).items():
                cnt, sums = acc.setdefault(k, [0, np.zeros(dim, np.int64)])
                acc[k][0] = cnt + len(idx)
                sums += q[idx].sum(axis=0)
        if acc:
            yield pd.DataFrame(
                {
                    "_lab": list(acc.keys()),
                    "_cnt": [v[0] for v in acc.values()],
                    "_sums": [v[1].tolist() for v in acc.values()],
                }
            )

    partials = src.mapInPandas(
        centroid_partials, f"_lab {src.schema[label_col].dataType.simpleString()}, _cnt bigint, _sums array<bigint>"
    )

    def merge(key, pdf):
        sums = np.vstack(pdf["_sums"].to_numpy()).astype(np.int64).sum(axis=0)
        return pd.DataFrame(
            {"_lab": [key[0]], "_cnt": [int(pdf["_cnt"].sum())], "_sums": [sums]}
        )

    cent_rows = (
        partials.groupBy("_lab")
        .applyInPandas(merge, partials.schema)
        .collect()  # |labels| rows — the broadcast-stats bound
    )
    cm = {
        r["_lab"]: (np.asarray(r["_sums"], np.int64) // np.int64(r["_cnt"]))
        for r in cent_rows
    }
    bc = spark.sparkContext.broadcast(cm)

    def distances(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            q = _quantize(pdf)
            dist2 = np.zeros(len(pdf), np.int64)
            for k, idx in _label_groups(pdf).items():
                d = q[idx] - bc.value[k]
                dist2[idx] = (d * d).sum(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    label_col: pdf[label_col],
                    "dist2": dist2,
                }
            )

    d_schema = (
        f"{id_col} {src.schema[id_col].dataType.simpleString()}, "
        f"{label_col} {src.schema[label_col].dataType.simpleString()}, "
        "dist2 bigint"
    )
    return src.mapInPandas(distances, d_schema).withColumn(
        "_k", F.struct(F.col(label_col).alias("k"))
    )


def label_outlier_stats(
    vectors: DataFrame,
    dim: int,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(vec_id, label, dist2, mean_dist2, is_outlier): per-label centroid
    distance — the standard embedding label-noise / mislabeled-example
    screen ("a vector far from its class centroid is a labeling error or
    an out-of-distribution sample"). dist2 is the squared L2 distance to
    the INTEGER per-label centroid on a fixed quantization grid, so every
    value (and the outlier flag) is bit-reproducible against the SQL twin
    — no float aggregation order-dependence anywhere.

    Exact-integer construction: q_i = floor(x_i·1024 + 0.5) + 2^20 (the
    offset makes codes nonnegative, so the centroid's floor-division is
    engine-independent — Spark's `div` truncates toward zero while SQL's
    `//` floors, and they agree only on nonnegative operands; the offset
    cancels in q_i − cm_i because floor((s + n·OFF)/n) = floor(s/n) + OFF
    exactly). The flag compares dist² against FACTOR × the per-label
    floor-mean dist² in pure int64 (headroom: for unit-scale embeddings
    |x| ≤ 2, dist² ≤ dim·(4·1024)² ≈ 2^30 at dim 64, so per-label dist²
    sums stay < 2^63 up to ~2^33 rows per label, and code sums to ~2^41).

    Scale shape at 10^12 vectors: quantization runs per Arrow batch; the
    centroid pass ships per-task partial sums (|labels|·tasks rows, never
    rows·dim — no explode) through ONE groupBy(label) merge, and the
    |labels|-row centroid table is broadcast. Two scans of the input
    (centroid pass, distance pass) — caching the quantized corpus is a
    corpus-sized footprint, recomputing the quantization is cheaper; the
    SLIM per-row distance frame IS cached so the mean aggregate and the
    final join share one distance pass. NULL embeddings are excluded (no
    codes); NULL labels form their own group (struct-wrapped join keys).
    """
    from ..cache import cached

    d = cached(_outlier_dist2(vectors, dim, label_col, vec_col, id_col))
    m = d.groupBy("_k").agg(
        F.expr("sum(dist2) div count(*)").cast("bigint").alias("mean_dist2")
    )
    return d.join(F.broadcast(m), "_k").select(
        id_col,
        label_col,
        "dist2",
        "mean_dist2",
        (F.col("dist2") > OUTLIER_FACTOR * F.col("mean_dist2")).alias("is_outlier"),
    )
