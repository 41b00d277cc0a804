"""Near-duplicate detection operators: MinHash+LSH, SimHash, embedding
cosine pairs.

All signature math is JVM-side higher-order functions over the word array —
no Python in the hot path — and every constant-arithmetic step is
overflow-free int64 so the DuckDB oracle twins (queries.py) reproduce the
signatures bit-for-bit.

Scale shapes (the 10^12-row design points):
- MinHash: signatures are one narrow projection pass; candidate generation
  is an equi-join on (band, bucket) — the only pairwise-comparison-free
  join shape that survives web scale. Band width tunes the
  candidate-volume/recall trade.
- SimHash: 32-bit signature; the pigeonhole block join (max_hamming+1
  contiguous blocks — hamming_block_pairs, shared with the 64-bit image
  phash) guarantees every pair within the hamming bound shares a block,
  so candidates are again an equi-join, verified by bit_count(xor).
- Embedding pairs: exact all-pairs is the oracle baseline; the bucketed
  variant reuses the ANN LSH machinery (operators/ann.py) for scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.wordcodes import word_codes

P = 1_000_000_007  # signature modulus (same as docs.MOD)
KNUTH = 2654435761  # Knuth multiplicative constant: spreads 14-bit word codes
N_HASHES = 16
N_BANDS = 4  # 4 rows per band
SIM_BITS = 32  # hamming_block_pairs splits max_hamming+1 blocks out of these

# deterministic (a, b) per hash function, from a fixed LCG (seeded so the
# oracle SQL embeds the same literals)


def _hash_params(n: int = N_HASHES) -> list[tuple[int, int]]:
    state = 88172645463325252
    out = []
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = state % (P - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % P
        out.append((a, b))
    return out


HASH_PARAMS = _hash_params()


def _word_code(w):
    """Overflow-free word code (same formula as docs.fingerprint)."""
    return (
        F.length(w) * F.lit(97)
        + F.ascii(F.substring(w, 1, 1))
        + F.ascii(F.substring(w, -1, 1)) * F.lit(31)
    ).cast("bigint")


def _gram_codes(words, n: int):
    """array<bigint> of word-n-gram codes: fold word codes base-131 mod P.
    codes fit: acc < P, acc*131 + c < 1.4e11 < 2^63. Docs shorter than n
    words yield an empty array (sequence(1, size-n+1) would DESCEND for
    size < n — guarded)."""
    idx = F.when(
        F.size(words) >= n, F.sequence(F.lit(1), F.size(words) - F.lit(n - 1))
    ).otherwise(F.array().cast("array<int>"))

    def code_at(i):
        acc = _word_code(F.element_at(words, i))
        for j in range(1, n):
            acc = (acc * F.lit(131) + _word_code(F.element_at(words, i + j))) % F.lit(P)
        return acc

    return F.transform(idx, code_at)


def minhash_signature(docs: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """(doc_id, sig array<bigint> of N_HASHES minhashes) over word n-grams.
    Docs with fewer than n words get an empty signature and never pair.

    Implemented as a vectorized Arrow batch kernel (mapInPandas): JVM
    higher-order-function lambdas evaluate interpreted (no whole-stage
    codegen) at ~4 ms/doc for a 16-hash family, while the numpy kernel —
    one exploded word-code array per batch, shifted base-131 gram folds,
    per-hash affine maps, `minimum.reduceat` over doc runs — is ~100×
    faster and doubles as the materialization barrier that stops the band
    join from re-deriving signatures per candidate. Integer math is
    identical to the DuckDB oracle spec (all intermediates < 2^63)."""
    import numpy as np
    import pandas as pd

    from .docs import balanced

    docs = balanced(docs)
    A = np.asarray([a for a, _ in HASH_PARAMS], dtype=np.int64)
    B = np.asarray([b for _, b in HASH_PARAMS], dtype=np.int64)
    id_field = docs.schema["doc_id"].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            # NULL text contributes no grams — the SQL twin's
            # string_split(NULL) is NULL so the doc never reaches the gram
            # CTE. The fillna keeps the batch math total-function; the mask
            # below forces the no-gram outcome even at n=1, where the fake
            # empty word would otherwise form a real 1-gram
            isnull = pdf[text_col].isna().to_numpy()
            # vectorized split→word-code extraction (kernels/wordcodes.py):
            # bit-identical to the per-word object path, without the
            # one-Python-str-per-word allocator traffic that failed to
            # scale across pinned cores (row = input row per word)
            row, c = word_codes(pdf[text_col].fillna(""))
            # gram fold over n consecutive words within the same input row
            g = c.copy()
            ok = ~isnull[row] if len(row) else np.ones(0, dtype=bool)
            for j in range(1, n):
                cj = np.roll(c, -j)
                rj = np.roll(row, -j)
                g = (g * 131 + cj) % P
                ok &= rj == row
            if n > 1 and len(ok):
                ok[-(n - 1):] = False  # np.roll wraps; kill the tail grams
            starts = np.flatnonzero(np.r_[True, row[1:] != row[:-1]]) if len(row) else np.zeros(0, np.int64)
            sigs = []
            gm = np.where(ok, g, 0)
            for h in range(len(A)):
                v = np.where(ok, (A[h] * gm + B[h]) % P, np.iinfo(np.int64).max)
                sigs.append(np.minimum.reduceat(v, starts) if len(starts) else np.zeros(0, np.int64))
            sig_mat = np.stack(sigs, axis=1) if sigs else np.zeros((0, len(A)), np.int64)
            has_gram = (np.add.reduceat(ok.astype(np.int64), starts) > 0) if len(starts) else np.zeros(0, bool)
            out_rows = row[starts] if len(starts) else np.zeros(0, np.int64)
            out = pd.DataFrame(
                {
                    "doc_id": pd.Series(ids).iloc[out_rows].to_numpy(),
                    "sig": [
                        sig_mat[i].tolist() if has_gram[i] else []
                        for i in range(len(out_rows))
                    ],
                }
            )
            yield out

    return docs.select("doc_id", F.col(text_col)).mapInPandas(
        gen, f"doc_id {id_field}, sig array<bigint>"
    )


def _band_key(sig, band: int, rows: int):
    """Fold one band's minhashes into a single int64 bucket key (base-P mod P
    — collision-tolerant, deterministic in both engines)."""
    acc = F.element_at(sig, band * rows + 1) % F.lit(P)
    for r in range(1, rows):
        acc = (acc * F.lit(131) + F.element_at(sig, band * rows + r + 1)) % F.lit(P)
    return acc


def band_rows(sigs: DataFrame, keep_sig: bool = False) -> DataFrame:
    """Explode a non-empty-``sig`` (doc_id, sig) frame into one row per
    (band, bucket) — the SINGLE definition of LSH banding, shared by the
    batch pair join (:func:`minhash_lsh_pairs`) and the streaming
    membership operator (streaming.dedup.minhash_pairs_stream) so the two
    engines cannot silently drift apart (their equivalence is a pinned
    contract). ``keep_sig`` carries the signature through for the
    streaming member comparison."""
    rows = N_HASHES // N_BANDS
    cols = ["doc_id"] + (["sig"] if keep_sig else [])
    return sigs.select(
        *cols,
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), _band_key(F.col("sig"), b, rows).alias("bucket"))
                for b in range(N_BANDS)
            ])
        ).alias("_bb"),
    ).select(*cols, F.col("_bb.band").alias("band"), F.col("_bb.bucket").alias("bucket"))


def cap_hot_buckets(
    df: DataFrame,
    key_cols: list[str],
    cap: int | None,
    metrics_path: str | None = None,
    operator: str = "unknown",
) -> DataFrame:
    """Drop join-key buckets holding more than ``cap`` rows before a
    candidate self-join — the 100-TB guard: one degenerate bucket (empty
    text, boilerplate n-grams, zero vectors) otherwise goes quadratic in
    the pair join. The hot-key set is tiny by construction (≤ n_rows/cap
    keys can exceed the cap), so it broadcasts into a left_anti join.

    "No silent caps": when ``metrics_path`` is given, the dropped-bucket
    stats (bucket_rows_dropped per bucket + the cap in force) are
    REGISTERED with the run-scoped metrics registry (osmquadtree_spark.
    metrics) and committed once per run by the run endpoint — NOT written
    eagerly at plan-construction time (that paid a full signature pass per
    query before it ran, and clobbered prior runs' tables for plans that
    were never executed). The hot set is persisted, so the query's own
    anti-join materializes it and the commit pays a cache read. Pairs
    entirely inside a dropped bucket are sacrificed recall, the standard
    trade (AQE still splits the sub-cap skew)."""
    if cap is None:
        return df
    from .. import metrics
    from ..cache import cached

    hot = hot_bucket_stats(df, key_cols, cap)
    if metrics_path is not None:
        hot = cached(hot)
        metrics.register(
            metrics_path,
            hot.select(
                *metrics.metric_frame(
                    operator,
                    "bucket_rows_dropped",
                    F.concat_ws(",", *[F.col(c).cast("string") for c in key_cols]),
                    F.col("_bn"),
                )
            ),
            key=(operator, "bucket_rows_dropped"),
        )
        metrics.register_literal(
            metrics_path, operator, "bucket_cap", cap, df.sparkSession
        )
    return df.join(F.broadcast(hot.select(*key_cols)), key_cols, "left_anti")


def register_pair_volume(
    metrics_path: str, operator: str, keyed: DataFrame, key_cols: list[str]
) -> None:
    """Register the per-run recall proxy ``candidate_pair_volume`` =
    Σ_buckets n·(n−1)/2 over the CAPPED bucket table — the pre-dedup pair
    volume the candidate join will process. One cheap aggregate over an
    already-cached slim table (no extra pair join, no plan barrier in the
    query); a collapsing volume across runs flags silent recall loss in
    production where no brute-force twin exists. The exact post-dedup
    count is committed where it is free (the export-scan paths)."""
    from .. import metrics

    vol = (
        keyed.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .groupBy()
        .agg(F.sum(F.col("_n") * (F.col("_n") - 1) / 2).cast("bigint").alias("_v"))
        .select(
            *metrics.metric_frame(
                operator, "candidate_pair_volume", F.lit(""), F.coalesce("_v", F.lit(0))
            )
        )
    )
    metrics.register(metrics_path, vol, key=(operator, "candidate_pair_volume"))


def hot_bucket_stats(df: DataFrame, key_cols: list[str], cap: int) -> DataFrame:
    """(key..., _bn) of the buckets a cap of ``cap`` would drop — the
    'logged drops' surface for pipeline observability."""
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_bn"))
        .filter(F.col("_bn") > cap)
    )


def _minhash_rescore(
    cand: DataFrame, sigs: DataFrame, min_matches: int
) -> DataFrame:
    """Shared exact-rescore back stage of the batch and incremental LSH
    paths: re-attach the 16-hash signatures to the surviving candidate
    pairs only, count equal positions (one zip_with fold), threshold.
    ``sigs`` is any (doc_id, sig) frame covering both pair sides."""
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    match_cnt = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)
    ).cast("bigint")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("match_cnt", match_cnt)
        .filter(F.col("match_cnt") >= min_matches)
        .select("doc_a", "doc_b", "match_cnt")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    min_matches: int = 8,
    text_col: str = "text",
    bucket_cap: int | None = 100_000,
    metrics_path: str | None = None,
) -> DataFrame:
    """MinHash near-dup pairs via LSH banding.

    Candidates = pairs sharing any of N_BANDS band buckets (equi-join on
    (band, bucket) — no pairwise scan); survivors have ≥ min_matches equal
    minhashes out of N_HASHES (estimated jaccard ≥ min_matches/N_HASHES).
    Returns (doc_a, doc_b, match_cnt) with doc_a < doc_b.

    Scale shape: the band join and pair dedup run on SLIM (doc_id, band,
    bucket) rows — the 16-hash signature arrays are re-joined onto the
    surviving pairs only, roughly halving the shuffle bytes of the
    candidate stage (the signature table is persisted so its Arrow kernel
    runs once, not once per join branch). ``bucket_cap`` drops degenerate
    buckets (see cap_hot_buckets).

    Reference has no dedup ops; this is a training-data-pipeline extension
    (north-rule axes) using the same banding as Broder's original scheme.
    """
    from ..cache import cached

    sigs = cached(minhash_signature(docs, n, text_col).filter(F.size("sig") > 0))
    bands = band_rows(sigs)
    # persist the CAPPED bands: both self-join branches read them, and the
    # cap's aggregate + broadcast-anti subtree would otherwise run per branch
    bands = cached(
        cap_hot_buckets(bands, ["band", "bucket"], bucket_cap, metrics_path,
                        "dedup_minhash")
    )
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    if metrics_path is not None:
        register_pair_volume(metrics_path, "dedup_minhash", bands, ["band", "bucket"])
    return _minhash_rescore(cand, sigs, min_matches)


def minhash_lsh_pairs_incremental(
    new_docs: DataFrame,
    store_sigs: DataFrame,
    store_bands: DataFrame,
    n: int = 3,
    min_matches: int = 8,
    text_col: str = "text",
    bucket_cap: int | None = 100_000,
    metrics_path: str | None = None,
    broadcast_new: bool = True,
) -> DataFrame:
    """Daily-batch near-dup detection against a pre-mined corpus store
    (sources/dedup_store.py): returns every (doc_a, doc_b, match_cnt) pair
    with at least one side in ``new_docs`` — new↔stored and new↔new —
    identical to what a full minhash_lsh_pairs run over (store ∪ new)
    would emit for those pairs, WITHOUT re-running the signature kernel
    over the corpus (the reference's ``-index.pbf`` prune applied to
    dedup: update.cpp:217-254 reads a per-tile id index instead of
    re-deriving the planet; here the store contributes pre-computed
    (sig, band, bucket) rows at parquet-scan cost).

    Scale shape: the candidate join is new_bands ⋈ (store ∪ new) bands on
    (band, bucket) — old↔old pairs are never generated, and with
    ``broadcast_new`` (daily batches are diff-scale) the store side is
    probed in place with NO shuffle of the corpus band table. The
    signature kernel runs over the new batch only. ``bucket_cap`` drops
    degenerate buckets of the UNION (a bucket hot in the store is hot for
    every future batch — drops committed to the metrics table).

    Precondition: ``new_docs`` ids are disjoint from the store's (the
    ingest contract — a re-submitted id would pair with its stored self
    at full match count). ``broadcast_new`` assumes a true diff-scale
    batch (fits the broadcast limit ×N_BANDS band rows); pass False for
    backfills — the join degrades to the standard shuffled equi-join."""
    from ..cache import cached

    new_sigs = cached(
        minhash_signature(new_docs, n, text_col).filter(F.size("sig") > 0)
    )
    new_bands = band_rows(new_sigs)
    all_bands = store_bands.select("doc_id", "band", "bucket").unionByName(
        new_bands
    )
    all_bands = cached(
        cap_hot_buckets(all_bands, ["band", "bucket"], bucket_cap,
                        metrics_path, "dedup_incremental")
    )
    # the capped union feeds the probe side; the new side re-filters the
    # cap via a semi-join on its own rows (a new doc in a dropped bucket
    # must not pair through it from EITHER side)
    nb = new_bands.select("doc_id", "band", "bucket")
    if broadcast_new:
        nb = F.broadcast(nb)
    a = all_bands.join(nb, ["doc_id", "band", "bucket"], "left_semi").select(
        F.col("doc_id").alias("_ida"), "band", "bucket"
    )
    if broadcast_new:
        a = F.broadcast(a)
    b = all_bands.select(F.col("doc_id").alias("_idb"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("_ida") != F.col("_idb"))
        .select(
            F.least("_ida", "_idb").alias("doc_a"),
            F.greatest("_ida", "_idb").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    if metrics_path is not None:
        # recall proxy: the join's ACTUAL pre-dedup candidate volume,
        # Σ_buckets n_new·(n_all − 1) — NOT the union's C(n,2), which is
        # dominated by stored×stored pairs this join never generates and
        # would mask a collapsing new-side volume
        from .. import metrics

        na = a.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("_nn"))
        nu = all_bands.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("_nu")
        )
        vol = (
            na.join(nu, ["band", "bucket"])
            .groupBy()
            .agg(F.sum(F.col("_nn") * (F.col("_nu") - 1)).alias("_v"))
            .select(
                *metrics.metric_frame(
                    "dedup_incremental", "candidate_pair_volume",
                    F.lit(""), F.coalesce("_v", F.lit(0)),
                )
            )
        )
        metrics.register(
            metrics_path, vol, key=("dedup_incremental", "candidate_pair_volume")
        )
    sigs_all = store_sigs.select("doc_id", "sig").unionByName(
        new_sigs.select("doc_id", "sig")
    )
    return _minhash_rescore(cand, sigs_all, min_matches)


def simhash_signature(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, sig): 32-bit SimHash over word hashes. Bit j of the
    signature is set iff the j-th bits of the word hashes are set in at
    least half the words (2*ones_j >= n_words) — the classic sign-of-votes
    rule.

    Implemented as a vectorized Arrow batch kernel (same rationale as
    minhash_signature): the per-word hash and the 32 per-bit vote counts
    are one exploded word array + a (words × 32) bit unpack +
    ``np.add.reduceat`` over doc runs — the previous JVM
    higher-order-function fold evaluated interpreted at ~100× the cost.
    Integer math is identical to the DuckDB oracle spec (word code
    len·97+first+31·last, Knuth spread mod 2^32)."""
    import numpy as np
    import pandas as pd

    from .docs import balanced

    docs = balanced(docs)
    id_field = docs.schema["doc_id"].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            # NULL text yields a NULL signature — string_split(NULL) is NULL
            # in the SQL twin and propagates; fillna here only keeps the
            # batch math total-function, the mask restores the NULL at the end
            isnull = pdf[text_col].isna().to_numpy()
            # shared vectorized word-code extraction — see minhash_signature
            row, c = word_codes(pdf[text_col].fillna(""))
            h = (c * KNUTH) % (1 << 32)
            bits = ((h[:, None] >> np.arange(SIM_BITS, dtype=np.int64)) & 1).astype(
                np.int64
            )  # (words, 32)
            starts = (
                np.flatnonzero(np.r_[True, row[1:] != row[:-1]])
                if len(row)
                else np.zeros(0, np.int64)
            )
            if len(starts):
                votes = np.add.reduceat(bits, starts, axis=0)  # (docs, 32)
                n_words = np.diff(np.r_[starts, len(row)])
                sig_bits = (votes * 2 >= n_words[:, None]).astype(np.int64)
                sigs = (sig_bits << np.arange(SIM_BITS, dtype=np.int64)).sum(axis=1)
                out_rows = row[starts]
            else:
                sigs = np.zeros(0, np.int64)
                out_rows = np.zeros(0, np.int64)
            sig_col = pd.Series(sigs, dtype="Int64")
            null_out = isnull[out_rows] if len(out_rows) else isnull[:0]
            if null_out.any():
                sig_col[null_out] = pd.NA
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids).iloc[out_rows].to_numpy(),
                    "sig": sig_col,
                }
            )

    return docs.select("doc_id", F.col(text_col)).mapInPandas(
        gen, f"doc_id {id_field}, sig bigint"
    )


def hamming_block_pairs(
    sigs: DataFrame,
    sig_bits: int,
    max_hamming: int,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    out_a: str = "doc_a",
    out_b: str = "doc_b",
    bucket_cap: int | None = 100_000,
    metrics_path: str | None = None,
    operator: str = "hamming_block_pairs",
) -> DataFrame:
    """Pigeonhole hamming near-dup pairs over an int64 signature of
    ``sig_bits`` bits — the ONE definition shared by the 32-bit text
    SimHash (simhash_pairs) and the 64-bit image perceptual hash
    (images.phash_near_dup), so the cap-before-join ordering and the
    metrics registration cannot drift between them.

    The signature's bits split into ``max_hamming + 1`` contiguous blocks
    (uneven widths allowed): any pair within hamming ≤ max_hamming agrees
    on at least one whole block, so the candidate stage is an equi-join on
    (block_idx, block_value) — no pairwise scan. The signature is one
    bigint and rides the join; the exact ``bit_count(xor)`` filter runs
    BEFORE the pair dedup (hamming is a function of the pair, so the
    result is identical while the dropDuplicates shuffle shrinks by the
    false-candidate volume — the dominant term at catalog scale). NULL
    signatures produce NULL block values and drop out of the equi-join
    (NULL-propagating). Returns (out_a, out_b, hamming), out_a < out_b."""
    from ..cache import cached

    n_blocks = max_hamming + 1
    if n_blocks > sig_bits:
        raise ValueError("need max_hamming + 1 <= sig_bits for non-empty blocks")
    parts = []
    for k in range(n_blocks):
        lo, hi = sig_bits * k // n_blocks, sig_bits * (k + 1) // n_blocks
        parts.append(
            F.struct(
                F.lit(k).alias("blk"),
                F.shiftright(F.col(sig_col), lo)
                .bitwiseAND(F.lit((1 << (hi - lo)) - 1))
                .alias("val"),
            )
        )
    blocks = sigs.select(
        F.col(id_col).alias("_pid"), F.col(sig_col).alias("_sig"),
        F.explode(F.array(*parts)).alias("_b"),
    ).select("_pid", "_sig", F.col("_b.blk").alias("blk"), F.col("_b.val").alias("val"))
    blocks = cached(
        cap_hot_buckets(blocks, ["blk", "val"], bucket_cap, metrics_path, operator)
    )
    if metrics_path is not None:
        register_pair_volume(metrics_path, operator, blocks, ["blk", "val"])
    a = blocks.select(F.col("_pid").alias(out_a), F.col("_sig").alias("_sa"), "blk", "val")
    b = blocks.select(F.col("_pid").alias(out_b), F.col("_sig").alias("_sb"), "blk", "val")
    hamming = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).cast("bigint")
    return (
        a.join(b, ["blk", "val"])
        .filter(F.col(out_a) < F.col(out_b))
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates([out_a, out_b])
        .select(out_a, out_b, "hamming")
    )


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    bucket_cap: int | None = 100_000,
    metrics_path: str | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: pigeonhole block join + exact hamming filter
    (hamming_block_pairs over the 32-bit signature; with max_hamming=3
    that is 4 blocks of 8 bits — complete by construction). Returns
    (doc_a, doc_b, hamming) with doc_a < doc_b."""
    if max_hamming + 1 > SIM_BITS:  # cheap guard before the signature stage
        raise ValueError("max_hamming + 1 must be <= SIM_BITS")
    # persist the signatures: the 32-bit vote fold is the expensive stage and
    # the cap aggregate + both self-join branches would each re-run it
    from ..cache import cached

    sigs = cached(simhash_signature(docs, text_col))
    return hamming_block_pairs(
        sigs, SIM_BITS, max_hamming, bucket_cap=bucket_cap,
        metrics_path=metrics_path, operator="dedup_simhash",
    )


def embedding_dup_pairs(
    vectors: DataFrame,
    min_cos: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding near-dup pairs: all pairs with cosine ≥ min_cos
    (id_a < id_b). The exactness baseline; the scale path buckets with
    operators/ann.py LSH first (embedding_dup_pairs_lsh). The per-pair
    cosine stays the compact aggregate fold: the ``cos >= min_cos``
    predicate gets pushed into the (nested-loop) join condition, where a
    64-term unrolled tree is evaluated per pair WITHOUT codegen and
    measured 2-7× slower than the fold (see embedding_dup_pairs_lsh)."""
    from ..cache import cached
    from .ann import _dot, with_norm

    # cached for the same reason as the LSH path: both crossJoin branches
    # read the normed table, uncached each re-scans + re-folds
    v = cached(with_norm(vectors, vec_col).select(id_col, "_v", "_norm"))
    a = v.select(F.col(id_col).alias("id_a"), F.col("_v").alias("_va"), F.col("_norm").alias("_na"))
    b = v.select(F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"), F.col("_norm").alias("_nb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")))
        .filter(F.col("cos") >= min_cos)
        .select("id_a", "id_b", "cos")
    )


def embedding_dup_pairs_lsh(
    vectors: DataFrame,
    min_cos: float,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int | None = 100_000,
    dim: int | None = None,
    export_pairs_path: str | None = None,
    metrics_path: str | None = None,
) -> DataFrame:
    """Bucketed embedding near-dup pairs — the 10^12-scale path: candidates
    share a random-hyperplane bucket in any table (bucket ids from ONE
    Arrow-batch matmul, ann.bucket_signatures); exact cosine re-score.
    The bucket join and pair dedup run on slim (id, tbl, bucket) rows —
    vectors are re-attached to surviving pairs only. Recall < 1 by
    construction (tunable via n_planes/n_tables); compared against the
    exact operator in tests. ``bucket_cap`` drops degenerate buckets
    (cap_hot_buckets; drops committed to ``metrics_path``).

    ``dim`` is the embedding dimensionality; pass it to avoid the LIMIT-1
    sniff job the fallback runs. ``export_pairs_path`` writes the candidate
    pair set to parquet and feeds the returned plan FROM that export — the
    soundness-oracle surface: DuckDB re-scores the exported candidates from
    the raw embeddings table and must reproduce every emitted (pair, cos)
    exactly, turning the former rows-only driver check into a full value
    gate (recall itself stays pytest-gated against the exact operator)."""
    from .ann import bucket_signatures, make_planes

    if dim is not None:
        d = dim
    else:
        row = vectors.select(vec_col).first()
        if row is None:  # empty corpus (empty diff/region at scale): no pairs
            spark = vectors.sparkSession
            idt = vectors.schema[id_col].dataType.simpleString()
            return spark.createDataFrame(
                [], f"id_a {idt}, id_b {idt}, cos double"
            )
        d = len(row[0])
    planes = make_planes(n_tables, n_planes, d, seed)

    from ..cache import cached

    bucketed = bucket_signatures(vectors, planes, [id_col], vec_col).select(
        id_col, "tbl", "bucket"
    )
    bucketed = cached(
        cap_hot_buckets(bucketed, ["tbl", "bucket"], bucket_cap, metrics_path,
                        "dedup_embedding_lsh")
    )
    a = bucketed.select(F.col(id_col).alias("id_a"), "tbl", "bucket")
    b = bucketed.select(F.col(id_col).alias("id_b"), "tbl", "bucket")
    pairs = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    if export_pairs_path is not None:
        from .. import metrics

        pairs = metrics.export_candidates(
            pairs, export_pairs_path, metrics_path, "dedup_embedding_lsh"
        )
    return rescore_pairs(pairs, vectors, min_cos, id_col, vec_col)


def rescore_pairs(
    pairs: DataFrame,
    vectors: DataFrame,
    min_cos: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-cosine rescore of a candidate (id_a, id_b) set — the shared
    back stage of every bucketed near-dup path (LSH, semantic/k-means):
    re-attach vectors to surviving pairs only, score, threshold.

    The normed table is cached: BOTH pair sides join it, and uncached each
    side re-scans the source and re-folds the norms (measured 1.6 s of
    the 4.3 s sf0.1 LSH wall — exec 1.9 → 0.8 s with the persist).

    The per-pair cosine stays the compact aggregate FOLD on purpose:
    Catalyst pushes the `cos >= min_cos` predicate INTO the broadcast
    join as a join condition, duplicating the scoring expression (once
    in the join, once in the output Project). With ann._dot_unrolled's
    64-term tree that duplicated giant expression measured 7× SLOWER
    than the fold here (12.7 s vs 1.7 s warm on 821k sf0.1 candidates);
    the fold's tight primitive loop is the faster join-condition shape.
    Also measured and REJECTED: the unrolled tree behind a persist
    barrier (cache the unfiltered scored projection so the filter can't
    push into the join) — 4.4 s → 14.9 s best-of in a same-window A/B;
    materializing 821k×3 scalars plus per-stage codegen of the 64-term
    tree costs more than the pushdown it prevents. Keep the fold."""
    from ..cache import cached
    from .ann import _dot, with_norm

    v = cached(with_norm(vectors, vec_col).select(id_col, "_v", "_norm"))
    va = v.select(F.col(id_col).alias("id_a"), F.col("_v").alias("_va"), F.col("_norm").alias("_na"))
    vb = v.select(F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"), F.col("_norm").alias("_nb"))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos", _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")))
        .filter(F.col("cos") >= min_cos)
        .select("id_a", "id_b", "cos")
    )


def semantic_dup_pairs(
    vectors: DataFrame,
    min_cos: float,
    n_centroids: int = 64,
    nprobe: int = 2,
    sample_mod: int = 1,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_cap: int | None = 1_000_000,
    export_pairs_path: str | None = None,
    metrics_path: str | None = None,
) -> DataFrame:
    """Semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
    cluster the embedding space with the deterministic spherical-k-means
    codebook (ann.train_centroids — bounded xxhash64-sampled driver
    collect), then emit near-dup pairs WITHIN clusters only — candidates
    share one of each vector's ``nprobe`` nearest centroids, scored by
    exact cosine ≥ min_cos.

    vs embedding_dup_pairs_lsh: k-means buckets follow the DATA layout
    (dense regions get their own centroids) where random hyperplanes are
    data-blind, so at equal candidate volume the semantic path recalls
    boundary-dense corpora better; the codebook is a train-once artifact
    (pass the same seed/sample across daily runs for stable clusters).
    ``nprobe`` > 1 closes the classic k-means seam — near-dups straddling
    a Voronoi boundary — by assigning each vector to its nprobe nearest
    lists (pairs meet when ANY list is shared; nprobe=1 is pure SemDeDup).

    Scale shape: the candidate join is a slim (id, cid) equi-join on the
    int32 centroid id; degenerate clusters are dropped by ``cluster_cap``
    (cap_hot_buckets — drops committed to the metrics table, never
    silent); vectors re-attach to surviving pairs only (rescore_pairs).
    ``export_pairs_path`` commits the candidate set and feeds the plan
    from it — the same soundness-oracle surface as the LSH paths (DuckDB
    re-scores the export from raw embeddings; recall is pytest-gated vs
    the exact operator)."""
    from .ann import ivf_assign, train_centroids

    centroids = train_centroids(
        vectors, n_centroids, sample_mod, seed=seed,
        id_col=id_col, vec_col=vec_col, shrink_to_sample=True,
    )
    if sample_mod > 1 and (centroids is None or centroids.shape[0] < n_centroids):
        # the hash-sample under-covered a small corpus (0..n_centroids-1
        # rows) — a shrunken codebook from a LARGE corpus would be a
        # degenerate few-cluster clustering (one giant candidate bucket),
        # so retrain unsampled before accepting any shrink
        centroids = train_centroids(
            vectors, n_centroids, 1, seed=seed,
            id_col=id_col, vec_col=vec_col, shrink_to_sample=True,
        )
    if centroids is None:  # empty corpus (empty diff/region at scale)
        spark = vectors.sparkSession
        idt = vectors.schema[id_col].dataType.simpleString()
        return spark.createDataFrame([], f"id_a {idt}, id_b {idt}, cos double")
    from ..cache import cached

    assign = ivf_assign(vectors, centroids, [id_col], vec_col, nprobe=nprobe)
    assign = cached(
        cap_hot_buckets(assign, ["cid"], cluster_cap, metrics_path,
                        "dedup_semantic")
    )
    a = assign.select(F.col(id_col).alias("id_a"), "cid")
    b = assign.select(F.col(id_col).alias("id_b"), "cid")
    pairs = (
        a.join(b, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    if export_pairs_path is not None:
        from .. import metrics

        pairs = metrics.export_candidates(
            pairs, export_pairs_path, metrics_path, "dedup_semantic"
        )
    return rescore_pairs(pairs, vectors, min_cos, id_col, vec_col)
