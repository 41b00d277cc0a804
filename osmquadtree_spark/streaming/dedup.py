"""Streaming MinHash-LSH near-dup detection — the batch
``operators.dedup.minhash_lsh_pairs`` pipeline as an incremental stateful
stream (the training-data-pipeline shape: documents arrive continuously,
near-dup pairs must surface as they form, without re-scanning the corpus).

The reference has no streaming surface (it is batch-only,
/root/reference/src/sortblocks — the closest analog is the daily .osc
replication replay); like streaming/changes.py it is a Structured-Streaming
restatement, but not of the same stateful shape: changes.py's latest-wins
state is a max, one built-in aggregate in Spark's state store, while the
state here is a bucket's member list, which no built-in aggregate keeps, so
it stays a per-(band, bucket) Python state function.

Shape: the signature kernel is STATELESS (the same Arrow batch kernel as
batch, one mapInPandas per micro-batch); the only genuine state is the
per-(band, bucket) membership — exactly the state a 10^12-document
deduplicator must shard, and it shards here by bucket hash across
executors with no driver state. A new document joins each of its N_BANDS
buckets; the stateful operator compares its 16-hash signature against the
bucket's existing members (one numpy equality against the stored matrix)
and emits every pair with >= min_matches agreeing minhashes. State per
bucket = member ids + flattened signatures, bounded by ``bucket_cap``.

Equivalence contract (pinned in tests/test_streaming.py): the DISTINCT
set of emitted (doc_a, doc_b, match_cnt) rows converges to the batch
operator / DuckDB all-pairs oracle on the same corpus, for any split of
the corpus into micro-batches and any arrival order — emission is
incremental but membership comparison is order-free (signature equality
counts are symmetric), and a pair discovered via several shared buckets
emits identical rows (match_cnt is a pure function of the two
signatures), so downstream distinct / MERGE upsert is idempotent.

Cap semantics differ from batch BY DESIGN, and are documented here:
batch ``cap_hot_buckets`` drops a >cap bucket ENTIRELY (retroactive —
it sees the full bucket before the join); a stream cannot un-emit, so a
bucket that reaches ``bucket_cap`` members SATURATES: existing members
stay, later arrivals to that bucket are neither stored nor compared
(their pairs may still surface via their other N_BANDS-1 buckets). Both
behaviors bound the quadratic hot-bucket blowup; the batch gate remains
the recall authority.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.dedup import N_HASHES, band_rows, minhash_signature


def minhash_pairs_stream(
    docs: DataFrame,
    n: int = 3,
    min_matches: int = 8,
    text_col: str = "text",
    bucket_cap: int | None = 100_000,
) -> DataFrame:
    """Near-dup pairs over a streaming (doc_id, text) frame.

    Output rows: (doc_a, doc_b, match_cnt) with doc_a < doc_b, update
    mode — each row emits when the LATER document of the pair arrives
    (in whichever of their shared buckets processes it first; duplicate
    emissions across buckets are identical rows).

    A doc_id seen again in the same bucket (source replay, duplicate
    delivery) is ignored — membership is keyed by id, so delivery is
    at-least-once safe without emitting self-pairs.
    """
    import numpy as np

    # banding is the SHARED batch definition (operators.dedup.band_rows) —
    # the stream/batch equivalence contract depends on identical buckets
    sigs = minhash_signature(docs, n, text_col).filter(F.size("sig") > 0)
    bands = band_rows(sigs, keep_sig=True)

    out_schema = "doc_a bigint, doc_b bigint, match_cnt bigint"
    state_schema = "ids array<bigint>, sigs array<bigint>"
    cap = bucket_cap if bucket_cap is not None else 1 << 62

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ids_t, flat_t = state.get
            ids = np.asarray(ids_t, dtype=np.int64)
            mat = np.asarray(flat_t, dtype=np.int64).reshape(-1, N_HASHES)
        else:
            ids = np.zeros(0, np.int64)
            mat = np.zeros((0, N_HASHES), np.int64)
        out_a, out_b, out_m = [], [], []
        id_set = set(ids.tolist())
        new_ids: list[int] = []
        new_sigs: list[np.ndarray] = []
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            # doc_id order inside the batch: purely cosmetic determinism
            # of emission order; the emitted SET is order-free. Sort key is
            # the id ALONE — sig values are numpy arrays after Arrow
            # conversion and a tuple-tie comparison on them raises (a
            # duplicate-delivered id within one micro-batch would tie).
            for doc_id, sig in sorted(
                zip(pdf["doc_id"].tolist(), pdf["sig"].tolist()),
                key=lambda t: t[0],
            ):
                if doc_id in id_set:
                    continue  # replayed / duplicate delivery
                if len(ids) + len(new_ids) >= cap:
                    continue  # saturated bucket (see module docstring)
                s = np.asarray(sig, dtype=np.int64)
                # compare against stored members AND this trigger's new
                # members in one pass each (no per-doc state matrix copy —
                # the state append happens ONCE per invocation below)
                for prev_ids, prev_mat in (
                    (ids, mat),
                    (new_ids, np.asarray(new_sigs, dtype=np.int64)),
                ):
                    if len(prev_ids):
                        cnt = (prev_mat == s).sum(axis=1)
                        for j in np.flatnonzero(cnt >= min_matches):
                            a, b = prev_ids[j], doc_id
                            out_a.append(min(a, b))
                            out_b.append(max(a, b))
                            out_m.append(int(cnt[j]))
                new_ids.append(int(doc_id))
                new_sigs.append(s)
                id_set.add(doc_id)
        if new_ids:
            ids = np.concatenate([ids, np.asarray(new_ids, np.int64)])
            mat = np.vstack([mat, np.asarray(new_sigs, np.int64)])
            state.update((ids.tolist(), mat.ravel().tolist()))
        if out_a:
            yield pd.DataFrame(
                {"doc_a": out_a, "doc_b": out_b, "match_cnt": out_m}
            )

    return bands.groupBy("band", "bucket").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def exact_dedup_stream(
    rows: DataFrame,
    ttl_seconds: int,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """First-occurrence-wins EXACT streaming dedup with TTL-bounded state —
    the streaming twin of ``operators.docs.dedup_exact`` and the third
    dedup state policy in this engine (batch cap: retroactive drop;
    minhash stream: saturating buckets; here: watermark eviction).

    Built on the engine-native primitive (``withWatermark`` +
    ``dropDuplicatesWithinWatermark``) rather than a custom stateful
    operator: Spark keeps ONE state row per key and evicts it when the
    watermark passes the stored event time + TTL — exactly the bound a
    10^12-row stream needs (state ∝ distinct keys per TTL horizon, not
    corpus size; the state store shards by key hash across executors).
    A duplicate arriving while its key is in state is dropped AND extends
    the state's expiry to its own event time + TTL (the primitive's
    guarantee is dedup against the LAST occurrence, so a steady drizzle
    of duplicates keeps the key live); once the watermark passes that
    expiry the state is evicted and the next arrival is ADMITTED AGAIN —
    the deliberate state/recall trade of every TTL deduper, pinned in
    tests/test_streaming.py with a crafted watermark timeline.

    Within one micro-batch Spark keeps an arbitrary row per duplicated
    key, so exact VALUE determinism requires batch-unique keys; the
    driver gate feeds per-batch-deduplicated micro-batches (its replay
    constructor takes the min-event row per key per batch), making the
    cross-batch streaming state the thing under test.
    """
    return rows.withWatermark(ts_col, f"{ttl_seconds} seconds").dropDuplicatesWithinWatermark(
        [key_col]
    )
