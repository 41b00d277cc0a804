"""Structured-Streaming change application — the reference's replication
pipeline (daily .osc diffs merged into the tiled file,
/root/reference/src/update/update.cpp) recast as a stateful stream.

The reference replays sorted change files through a cursor merge
(combineblocks.cpp:141-162) in which the newest row wins per key.
Streaming-first restatement: changes arrive as a stream of (key..., seq,
payload..., changetype) rows, and latest-wins is a max over an ordered
struct, so ``apply_changes_stream`` is one built-in streaming aggregate
whose per-key state lives in Spark's JVM state store — no Python runs.
It emits the survivor on every update; Delete(1)/Remove(2) survivors emit
a tombstone row (is_deleted=true) so a downstream MERGE INTO can delete,
exactly the reference's apply_change semantics (survivors reset to
changetype Normal).

The reference's pipeline machinery (threaded_callback stages,
SURVEY.md §2.8) needs nothing in Spark — micro-batches are the pipeline;
only the per-key latest-wins state is genuinely stateful.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.changes import CT_DELETE, CT_NORMAL, CT_REMOVE


def apply_changes_stream(
    changes: DataFrame,
    key_col: str = "key",
    seq_col: str = "seq",
    payload_col: str = "payload",
    changetype_col: str = "changetype",
) -> DataFrame:
    """Latest-wins keyed state over a change stream.

    Output rows: (key, seq, payload, changetype, is_deleted). ``is_deleted``
    mirrors the reference's Delete/Remove handling: the key's current
    survivor is a tombstone and a sink MERGE should drop it. changetype of
    live survivors is normalized to 0 (combineblocks.cpp:120-130).

    The winner per key is the max of ``(seq, changetype, payload IS NOT
    NULL, payload)``: at equal (seq, changetype) the larger payload wins,
    NULL loses every tie (the batch window's descending order is NULLS
    LAST) and a genuine -inf beats NULL. The order is total, so the winner
    does not depend on how rows split across micro-batches. A NaN payload
    is NULL to the operator (mapped before the max, emitted as NULL):
    Spark orders NaN above every double, so unmapped it would win ties.

    State per key is one struct in Spark's state store — O(live keys), the
    same bound as the reference's id-indexed update tables
    (update.cpp:115-195), sharded across executors by key hash; no driver
    state. Works in update mode (one row per key touched by a micro-batch)
    and complete mode (the converged state). A checkpoint written by the
    earlier version of this operator, which kept per-key state in a pandas
    function, cannot restart under the aggregate: the state schema differs.
    """
    payload = F.nanvl(F.col(payload_col), F.lit(None).cast("double"))
    best = F.max(
        F.struct(
            F.col(seq_col).alias("seq"),
            F.col(changetype_col).alias("ct"),
            payload.isNotNull().alias("has_payload"),
            payload.alias("payload"),
        )
    ).alias("best")
    return changes.groupBy(key_col).agg(best).select(
        key_col,
        F.col("best.seq").alias(seq_col),
        F.col("best.payload").alias(payload_col),
        F.lit(CT_NORMAL).alias(changetype_col),
        F.col("best.ct").isin(CT_DELETE, CT_REMOVE).alias("is_deleted"),
    )
