"""Stateful streaming exact-dedup: applyInPandasWithState.

The batch engine's exact dedup (operators/dedup.py) picks the min-id row
per distinct text; the streaming twin must make that decision ACROSS
micro-batches without reprocessing history, which is exactly Structured
Streaming's arbitrary-stateful-processing surface (SURVEY.md §2.9
"stateful ops").  State per text-md5 key holds (keeper_doc_id, n_seen):
the first batch that sees a key emits one representative (min doc_id
within that batch — the earliest arrival wins, standard streaming-dedup
semantics); every later occurrence only bumps the duplicate counter.

Scale notes: state is one tiny row per DISTINCT document, partitioned by
the md5 key (uniform); the shuffle is the same hash partitioning the
batch dedup pays.  At 100TB the state store should be RocksDB
(``spark.sql.streaming.stateStore.providerClass``) so per-executor state
exceeds memory safely; a ``GroupStateTimeout`` can age out keys when the
dedup horizon is bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = "doc_id long, text string, text_md5 string"
STATE_SCHEMA = "keeper_doc_id long, n_seen long"


def streaming_exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Streaming DataFrame of docs -> first occurrence per distinct text.

    Append-mode output: one row per distinct text, emitted by the first
    micro-batch containing it; duplicates (same batch or later batches,
    including re-deliveries) emit nothing.
    """
    keyed = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("text"),
    ).withColumn("text_md5", F.md5(F.col("text")))

    def dedup_fn(key, pdfs, state: GroupState):
        import pandas as pd  # noqa: F401 — worker-side import

        if state.exists:
            keeper, n_seen = state.get
            if keeper is not None and keeper < 0:
                keeper = None  # legacy -1 sentinel: treat as absent
        else:
            keeper, n_seen = None, 0
        # A key's batch data may span multiple Arrow chunks (~10k rows
        # each): scan ALL chunks tracking the running min before emitting,
        # so the representative is the min doc_id of the whole micro-batch,
        # not of the first non-empty chunk.
        best = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n_seen += len(pdf)
            if keeper is None:
                cand = pdf.loc[[pdf["doc_id"].idxmin()]]
                if best is None or int(cand["doc_id"].iloc[0]) < int(
                    best["doc_id"].iloc[0]
                ):
                    best = cand
        out = []
        if keeper is None and best is not None:
            keeper = int(best["doc_id"].iloc[0])
            out.append(best[["doc_id", "text", "text_md5"]])
        state.update((keeper if keeper is not None else -1, n_seen))
        return iter(out)

    return keyed.groupBy("text_md5").applyInPandasWithState(
        dedup_fn,
        OUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
