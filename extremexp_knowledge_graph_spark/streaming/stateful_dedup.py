"""Custom stateful streaming operator: cross-batch exact deduplication.

The streaming form of ``operators/dedup.py::exact_dedup``: documents arrive
in micro-batches, and only the FIRST document ever seen with a given
content fingerprint survives — across batches and restarts, not just within
one batch (Spark's own ``dropDuplicates`` on a stream needs the whole key
history in state too; doing it via ``applyInPandasWithState`` makes the
state explicit, minimal — one boolean per fingerprint — and gives us the
keeper-id tie-break the batch operator guarantees).

This is the "custom stateful operator" pattern the engine uses wherever
built-in streaming ops can't express the semantics: group by key →
Arrow-batched function with explicit per-key state → append-mode output.
State size is O(distinct fingerprints), the irreducible minimum for exact
streaming dedup; at 100 TB you bound it with ``state_ttl_ms``
(ProcessingTimeTimeout) and accept re-admitting a dup after the window —
the standard trade. Expiry follows Spark's group-state timeout contract: a
key's state is cleaned by the first micro-batch AFTER the deadline in which
that key receives no new data (a key that keeps arriving keeps its state
refreshed).

Keeper semantics vs the batch operator: WITHIN one micro-batch the min-
doc_id row wins (same tie-break as ``operators/dedup.py::exact_dedup``),
but ACROSS batches the first batch to see a fingerprint wins regardless of
doc_id — a lower-id duplicate arriving in a later batch is suppressed, so
streaming survivors can differ from a batch run over the union of all
batches. That is inherent to append-mode streaming (emitted rows cannot be
retracted); if exact batch parity matters, run the batch operator over the
accumulated corpus instead.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
)

SURVIVOR_SCHEMA = StructType(
    [
        StructField("fingerprint", StringType()),
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
)

_STATE_SCHEMA = StructType([StructField("seen", BooleanType())])


def _make_dedup_fn(ttl_ms: int | None):
    """Build the per-key state function. ``ttl_ms`` None → remember every
    fingerprint forever (NoTimeout); set → refresh a processing-time
    deadline on every sighting, drop the state when it fires, and re-admit
    the next arrival of that fingerprint (bounded-state trade)."""

    def _dedup_fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        """Emit the min-doc_id row of this fingerprint group iff the
        fingerprint is not in live state; then mark it seen. Keeper
        tie-break is batch-local — see module docstring for the cross-batch
        first-batch-wins caveat."""
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()
            return iter(())
        if state.exists:
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)  # sighting refreshes the TTL
            return iter(())
        best = None
        for pdf in pdfs:
            cand = pdf.loc[pdf["doc_id"].idxmin()]
            if best is None or cand["doc_id"] < best["doc_id"]:
                best = cand
        state.update((True,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if best is None:
            return iter(())
        out = pd.DataFrame(
            [{"fingerprint": key[0], "doc_id": int(best["doc_id"]), "text": best["text"]}]
        )
        return iter([out])

    return _dedup_fn


def fingerprinted(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprint column (same normalization as batch exact dedup)."""
    return docs.withColumn(
        "fingerprint", F.md5(F.regexp_replace(F.col(text_col), r"\s+", " "))
    )


def stream_exact_dedup(
    spark: SparkSession,
    input_dir: str,
    out_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int = 16,
    state_ttl_ms: int | None = None,
):
    """File-source document stream → stateful cross-batch exact dedup →
    parquet of survivors. Returns the StreamingQuery.

    ``state_ttl_ms`` bounds state for unbounded deployments: a fingerprint
    unseen for that long is forgotten (its next arrival is re-admitted as a
    fresh survivor). Default None = exact dedup over all history, state
    O(distinct fingerprints) — fine for bounded backfills, unbounded on an
    infinite stream; pick the TTL to match your dedup horizon.

    A query with ``state_ttl_ms`` set does not end by itself, even with
    ``available_now``: it keeps running no-data micro-batches (about one a
    second) to fire processing-time timeouts, so the caller must stop it
    (``q.stop()``) once its input is processed.
    """
    raw = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    survivors = (
        fingerprinted(raw)
        .groupBy("fingerprint")
        .applyInPandasWithState(
            _make_dedup_fn(state_ttl_ms),
            outputStructType=SURVIVOR_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=timeout_conf,
        )
    )
    writer = (
        survivors.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
