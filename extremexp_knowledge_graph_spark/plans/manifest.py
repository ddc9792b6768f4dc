"""Checkpoint manifest — per-stage, per-partition lineage + metrics (H5/E5).

Replaces the reference's volatile ``processed_files`` set (lost on restart,
extremexp_kg_matic/src/file_watcher.py:20,124) and its in-memory metrics
collector (src/monitoring.py:91-148) with a durable manifest table:

    manifest(stage, partition_key, input_fingerprint, rows_in, rows_out,
             wall_ms, status, ts, seq)

Resume = anti-join pending inputs against completed manifest rows, so a
restarted run recomputes nothing that finished — the north rule's
"resumable from checkpoint with per-partition lineage + metrics".
"""

from __future__ import annotations

import datetime as dt
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from extremexp_knowledge_graph_spark.plans.kg_store import read_table, swap_rewrite
from extremexp_knowledge_graph_spark.schema import MANIFEST_SCHEMA


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    """The manifest through ``kg_store.read_table``: always with the EXPLICIT
    current schema, so a column a legacy file lacks (e.g. ``seq``) reads as
    NULL instead of vanishing with whichever footer Spark would have picked
    for inference — and a rewrite of that read can never drop it. An absent
    manifest reads as empty ("nothing ran yet"); any other read failure
    propagates."""
    return read_table(spark, path, MANIFEST_SCHEMA)


def latest_rows(man: DataFrame, *keys: str) -> DataFrame:
    """The one latest-row rule: per ``keys``, the row with the greatest
    ``(ts, seq)``. ``seq`` breaks same-microsecond ties (and outranks a
    clock step back); legacy rows with NULL ``seq`` sort last."""
    w = Window.partitionBy(*keys).orderBy(F.desc("ts"), F.desc_nulls_last("seq"))
    return man.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def prune_manifest(spark: SparkSession, path: str) -> tuple[int, int]:
    """Retention compaction: keep only the ``latest_rows`` per (stage,
    partition_key, status), rewritten as one file.

    The manifest is append-only, so a long-lived minute-trigger deployment
    grows it by stages × buckets rows per trigger even when nothing is
    pending, one tiny parquet file per append. Every consumer reads
    ``latest_rows``: ``pending_keys`` / ``stale_keys`` per key among *done*
    rows, ``web_pipeline.reconcile_pending`` per key across statuses —
    keeping the newest row of EACH status preserves all of them exactly (a
    superseded 'started' never shadows a 'done', and a crash's dangling
    'started' survives pruning). Row count after = |distinct (stage, key,
    status)|, bounded regardless of trigger count, in a single file (the
    manifest is driver-scale metadata). Same two-rename swap discipline as
    ``kg_store.compact``. Returns (rows_before, rows_after).
    """
    import glob
    import os

    from pyspark.sql import Observation

    df = read_manifest(spark, path)  # heals an interrupted swap before the check
    if not glob.glob(os.path.join(path, "*.parquet")):
        return 0, 0
    # both row metrics ride the single write job as Observations — no
    # separate count scans (same convention as reconcile's store rewrite)
    obs_in, obs_out = Observation("prune_in"), Observation("prune_out")
    df = df.observe(obs_in, F.count(F.lit(1)).alias("n"))
    kept = latest_rows(df, "stage", "partition_key", "status").observe(
        obs_out, F.count(F.lit(1)).alias("n")
    )
    swap_rewrite(path, lambda tmp: kept.coalesce(1).write.mode("overwrite").parquet(tmp))
    return int(obs_in.get["n"]), int(obs_out.get["n"])


_seq_lock = threading.Lock()
_last_seq = 0


def _next_seq() -> int:
    """Process-monotonic append sequence: strictly increasing even when two
    appends share a wall-clock microsecond, and never retrograde under clock
    adjustment (wall-clock ns is only a floor). Latest-row selection orders
    by (ts, seq) so it is total-ordered independent of clock resolution.

    Monotonic within ONE process only: see ``append_manifest``'s
    single-writer assumption."""
    global _last_seq
    with _seq_lock:
        _last_seq = max(_last_seq + 1, time.time_ns())
        return _last_seq


def append_manifest(spark: SparkSession, path: str, rows: list[dict]) -> None:
    """Append ``rows`` (missing fields NULL, ``status`` defaulting to done).

    Single-writer assumption: one driver process appends to a manifest at a
    time. ``seq`` is ordered only within a process (``_next_seq``), so two
    processes appending to the same manifest can write equal or crossed
    ``(ts, seq)`` pairs and ``latest_rows`` could then pick either row. A
    multi-writer deployment needs a writer id as the final tiebreak, or a
    table format with serialized commits."""
    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    full = [
        {
            "stage": r["stage"],
            "partition_key": r["partition_key"],
            "input_fingerprint": r.get("input_fingerprint"),
            "output_fingerprint": r.get("output_fingerprint"),
            "rows_in": r.get("rows_in"),
            "rows_out": r.get("rows_out"),
            "wall_ms": r.get("wall_ms"),
            "status": r.get("status", "done"),
            "ts": r.get("ts", now),
            "seq": _next_seq(),
        }
        for r in rows
    ]
    spark.createDataFrame(full, MANIFEST_SCHEMA).write.mode("append").parquet(path)


def pending_keys(spark: SparkSession, manifest_path: str, stage: str, keys: DataFrame) -> DataFrame:
    """Anti-join input partition keys against completed manifest rows.

    ``keys``: columns ``partition_key`` and ``fp`` — the partition's CURRENT
    input fingerprint. A key is pending when it has no done row, or when
    its LATEST done row recorded a DIFFERENT fingerprint — i.e. the
    partition's input changed since it last completed, so incremental ingest
    re-opens exactly the changed partitions (downstream overwrite/set-merge
    semantics make re-running safe). Only the latest row counts: an input
    that changes and then reverts (A → B → A) still re-opens, because the
    on-disk output reflects B. A latest row with a NULL recorded fingerprint
    is treated as matching any input (legacy rows stay done).
    """
    done = latest_rows(
        read_manifest(spark, manifest_path).where(
            (F.col("stage") == stage) & (F.col("status") == "done")
        ),
        "partition_key",
    ).select("partition_key", "input_fingerprint")
    k, d = keys.alias("k"), done.alias("d")
    cond = (F.col("k.partition_key") == F.col("d.partition_key")) & (
        F.col("d.input_fingerprint").isNull()
        | (F.col("d.input_fingerprint") == F.col("k.fp"))
    )
    return k.join(d, cond, "left_anti")


def stale_keys(
    spark: SparkSession, manifest_path: str, stage: str, upstream_stage: str
) -> list[tuple[str, str | None]]:
    """METADATA-ONLY pending computation for a stage whose input is another
    stage's output: partitions where ``upstream_stage``'s latest recorded
    ``output_fingerprint`` has not been processed by ``stage``.

    This is what makes a no-op resume (and every streaming trigger) cost
    zero data scans for the downstream stages: the upstream stage computes
    each partition's output fingerprint once AT WRITE TIME (in the same
    read-back pass as its lineage counts), and downstream pending checks
    compare manifest rows against manifest rows — never re-scanning the
    data the fingerprints describe.

    Returns ``[(partition_key, upstream_output_fp)]`` (driver-scale: one
    entry per pending partition). Legacy compatibility mirrors
    ``pending_keys``: an upstream row with NULL output fingerprint makes the
    partition pending only if ``stage`` has never completed it; a done row
    of ``stage`` with NULL input fingerprint matches any upstream output.
    """
    man = read_manifest(spark, manifest_path).where(F.col("status") == "done")
    u = latest_rows(man.where(F.col("stage") == upstream_stage), "partition_key").select(
        "partition_key", F.col("output_fingerprint").alias("up_fp")
    ).alias("u")
    # compare against the stage's LATEST done row per key, not any done row:
    # if a partition's input went A → B → back to A, the data on disk
    # reflects B and the stage must re-run even though an old row matches A
    done = latest_rows(man.where(F.col("stage") == stage), "partition_key").select(
        "partition_key", "input_fingerprint"
    ).alias("d")
    covered = (F.col("u.partition_key") == F.col("d.partition_key")) & (
        F.col("d.input_fingerprint").isNull()
        | F.col("u.up_fp").isNull()
        | (F.col("d.input_fingerprint") == F.col("u.up_fp"))
    )
    pend = u.join(done, covered, "left_anti").collect()
    return [(r.partition_key, r.up_fp) for r in pend]
