"""Cross-batch stateful streaming dedup (streaming/stateful_dedup.py).

The streaming operator must agree with the batch exact-dedup semantics:
one survivor per content fingerprint, min doc_id wins, duplicates arriving
in LATER batches (or after a checkpointed restart) emit nothing.
"""

from __future__ import annotations

import time

from extremexp_knowledge_graph_spark.streaming.stateful_dedup import (
    DOCS_SCHEMA,
    stream_exact_dedup,
)


def _write(spark, inp, rows):
    spark.createDataFrame(rows, DOCS_SCHEMA).repartition(1).write.mode("append").parquet(inp)


def _drain_and_stop(q, n_rows, timeout_s=120):
    """Wait until ``q`` has processed ``n_rows`` input rows, then stop it.
    A query with ``state_ttl_ms`` set keeps running no-data micro-batches
    for its timeouts and never ends by itself, even under availableNow."""
    deadline = time.monotonic() + timeout_s
    try:
        while sum(p["numInputRows"] for p in q.recentProgress) < n_rows:
            assert q.isActive, q.exception()
            assert time.monotonic() < deadline, f"{n_rows} input rows not processed"
            time.sleep(0.2)
    finally:
        q.stop()


def test_stream_dedup_across_batches_and_restart(spark, tmp_path):
    inp, out, ckpt = (str(tmp_path / d) for d in ("inp", "out", "ckpt"))

    # batch 1: A(1), dup-of-A(2), B(3)  — whitespace differences normalize
    _write(spark, inp, [(1, "alpha text"), (2, "alpha   text"), (3, "bravo text")])
    # batch 2 (separate file): dup-of-A(4), C(5)
    _write(spark, inp, [(4, "alpha text"), (5, "charlie text")])

    q = stream_exact_dedup(spark, inp, out, ckpt, max_files_per_trigger=1)
    q.awaitTermination(180)

    got = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert got == {1: "alpha text", 3: "bravo text", 5: "charlie text"}, got

    # restart with a third file: another dup of A plus a new doc — state
    # survives via the checkpoint, so only the new doc emerges
    _write(spark, inp, [(6, "alpha text"), (7, "delta text")])
    q2 = stream_exact_dedup(spark, inp, out, ckpt, max_files_per_trigger=1)
    q2.awaitTermination(180)
    got2 = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert got2 == {1: "alpha text", 3: "bravo text", 5: "charlie text", 7: "delta text"}, got2


def test_stream_dedup_matches_batch_operator(spark, tmp_path):
    """Streaming survivors == batch exact_dedup survivors on the same data."""
    from extremexp_knowledge_graph_spark.operators.dedup import exact_dedup

    inp, out, ckpt = (str(tmp_path / d) for d in ("inp2", "out2", "ckpt2"))
    rows = [(i, f"text {i % 7}") for i in range(40)]
    _write(spark, inp, rows[:25])
    _write(spark, inp, rows[25:])

    q = stream_exact_dedup(spark, inp, out, ckpt)
    q.awaitTermination(180)
    stream_ids = {r.doc_id for r in spark.read.parquet(out).collect()}

    batch = exact_dedup(spark.createDataFrame(rows, DOCS_SCHEMA))
    batch_ids = {r.doc_id for r in batch.collect()}
    assert stream_ids == batch_ids


def test_stream_dedup_ttl_expiry_and_readmission(spark, tmp_path):
    """With state_ttl_ms set, a fingerprint idle past the TTL is forgotten
    at the next batch that sees no data for it, and a later duplicate is
    re-admitted as a fresh survivor (bounded-state trade)."""
    inp, out, ckpt = (str(tmp_path / d) for d in ("inp", "out", "ckpt"))
    ttl = 500

    # run 1: A(1) admitted
    _write(spark, inp, [(1, "alpha text")])
    q = stream_exact_dedup(spark, inp, out, ckpt, state_ttl_ms=ttl)
    _drain_and_stop(q, 1)
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1}

    # run 2 after the deadline: a batch with unrelated data fires A's
    # timeout → state removed
    time.sleep(1.5)
    _write(spark, inp, [(2, "bravo text")])
    q2 = stream_exact_dedup(spark, inp, out, ckpt, state_ttl_ms=ttl)
    _drain_and_stop(q2, 1)
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 2}

    # run 3: duplicate of A arrives after expiry → re-admitted. (B's 500 ms
    # deadline has also passed by now — restarts take seconds — so B times
    # out here too; covered by run 4.)
    _write(spark, inp, [(9, "alpha text")])
    q3 = stream_exact_dedup(spark, inp, out, ckpt, state_ttl_ms=ttl)
    _drain_and_stop(q3, 1)
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == {1, 2, 9}, got

    # run 4 (long TTL): expired B re-admitted; fresh E admitted
    _write(spark, inp, [(10, "bravo text"), (20, "echo text")])
    q4 = stream_exact_dedup(spark, inp, out, ckpt, state_ttl_ms=600_000)
    _drain_and_stop(q4, 2)
    got2 = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got2 == {1, 2, 9, 10, 20}, got2

    # run 5 immediately: within-TTL dups of both are suppressed across the
    # restart (state + deadlines persist via the checkpoint)
    _write(spark, inp, [(21, "echo text"), (22, "bravo text")])
    q5 = stream_exact_dedup(spark, inp, out, ckpt, state_ttl_ms=600_000)
    _drain_and_stop(q5, 2)
    got3 = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got3 == {1, 2, 9, 10, 20}, got3
