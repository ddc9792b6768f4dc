"""Triple store (merge/snapshot/clear/stats), checkpoint manifest resume,
and streaming ingestion with quarantine."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from extremexp_knowledge_graph_spark.plans import kg_store, manifest
from extremexp_knowledge_graph_spark.schema import TRIPLE_SCHEMA


def _triples_df(spark, rows):
    return spark.createDataFrame(
        [Row(subj=s, pred=p, obj=o, obj_is_iri=True, obj_datatype=None, prov=None) for s, p, o in rows],
        TRIPLE_SCHEMA,
    )


def test_store_merge_idempotent(spark, tmp_path):
    path = str(tmp_path / "triples")
    t1 = _triples_df(spark, [("s1", "p", "o1"), ("s2", "p", "o2")])
    kg_store.write_triples(t1, path)
    assert kg_store.read_triples(spark, path).count() == 2
    # merging the same triples inserts nothing
    assert kg_store.merge_triples(spark, t1, path) == 0
    # merging a superset inserts only the delta
    t2 = _triples_df(spark, [("s1", "p", "o1"), ("s3", "p", "o3")])
    assert kg_store.merge_triples(spark, t2, path) == 1
    assert kg_store.read_triples(spark, path).count() == 3


def test_store_files_missing_nullable_column(spark, tmp_path):
    """A store whose files predate the nullable ``obj_datatype`` column
    reads it as NULL (the declared schema), so merging the same triples
    again matches them and inserts nothing — a read that cannot see the
    column must never make the merge skip its anti-join. Compacting the
    mixed-file store keeps a newer typed literal's datatype."""
    path = str(tmp_path / "triples")
    t = _triples_df(spark, [("s1", "p", "o1"), ("s2", "p", "o2")])
    kg_store.write_triples(t.drop("obj_datatype"), path, n_buckets=2)
    assert kg_store.merge_triples(spark, t, path) == 0
    assert kg_store.read_triples(spark, path).count() == 2
    typed = [("s3", "p", "v", False, "xsd:string", None)]
    assert kg_store.merge_triples(spark, spark.createDataFrame(typed, TRIPLE_SCHEMA), path) == 1
    kg_store.compact(spark, path, n_buckets=2)
    back = kg_store.read_triples(spark, path)
    assert back.count() == 3
    assert back.where(F.col("subj") == "s3").first().obj_datatype == "xsd:string"


def test_read_table_absent_or_dataless_is_typed_empty(spark, tmp_path):
    """Only an absent path, or a directory with no data files (a zero-row
    write leaves just ``_SUCCESS``, no footer to infer a schema from),
    reads as an empty frame — typed by the table's declared schema."""
    absent, dataless = str(tmp_path / "never_written"), str(tmp_path / "zero_rows")
    os.makedirs(dataless)
    open(os.path.join(dataless, "_SUCCESS"), "w").close()
    for path in (absent, dataless):
        df = kg_store.read_table(spark, path, TRIPLE_SCHEMA)
        assert df.count() == 0 and df.columns == TRIPLE_SCHEMA.names, path
        assert kg_store.read_triples(spark, path).columns == TRIPLE_SCHEMA.names


def test_store_layout_buckets(spark, tmp_path):
    path = str(tmp_path / "triples")
    t = _triples_df(spark, [(f"s{i}", "p", f"o{i}") for i in range(50)])
    kg_store.write_triples(t, path, n_buckets=8)
    dirs = [d for d in os.listdir(path) if d.startswith("subj_bucket=")]
    assert 1 < len(dirs) <= 8
    # same subject always lands in the same bucket
    back = spark.read.parquet(path)
    assert back.groupBy("subj").agg(F.countDistinct("subj_bucket").alias("nb")).where(
        F.col("nb") > 1
    ).count() == 0


def test_store_snapshot_and_clear(spark, tmp_path):
    path, snap = str(tmp_path / "t"), str(tmp_path / "snap")
    kg_store.write_triples(_triples_df(spark, [("s", "p", "o")]), path)
    kg_store.snapshot(spark, path, snap)
    kg_store.clear(spark, path)
    assert kg_store.read_triples(spark, path).count() == 0
    assert spark.read.parquet(snap).count() == 1


def test_clear_removes_crash_siblings(spark, tmp_path):
    """A10 CLEAR ALL must also drop the .compacting/.old/.merge_staging
    siblings a crash-interrupted compact()/merge left behind — otherwise
    _recover_interrupted_compact sees the cleared path as an interrupted
    swap and silently resurrects the truncated data."""
    import shutil

    path = str(tmp_path / "t")
    kg_store.write_triples(_triples_df(spark, [("s", "p", "o")]), path)
    # simulate a crash between compact()'s two renames: live dir moved aside
    shutil.copytree(path, path + ".old")
    shutil.copytree(path, path + ".compacting")
    kg_store.clear(spark, path)
    assert kg_store.read_triples(spark, path).count() == 0  # nothing resurrected
    import os

    assert not os.path.exists(path + ".old") and not os.path.exists(path + ".compacting")


def test_manifest_resume(spark, tmp_path):
    mpath = str(tmp_path / "manifest")
    calls = []

    def work():
        calls.append(1)
        return (10, 20)

    r1 = manifest.run_stage(spark, mpath, "extract", "file_a", work)
    assert r1 == (10, 20) and len(calls) == 1
    # second run of the same partition: skipped, no recompute
    r2 = manifest.run_stage(spark, mpath, "extract", "file_a", work)
    assert r2 is None and len(calls) == 1
    # different partition still runs
    manifest.run_stage(spark, mpath, "extract", "file_b", work)
    assert len(calls) == 2
    # pending_keys reports only unseen keys
    keys = spark.createDataFrame([Row(partition_key=k) for k in ["file_a", "file_b", "file_c"]])
    pending = {r.partition_key for r in manifest.pending_keys(spark, mpath, "extract", keys).collect()}
    assert pending == {"file_c"}
    m = manifest.read_manifest(spark, mpath)
    row = m.where(F.col("partition_key") == "file_a").first()
    assert row.rows_in == 10 and row.rows_out == 20 and row.wall_ms >= 0


@pytest.mark.slow
def test_streaming_ingest_with_quarantine(spark, tmp_path):
    from extremexp_knowledge_graph_spark.streaming.ingest import stream_papers_to_triples

    inp = tmp_path / "incoming"
    inp.mkdir()
    (inp / "good.json").write_text(
        json.dumps([{"title": "Stream Paper", "tasks": ["T1"],
                     "results": [{"metric": "acc", "value": "90%", "rank": "2"}]}])
    )
    (inp / "bad.json").write_text("{definitely not json")
    store = str(tmp_path / "store")
    quarantine = str(tmp_path / "quarantine")
    q = stream_papers_to_triples(
        spark, str(inp), store, str(tmp_path / "ckpt"), quarantine, available_now=True
    )
    q.awaitTermination(120)
    triples = kg_store.read_triples(spark, store)
    assert triples.where(F.col("obj") == "Stream Paper").count() == 1
    quar = spark.read.parquet(quarantine)
    assert quar.count() == 1 and "bad.json" in quar.first().source_file
    # restart with a new file: checkpoint skips processed ones, merge stays idempotent
    n_before = triples.count()
    (inp / "good2.json").write_text(json.dumps([{"title": "Second Paper"}]))
    q2 = stream_papers_to_triples(
        spark, str(inp), store, str(tmp_path / "ckpt"), quarantine, available_now=True
    )
    q2.awaitTermination(120)
    after = kg_store.read_triples(spark, store)
    assert after.where(F.col("obj") == "Second Paper").count() == 1
    assert after.count() == n_before + 2  # type + title triples only


def test_store_compaction(spark, tmp_path):
    """compact() collapses per-merge file fragments; content unchanged;
    crash-safety: original dir intact until the atomic swap."""
    from extremexp_knowledge_graph_spark.plans.kg_store import compact, merge_triples, read_triples
    from extremexp_knowledge_graph_spark.schema import TRIPLE_SCHEMA

    store = str(tmp_path / "cstore")
    # 5 incremental merges → many small files across buckets
    for b in range(5):
        rows = [
            (f"http://example.org/s{b}_{i}", "http://example.org/p", f"v{b}_{i}", False, None, None)
            for i in range(200)
        ]
        merge_triples(spark, spark.createDataFrame(rows, TRIPLE_SCHEMA), store)
    before_rows = {(r.subj, r.obj) for r in read_triples(spark, store).collect()}
    fb, fa = compact(spark, store)
    assert fa < fb, (fb, fa)
    after_rows = {(r.subj, r.obj) for r in read_triples(spark, store).collect()}
    assert after_rows == before_rows and len(after_rows) == 1000
    # still mergeable after compaction (layout preserved)
    extra = [("http://example.org/new", "http://example.org/p", "nv", False, None, None)]
    assert merge_triples(spark, spark.createDataFrame(extra, TRIPLE_SCHEMA), store) == 1


def test_compact_crash_recovery(spark, tmp_path):
    """A crash between compact()'s two renames leaves no store at `path`;
    read_triples/compact heal it from whichever complete copy survives."""
    path = str(tmp_path / "rstore")
    t = _triples_df(spark, [(f"s{i}", "p", f"o{i}") for i in range(20)])
    kg_store.write_triples(t, path)

    # crash case 1: store renamed to .old, compacted dir incomplete (no
    # _SUCCESS) → recovery restores .old
    os.rename(path, path + ".old")
    os.makedirs(path + ".compacting", exist_ok=True)
    assert kg_store.read_triples(spark, path).count() == 20
    assert not os.path.isdir(path + ".old")
    os.rmdir(path + ".compacting")

    # crash case 2: compacted dir complete (_SUCCESS present), crash before
    # the final rename → recovery promotes the compacted copy
    kg_store.compact(spark, path)  # produces a fresh single-generation store
    os.rename(path, path + ".compacting")
    assert os.path.isfile(path + ".compacting/_SUCCESS")
    assert kg_store.read_triples(spark, path).count() == 20
    assert not os.path.isdir(path + ".compacting")


def test_manifest_compaction(spark, tmp_path):
    """Manifest compaction is ``prune_manifest``: six appends of distinct
    keys (one parquet file each) are rewritten as one file, row set kept."""
    mpath = str(tmp_path / "cman")
    for i in range(6):
        manifest.append_manifest(
            spark, mpath, [{"stage": "s1", "partition_key": str(i), "rows_in": 1, "rows_out": 1}]
        )
    rows_before = {(r.stage, r.partition_key) for r in manifest.read_manifest(spark, mpath).collect()}
    fb = len([f for f in os.listdir(mpath) if f.endswith(".parquet")])
    assert manifest.prune_manifest(spark, mpath) == (6, 6)
    fa = len([f for f in os.listdir(mpath) if f.endswith(".parquet")])
    assert fb >= 6 and fa == 1, (fb, fa)
    rows_after = {(r.stage, r.partition_key) for r in manifest.read_manifest(spark, mpath).collect()}
    assert rows_after == rows_before and len(rows_after) == 6
