"""End-to-end web-regime DAG (plans/web_pipeline.py): S1→S4 over synthetic
pages, manifest-driven resume, idempotent re-run.

Reference parity anchor: the DAG is the Spark-native generalization of the
reference's watch→transform→dedupe→load loop
(extremexp_kg_matic/src/file_watcher.py:204-329); resume semantics replace
its in-memory ``processed_files`` set (src/file_watcher.py:20,124).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from extremexp_knowledge_graph_spark.plans import web_pipeline as wp
from extremexp_knowledge_graph_spark.plans.manifest import read_manifest
from extremexp_knowledge_graph_spark.sources.synthetic_pages import generate_pages


def _store_key_set(spark, out_dir):
    t = spark.read.parquet(f"{out_dir}/triples")
    return {(r.subj, r.pred, r.obj) for r in t.select("subj", "pred", "obj").collect()}


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, 60).cache()


def test_pipeline_end_to_end(spark, tmp_path_factory, pages):
    out = str(tmp_path_factory.mktemp("wp_full"))
    stats = wp.run_web_pipeline(spark, pages, out, n_url_buckets=4)
    assert stats[wp.S1]["pending_buckets"] == 4
    assert stats[wp.S3]["delta_entities"] > 0
    assert stats[wp.S4]["new_triples"] > 0

    # store contains pattern triples AND canonical-entity mention triples
    keys = _store_key_set(spark, out)
    preds = {p for _, p, _ in keys}
    assert any(p.endswith("hasLine") for p in preds)
    assert any(p.endswith("mentionsEntity") for p in preds)

    # manifest carries per-bucket lineage for every bucketed stage
    man = read_manifest(spark, f"{out}/manifest")
    rows = {(r.stage, r.partition_key): r for r in man.collect()}
    for stage in (wp.S1, wp.S2, wp.S4):
        got = [k for k in rows if k[0] == stage]
        assert len(got) == 4, (stage, got)
    assert all(r.rows_out > 0 for k, r in rows.items() if k[0] == wp.S4)

    # re-run: everything skipped, store unchanged
    stats2 = wp.run_web_pipeline(spark, pages, out, n_url_buckets=4)
    assert stats2[wp.S1]["pending_buckets"] == 0
    assert stats2[wp.S3]["delta_entities"] == 0
    assert stats2[wp.S4]["new_triples"] == 0
    assert _store_key_set(spark, out) == keys


def test_pipeline_resume_after_partial_run(spark, tmp_path_factory, pages):
    full = str(tmp_path_factory.mktemp("wp_ref"))
    wp.run_web_pipeline(spark, pages, full, n_url_buckets=4)

    # simulate a crash after S2: only extract+link completed
    part = str(tmp_path_factory.mktemp("wp_part"))
    wp.run_web_pipeline(spark, pages, part, n_url_buckets=4, stages=(wp.S1, wp.S2))
    man = read_manifest(spark, f"{part}/manifest")
    assert man.where(F.col("stage") == wp.S4).count() == 0

    # restart the whole DAG: S1/S2 buckets skip via manifest, S3/S4 complete
    stats = wp.run_web_pipeline(spark, pages, part, n_url_buckets=4)
    assert stats[wp.S1]["pending_buckets"] == 0
    assert stats[wp.S2]["pending_buckets"] == 0
    assert stats[wp.S4]["pending_buckets"] == 4

    # resumed result identical to the uninterrupted run
    assert _store_key_set(spark, part) == _store_key_set(spark, full)


def test_pipeline_incremental_ingest(spark, tmp_path_factory):
    """Incremental ingest end-to-end: run on 60 pages, then re-run with a
    90-page superset (same seed → first 60 byte-identical). The 30 new pages
    must re-open exactly the buckets they hash into (input-fingerprint
    pending), flow through S1/S2, get their new entities canonicalized by
    the S3 delta pass, and land in the store — with zero duplicate triples
    and no stale-entity drops (every linked entity resolvable in the map)."""
    out = str(tmp_path_factory.mktemp("wp_incr"))
    wp.run_web_pipeline(spark, generate_pages(spark, 60), out)
    keys_before = _store_key_set(spark, out)
    docs_before = spark.read.parquet(f"{out}/docs").count()
    assert docs_before == 60

    stats = wp.run_web_pipeline(spark, generate_pages(spark, 90), out)
    # the delta re-opened some (not necessarily all) buckets and ran
    assert 0 < stats["s1_extract"]["pending_buckets"] <= wp.DEFAULT_URL_BUCKETS
    assert stats["s4_materialize"]["new_triples"] > 0
    assert spark.read.parquet(f"{out}/docs").count() == 90
    # store strictly grew, previous triples intact, exact-set (no dupes)
    keys_after = _store_key_set(spark, out)
    assert keys_before < keys_after
    t = spark.read.parquet(f"{out}/triples")
    assert t.count() == t.select("subj", "pred", "obj", "obj_is_iri", "obj_datatype").distinct().count()
    # S3 delta: no linked entity is missing from the entity map (the gap
    # that used to silently drop new entities' mentions in S4)
    linked = spark.read.parquet(f"{out}/linked").select("entity_id").distinct()
    emap = spark.read.parquet(f"{out}/entity_map").select("entity_id")
    assert linked.join(emap, "entity_id", "left_anti").count() == 0
    # third run with identical input: full no-op
    stats3 = wp.run_web_pipeline(spark, generate_pages(spark, 90), out)
    assert stats3["s1_extract"]["pending_buckets"] == 0
    assert stats3["s4_materialize"]["new_triples"] == 0
    assert stats3["s3_canonicalize"]["delta_entities"] == 0
    assert _store_key_set(spark, out) == keys_after


def test_streaming_pages_matches_batch(spark, tmp_path):
    """Streaming front-door (streaming/web_ingest.py): two page-dump drops
    drained by two availableNow runs must produce byte-for-byte the same
    store as one batch run over the full corpus — the equivalence that makes
    the streaming layer pure accumulation + triggering."""
    from extremexp_knowledge_graph_spark.streaming.web_ingest import stream_pages_pipeline

    inp = tmp_path / "drops"
    inp.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # drop 1: pages 0-39; drop arrives as one parquet file
    generate_pages(spark, 40).coalesce(1).write.mode("overwrite").parquet(str(inp / "d1"))
    q = stream_pages_pipeline(spark, str(inp / "d1"), out, ckpt, available_now=True)
    q.awaitTermination(300)
    assert spark.read.parquet(f"{out}/docs").count() == 40

    # drop 2: pages 0-69 (overlapping redelivery of 0-39 + 30 new) — the
    # url anti-join must keep the cumulative table exactly-once
    generate_pages(spark, 70).coalesce(1).write.mode("overwrite").parquet(str(inp / "d1"))
    q2 = stream_pages_pipeline(spark, str(inp / "d1"), out, ckpt, available_now=True)
    q2.awaitTermination(300)
    assert spark.read.parquet(f"{out}/pages").count() == 70
    assert spark.read.parquet(f"{out}/docs").count() == 70

    # equivalence with one-shot batch ingestion of the same 70 pages
    batch_out = str(tmp_path / "batch_out")
    wp.run_web_pipeline(spark, generate_pages(spark, 70), batch_out)
    assert _store_key_set(spark, out) == _store_key_set(spark, batch_out)


def test_s3_delta_adopts_and_assigns(spark, tmp_path):
    """The S3 incremental pass directly: entities that appeared in linked
    after the map was built get mapped — near-equals ADOPT the existing
    canonical (stability: old rows untouched), novels keep themselves —
    and the pass is idempotent (append-only via anti-join)."""
    linked_path, emap_path = str(tmp_path / "linked"), str(tmp_path / "emap")
    sigs_path = str(tmp_path / "sigs")
    spark.createDataFrame(
        [("image classification", 0), ("Image Classification", 0), ("machine translation", 0),
         ("IMAGE classification", 1), ("quantum entanglement", 1)],
        ["entity_id", "url_bucket"],
    ).write.partitionBy("url_bucket").parquet(linked_path)
    emap = spark.createDataFrame(
        [("image classification", "image classification"),
         ("Image Classification", "image classification"),
         ("machine translation", "machine translation")],
        ["entity_id", "canonical_id"],
    )
    emap.write.parquet(emap_path)
    wp._entity_band_rows(
        emap.select("entity_id", F.col("entity_id").alias("name"))
    ).write.parquet(sigs_path)
    assert wp._run_canonicalize_delta(spark, linked_path, emap_path, [0, 1], sigs_path) == 2
    m = {r.entity_id: r.canonical_id for r in spark.read.parquet(emap_path).collect()}
    assert m["IMAGE classification"] == "image classification"   # adopted
    assert m["quantum entanglement"] == "quantum entanglement"   # novel
    assert m["image classification"] == "image classification"   # old rows intact
    assert len(m) == 5
    # idempotent
    assert wp._run_canonicalize_delta(spark, linked_path, emap_path, [0, 1], sigs_path) == 0


def test_s3_first_run_equals_batch_canonicalization(spark, tmp_path):
    """S3 has one path: its first run is the incremental pass over an
    absent map and signature table. With nothing to adopt from, that pass
    must produce exactly the batch operator's map (near-equal pairs merged,
    a chain a—b—c merged through b although a and c are not near-equal)
    and exactly the band rows of every entity as the signature table."""
    from extremexp_knowledge_graph_spark.operators.canonicalize import canonicalize_entities
    from extremexp_knowledge_graph_spark.plans import manifest
    from extremexp_knowledge_graph_spark.schema import LINKED_SCHEMA, PAGES_SCHEMA

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    chain = [base, base + " lambda mu nu", base + " lambda mu nu xi omicron pi"]
    forms = chain + [
        "image classification task", "Image Classification Task",
        "deep residual networks for image recognition",
        "deep residual networks for image recognition tasks",
        "quantum entanglement experiments",
    ]
    out = str(tmp_path / "wp")
    spark.createDataFrame(
        [(i, f, f, 1.0, i % 3) for i, f in enumerate(forms)], LINKED_SCHEMA
    ).write.partitionBy("url_bucket").parquet(f"{out}/linked")
    manifest.append_manifest(
        spark, f"{out}/manifest",
        [{"stage": wp.S2, "partition_key": str(b), "output_fingerprint": f"fp{b}"}
         for b in range(3)],
    )

    no_pages = spark.createDataFrame([], PAGES_SCHEMA)
    stats = wp.run_web_pipeline(spark, no_pages, out, stages=(wp.S3,))
    assert stats[wp.S3]["delta_entities"] == len(forms)

    ents = spark.createDataFrame([(f, f) for f in forms], ["entity_id", "name"])
    batch = canonicalize_entities(
        ents, threshold=wp.CANON_THRESHOLD, num_hashes=wp.CANON_NUM_HASHES,
        bands=wp.CANON_BANDS, shingle_n=wp.CANON_SHINGLE_N,
    )
    got = {r.entity_id: r.canonical_id for r in spark.read.parquet(f"{out}/entity_map").collect()}
    assert got == {r.entity_id: r.canonical_id for r in batch.collect()}
    # the fixture exercises merging: the chain and both pairs collapse
    assert {got[f] for f in chain} == {min(chain)}
    assert len(set(got.values())) == 4
    sigs = sorted(map(tuple, spark.read.parquet(f"{out}/entity_sigs").collect()))
    assert sigs == sorted(map(tuple, wp._entity_band_rows(ents).collect()))


def test_s1_rerun_after_lost_manifest_does_not_duplicate(spark, tmp_path_factory, pages):
    """Crash between the S1 parquet write and the manifest record: the
    resume re-runs the same buckets; dynamic partition overwrite must
    REPLACE their rows, never append duplicates (perturbing S2 TF-IDF)."""
    out = str(tmp_path_factory.mktemp("wp_crash_s1"))
    wp.run_web_pipeline(spark, pages, out, n_url_buckets=4, stages=(wp.S1,))
    docs_once = spark.read.parquet(f"{out}/docs")
    n_once = docs_once.count()
    assert docs_once.select("doc_id").distinct().count() == n_once

    # lose the manifest (the write landed, the record did not)
    import shutil

    shutil.rmtree(f"{out}/manifest")
    wp.run_web_pipeline(spark, pages, out, n_url_buckets=4, stages=(wp.S1,))
    docs_again = spark.read.parquet(f"{out}/docs")
    assert docs_again.count() == n_once
    assert docs_again.select("doc_id").distinct().count() == n_once
