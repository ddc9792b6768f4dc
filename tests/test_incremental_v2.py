"""Round-4 incremental machinery: content fingerprints, metadata-only
staleness, persisted entity signatures, bounded pages files, configurable
bucketing.

These pin the scale contracts added after round 3's verdict: (1) a
re-crawled url with changed html re-opens exactly its bucket (content
fingerprint, not identity-by-url); (2) downstream staleness is computed
from manifest rows alone — a no-op resume never touches docs/linked; (3)
the S3 delta pass matches new entities against the persisted signature
table instead of re-min-hashing the history; (4) the streaming pages table
self-compacts to one file per bucket; (5) bucket_expr makes a one-segment
drop re-open one bucket.
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from extremexp_knowledge_graph_spark.operators import dedup
from extremexp_knowledge_graph_spark.plans import manifest as mf
from extremexp_knowledge_graph_spark.plans import web_pipeline as wp
from extremexp_knowledge_graph_spark.sources.synthetic_pages import generate_pages


# ---------------------------------------------------------------------------
# manifest.stale_keys / pending_keys semantics
# ---------------------------------------------------------------------------
def _rec(spark, man, stage, key, in_fp=None, out_fp=None):
    mf.append_manifest(
        spark, man,
        [{"stage": stage, "partition_key": key,
          "input_fingerprint": in_fp, "output_fingerprint": out_fp}],
    )


def test_stale_keys_metadata_semantics(spark, tmp_path):
    man = str(tmp_path / "man")
    # upstream wrote buckets 0,1 with output fps; stage processed 0 only
    _rec(spark, man, "up", "0", out_fp="fpA")
    _rec(spark, man, "up", "1", out_fp="fpB")
    _rec(spark, man, "dn", "0", in_fp="fpA")
    assert mf.stale_keys(spark, man, "dn", "up") == [("1", "fpB")]
    # stage catches up; nothing stale
    _rec(spark, man, "dn", "1", in_fp="fpB")
    assert mf.stale_keys(spark, man, "dn", "up") == []
    # upstream rewrites bucket 0 with a new fp → stale again
    _rec(spark, man, "up", "0", out_fp="fpA2")
    assert mf.stale_keys(spark, man, "dn", "up") == [("0", "fpA2")]
    # REVERT case: upstream goes back to fpA — the on-disk downstream output
    # still reflects fpA2, so the bucket must be stale even though an OLD
    # done row matches fpA (latest-row comparison, not set membership)
    _rec(spark, man, "dn", "0", in_fp="fpA2")
    _rec(spark, man, "up", "0", out_fp="fpA")
    assert mf.stale_keys(spark, man, "dn", "up") == [("0", "fpA")]
    # legacy rows: NULL upstream output fp → pending only if never done
    _rec(spark, man, "up", "2", out_fp=None)
    assert ("2", None) in mf.stale_keys(spark, man, "dn", "up")
    _rec(spark, man, "dn", "2", in_fp=None)  # NULL input fp matches anything
    assert all(k != "2" for k, _ in mf.stale_keys(spark, man, "dn", "up"))


def test_pending_keys_revert_reopens(spark, tmp_path):
    man = str(tmp_path / "man")
    keys = lambda fp: spark.createDataFrame([("7", fp)], ["partition_key", "fp"])  # noqa: E731
    assert mf.pending_keys(spark, man, "s", keys("A")).count() == 1
    _rec(spark, man, "s", "7", in_fp="A")
    assert mf.pending_keys(spark, man, "s", keys("A")).count() == 0
    _rec(spark, man, "s", "7", in_fp="B")  # input moved to B, processed
    # now the input reverts to A: latest done row says B → must re-open
    assert mf.pending_keys(spark, man, "s", keys("A")).count() == 1


# ---------------------------------------------------------------------------
# signature reuse: history is never re-min-hashed
# ---------------------------------------------------------------------------
@pytest.fixture()
def corpus_pair(spark):
    left = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "a completely different sentence about spark pipelines")],
        ["doc_id", "text"],
    )
    right = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog"),
         (11, "the quick brown fox jumps over a lazy dog"),
         (12, "unrelated web page boilerplate navigation footer text"),
         (13, "spark pipelines are described in a different sentence")],
        ["doc_id", "text"],
    )
    return left, right


def test_pairs_between_precomputed_bands_equivalent(spark, corpus_pair):
    left, right = corpus_pair
    kw = dict(threshold=0.3, num_hashes=8, bands=4, n=2)
    direct = dedup.minhash_pairs_between(left, right, **kw)
    bands = dedup.minhash_band_rows(right, 8, 4, 2)
    via_sigs = dedup.minhash_pairs_between(left, right, **kw, right_band_rows=bands)
    assert sorted(map(tuple, direct.collect())) == sorted(map(tuple, via_sigs.collect()))
    assert via_sigs.count() > 0  # the fixture actually produces matches


def test_pairs_between_sigs_skip_history_minhash(spark, corpus_pair, monkeypatch):
    """With right_band_rows given, the min-hash aggregation runs for the
    LEFT (batch) side only — the history's signatures come from the
    persisted table and its text is only read for candidate verification."""
    left, right = corpus_pair
    bands = dedup.minhash_band_rows(right, 8, 4, 2)
    calls = []
    real = dedup.minhash_signatures

    def spy(df, *a, **k):
        calls.append(df)
        return real(df, *a, **k)

    monkeypatch.setattr(dedup, "minhash_signatures", spy)
    out = dedup.minhash_pairs_between(
        left, right, threshold=0.3, num_hashes=8, bands=4, n=2, right_band_rows=bands
    )
    out.collect()
    assert len(calls) == 1  # exactly one signature computation: the batch


# ---------------------------------------------------------------------------
# pipeline-level: sigs table, metadata-only no-op, content re-crawl
# ---------------------------------------------------------------------------
def test_sigs_table_and_metadata_only_noop(spark, tmp_path):
    out = str(tmp_path / "wp")

    def expected_sigs(emap):
        # the invariant: sigs ≡ band rows recomputed from the mapped
        # entities (entities whose names yield no shingles have no rows)
        return wp._entity_band_rows(
            emap.select("entity_id", F.col("entity_id").alias("name"))
        )

    def assert_sigs_consistent():
        emap = spark.read.parquet(f"{out}/entity_map")
        sigs = spark.read.parquet(f"{out}/entity_sigs")
        want = sorted(map(tuple, expected_sigs(emap).collect()))
        got = sorted(map(tuple, sigs.collect()))
        assert got == want

    wp.run_web_pipeline(spark, generate_pages(spark, 40), out, n_url_buckets=4)
    assert_sigs_consistent()

    # incremental growth maintains the table append-only
    wp.run_web_pipeline(spark, generate_pages(spark, 55), out, n_url_buckets=4)
    assert_sigs_consistent()

    # METADATA-ONLY no-op resume: with docs/ and linked/ physically absent,
    # a re-run of the same input must succeed and skip everything — proof
    # that S2/S4 staleness and the S3 absorb pass never scan those tables.
    shutil.move(f"{out}/docs", f"{out}/docs.hidden")
    shutil.move(f"{out}/linked", f"{out}/linked.hidden")
    try:
        stats = wp.run_web_pipeline(spark, generate_pages(spark, 55), out, n_url_buckets=4)
    finally:
        shutil.move(f"{out}/docs.hidden", f"{out}/docs")
        shutil.move(f"{out}/linked.hidden", f"{out}/linked")
    assert stats[wp.S1]["pending_buckets"] == 0
    assert stats[wp.S2]["pending_buckets"] == 0
    assert stats[wp.S3]["delta_entities"] == 0
    assert stats[wp.S4]["pending_buckets"] == 0


def test_delta_with_sigs_adopts_and_appends(spark, tmp_path):
    """_run_canonicalize_delta with a persisted signature table: adoption
    works identically to the recompute path (the sigs ARE the history's
    band rows), and the new batch's signatures append to the table."""
    linked_path = str(tmp_path / "linked")
    emap_path = str(tmp_path / "emap")
    sigs_path = str(tmp_path / "sigs")
    hist = ["image classification task", "machine translation task"]
    batch = ["IMAGE classification task", "quantum entanglement experiments"]
    spark.createDataFrame(
        [(e, b) for b, e in enumerate(hist + batch)], ["entity_id", "url_bucket"]
    ).write.partitionBy("url_bucket").parquet(linked_path)
    emap = spark.createDataFrame([(e, hist[0] if i == 0 else e) for i, e in enumerate(hist)],
                                 ["entity_id", "canonical_id"])
    emap.write.parquet(emap_path)
    wp._entity_band_rows(
        emap.select("entity_id", F.col("entity_id").alias("name"))
    ).write.parquet(sigs_path)

    n = wp._run_canonicalize_delta(
        spark, linked_path, emap_path, buckets=[2, 3], sigs_path=sigs_path
    )
    assert n == 2
    m = {r.entity_id: r.canonical_id for r in spark.read.parquet(emap_path).collect()}
    assert m["IMAGE classification task"] == "image classification task"  # adopted via sigs
    assert m["quantum entanglement experiments"] == "quantum entanglement experiments"
    # batch signatures appended (append-only, idempotent)
    sig_ids = {r.id for r in spark.read.parquet(sigs_path).select("id").distinct().collect()}
    assert set(hist + batch) == sig_ids
    assert wp._run_canonicalize_delta(
        spark, linked_path, emap_path, buckets=[2, 3], sigs_path=sigs_path
    ) == 0  # idempotent


def test_recrawl_content_change_reextracts(spark, tmp_path):
    """Same url, different html → the content fingerprint re-opens exactly
    that bucket and the updated text lands in docs (the advisor's round-3
    finding: identity-by-url would silently never re-extract updates)."""
    out = str(tmp_path / "wp")
    pages = generate_pages(spark, 30)
    wp.run_web_pipeline(spark, pages, out, n_url_buckets=4)

    victim = pages.orderBy("url").limit(1).collect()[0]
    new_html = (
        "<!DOCTYPE html><html><head><title>recrawl</title></head>"
        "<body><p>updated content entirely replaces the old page</p></body></html>"
    ).encode()
    updated = pages.withColumn(
        "html", F.when(F.col("url") == victim.url, F.lit(new_html)).otherwise(F.col("html"))
    )
    stats = wp.run_web_pipeline(spark, updated, out, n_url_buckets=4)
    assert stats[wp.S1]["pending_buckets"] == 1  # exactly the victim's bucket
    assert stats[wp.S2]["pending_buckets"] == 1
    text = (
        spark.read.parquet(f"{out}/docs")
        .where(F.col("url") == victim.url)
        .select("text")
        .collect()
    )
    assert len(text) == 1  # replaced, not duplicated
    assert "updated content entirely replaces the old page" in text[0].text
    # idempotent: same updated input again → full no-op
    stats2 = wp.run_web_pipeline(spark, updated, out, n_url_buckets=4)
    assert stats2[wp.S1]["pending_buckets"] == 0


def test_streaming_recrawl_and_bounded_files(spark, tmp_path):
    """Streaming front-door: (a) a re-crawled url REPLACES its pages row and
    the new content flows through to docs; (b) the pages table self-compacts
    — file count stays bounded by the bucket count across many drops."""
    from extremexp_knowledge_graph_spark.streaming.web_ingest import stream_pages_pipeline

    inp = tmp_path / "drops"
    inp.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    n_buckets = 4

    watched = str(inp / "feed")

    def drive(df, _sub):
        # each drop appends new part files into the one watched directory
        # (the file stream source tracks processed files by name)
        df.coalesce(1).write.mode("append").parquet(watched)
        q = stream_pages_pipeline(
            spark, watched, out, ckpt, n_url_buckets=n_buckets, available_now=True,
            manifest_prune_every=1,
        )
        q.awaitTermination(300)

    pages = generate_pages(spark, 25)
    drive(pages, "d1")
    assert spark.read.parquet(f"{out}/pages").count() == 25

    # drop 2: overlapping redelivery of the 25 + 10 brand-new pages — the
    # upsert must keep the cumulative table exactly-once
    drive(generate_pages(spark, 35), "d2")
    assert spark.read.parquet(f"{out}/pages").count() == 35

    # drop 3: re-crawl one existing url with new html
    victim = pages.orderBy("url").limit(1).collect()[0]
    recrawl = pages.where(F.col("url") == victim.url).withColumn(
        "html",
        F.lit("<html><head></head><body><p>fresh recrawled body text</p></body></html>".encode()),
    )
    drive(recrawl, "d3")
    pg = spark.read.parquet(f"{out}/pages")
    assert pg.count() == 35  # replaced, not appended
    doc = (
        spark.read.parquet(f"{out}/docs").where(F.col("url") == victim.url).collect()
    )
    assert len(doc) == 1 and "fresh recrawled body text" in doc[0].text

    # bounded files: at most one data file per bucket partition
    files = glob.glob(os.path.join(out, "pages", "url_bucket=*", "*.parquet"))
    per_bucket: dict[str, int] = {}
    for f in files:
        b = os.path.basename(os.path.dirname(f))
        per_bucket[b] = per_bucket.get(b, 0) + 1
    assert per_bucket and max(per_bucket.values()) == 1, per_bucket

    # bounded manifest: with manifest_prune_every=1 the per-trigger prune
    # keeps one row per (stage, key, status) no matter how many triggers
    # ran — and the recrawl/upsert assertions above passing proves the
    # pruned manifest still drives incremental staleness correctly
    m = mf.read_manifest(spark, f"{out}/manifest")
    assert m.count() == m.select("stage", "partition_key", "status").distinct().count()


def test_reconcile_converges_to_batch(spark, tmp_path):
    """The full-recanonicalization reconciler: N incremental batches + one
    reconcile ≡ batch canonicalization from scratch — MAP and STORE both —
    and a second reconcile is a no-op.

    The fixture builds the classic deferred bridge: E_A and E_B are below
    the merge threshold (stay separate in batch 1), E_C arrives in batch 2
    and is above-threshold to BOTH. Incrementally, E_C adopts the minimum
    canonical and the A↔B merge is deferred (stability contract); a batch
    run merges all three. The reconcile must produce the moves that close
    that gap and rewrite the store's IRIs."""
    E_A = "alpha beta gamma delta one"
    E_B = "alpha beta gamma delta two"
    E_C = "alpha beta gamma delta"
    aliases = spark.createDataFrame(
        [("aone", E_A, 1.0, E_A), ("atwo", E_B, 1.0, E_B), ("acee", E_C, 1.0, E_C)],
        ["alias", "entity_id", "prior", "context"],
    )

    def mk_pages(specs):
        rows = [
            (f"https://example.org/p{i}",
             f"<html><head></head><body><p>{txt}</p></body></html>".encode())
            for i, txt in specs
        ]
        return spark.createDataFrame(rows, ["url", "html"]).select(
            "url", F.lit(None).cast("timestamp").alias("warc_ts"), "html",
            F.lit(None).cast("string").alias("text"), F.lit("en").alias("lang"),
        )

    batch1 = [(0, "system uses aone here"), (1, "network has atwo features")]
    batch2 = batch1 + [(2, "pipeline contains acee models")]

    inc = str(tmp_path / "inc")
    wp.run_web_pipeline(spark, mk_pages(batch1), inc, aliases=aliases, n_url_buckets=4)
    wp.run_web_pipeline(spark, mk_pages(batch2), inc, aliases=aliases, n_url_buckets=4)
    m_inc = {r.entity_id: r.canonical_id for r in spark.read.parquet(f"{inc}/entity_map").collect()}
    # the deferred bridge: A and B still separate, C adopted the minimum
    assert m_inc[E_A] == E_A and m_inc[E_B] == E_B and m_inc[E_C] == E_A

    full = str(tmp_path / "full")
    wp.run_web_pipeline(spark, mk_pages(batch2), full, aliases=aliases, n_url_buckets=4)
    m_full = {r.entity_id: r.canonical_id for r in spark.read.parquet(f"{full}/entity_map").collect()}
    assert set(m_full.values()) == {E_C}  # batch merges all three (min id)

    res = wp.reconcile_canonicalization(spark, inc)
    assert res["moves"] >= 2  # E_A→E_C and E_B→E_C at least
    m_rec = {r.entity_id: r.canonical_id for r in spark.read.parquet(f"{inc}/entity_map").collect()}
    assert m_rec == m_full  # map equality with batch-from-scratch

    def keys(out):
        t = spark.read.parquet(f"{out}/triples")
        return {(r.subj, r.pred, r.obj, r.obj_is_iri, r.obj_datatype)
                for r in t.select("subj", "pred", "obj", "obj_is_iri", "obj_datatype").collect()}

    assert keys(inc) == keys(full)  # store equality after the IRI rewrite

    # sigs stay consistent with the reconciled map
    sigs = spark.read.parquet(f"{inc}/entity_sigs")
    want = wp._entity_band_rows(
        spark.read.parquet(f"{inc}/entity_map")
        .select("entity_id", F.col("entity_id").alias("name"))
    )
    assert sorted(map(tuple, sigs.collect())) == sorted(map(tuple, want.collect()))

    # idempotent second run
    res2 = wp.reconcile_canonicalization(spark, inc)
    assert res2["moves"] == 0
    assert keys(inc) == keys(full)

    # incremental ingest continues cleanly after a reconcile
    batch3 = batch2 + [(3, "agent implements aone again")]
    st = wp.run_web_pipeline(spark, mk_pages(batch3), inc, aliases=aliases, n_url_buckets=4)
    assert st[wp.S4]["new_triples"] > 0
    linked = spark.read.parquet(f"{inc}/linked").select("entity_id").distinct()
    emap = spark.read.parquet(f"{inc}/entity_map").select("entity_id")
    assert linked.join(emap, "entity_id", "left_anti").count() == 0


def test_recrawl_to_zero_mentions_clears_linked(spark, tmp_path):
    """A re-crawl that removes EVERY gazetteer mention from a bucket must
    clear that bucket's linked rows. Dynamic partition overwrite only
    replaces partitions that receive rows, so without the explicit
    pending-partition clear the stale S2 output would survive and keep
    feeding S4 mentions the current content no longer supports."""
    out = str(tmp_path / "wp")

    def one_page(body):
        return spark.createDataFrame(
            [("https://example.org/solo", f"<html><body><p>{body}</p></body></html>".encode())],
            ["url", "html"],
        ).select(
            "url", F.lit(None).cast("timestamp").alias("warc_ts"), "html",
            F.lit(None).cast("string").alias("text"), F.lit("en").alias("lang"),
        )

    wp.run_web_pipeline(spark, one_page("ResNet uses Dropout layers"), out, n_url_buckets=4)
    from extremexp_knowledge_graph_spark.plans.kg_store import read_table
    from extremexp_knowledge_graph_spark.schema import LINKED_SCHEMA

    assert read_table(spark, f"{out}/linked", LINKED_SCHEMA).count() > 0

    st = wp.run_web_pipeline(
        spark, one_page("nothing notable remains on this page"), out, n_url_buckets=4
    )
    assert st[wp.S2]["pending_buckets"] == 1  # content fp re-opened the bucket
    assert read_table(spark, f"{out}/linked", LINKED_SCHEMA).count() == 0


def test_bucket_expr_null_keys_get_catchall_bucket(spark, tmp_path):
    """A url the bucket expression can't classify must not vanish: NULL
    buckets fail every isin() pruning filter and break manifest rows. They
    route to catch-all bucket -1 and flow through the whole DAG. (try_cast,
    not cast: under ANSI a plain cast of the unmatched ''-extract aborts
    the job — loud, but the catch-all needs the NULL to reach it.)"""
    out = str(tmp_path / "wp")
    expr = "try_cast(regexp_extract(url, 'seg(\\\\d+)', 1) as bigint)"
    rows = [
        ("https://example.org/seg0/p0",
         b"<html><body><p>ResNet uses weights here</p></body></html>"),
        ("https://example.org/no-segment/odd",
         b"<html><body><p>BERT contains layers too</p></body></html>"),
    ]
    pages = spark.createDataFrame(rows, ["url", "html"]).select(
        "url", F.lit(None).cast("timestamp").alias("warc_ts"), "html",
        F.lit(None).cast("string").alias("text"), F.lit("en").alias("lang"),
    )
    st = wp.run_web_pipeline(spark, pages, out, bucket_expr=expr)
    assert st[wp.S1]["pending_buckets"] == 2  # seg0 and the catch-all
    docs = spark.read.parquet(f"{out}/docs")
    assert docs.count() == 2
    assert docs.where(F.col("url_bucket") == -1).count() == 1
    # resume is a clean no-op for both buckets
    st2 = wp.run_web_pipeline(spark, pages, out, bucket_expr=expr)
    assert st2[wp.S1]["pending_buckets"] == 0


def test_bucket_expr_segment_granularity(spark, tmp_path):
    """bucket_expr lets the deployment bucket by its real delta granularity:
    with crawl-segment bucketing, dropping one new segment re-opens exactly
    ONE bucket (uniform url-hash would sprinkle it over all of them)."""
    out = str(tmp_path / "wp")
    expr = "cast(regexp_extract(url, 'seg(\\\\d+)', 1) as bigint)"

    def seg_pages(segs):
        rows = []
        for s in segs:
            for i in range(6):
                rows.append((
                    f"https://example.org/seg{s}/page{i}",
                    f"<html><head></head><body><p>ResNet uses weights in seg{s} page{i}</p></body></html>".encode(),
                ))
        return spark.createDataFrame(rows, ["url", "html"]).select(
            "url", F.lit(None).cast("timestamp").alias("warc_ts"), "html",
            F.lit(None).cast("string").alias("text"), F.lit("en").alias("lang"),
        )

    s0 = wp.run_web_pipeline(spark, seg_pages([0, 1]), out, bucket_expr=expr)
    assert s0[wp.S1]["pending_buckets"] == 2
    s1 = wp.run_web_pipeline(spark, seg_pages([0, 1, 2]), out, bucket_expr=expr)
    assert s1[wp.S1]["pending_buckets"] == 1  # exactly the new segment
    assert s1[wp.S2]["pending_buckets"] == 1
    assert spark.read.parquet(f"{out}/docs").count() == 18


def test_reconcile_crash_between_store_and_map_heals(spark, tmp_path, monkeypatch):
    """Crash-atomicity across reconcile's two live artifacts (ADVICE r4):
    kill the reconcile AFTER replace_store rewrote the triples to NEW
    canonicals but BEFORE the entity-map swap. The manifest's
    started-without-done marker must flag the mismatch, and the next
    run_web_pipeline must redo the (idempotent) migration so S4 never
    materializes mentions under merged-away canonicals."""
    E_A = "alpha beta gamma delta one"
    E_B = "alpha beta gamma delta two"
    E_C = "alpha beta gamma delta"
    aliases = spark.createDataFrame(
        [("aone", E_A, 1.0, E_A), ("atwo", E_B, 1.0, E_B), ("acee", E_C, 1.0, E_C)],
        ["alias", "entity_id", "prior", "context"],
    )

    def mk_pages(specs):
        rows = [
            (f"https://example.org/p{i}",
             f"<html><head></head><body><p>{txt}</p></body></html>".encode())
            for i, txt in specs
        ]
        return spark.createDataFrame(rows, ["url", "html"]).select(
            "url", F.lit(None).cast("timestamp").alias("warc_ts"), "html",
            F.lit(None).cast("string").alias("text"), F.lit("en").alias("lang"),
        )

    batch1 = [(0, "system uses aone here"), (1, "network has atwo features")]
    batch2 = batch1 + [(2, "pipeline contains acee models")]
    inc = str(tmp_path / "inc")
    wp.run_web_pipeline(spark, mk_pages(batch1), inc, aliases=aliases, n_url_buckets=4)
    wp.run_web_pipeline(spark, mk_pages(batch2), inc, aliases=aliases, n_url_buckets=4)

    full = str(tmp_path / "full")
    wp.run_web_pipeline(spark, mk_pages(batch2), full, aliases=aliases, n_url_buckets=4)

    def keys(out):
        t = spark.read.parquet(f"{out}/triples")
        return {(r.subj, r.pred, r.obj, r.obj_is_iri, r.obj_datatype)
                for r in t.select("subj", "pred", "obj", "obj_is_iri", "obj_datatype").collect()}

    # --- crash injection: die on the map-swap rename (store already new) ---
    map_path = os.path.join(inc, "entity_map")
    real_rename = os.rename

    def exploding_rename(src, dst):
        if os.path.normpath(str(src)) == os.path.normpath(map_path) or (
            os.path.normpath(str(dst)) == os.path.normpath(map_path)
        ):
            raise RuntimeError("injected crash between store rewrite and map swap")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", exploding_rename)
    with pytest.raises(RuntimeError, match="injected crash"):
        wp.reconcile_canonicalization(spark, inc)
    monkeypatch.setattr(os, "rename", real_rename)

    # the dangerous window: store on NEW canonicals, map still OLD
    assert keys(inc) == keys(full)
    m_now = {r.entity_id: r.canonical_id
             for r in spark.read.parquet(map_path).collect()}
    assert m_now[E_A] == E_A and m_now[E_B] == E_B  # old map survived
    assert wp.reconcile_pending(spark, inc)

    # the next pipeline run heals BEFORE any stage reads the pair
    batch3 = batch2 + [(3, "agent implements aone again")]
    wp.run_web_pipeline(spark, mk_pages(batch3), inc, aliases=aliases, n_url_buckets=4)
    assert not wp.reconcile_pending(spark, inc)
    m_rec = {r.entity_id: r.canonical_id
             for r in spark.read.parquet(map_path).collect()}
    assert set(m_rec.values()) == {E_C}  # reconciled map == batch clustering
    # no merged-away canonical re-introduced by the post-heal S4
    t = spark.read.parquet(f"{inc}/triples")
    bad = {f"http://example.org/Entity_{E_A}", f"http://example.org/Entity_{E_B}"}
    assert t.where(F.col("subj").isin(list(bad)) | F.col("obj").isin(list(bad))).count() == 0


def test_prune_manifest_keeps_latest_semantics(spark, tmp_path):
    """Retention compaction: prune_manifest keeps the latest row per
    (stage, key, status); pending_keys / stale_keys / reconcile_pending
    are IDENTICAL before vs after, every (stage, key, status) survives,
    the row count collapses to the distinct-key bound, and the manifest
    is rewritten as one parquet file."""
    out = str(tmp_path / "out")
    man = f"{out}/manifest"
    _rec(spark, man, "s1", "k1", in_fp="A", out_fp="oa1")
    _rec(spark, man, "s1", "k1", in_fp="B", out_fp="ob1")  # supersedes A
    _rec(spark, man, "s1", "k2", in_fp="C", out_fp="oc1")
    _rec(spark, man, "s2", "k1", in_fp="oa1")  # stale vs s1's latest ob1
    mf.append_manifest(spark, man, [{"stage": "s3_reconcile", "partition_key": "global",
                                     "status": "done"}])
    mf.append_manifest(spark, man, [{"stage": "s3_reconcile", "partition_key": "global",
                                     "status": "started"}])  # dangling crash marker

    keys = spark.createDataFrame([("k1", "B"), ("k2", "X")], ["partition_key", "fp"])

    def snapshot():
        return (
            sorted(r.partition_key for r in mf.pending_keys(spark, man, "s1", keys).collect()),
            sorted(mf.stale_keys(spark, man, "s2", "s1")),
            wp.reconcile_pending(spark, out),
        )

    def row_set():
        return {(r.stage, r.partition_key, r.status) for r in mf.read_manifest(spark, man).collect()}

    before, rows_before = snapshot(), row_set()
    assert before[0] == ["k2"] and before[2] is True
    assert len(glob.glob(f"{man}/*.parquet")) >= 6  # one file per append
    nb, na = mf.prune_manifest(spark, man)
    assert (nb, na) == (6, 5)  # only s1/k1's superseded row dropped
    assert snapshot() == before
    assert row_set() == rows_before
    assert len(glob.glob(f"{man}/*.parquet")) == 1
    # idempotent
    assert mf.prune_manifest(spark, man) == (5, 5)
