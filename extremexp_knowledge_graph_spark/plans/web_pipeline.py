"""The web-regime DAG: extract → link → canonicalize → materialize (S1-S4).

This is the end-to-end pipeline the north star describes, over the
Common-Crawl-style ``pages(url, warc_ts, html, text, lang)`` relation
(BASELINE.json input_hint) — the Spark-native replacement for the
reference's watch→validate→transform→dedupe→load loop
(extremexp_kg_matic/src/file_watcher.py:204-329 + src/kg_service.py:141-211),
generalized from trusted JSON metadata to raw web pages:

  S1 EXTRACT      html → text (Arrow kernel, byte-identical per url,
                  operators/html_extract.py) → docs table
  S2 LINK         alias candidate generation + TF-IDF cosine + prior
                  scoring (operators/linker.py) → linked mentions table
  S3 CANONICALIZE MinHash-LSH blocking + connected components over entity
                  surface forms (operators/canonicalize.py) → entity map
  S4 MATERIALIZE  line/SVO/mention triple projection with canonical IRIs →
                  validate → idempotent merge into the bucketed triple
                  store (plans/kg_store.py)

Resume contract (north rule "resumable from checkpoint with per-partition
lineage + metrics"): work is keyed by ``url_bucket`` — by default
``pmod(xxhash64(url), K)``; pass ``bucket_expr`` to bucket by whatever the
deployment's delta granularity actually is (e.g. crawl segment extracted
from the url), so a one-segment drop re-opens exactly one bucket instead of
sprinkling uniformly over all K. Each stage processes ALL pending buckets in
ONE Spark job (never a driver loop over buckets), then appends one manifest
row per bucket with rows_in/rows_out/wall plus TWO fingerprints:

* ``input_fingerprint`` — a CONTENT digest of what the stage consumed
  (S1: ``count:bit_xor(xxhash64(url, html))`` over the bucket's pages — a
  re-crawled url with changed html changes the digest and re-opens the
  bucket; identity-by-url alone would silently never re-extract updates).
* ``output_fingerprint`` — the same-shape digest of what the stage WROTE
  (S1: over ``(doc_id, text)``; S2: over ``(doc_id, surface, entity_id)``),
  computed in the same read-back pass as the lineage counts — zero extra
  scans.

Downstream staleness is then METADATA-ONLY (``manifest.stale_keys``): S2/S4
re-open exactly the buckets whose S1 output fingerprint they have not
processed, and the S3 delta pass absorbs exactly the buckets whose S2
output fingerprint has no ``s3_absorb`` row — comparing manifest rows
against manifest rows, never re-scanning docs/linked. A no-op resume costs
one scan of the (possibly bucket-restricted) pages input and nothing else;
a delta touches only its buckets' partitions (partition-pruned reads).
A crash between write and manifest append cannot duplicate anything
(dynamic partition overwrite for S1/S2, set-merge for S4, anti-join
append for S3).

S3 is a single global unit on FIRST run (connected components is a
cross-bucket fixpoint); after the map exists, per-bucket ``s3_absorb``
rows track which linked output each delta pass has absorbed, and the
incremental pass matches only new entities against the persisted MinHash
signature table (``entity_sigs`` — append-only, maintained here) instead of
re-shingling the history (operators/canonicalize.py stability contract;
bridge-merges deferred to ``reconcile_canonicalization``).

Note on supersession: a re-crawled page's updated text re-extracts,
re-links and re-materializes (the bucket re-opens), but the triple STORE is
a cumulative set-merge — triples extracted from the superseded content
remain (with their prov). Store-level retraction is a delete-by-prov merge
(Iceberg ``MERGE ... WHEN MATCHED THEN DELETE``), deliberately not wired
into the hot path.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from extremexp_knowledge_graph_spark.operators.canonicalize import canonicalize_entities
from extremexp_knowledge_graph_spark.operators.html_extract import extract_text
from extremexp_knowledge_graph_spark.operators.linker import link_mentions
from extremexp_knowledge_graph_spark.operators.papers_to_triples import validate_triples
from extremexp_knowledge_graph_spark.operators.pattern_extract import line_triples, svo_triples
from extremexp_knowledge_graph_spark.plans import kg_store, manifest
from extremexp_knowledge_graph_spark.schema import (
    DOCS_SCHEMA,
    EMAP_SCHEMA,
    EX2,
    LINKED_SCHEMA,
    RDF_TYPE,
    TRIPLE_KEY,
)
from extremexp_knowledge_graph_spark.sources.synthetic_pages import GAZETTEER

DEFAULT_URL_BUCKETS = 16

S1, S2, S3, S4 = "s1_extract", "s2_link", "s3_canonicalize", "s4_materialize"
S3A = "s3_absorb"  # per-bucket bookkeeping of which S2 output the map absorbed
ALL_STAGES = (S1, S2, S3, S4)

# Canonicalization blocking parameters — fixed per deployment so the
# persisted signature table (entity_sigs) stays joinable across batches.
CANON_NUM_HASHES, CANON_BANDS, CANON_SHINGLE_N, CANON_THRESHOLD = 16, 8, 2, 0.7


def _bucketed(
    df: DataFrame, key: str, n: int, bucket_expr: Column | str | None = None
) -> DataFrame:
    """Attach the work-partitioning column. Default: uniform url hash.
    ``bucket_expr`` overrides with a deployment-specific key (SQL string or
    Column) — e.g. a crawl-segment id parsed from the url — so concentrated
    deltas re-open few buckets (see module docstring). Write parsing casts
    as ``try_cast`` (ANSI mode makes a plain cast of an unparseable key
    abort the job — loudly, which beats silence); a NULL result routes to
    catch-all bucket -1 rather than vanishing."""
    if bucket_expr is None:
        col = F.pmod(F.xxhash64(key), F.lit(n))
    else:
        col = F.expr(bucket_expr) if isinstance(bucket_expr, str) else bucket_expr
        # A url the expression can't classify must not vanish: NULL fails
        # every isin() pruning filter downstream (the row would never be
        # extracted) and NULL partition keys break manifest bookkeeping.
        # Route unmatched keys to a catch-all bucket instead.
        col = F.coalesce(col.cast("long"), F.lit(-1))
    return df.withColumn("url_bucket", col)


def _fp_expr(fp_cols: tuple[str, ...]) -> Column:
    """Order/partitioning-independent bucket digest:
    ``count:bit_xor(xxhash64(cols...))`` (xor, not sum — a 64-bit sum
    overflows under ANSI mode; xor cancellation needs a hash collision and
    the count guards multiplicity regardless)."""
    return F.concat_ws(
        ":", F.count("*"), F.expr(f"bit_xor(xxhash64({', '.join(fp_cols)}))")
    )


def _pending_input(
    spark: SparkSession, man_path: str, stage: str, df: DataFrame, fp_cols: tuple[str, ...]
) -> tuple[DataFrame, list[int], dict[str, str]]:
    """S1's pending computation — the one stage whose input is the outside
    world, so its fingerprints must come from the data: digest each input
    bucket over ``fp_cols`` (CONTENT, not just identity) and keep buckets
    whose latest done row recorded a different digest.

    Returns (pending rows, pending bucket ids, fingerprint per bucket)."""
    keys = df.groupBy(F.col("url_bucket").cast("string").alias("partition_key")).agg(
        _fp_expr(fp_cols).alias("fp")
    )
    pend = manifest.pending_keys(spark, man_path, stage, keys)
    rows = pend.collect()  # bucket ids: small by design
    pend_list = [int(r.partition_key) for r in rows]
    fps = {r.partition_key: r.fp for r in rows}
    return df.where(F.col("url_bucket").isin(pend_list)), pend_list, fps


def _read_buckets(spark: SparkSession, path: str, buckets: list[int], schema) -> DataFrame:
    """Read only the given ``url_bucket`` partitions — the filter is a
    partition-pruning predicate, so cost is O(delta), never O(store)."""
    return kg_store.read_table(spark, path, schema).where(F.col("url_bucket").isin(buckets))


def _bucket_counts(df: DataFrame) -> dict[str, int]:
    return {
        str(r.url_bucket): r.n
        for r in df.groupBy("url_bucket").agg(F.count("*").alias("n")).collect()
    }


def _readback(
    spark: SparkSession, path: str, buckets: list[int], schema, fp_cols: tuple[str, ...]
) -> tuple[dict[str, int], dict[str, str]]:
    """One partition-pruned pass over the just-written buckets: lineage
    counts AND output fingerprints together (this is where write-time
    fingerprints come from — no separate scan)."""
    rows = (
        _read_buckets(spark, path, buckets, schema)
        .groupBy("url_bucket")
        .agg(F.count("*").alias("n"), _fp_expr(fp_cols).alias("ofp"))
        .collect()
    )
    counts = {str(r.url_bucket): r.n for r in rows}
    fps = {str(r.url_bucket): r.ofp for r in rows}
    for b in buckets:  # zero-row buckets digest to the well-defined "0:0"
        counts.setdefault(str(b), 0)
        fps.setdefault(str(b), "0:0")
    return counts, fps


def _record(
    spark: SparkSession,
    man_path: str,
    stage: str,
    in_counts: dict[str, int],
    out_counts: dict[str, int],
    wall_ms: int,
    buckets: list[str],
    fps: dict[str, str] | None = None,
    out_fps: dict[str, str] | None = None,
) -> None:
    n = max(1, len(buckets))
    manifest.append_manifest(
        spark,
        man_path,
        [
            {
                "stage": stage,
                "partition_key": b,
                "input_fingerprint": (fps or {}).get(b),
                "output_fingerprint": (out_fps or {}).get(b),
                "rows_in": in_counts.get(b, 0),
                "rows_out": out_counts.get(b, 0),
                "wall_ms": wall_ms // n,  # amortized: one job covered all buckets
                "status": "done",
            }
            for b in buckets
        ],
    )


def default_aliases(spark: SparkSession, gazetteer: list[str] | None = None) -> DataFrame:
    """Alias table for S2: (alias, entity_id, prior, context). In production
    this is the dictionary/gazetteer dimension (Wikidata labels etc.).
    Treated as a fixed dimension per deployment version — alias-table
    changes are a full-reprocess event, not tracked by bucket fingerprints."""
    gaz = gazetteer or GAZETTEER
    return spark.createDataFrame(
        [(g.lower(), g, 1.0, g) for g in gaz],
        ["alias", "entity_id", "prior", "context"],
    )


def run_web_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    aliases: DataFrame | None = None,
    n_url_buckets: int = DEFAULT_URL_BUCKETS,
    stages: tuple[str, ...] = ALL_STAGES,
    bucket_expr: Column | str | None = None,
) -> dict:
    """Run (or resume) the S1-S4 DAG; returns per-stage stats.

    ``stages`` restricts which stages run this invocation — the test hook
    for simulating a mid-run crash (run S1-S2, "crash", re-run all four:
    S1/S2 buckets are skipped via the manifest). ``pages`` may be the full
    corpus or any bucket-complete subset of it (the streaming front-door
    passes only the partitions its micro-batch touched — buckets absent
    from the input are simply not considered).
    """
    man = f"{out_dir}/manifest"
    docs_path = f"{out_dir}/docs"
    linked_path = f"{out_dir}/linked"
    entity_map_path = f"{out_dir}/entity_map"
    sigs_path = f"{out_dir}/entity_sigs"
    store_path = f"{out_dir}/triples"
    aliases = aliases if aliases is not None else default_aliases(spark)
    stats: dict[str, dict] = {}

    # crash-healing: a reconcile that rewrote the store to NEW canonicals
    # but died before the map swap would make S4 materialize mentions under
    # OLD canonicals, re-introducing merged-away IRIs. Detect the
    # started-without-done marker and redo the idempotent migration before
    # any stage reads the mismatched store/map pair.
    if reconcile_pending(spark, out_dir):
        reconcile_canonicalization(spark, out_dir)

    # ---- S1 EXTRACT: pages → docs(url, doc_id, text, lang, url_bucket) ----
    # Pending buckets are written with DYNAMIC partition overwrite, not
    # append: a crash between the parquet write and the manifest _record()
    # makes the resume re-run the same buckets, and overwrite-by-partition
    # replaces (never duplicates) their rows — S1/S2 are idempotent like S4's
    # set-merge. The read-back computes lineage counts AND the docs output
    # fingerprint over ONLY the just-written partitions (partition pruning),
    # so bookkeeping cost is O(delta), not O(store).
    if S1 in stages:
        t0 = time.monotonic()
        src = _bucketed(pages, "url", n_url_buckets, bucket_expr)
        todo, pend, fps = _pending_input(spark, man, S1, src, fp_cols=("url", "html"))
        if pend:
            # bucket row counts are the fingerprint prefix — no extra scan
            in_counts = {k: int(v.split(":", 1)[0]) for k, v in fps.items()}
            docs = todo.select(
                "url",
                F.xxhash64("url").alias("doc_id"),
                extract_text(F.col("html")).alias("text"),
                "lang",
                "url_bucket",
            )
            (
                docs.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("url_bucket")
                .parquet(docs_path)
            )
            out_counts, out_fps = _readback(
                spark, docs_path, pend, DOCS_SCHEMA, ("doc_id", "text")
            )
            _record(
                spark, man, S1, in_counts, out_counts,
                int((time.monotonic() - t0) * 1000), list(in_counts), fps, out_fps,
            )
        stats[S1] = {"pending_buckets": len(pend), "wall_s": round(time.monotonic() - t0, 3)}

    # ---- S2 LINK: docs → linked(doc_id, surface, entity_id, score) ----
    # Staleness is metadata-only: compare S1's recorded docs fingerprints
    # against S2's processed ones — zero scans when nothing changed.
    if S2 in stages:
        t0 = time.monotonic()
        pend_fp = manifest.stale_keys(spark, man, S2, S1)
        pend = [int(k) for k, _ in pend_fp]
        if pend:
            todo = _read_buckets(spark, docs_path, pend, DOCS_SCHEMA)
            in_counts = _bucket_counts(todo)
            # n_docs from the lineage counts just taken — saves tfidf_weights
            # deriving N with its own aggregation over the tf exchange
            linked = link_mentions(todo, aliases, n_docs=sum(in_counts.values())).join(
                todo.select("doc_id", "url_bucket"), "doc_id"
            )
            # Dynamic partition overwrite only replaces partitions that
            # RECEIVE rows — a re-crawled bucket whose new content has zero
            # mentions would keep its stale linked rows forever. Clear the
            # pending partitions first; crash-safe because the manifest row
            # (written after readback) is the commit point: a crash here
            # leaves the bucket stale and the next run redoes it. Iceberg
            # form: REPLACE WHERE url_bucket IN (...), which handles
            # empty-replacement natively in one snapshot.
            for k in pend:
                shutil.rmtree(
                    os.path.join(linked_path, f"url_bucket={k}"), ignore_errors=True
                )
            (
                linked.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("url_bucket")
                .parquet(linked_path)
            )
            out_counts, out_fps = _readback(
                spark, linked_path, pend, LINKED_SCHEMA, ("doc_id", "surface", "entity_id")
            )
            _record(
                spark, man, S2, in_counts, out_counts,
                int((time.monotonic() - t0) * 1000), list(in_counts),
                dict(pend_fp), out_fps,
            )
        stats[S2] = {"pending_buckets": len(pend), "wall_s": round(time.monotonic() - t0, 3)}

    # ---- S3 CANONICALIZE: linked surface forms → entity_map ----
    # First run: full batch canonicalization (run-once via manifest key
    # 'global'), which also seeds the persisted signature table. Then, on
    # every run alike, the buckets whose S2 output has no s3_absorb row are
    # absorbed: on the first run the batch map already covers them; after
    # it, an INCREMENTAL delta pass maps exactly their new entities against
    # the signature table (one columnar scan, no history re-shingling) and
    # appends to the map under the stability contract (existing assignments
    # never rewritten; see
    # operators/canonicalize.py::canonicalize_entities_incremental).
    if S3 in stages:
        t0 = time.monotonic()
        done = manifest.run_stage(
            spark, man, S3, "global",
            lambda: _run_canonicalize(spark, linked_path, entity_map_path, sigs_path),
        )
        pend_fp = manifest.stale_keys(spark, man, S3A, S2)
        # absorb rows are pure bookkeeping (which S2 output the map has
        # seen) — per-bucket entity counts don't exist here, and writing
        # the delta TOTAL on every row would inflate any lineage sum by
        # len(pend_fp); a delta's total goes on one summary row instead
        rows = [{"stage": S3A, "partition_key": k, "input_fingerprint": fp}
                for k, fp in pend_fp]
        n_delta = 0
        if pend_fp and done is None:  # the map predates these buckets
            n_delta = _run_canonicalize_delta(
                spark, linked_path, entity_map_path,
                buckets=[int(k) for k, _ in pend_fp], sigs_path=sigs_path,
            )
            rows.append({"stage": S3, "partition_key": "delta", "rows_in": n_delta,
                         "rows_out": n_delta, "wall_ms": int((time.monotonic() - t0) * 1000)})
        if rows:
            manifest.append_manifest(spark, man, rows)
        stats[S3] = {
            "ran": done is not None,
            "delta_entities": n_delta,
            "wall_s": round(time.monotonic() - t0, 3),
        }

    # ---- S4 MATERIALIZE: triples w/ canonical IRIs → merge into store ----
    # Staleness vs S1's docs fingerprints (content-sensitive), metadata-only.
    if S4 in stages:
        t0 = time.monotonic()
        pend_fp = manifest.stale_keys(spark, man, S4, S1)
        pend = [int(k) for k, _ in pend_fp]
        n_pend = len(pend)
        if n_pend:
            todo = _read_buckets(spark, docs_path, pend, DOCS_SCHEMA)
            in_counts = _bucket_counts(todo)
            emap = kg_store.read_table(spark, entity_map_path, EMAP_SCHEMA)
            # bucket filter prunes the linked scan to pending partitions; the
            # semi-join stays as the row-exact guard within them
            linked = _read_buckets(spark, linked_path, pend, LINKED_SCHEMA).join(
                todo.select("doc_id").distinct(), "doc_id", "left_semi"
            )
            # Stage the materialized triples to disk, not to executor memory:
            # persist()-ing an unbounded dataset OOMs the moment the batch
            # outgrows the heap (seen at 100k pages under spark-submit's
            # default driver heap) — disk staging is the only cache that
            # scales with data, and it doubles as the natural Iceberg
            # staging-table shape on a real deployment.

            staging = f"{out_dir}/_staging_s4"
            _materialize_triples(todo, linked, emap).write.mode("overwrite").parquet(staging)
            triples = spark.read.parquet(staging)
            # per-bucket triple counts (lineage metric): prov carries doc_id.
            # NOTE: rdf:type entity triples are minted with prov=NULL (no
            # single originating document), so per-bucket rows_out counts
            # document-attributable triples only — the store merge's return
            # value (new_triples) is the total including prov-null rows.
            prov_bucket = todo.select(
                F.col("doc_id").cast("string").alias("prov"), "url_bucket"
            ).distinct()
            out_counts = _bucket_counts(
                triples.join(prov_bucket, "prov").select("url_bucket")
            )
            n_new = kg_store.merge_triples(spark, triples, store_path)
            shutil.rmtree(staging, ignore_errors=True)
            _record(
                spark, man, S4, in_counts, out_counts,
                int((time.monotonic() - t0) * 1000), list(in_counts), dict(pend_fp),
            )
            stats[S4] = {
                "pending_buckets": n_pend,
                "new_triples": n_new,
                "wall_s": round(time.monotonic() - t0, 3),
            }
        else:
            stats[S4] = {"pending_buckets": 0, "new_triples": 0,
                         "wall_s": round(time.monotonic() - t0, 3)}

    return stats


def _entity_band_rows(entities: DataFrame) -> DataFrame:
    """Banded MinHash signatures for entity surface forms — the persisted
    ``entity_sigs`` relation (id, band, band_sig), append-only (an entity's
    signature never changes)."""
    from extremexp_knowledge_graph_spark.operators.dedup import minhash_band_rows

    return minhash_band_rows(
        entities, CANON_NUM_HASHES, CANON_BANDS, CANON_SHINGLE_N,
        id_col="entity_id", text_col="name",
    )


def _run_canonicalize(
    spark: SparkSession, linked_path: str, entity_map_path: str, sigs_path: str | None = None
) -> tuple[int, int]:
    ents = (
        kg_store.read_table(spark, linked_path, LINKED_SCHEMA)
        .select(F.col("entity_id"), F.col("entity_id").alias("name"))
        .distinct()
    )
    n_in = ents.count()
    emap = canonicalize_entities(
        ents, id_col="entity_id", name_col="name", threshold=CANON_THRESHOLD,
        num_hashes=CANON_NUM_HASHES, bands=CANON_BANDS, shingle_n=CANON_SHINGLE_N,
    )
    emap.write.mode("overwrite").parquet(entity_map_path)
    if sigs_path:
        _entity_band_rows(ents).write.mode("overwrite").parquet(sigs_path)
    return n_in, spark.read.parquet(entity_map_path).count()


def _run_canonicalize_delta(
    spark: SparkSession,
    linked_path: str,
    entity_map_path: str,
    buckets: list[int] | None = None,
    sigs_path: str | None = None,
) -> int:
    """Incremental S3: assign canonical ids to entities linked since the map
    was built; append-only (idempotent — the delta is an anti-join against
    the map, so a re-run after a crash mid-append just shrinks to the
    remainder). Returns the number of newly mapped entities.

    Scale shape: ``buckets`` restricts the linked scan to the partitions
    whose output the map has not absorbed (partition-pruned; None = full
    scan, the manifest-less fallback). The history side is the entity map
    itself (entity ids ARE the surface forms) plus — when ``sigs_path``
    exists — the persisted signature table, so NOTHING corpus-sized is
    re-read and nothing history-sized is re-shingled per batch. New
    entities' signatures append to the table after assignment (idempotent
    via anti-join on id, so either crash ordering heals)."""
    from extremexp_knowledge_graph_spark.operators.canonicalize import (
        canonicalize_entities_incremental,
    )

    linked = kg_store.read_table(spark, linked_path, LINKED_SCHEMA)
    if buckets is not None:
        linked = linked.where(F.col("url_bucket").isin(buckets))
    ents = linked.select(F.col("entity_id"), F.col("entity_id").alias("name")).distinct()
    emap = kg_store.read_table(spark, entity_map_path, EMAP_SCHEMA)
    new_e = ents.join(emap.select("entity_id"), "entity_id", "left_anti")
    # Stage the delta once (it feeds LSH twice + the final assign); disk
    # staging, same rationale as the S4 batch (kg_store.py merge staging).

    staging = entity_map_path.rstrip("/") + ".delta_staging"
    new_e.write.mode("overwrite").parquet(staging)
    new_e = spark.read.parquet(staging)
    try:
        if new_e.limit(1).count() == 0:
            return 0
        # history = the map itself (entity_id doubles as the surface form);
        # no linked re-scan — verification only reads candidate rows anyway
        old_e = emap.select("entity_id", F.col("entity_id").alias("name"))
        sigs = None
        if sigs_path and os.path.isdir(sigs_path):
            sigs = spark.read.parquet(sigs_path)
        delta = canonicalize_entities_incremental(
            new_e, old_e, emap, id_col="entity_id", name_col="name",
            threshold=CANON_THRESHOLD, num_hashes=CANON_NUM_HASHES,
            bands=CANON_BANDS, shingle_n=CANON_SHINGLE_N,
            existing_band_rows=sigs,
        )
        if sigs_path:
            new_rows = _entity_band_rows(new_e)
            if os.path.isdir(sigs_path):
                seen = spark.read.parquet(sigs_path).select("id").distinct()
                new_rows = new_rows.join(seen, "id", "left_anti")
                new_rows.write.mode("append").parquet(sigs_path)
            else:
                new_rows.write.mode("overwrite").parquet(sigs_path)
        delta.write.mode("append").parquet(entity_map_path)
        return spark.read.parquet(staging).count()
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def reconcile_pending(spark: SparkSession, out_dir: str) -> bool:
    """True when the latest ``s3_reconcile`` manifest row is ``started`` —
    a reconcile began mutating the store/map pair and never recorded done
    (crash between ``replace_store`` and the entity-map swap). The redo is
    ``reconcile_canonicalization`` itself: re-clustering is deterministic,
    so the recomputed moves are a no-op against an already-rewritten store
    and the map swap completes the interrupted migration."""
    rows = manifest.latest_rows(
        manifest.read_manifest(spark, f"{out_dir}/manifest").where(
            F.col("stage") == "s3_reconcile"
        ),
        "partition_key",
    ).collect()
    return bool(rows) and rows[0].status == "started"


def reconcile_canonicalization(
    spark: SparkSession, out_dir: str, n_buckets: int = kg_store.DEFAULT_BUCKETS
) -> dict:
    """Full recanonicalization — the periodic migration that pays off the
    incremental-ER stability debt.

    ``canonicalize_entities_incremental`` deliberately never merges two
    EXISTING groups (a new entity bridging them adopts the minimum
    canonical and the residual merge is deferred — its stability contract);
    after enough deltas the map drifts from what batch canonicalization
    would produce, and the materialized store holds IRIs for canonicals
    that a from-scratch clustering would have merged away. The reference
    trivially "reconciles" by reprocessing everything per run
    (extremexp_kg_matic/src/main.py:180-192); at 100 TB this must be a
    targeted migration instead:

    1. re-cluster ALL known entities from scratch (the same batch operator
       and blocking parameters the first S3 run used);
    2. diff the new map against the old → a ``moves(old_canonical,
       new_canonical)`` relation. Moves are FUNCTIONAL (one new canonical
       per old): every old group was formed from similarity edges that
       still exist, so batch re-clustering only ever merges old groups,
       never splits them — all members travel together;
    3. rewrite the store's ``subj``/``obj`` IRIs through the (broadcast —
       moves ≪ store) move relation, dropping the duplicates merging
       creates, and swap atomically (``kg_store.replace_store``);
    4. swap in the new map and rebuild the signature table (same swap
       discipline) and record an ``s3_reconcile`` manifest row.

    Idempotent: a second run finds zero moves and touches nothing.
    Incremental ingest continues seamlessly afterwards — adoption joins
    the NEW map. Returns {"entities", "moves", "rewritten_triples"} where
    rewritten_triples is the post-rewrite store size, counted on the write
    job itself (Observation — no read-back scan); 0 when no moves.
    """
    man = f"{out_dir}/manifest"
    linked_path = f"{out_dir}/linked"
    entity_map_path = f"{out_dir}/entity_map"
    sigs_path = f"{out_dir}/entity_sigs"
    store_path = f"{out_dir}/triples"
    t0 = time.monotonic()

    old_map = kg_store.read_table(spark, entity_map_path, EMAP_SCHEMA)
    # the universe: everything currently linked plus everything ever mapped
    # (an entity whose pages were superseded keeps its assignment)
    ents = (
        kg_store.read_table(spark, linked_path, LINKED_SCHEMA)
        .select("entity_id")
        .unionByName(old_map.select("entity_id"))
        .distinct()
        .select("entity_id", F.col("entity_id").alias("name"))
    )
    new_map = canonicalize_entities(
        ents, id_col="entity_id", name_col="name", threshold=CANON_THRESHOLD,
        num_hashes=CANON_NUM_HASHES, bands=CANON_BANDS, shingle_n=CANON_SHINGLE_N,
    )
    # stage the new map once (feeds the diff, the swap, and future reads)

    map_tmp = entity_map_path.rstrip("/") + ".compacting"
    new_map.write.mode("overwrite").parquet(map_tmp)
    new_map = spark.read.parquet(map_tmp)

    moves = (
        old_map.alias("o")
        .join(new_map.alias("n"), "entity_id")
        .where(F.col("o.canonical_id") != F.col("n.canonical_id"))
        .select(
            F.col("o.canonical_id").alias("old_c"),
            F.col("n.canonical_id").alias("new_c"),
        )
        .distinct()
    )
    n_moves = moves.count()
    n_rewritten = 0
    # crash-atomicity across the two live artifacts (store rewrite, then
    # map/sigs swap): record 'started' BEFORE the first mutation. A crash
    # anywhere in the window leaves started-without-done in the manifest;
    # reconcile_pending() detects it and run_web_pipeline redoes this
    # (idempotent) migration before any stage reads the mismatched pair.
    manifest.append_manifest(
        spark, man,
        [{"stage": "s3_reconcile", "partition_key": "global", "status": "started"}],
    )
    if n_moves and os.path.isdir(store_path):
        mv = moves.select(
            F.concat(F.lit(EX2 + "Entity_"), F.col("old_c")).alias("old_uri"),
            F.concat(F.lit(EX2 + "Entity_"), F.col("new_c")).alias("new_uri"),
        )
        t = kg_store.read_triples(spark, store_path)
        t = (
            t.join(
                F.broadcast(mv.withColumnRenamed("old_uri", "subj")), "subj", "left"
            )
            .withColumn("subj", F.coalesce("new_uri", F.col("subj")))
            .drop("new_uri")
        )
        t = (
            t.join(F.broadcast(mv.withColumnRenamed("old_uri", "obj")), "obj", "left")
            .withColumn(
                "obj",
                F.when(
                    F.col("obj_is_iri") & F.col("new_uri").isNotNull(), F.col("new_uri")
                ).otherwise(F.col("obj")),
            )
            .drop("new_uri")
        )
        rewritten = t.dropDuplicates(TRIPLE_KEY)
        # count what the swap writes via an Observation on the write job
        # itself — a read-back count would be a second full-store scan
        # spent on a metric
        from pyspark.sql import Observation

        obs = Observation("reconcile_store")
        kg_store.replace_store(
            spark, rewritten.observe(obs, F.count(F.lit(1)).alias("n")),
            store_path, n_buckets,
        )
        n_rewritten = int(obs.get["n"])
    # swap the map + rebuild signatures (same entity set → full rebuild is
    # the honest cost of a reconcile; it is O(entities), not O(corpus))
    map_old = entity_map_path.rstrip("/") + ".old"
    shutil.rmtree(map_old, ignore_errors=True)
    if os.path.isdir(entity_map_path):
        os.rename(entity_map_path, map_old)
    os.rename(map_tmp, entity_map_path)
    shutil.rmtree(map_old, ignore_errors=True)
    # sigs from a FRESH post-swap read: the pre-swap `ents` plan still
    # points at the renamed-away old map files
    final_map = spark.read.parquet(entity_map_path)
    _entity_band_rows(
        final_map.select("entity_id", F.col("entity_id").alias("name"))
    ).write.mode("overwrite").parquet(sigs_path)
    n_entities = final_map.count()
    manifest.append_manifest(
        spark, man,
        [{"stage": "s3_reconcile", "partition_key": "global",
          "rows_in": n_entities, "rows_out": n_moves,
          "wall_ms": int((time.monotonic() - t0) * 1000)}],
    )
    return {"entities": n_entities, "moves": n_moves, "rewritten_triples": n_rewritten}


def _materialize_triples(docs: DataFrame, linked: DataFrame, emap: DataFrame) -> DataFrame:
    """Line/SVO pattern triples + canonical-entity mention triples."""
    pattern = line_triples(docs).unionByName(svo_triples(docs))
    canon = linked.join(emap, "entity_id").select(
        "doc_id",
        F.concat(F.lit(EX2 + "Entity_"), F.col("canonical_id")).alias("euri"),
        F.col("score"),
    )
    mention = canon.select(
        F.concat(F.lit(EX2 + "document_"), F.col("doc_id").cast("string")).alias("subj"),
        F.lit(EX2 + "mentionsEntity").alias("pred"),
        F.col("euri").alias("obj"),
        F.lit(True).alias("obj_is_iri"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.col("doc_id").cast("string").alias("prov"),
    ).unionByName(
        canon.select(
            F.col("euri").alias("subj"),
            F.lit(RDF_TYPE).alias("pred"),
            F.lit(EX2 + "Entity").alias("obj"),
            F.lit(True).alias("obj_is_iri"),
            F.lit(None).cast("string").alias("obj_datatype"),
            F.lit(None).cast("string").alias("prov"),
        )
    )
    return validate_triples(
        pattern.unionByName(mention).dropDuplicates(TRIPLE_KEY)
    )
