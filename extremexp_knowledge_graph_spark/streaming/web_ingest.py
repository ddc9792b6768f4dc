"""Streaming front-door for the web-regime DAG (A5/A6 generalized to pages).

The reference watches a directory for paper JSON and pushes each file through
its per-row pipeline (extremexp_kg_matic/src/file_watcher.py:204-329). The
web-scale analogue watches for page dumps (parquet drops of the
``pages(url, warc_ts, html, text, lang)`` relation — e.g. one file per crawl
segment) and drives the SAME S1-S4 incremental pipeline:

  readStream(pages dir)
    → foreachBatch: idempotent url-keyed UPSERT into the cumulative pages
      table (bucket-partitioned parquet; only the buckets the micro-batch
      touches are rewritten) — a re-delivered micro-batch rewrites its
      buckets to identical bytes, so every bucket fingerprint is
      exactly-once without sink transactions, and a re-CRAWLED url (same
      url, new html) REPLACES its row so the content change propagates
    → run_web_pipeline over ONLY the touched bucket partitions: S1's
      content fingerprint decides which of them actually changed; S2/S4
      staleness and the S3 absorb pass are manifest-metadata-only
      (plans/web_pipeline.py), so per-trigger cost is O(touched buckets),
      never O(corpus).

So the streaming layer contributes exactly-once accumulation + triggering,
and ALL transformation semantics stay in one place — the batch DAG. Batch
and streaming ingestion of the same pages produce identical stores
(asserted by tests/test_web_pipeline.py::test_streaming_pages_matches_batch).

Small files: each touched-bucket rewrite repartitions by bucket, so a
bucket's partition holds ONE file regardless of how many triggers touched
it — the pages table self-compacts and the file count is bounded by the
bucket count (asserted by
tests/test_incremental_v2.py::test_streaming_recrawl_and_bounded_files).

``trigger=availableNow`` drains what is present then stops (A6 backfill /
test mode); omit for the continuous watcher (A5).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from extremexp_knowledge_graph_spark.plans.web_pipeline import (
    _bucketed,
    _read_buckets,
    run_web_pipeline,
)
from extremexp_knowledge_graph_spark.schema import BUCKETED_PAGES_SCHEMA, PAGES_SCHEMA


def stream_pages_pipeline(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    n_url_buckets: int = 16,
    available_now: bool = True,
    max_files_per_trigger: int = 64,
    bucket_expr=None,
    manifest_prune_every: int = 16,
):
    """Watch ``input_dir`` for pages parquet drops; keep ``out_dir`` (docs/
    linked/entity_map/entity_sigs/triples/manifest + the cumulative
    bucket-partitioned ``pages`` table) up to date incrementally. Returns
    the StreamingQuery.

    Every ``manifest_prune_every`` micro-batches the manifest is rewritten
    keep-latest-row-per-(stage, key, status) (``manifest.prune_manifest``)
    so a long-lived minute-trigger deployment's bookkeeping stays bounded
    instead of growing stages × buckets rows per trigger. 0 disables."""
    pages_path = f"{out_dir}/pages"
    raw = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def process_batch(batch_df, batch_id: int) -> None:
        batch = _bucketed(
            batch_df.dropDuplicates(["url"]), "url", n_url_buckets, bucket_expr
        )
        touched = [r.url_bucket for r in batch.select("url_bucket").distinct().collect()]
        if not touched:
            return
        # url-keyed upsert: batch rows win (new urls insert, re-crawled urls
        # replace — the content change then flows through S1's content
        # fingerprint); untouched rows of the bucket carry over. An absent
        # table reads as typed empty (first batch); any real read error
        # propagates so the micro-batch retries (foreachBatch is
        # at-least-once; the rewrite below is idempotent).
        existing = _read_buckets(spark, pages_path, touched, BUCKETED_PAGES_SCHEMA)
        merged = existing.join(batch.select("url"), "url", "left_anti").unionByName(batch)
        # one task (→ one file) per bucket: the rewrite IS the compaction
        (
            merged.repartition(max(1, len(touched)), "url_bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("url_bucket")
            .parquet(pages_path)
        )
        run_web_pipeline(
            spark,
            _read_buckets(spark, pages_path, touched, BUCKETED_PAGES_SCHEMA),
            out_dir,
            n_url_buckets=n_url_buckets,
            bucket_expr=bucket_expr,
        )
        if manifest_prune_every and batch_id % manifest_prune_every == manifest_prune_every - 1:
            from extremexp_knowledge_graph_spark.plans.manifest import prune_manifest

            prune_manifest(spark, f"{out_dir}/manifest")

    writer = (
        raw.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
