"""S4 MATERIALIZE — the triple store (A7-A11, E2-E4).

The reference delegates storage/serving to a Fuseki triplestore over HTTP
(extremexp_kg_matic/src/fuseki_client.py:36-72) behind a global write lock
(src/kg_service.py:53,146). Here the store IS a partitioned columnar table;
Spark SQL over it is the serving layer, and concurrency comes from the table
format, not a mutex.

Layout: hash-bucketed by subject (``subj_bucket = pmod(xxhash64(subj), N)``)
so query-side subject joins (G1 star patterns) co-locate, with a salt column
in the shuffle key so hot subjects (``Method_Adam``-class entities,
SURVEY.md §4.2) spread across tasks inside a bucket instead of serializing
one straggler.

Sandbox note: the table format here is directory-partitioned parquet; on a
real deployment these functions target an Iceberg catalog — the Iceberg
DDL/MERGE equivalents are in each docstring (the runtime jar is not in this
container, and nothing can be downloaded). The semantics exercised by tests
(idempotent merge, snapshot, clear, stats) are format-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from extremexp_knowledge_graph_spark.schema import TRIPLE_KEY, TRIPLE_SCHEMA

DEFAULT_BUCKETS = 64
DEFAULT_SALT = 16


def with_layout(triples: DataFrame, n_buckets: int = DEFAULT_BUCKETS, n_salt: int = DEFAULT_SALT) -> DataFrame:
    """Attach layout columns and pre-shuffle for the bucketed write.

    The repartition key includes the salt so one hot subject fans out over
    ``n_salt`` tasks; the on-disk partition is the bucket only.
    Iceberg equivalent: ``PARTITIONED BY (bucket(64, subj))`` + write
    distribution mode hash.
    """
    t = triples.withColumn("subj_bucket", F.pmod(F.xxhash64("subj"), F.lit(n_buckets)))
    t = t.withColumn("_salt", F.pmod(F.xxhash64("subj", "pred", "obj"), F.lit(n_salt)))
    return t.repartition(F.col("subj_bucket"), F.col("_salt")).drop("_salt")


def write_triples(triples: DataFrame, path: str, mode: str = "overwrite", n_buckets: int = DEFAULT_BUCKETS) -> None:
    """A8/A9: materialize the triple table (Iceberg: ``df.writeTo(tbl)``)."""
    with_layout(triples, n_buckets).write.mode(mode).partitionBy("subj_bucket").parquet(path)


def _recover_interrupted_compact(path: str) -> None:
    """Crash recovery for ``compact()``'s two-rename swap: if a crash hit
    between renaming the live store to ``.old`` and the compacted directory
    into place, the store is momentarily absent at ``path`` — restore
    whichever complete copy survives (prefer the compacted one)."""
    if os.path.isdir(path):
        return
    tmp = path.rstrip("/") + ".compacting"
    old = path.rstrip("/") + ".old"
    # _SUCCESS marks a complete Spark write; a partial .compacting dir loses
    if os.path.isdir(tmp) and os.path.isfile(os.path.join(tmp, "_SUCCESS")):
        os.rename(tmp, path)
    elif os.path.isdir(old):
        os.rename(old, path)


def swap_rewrite(path: str, write_fn) -> None:
    """The shared two-rename atomic-swap discipline: ``write_fn(tmp_path)``
    writes the replacement table to ``<path>.compacting``, then the live
    directory is swapped out via rename (crash at any point is healed by
    ``_recover_interrupted_compact`` before the next read). One
    implementation for every rewrite-in-place (store compaction, store
    replacement, manifest retention)."""
    import shutil

    _recover_interrupted_compact(path)
    tmp = path.rstrip("/") + ".compacting"
    old = path.rstrip("/") + ".old"
    write_fn(tmp)
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def read_table(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """The one read rule for every table the pipeline keeps (store, manifest,
    docs, linked, entity map, entity signatures, streaming pages): heal an
    interrupted ``swap_rewrite``, then read with the table's DECLARED schema.
    Only an absent path reads as a typed empty frame, decided by an explicit
    existence check: a broad ``except`` would turn a failed read into "no
    rows" and the caller would act on it (re-run a stage, re-insert a
    batch). The declared schema makes an existing directory with no data
    files (a zero-row write) read as empty too, and fills a column an older
    file lacks with NULL instead of letting one file's footer decide the
    table's columns."""
    _recover_interrupted_compact(path)
    if not os.path.isdir(path):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(path)


def read_triples(spark: SparkSession, path: str) -> DataFrame:
    """A7: the store scan — replaces the SPARQL-over-HTTP result pager
    (src/fuseki_client.py:134-153)."""
    return read_table(spark, path, TRIPLE_SCHEMA).drop("subj_bucket")


def merge_triples(spark: SparkSession, new_triples: DataFrame, path: str, n_buckets: int = DEFAULT_BUCKETS) -> int:
    """E3: idempotent set-merge — only triples not already in the store are
    appended; returns the number inserted.

    Iceberg equivalent:
        MERGE INTO kg.triples t USING new n
        ON t.subj=n.subj AND t.pred=n.pred AND t.obj<=>n.obj
           AND t.obj_is_iri=n.obj_is_iri AND t.obj_datatype<=>n.obj_datatype
        WHEN NOT MATCHED THEN INSERT *
    """
    # null-safe equality: obj_datatype is NULL for plain literals and a
    # plain ON-clause would never match those rows (SQL three-valued
    # logic), making the merge re-insert them forever
    inc = new_triples.dropDuplicates(TRIPLE_KEY).alias("inc")
    ex = read_triples(spark, path).select(*TRIPLE_KEY).alias("ex")
    cond = None
    for k in TRIPLE_KEY:
        c = F.col(f"inc.{k}").eqNullSafe(F.col(f"ex.{k}"))
        cond = c if cond is None else (cond & c)
    incoming = inc.join(ex, cond, "left_anti")
    # Two passes over `incoming` (count + write). Stage to disk rather than
    # localCheckpoint(): block-manager materialization of an unbounded batch
    # OOMs once the batch outgrows executor heap (seen at 100k pages), while
    # a parquet staging dir scales with disk and costs one extra sequential
    # write of exactly the merged delta.
    import shutil

    staging = path.rstrip("/") + ".merge_staging"
    schema = incoming.schema
    incoming.write.mode("overwrite").parquet(staging)
    incoming = spark.read.schema(schema).parquet(staging)
    n = incoming.count()
    if n:
        with_layout(incoming, n_buckets).write.mode("append").partitionBy("subj_bucket").parquet(path)
    shutil.rmtree(staging, ignore_errors=True)
    return n


def compact(
    spark: SparkSession,
    path: str,
    n_buckets: int = DEFAULT_BUCKETS,
    max_records_per_file: int = 2_000_000,
) -> tuple[int, int]:
    """Small-file compaction: rewrite the store so each bucket holds few
    right-sized files instead of one file per historical merge batch.

    Every ``merge_triples`` append adds ≥1 file per touched bucket, so a
    store that has absorbed thousands of incremental batches degrades into
    millions of tiny files — scan planning and footer reads come to dominate
    (the classic streaming-ingest failure mode). This is the plain-parquet
    analogue of Iceberg's ``rewrite_data_files`` maintenance action, minus
    the snapshot isolation Iceberg would give the swap.

    Rewrites into ``path + ".compacting"`` then swaps directories with two
    sequential renames. The swap is NOT one atomic operation: a crash (or a
    concurrent reader racing the swap) can observe a moment with no store at
    ``path`` — ``_recover_interrupted_compact`` (run here and by
    ``read_triples``) heals that by restoring whichever complete copy
    survives. True snapshot-isolated swaps are what the Iceberg catalog
    commit provides on a real deployment. Returns (files_before,
    files_after).
    """
    import glob

    _recover_interrupted_compact(path)
    files_before = len(glob.glob(os.path.join(path, "*", "*.parquet")))
    df = read_table(spark, path, TRIPLE_SCHEMA)
    swap_rewrite(
        path,
        lambda tmp: (
            df.repartition(n_buckets, F.col("subj_bucket"))
            .sortWithinPartitions("subj")  # clustering: subject point-lookups prune row groups
            .write.mode("overwrite")
            .option("maxRecordsPerFile", max_records_per_file)
            .partitionBy("subj_bucket")
            .parquet(tmp)
        ),
    )
    files_after = len(glob.glob(os.path.join(path, "*", "*.parquet")))
    return files_before, files_after


def replace_store(
    spark: SparkSession, triples: DataFrame, path: str, n_buckets: int = DEFAULT_BUCKETS
) -> None:
    """Atomically replace the store's contents with ``triples`` (which may
    read FROM the store — source and target directories differ until the
    swap). Same two-rename ``.compacting`` swap + recovery discipline as
    ``compact``; Iceberg form is ``REPLACE TABLE ... AS SELECT`` (one
    snapshot commit). Used by migrations that rewrite rows in place —
    e.g. ``reconcile_canonicalization``'s IRI moves."""
    swap_rewrite(
        path,
        lambda tmp: with_layout(triples, n_buckets)
        .write.mode("overwrite")
        .partitionBy("subj_bucket")
        .parquet(tmp),
    )


def snapshot(spark: SparkSession, path: str, snapshot_path: str) -> str:
    """A11: backup — a full copy in the sandbox; Iceberg gives this for free
    via time-travel snapshots (no copy)."""
    read_table(spark, path, TRIPLE_SCHEMA).write.mode("overwrite").parquet(snapshot_path)
    return snapshot_path


def clear(spark: SparkSession, path: str) -> None:
    """A10 destructive clear — ``CLEAR ALL`` (src/fuseki_client.py:155-185)
    ≡ ``TRUNCATE TABLE``. Sandbox form drops the table directory; Iceberg
    form is ``TRUNCATE`` with the snapshot making it reversible.

    Also removes the ``.compacting``/``.old``/``.merge_staging``/
    ``.delta_staging`` siblings a crash-interrupted ``compact()``/
    ``merge_triples()``/S3-delta pass may have left — otherwise
    ``_recover_interrupted_compact`` would see the cleared path as an
    interrupted swap and resurrect the truncated data (and a cleared
    entity-map path would keep stale delta staging around)."""
    import shutil

    base = path.rstrip("/")
    for p in (
        base,
        base + ".compacting",
        base + ".old",
        base + ".merge_staging",
        base + ".delta_staging",
    ):
        shutil.rmtree(p, ignore_errors=True)


def stats(spark: SparkSession, path: str) -> DataFrame:
    """E4 generalized: per-predicate counts (total = sum)."""
    return read_triples(spark, path).groupBy("pred").agg(F.count("*").alias("n")).orderBy(F.desc("n"))
