"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``   — flagship: full KG construction over the sf0.001
                     documents table (extract → triples → dedup).
``queries()``      — one entry per implemented operator family from
                     SURVEY.md §2 (keys prefixed kg_/text_/dedup_/ann_/
                     sql_/events_ map to operator ids in the docstrings).
``oracle_sql()``   — DuckDB-runnable ANSI SQL equivalents for EVERY query,
                     including the pandas-UDF kernels: simhash via md5
                     arithmetic in SQL, LSH-ANN via the hyperplane constants
                     embedded as float64 literals (sign-of-dot is
                     numerically safe: min |dot| ≈ 6e-5 on this corpus vs
                     ~1e-15 fold-order error).

Column names are aliased identically on both sides; float results are
rounded to 6 decimals on both sides; dot products fold left-to-right in
DOUBLE on both sides (Spark ``aggregate`` vs DuckDB ``list_reduce``) so
value hashes agree bit-for-bit.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DEFAULT = "/root/testdata/sf0.001"

#: gazetteer for the mention-extraction demo queries (subset of the
#: documents-table vocabulary, so matches actually occur)
DOC_GAZETTEER = ["spark", "hash", "join", "filter", "merge", "scan", "vector"]
SVO_GAZ_SQL = ", ".join(f"('{g}')" for g in DOC_GAZETTEER)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sandbox inputs are single-row-group files → unsplittable one-task scans;
    # widen before the CPU-heavy extraction stages (no-op on real multi-split inputs)
    from extremexp_knowledge_graph_spark.sources.util import ensure_min_parallelism

    return ensure_min_parallelism(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from extremexp_knowledge_graph_spark.sources.util import ensure_min_parallelism

    return ensure_min_parallelism(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """KG construction end-to-end on sf0.001 documents: line decomposition
    (F1) + SVO extraction (F2) + gazetteer mentions (S2 seed) → union →
    set-dedup (E2) — the materialization-ready triple set."""
    return _kg_triples(spark, SF_DEFAULT)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------
def _q_kg_line_triples(spark, sf_dir):
    """A1+C explodes as F1 line decomposition (src/utils.py:44-65)."""
    from extremexp_knowledge_graph_spark.operators.pattern_extract import line_triples

    return line_triples(_docs(spark, sf_dir)).select("subj", "pred", "obj")


def _q_kg_svo_triples(spark, sf_dir):
    """F2 SVO extraction (src/utils.py:67-106); ' the '→' is ' injects verb
    tokens so the pattern fires on the synthetic corpus — same rewrite on
    the oracle side."""
    from extremexp_knowledge_graph_spark.operators.pattern_extract import svo_triples

    docs = _docs(spark, sf_dir).withColumn(
        "text", F.replace(F.col("text"), F.lit(" the "), F.lit(" is "))
    )
    return svo_triples(docs).select("subj", "pred", "obj")


def _q_kg_mentions(spark, sf_dir):
    """Gazetteer mention extraction (S2 candidate generation)."""
    from extremexp_knowledge_graph_spark.operators.pattern_extract import gazetteer_mentions

    return gazetteer_mentions(_docs(spark, sf_dir), DOC_GAZETTEER).select("subj", "pred", "obj")


def _q_kg_linked_mentions(spark, sf_dir):
    """The full two-stage entity linker (S2, operators/linker.py): alias
    candidate generation over the DOC_GAZETTEER dimension, TF-IDF cosine +
    anchor-prior scoring, argmax per mention. Each gazetteer surface also
    has a decoy candidate (same alias, same context, lower prior) so the
    ranking window genuinely selects. The oracle replays the whole scoring
    relation in SQL — tf, smoothed idf, token-sorted deterministic norm and
    cosine folds (list_reduce over list(... ORDER BY tok)), score blend,
    QUALIFY rank — so the linker's math is hash-checked end to end."""
    from extremexp_knowledge_graph_spark.operators.linker import link_mentions

    aliases = spark.createDataFrame(
        [(g, g, 1.0, g) for g in DOC_GAZETTEER]
        + [(g, g + "#alt", 0.5, g) for g in DOC_GAZETTEER],
        ["alias", "entity_id", "prior", "context"],
    )
    return link_mentions(_docs(spark, sf_dir), aliases, alpha=0.7)


def _kg_triples(spark, sf_dir):
    """The one constructed-triple DAG: ``entry()``, bench.py's kg_construct
    legs, and kg_pred_counts / kg_degree_topk / kg_pagerank — whose DuckDB
    oracles are string-spliced from ONE template (ORACLE["kg_pred_counts"]),
    so the Spark side must be built in exactly one place too or an edit
    desynchronizes a query from the shared oracle universe."""
    from extremexp_knowledge_graph_spark.operators.pattern_extract import (
        gazetteer_mentions,
        line_triples,
        svo_triples,
    )
    from extremexp_knowledge_graph_spark.schema import TRIPLE_KEY

    docs = _docs(spark, sf_dir)
    svo_docs = docs.withColumn("text", F.replace(F.col("text"), F.lit(" the "), F.lit(" is ")))
    return (
        line_triples(docs)
        .unionByName(svo_triples(svo_docs))
        .unionByName(gazetteer_mentions(docs, DOC_GAZETTEER))
        .dropDuplicates(TRIPLE_KEY)
    )


def _q_kg_pred_counts(spark, sf_dir):
    """E4 stats aggregate over the full constructed triple set."""
    return _kg_triples(spark, sf_dir).groupBy("pred").agg(
        F.count("*").cast("long").alias("n")
    )


def _q_kg_doc_mention_stats(spark, sf_dir):
    """G1/G2-style entity view over mention triples: per-document mention
    count + lexicographically first term (OPTIONAL ≡ left join: documents
    with zero mentions appear with n_mentions=0)."""
    from extremexp_knowledge_graph_spark.operators.pattern_extract import gazetteer_mentions

    docs = _docs(spark, sf_dir)
    m = gazetteer_mentions(docs, DOC_GAZETTEER)
    agg = m.groupBy("subj").agg(
        F.count("*").cast("long").alias("n_mentions"), F.min("obj").alias("first_term")
    )
    base = docs.select(
        F.concat(F.lit("http://example.org/document_"), F.col("doc_id").cast("string")).alias("subj")
    )
    return base.join(agg, "subj", "left").select(
        "subj",
        F.coalesce("n_mentions", F.lit(0).cast("long")).alias("n_mentions"),
        "first_term",
    )


def _q_kg_class_counts(spark, sf_dir):
    """E4/G6 per-class instance counts over the constructed triple table
    (plans/queries.py::count_by_class — the health-check aggregate family,
    src/fuseki_client.py:111-132 generalized)."""
    from extremexp_knowledge_graph_spark.operators.pattern_extract import line_triples
    from extremexp_knowledge_graph_spark.plans.queries import count_by_class

    return count_by_class(line_triples(_docs(spark, sf_dir)))


def _q_kg_paper_details(spark, sf_dir):
    """The reference's one checked-in query shape (extremexp_kg_matic/
    sparql_queries/query_paper_details.rq:1-15: star pattern, three
    OPTIONALs, ORDER, LIMIT) driven through the real entity_view/
    paper_details plan (plans/queries.py:27,48) over paper-shaped triples
    deterministically minted from the documents table — pdfUrl/pwcUrl exist
    only for doc_id%3==0 / %5==0, so the OPTIONAL (left-join) legs actually
    produce null rows."""
    from extremexp_knowledge_graph_spark.plans.queries import paper_details
    from extremexp_knowledge_graph_spark.schema import (
        CLS_PAPER,
        P_PDF_URL,
        P_PWC_URL,
        P_TITLE,
        P_YEAR,
        RDF_TYPE,
    )

    d = _docs(spark, sf_dir).select(
        F.concat(F.lit("http://example.org/paper_"), F.col("doc_id").cast("string")).alias("subj"),
        F.col("doc_id"),
        F.substring_index(F.col("text"), "\n", 1).alias("title"),
        (F.lit(1990) + F.col("doc_id") % 30).cast("string").alias("year"),
    )
    t = (
        d.select("subj", F.lit(RDF_TYPE).alias("pred"), F.lit(CLS_PAPER).alias("obj"))
        .unionByName(d.select("subj", F.lit(P_TITLE).alias("pred"), F.col("title").alias("obj")))
        .unionByName(d.select("subj", F.lit(P_YEAR).alias("pred"), F.col("year").alias("obj")))
        .unionByName(
            d.where(F.col("doc_id") % 3 == 0).select(
                "subj",
                F.lit(P_PDF_URL).alias("pred"),
                F.concat(F.lit("http://pdf.example.org/"), F.col("doc_id").cast("string")).alias("obj"),
            )
        )
        .unionByName(
            d.where(F.col("doc_id") % 5 == 0).select(
                "subj",
                F.lit(P_PWC_URL).alias("pred"),
                F.concat(F.lit("http://pwc.example.org/"), F.col("doc_id").cast("string")).alias("obj"),
            )
        )
    )
    return paper_details(t, limit=10)


def _mint_papers(docs: DataFrame) -> DataFrame:
    """Deterministic paper-shaped rows (schema.PAPER_SCHEMA) minted from the
    documents table, engineered so every branch of the flagship mapper
    (operators/papers_to_triples.py — SURVEY §2 C/D families) fires AND every
    scalar kernel output is bit-replayable in DuckDB:

    * titles cover NULL (→'Unknown' URI), '' (→'unknown'), punctuation strip
      + whitespace collapse + trim, and the all-special 'sanitized_empty'
      branch — alphabet restricted to chars where Python (?U)\\w/\\s and RE2
      ASCII classes agree (ASCII + '±', which both engines strip);
    * urls cover valid arXiv ids (YY<90→20YY, ≥90→19YY), INVALID arXiv
      months falling through to the last-standalone-year rule, no-year urls
      (pdfUrl without year triple), and '' (no pdfUrl at all);
    * year==0 and NULL year are dropped (Python truthiness, B3);
    * metric values cover %→/100, plain decimal, int→'x.0', trailing-zero
      canonicalization ('58.10'→'58.1'), the unparseable→string fallback,
      and ''→no triple — all magnitudes inside the range where DuckDB's
      shortest-roundtrip DOUBLE::VARCHAR equals Python repr (verified in the
      oracle);
    * ranks cover int parse, ValueError→dropped, ''→dropped.
    """
    d = F.col("doc_id")

    def pick(lst, idx):
        return F.element_at(F.array(*[F.lit(x) for x in lst]), (idx + 1).cast("int"))

    w1 = pick(["Neural", "Bayesian", "Convex", "Sparse", "Quantum"], d % 5)
    w2 = pick(["Networks", "Inference", "Optimization", "Coding"], d % 4)
    title = (
        F.when(d % 7 == 0, F.lit(None).cast("string"))
        .when(d % 7 == 1, F.lit(""))
        .when(d % 7 == 2, F.concat(F.lit("  Deep & Fast: Study "), d.cast("string"), F.lit("  ")))
        .when(d % 7 == 3, F.lit("@@##$$"))
        .otherwise(F.concat(F.lit("Survey of "), w1, F.lit(" "), w2, F.lit(" "), d.cast("string")))
    )
    year = (
        F.when(d % 6 == 0, F.lit(0)).when(d % 6 == 1, F.lit(None)).otherwise((F.lit(1990) + d % 30))
    ).cast("int")
    yy = F.lpad((d % 100).cast("string"), 2, "0")
    mm = F.lpad((1 + d % 14).cast("string"), 2, "0")
    url = (
        F.when(d % 4 == 0, F.concat(F.lit("https://arxiv.org/pdf/"), yy, mm, F.lit("."), (d + 10000).cast("string"), F.lit("v1.pdf")))
        .when(d % 4 == 1, F.concat(F.lit("http://proceedings.example.org/"), (F.lit(1950) + d % 100).cast("string"), F.lit("/paper"), d.cast("string"), F.lit(".pdf")))
        .when(d % 4 == 2, F.concat(F.lit("http://no-year.example.org/paper"), d.cast("string"), F.lit(".pdf")))
        .otherwise(F.lit(""))
    )
    origin = F.when(d % 5 == 0, F.concat(F.lit("https://paperswithcode.com/paper/p"), d.cast("string"))).otherwise(F.lit(""))
    empty = F.array().cast("array<string>")
    tasks = (
        F.when(d % 3 == 0, F.array(F.lit("Image Classification")))
        .when(d % 3 == 1, F.array(F.lit("Speech Recognition"), F.lit("Image Classification")))
        .otherwise(empty)
    )
    datasets = (
        F.when(d % 4 == 0, F.array(F.lit("ImageNet-1k")))
        .when(d % 4 == 1, F.array(F.lit("CIFAR 10"), F.lit("MNIST")))
        .otherwise(empty)
    )
    methods = (
        F.when(d % 5 == 0, F.array(F.lit("Adam ± SGD")))
        .when(d % 5 == 1, F.array(F.lit("Dropout")))
        .when(d % 5 == 2, F.array(F.lit("Batch Norm.")))
        .otherwise(empty)
    )

    def result_struct(i: int):
        return F.struct(
            pick(["Image Classification", "", "Object Detection"], (d + i) % 3).alias("task"),
            pick(["ImageNet-1k", "COCO", ""], (d + i) % 3).alias("dataset"),
            pick(["ResNet-50 (ours)", "", "ViT B/16"], (d + 2 * i) % 3).alias("model"),
            pick(["Accuracy", "Top-1 Error", ""], (d + i) % 3).alias("metric"),
            pick(["92.5%", "0.873", "11030210", "state-of-the-art", "", "58.10"], (d + i) % 6).alias("value"),
            pick(["3", "N/A", "", "12"], (d + i) % 4).alias("rank"),
        )

    results = F.slice(F.array(result_struct(0), result_struct(1)), 1, (d % 3).cast("int"))
    return docs.select(
        title.alias("title"),
        year.alias("year"),
        url.alias("url"),
        origin.alias("origin"),
        tasks.alias("tasks"),
        datasets.alias("datasets"),
        methods.alias("methods"),
        results.alias("results"),
        F.lit(None).cast("string").alias("prov"),
    )


def _q_kg_papers_triples(spark, sf_dir):
    """The flagship papers→triples mapper (C1-C6, D1-D9, B3-B4, E2;
    operators/papers_to_triples.py::papers_to_triples — the Spark
    re-expression of extremexp_kg_matic/src/utils.py:209-365) run over
    deterministically minted paper rows; the oracle replays every branch and
    every scalar kernel (sanitize/year/value/rank) in DuckDB SQL.
    obj_is_iri is cast to int on both sides for engine-neutral hashing."""
    from extremexp_knowledge_graph_spark.operators.papers_to_triples import papers_to_triples

    t = papers_to_triples(_mint_papers(_docs(spark, sf_dir)))
    return t.select(
        "subj", "pred", "obj", F.col("obj_is_iri").cast("int").alias("obj_is_iri"), "obj_datatype"
    )


def _q_kg_entity_view_sets(spark, sf_dir):
    """Set-valued star pattern (G1 multi-valued variant; plans/queries.py::
    entity_view_sets): per paper the FULL sorted sets of mentioned tasks/
    datasets/employed methods over the flagship mapper's triples. Sets are
    array_join'd to '|' strings for engine-neutral hashing (empty set → '')."""
    from extremexp_knowledge_graph_spark.operators.papers_to_triples import papers_to_triples
    from extremexp_knowledge_graph_spark.plans.queries import entity_view_sets
    from extremexp_knowledge_graph_spark.schema import (
        CLS_PAPER,
        P_EMPLOYS_METHOD,
        P_MENTIONS_DATASET,
        P_MENTIONS_TASK,
    )

    # Stage the triples once: the production shape is entity_view over the
    # MATERIALIZED store (one scan); without staging, the view's members/
    # pivot branches would each re-derive the whole mapper subtree (35
    # parquet scans observed vs 2 staged).
    t = papers_to_triples(_mint_papers(_docs(spark, sf_dir))).localCheckpoint()
    v = entity_view_sets(
        t,
        CLS_PAPER,
        {"tasks": P_MENTIONS_TASK, "datasets": P_MENTIONS_DATASET, "methods": P_EMPLOYS_METHOD},
    )
    empty = F.array().cast("array<string>")
    return v.select(
        "subj",
        F.array_join(F.coalesce("tasks", empty), "|").alias("tasks"),
        F.array_join(F.coalesce("datasets", empty), "|").alias("datasets"),
        F.array_join(F.coalesce("methods", empty), "|").alias("methods"),
    )


def _q_multimodal_features(spark, sf_dir):
    """Multimodal decode plumbing through the REAL Arrow mapInPandas kernel
    (operators/multimodal.py::decode_features): documents' utf-8 bytes stand
    in for media payloads (no image/audio codec in this container — the
    kernel is the documented deterministic stub), features exploded to
    scalar rows and re-rounded in double for engine-portable hashing."""
    from extremexp_knowledge_graph_spark.operators.multimodal import decode_features

    media = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"),
        F.coalesce(F.col("text"), F.lit("")).cast("binary").alias("media"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("image/png"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio/wav"))
        .otherwise(F.lit("video/mp4"))
        .alias("mime"),
        F.create_map(F.lit("source"), F.lit("documents")).alias("meta"),
    )
    feats = decode_features(media, dim=8)
    return feats.select(
        "media_id",
        "mime",
        "n_bytes",
        "digest",
        F.posexplode("feature").alias("dim_i", "v"),
    ).select(
        "media_id",
        "mime",
        "n_bytes",
        "digest",
        F.col("dim_i").cast("long").alias("dim_i"),
        F.round(F.col("v").cast("double"), 6).alias("v"),
    )


def _q_multimodal_decode(spark, sf_dir):
    """REAL image decode (operators/multimodal.py::decode_image): documents'
    doc_ids mint valid PPM/BMP/PNG files (pixels = md5 stream of
    (seed, id); PNG zlib-compressed with all five scanline filters), the
    Arrow kernel decodes them — undoing the BMP bottom-up/padding/BGR
    layout and reconstructing the PNG filter predictors — and the query
    aggregates per-channel means plus a position-weighted checksum. The
    oracle recomputes the SAME pixels arithmetically from the md5 formula
    (an independent derivation, not a decoder replay), so a decoder that
    misparses headers, forgets the BGR swap (channel means swap), the row
    flip (checksum shifts) or any PNG unfilter predictor fails the hash."""
    from extremexp_knowledge_graph_spark.operators.multimodal import (
        decode_image,
        images_from_ids,
    )

    media = images_from_ids(_docs(spark, sf_dir).select(F.col("doc_id").alias("id")))
    dec = decode_image(media)
    px = dec.select("media_id", "fmt", "w", "h", F.posexplode("pixels").alias("j", "v"))
    npx = F.col("w") * F.col("h")
    return px.groupBy("media_id", "fmt", "w", "h").agg(
        F.count("*").cast("long").alias("n_px"),
        F.round(F.sum(F.when(F.col("j") % 3 == 0, F.col("v"))).cast("double") / npx, 6).alias("mean_r"),
        F.round(F.sum(F.when(F.col("j") % 3 == 1, F.col("v"))).cast("double") / npx, 6).alias("mean_g"),
        F.round(F.sum(F.when(F.col("j") % 3 == 2, F.col("v"))).cast("double") / npx, 6).alias("mean_b"),
        F.sum((F.col("j") + 1) * F.col("v").cast("long")).cast("long").alias("checksum"),
    ).select(
        "media_id", "fmt",
        F.col("w").cast("int").alias("w"), F.col("h").cast("int").alias("h"),
        "n_px", "mean_r", "mean_g", "mean_b", "checksum",
    )


def _q_multimodal_gif(spark, sf_dir):
    """REAL GIF decode through our own LZW (operators/multimodal.py::
    _decode_gif): grayscale GIF87a files whose pixel indices are the md5
    stream; decoding maps indices through the identity-gray palette, so
    RGB pixel j = stream byte j // 3. The oracle derives that byte
    arithmetically — a decoder that mispacks LZW bit widths, drops the
    KwKwK case, or miswalks sub-blocks fails the hash."""
    from extremexp_knowledge_graph_spark.operators.multimodal import (
        decode_image,
        gifs_from_ids,
    )

    media = gifs_from_ids(_docs(spark, sf_dir).select(F.col("doc_id").alias("id")))
    dec = decode_image(media)
    px = dec.select("media_id", "fmt", "w", "h", F.posexplode("pixels").alias("j", "v"))
    npx = F.col("w") * F.col("h")
    return px.groupBy("media_id", "fmt", "w", "h").agg(
        F.count("*").cast("long").alias("n_px"),
        F.round(F.sum("v").cast("double") / (npx * 3), 6).alias("mean_gray"),
        F.sum((F.col("j") + 1) * F.col("v").cast("long")).cast("long").alias("checksum"),
    ).select(
        "media_id", "fmt",
        F.col("w").cast("int").alias("w"), F.col("h").cast("int").alias("h"),
        "n_px", "mean_gray", "checksum",
    )


def _q_multimodal_jpeg(spark, sf_dir):
    """REAL baseline JPEG decode through our own Huffman+IDCT
    (operators/multimodal.py::_decode_jpeg): standard JFIF files minted in
    coefficient space (per-block quantized DC = md5-stream byte - 128, flat
    ×16 quant table), cycling grayscale / 4:4:4 / 4:2:0 by id. A DC-only
    block IDCTs to a flat 8×8 at exactly clamp(2*byte-128), so the oracle
    re-derives every pixel arithmetically (block-grid lookup + JFIF color
    convert with floor(x+0.5)) — a decoder that misparses DHT/SOF, breaks
    the DC prediction chain, mismaps 4:2:0 sub-blocks, or upsamples wrong
    fails the hash. The general AC path is pinned separately in pytest
    against a brute-force IDCT."""
    from extremexp_knowledge_graph_spark.operators.multimodal import (
        decode_image,
        jpegs_from_ids,
    )

    media = jpegs_from_ids(_docs(spark, sf_dir).select(F.col("doc_id").alias("id")))
    dec = decode_image(media)
    px = dec.select("media_id", "fmt", "w", "h", F.posexplode("pixels").alias("j", "v"))
    npx = F.col("w") * F.col("h")
    return px.groupBy("media_id", "fmt", "w", "h").agg(
        F.count("*").cast("long").alias("n_px"),
        F.round(F.sum("v").cast("double") / (npx * 3), 6).alias("mean_val"),
        F.sum((F.col("j") + 1) * F.col("v").cast("long")).cast("long").alias("checksum"),
    ).select(
        "media_id", "fmt",
        F.col("w").cast("int").alias("w"), F.col("h").cast("int").alias("h"),
        "n_px", "mean_val", "checksum",
    )


def _q_multimodal_resize(spark, sf_dir):
    """The decode+resize path: same three-format image table, decoded with
    nearest-neighbor resize to 3x2. The oracle replays the index gather —
    output pixel (r,c) reads source pixel ((r*src_h)//2, (c*src_w)//3) —
    directly against the md5 pixel formula, so a kernel that resizes after
    a wrong decode, or gathers with round instead of floor, fails."""
    from extremexp_knowledge_graph_spark.operators.multimodal import (
        decode_image,
        images_from_ids,
    )

    media = images_from_ids(_docs(spark, sf_dir).select(F.col("doc_id").alias("id")))
    dec = decode_image(media, width=3, height=2)
    px = dec.select("media_id", "fmt", "src_w", "src_h", F.posexplode("pixels").alias("j", "v"))
    return px.groupBy("media_id", "fmt", "src_w", "src_h").agg(
        F.count("*").cast("long").alias("n_px"),
        F.round(F.sum(F.when(F.col("j") % 3 == 0, F.col("v"))).cast("double") / 6, 6).alias("mean_r"),
        F.round(F.sum(F.when(F.col("j") % 3 == 2, F.col("v"))).cast("double") / 6, 6).alias("mean_b"),
        F.sum((F.col("j") + 1) * F.col("v").cast("long")).cast("long").alias("checksum"),
    ).select(
        "media_id", "fmt",
        F.col("src_w").cast("int").alias("src_w"), F.col("src_h").cast("int").alias("src_h"),
        "n_px", "mean_r", "mean_b", "checksum",
    )


def _q_multimodal_audio(spark, sf_dir):
    """REAL audio decode (operators/multimodal.py::decode_audio): documents'
    doc_ids mint valid mono PCM-16 WAV files (samples = md5 stream read as
    little-endian int16), the Arrow kernel parses the RIFF/fmt/data chunks,
    and the query aggregates exact integer sample statistics (sum, energy,
    sign flips) plus a rounded mean. The oracle re-derives each sample from
    the md5 digests arithmetically — a decoder that misreads chunk bounds,
    byte order, or signedness fails the hash."""
    from pyspark.sql import Window

    from extremexp_knowledge_graph_spark.operators.multimodal import (
        audio_from_ids,
        decode_audio,
    )

    media = audio_from_ids(_docs(spark, sf_dir).select(F.col("doc_id").alias("id")))
    dec = decode_audio(media)
    s = dec.select(
        "media_id", "sample_rate", "n_samples", F.posexplode("samples").alias("j", "fv")
    ).withColumn("v", F.col("fv").cast("long"))
    s = s.withColumn(
        "prev", F.lag("v").over(Window.partitionBy("media_id").orderBy("j"))
    )
    return s.groupBy("media_id", "sample_rate", "n_samples").agg(
        F.sum("v").cast("long").alias("sum_amp"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("sum_sq"),
        F.sum(
            F.when(
                F.col("prev").isNotNull() & ((F.col("v") < 0) != (F.col("prev") < 0)), 1
            ).otherwise(0)
        ).cast("long").alias("sign_flips"),
        F.round(F.sum("v").cast("double") / F.col("n_samples"), 6).alias("mean_amp"),
    )


def _q_multimodal_video(spark, sf_dir):
    """REAL video frame sampling (operators/multimodal.py::
    sample_video_frames): documents' doc_ids mint valid YUV4MPEG2 streams,
    the Arrow kernel walks the FRAME markers and stride-samples every
    0.25 s (= every max(1, floor(0.25*fps + 0.5)) frames — half-up, so the
    oracle replays the stride exactly), and the query aggregates exact
    integer plane sums + a position checksum per sampled frame. The oracle
    re-derives the plane bytes arithmetically from the md5 stream — a
    kernel that misparses the header, miscounts frame offsets, or samples
    the wrong stride fails the hash."""
    from extremexp_knowledge_graph_spark.operators.multimodal import (
        sample_video_frames,
        videos_from_ids,
    )

    media = videos_from_ids(_docs(spark, sf_dir).select(F.col("doc_id").alias("id")))
    fr = sample_video_frames(media, every_n_seconds=0.25)
    px = fr.select(
        "media_id", "frame_idx", "n_frames", "fps", "w", "h",
        F.posexplode("planes").alias("j", "fv"),
    ).withColumn("v", F.col("fv").cast("long"))
    wh = F.col("w") * F.col("h")
    return px.groupBy("media_id", "frame_idx", "n_frames", "fps", "w", "h").agg(
        F.sum(F.when(F.col("j") < wh, F.col("v"))).cast("long").alias("y_sum"),
        F.sum(F.when((F.col("j") >= wh) & (F.col("j") < 2 * wh), F.col("v"))).cast("long").alias("u_sum"),
        F.sum(F.when(F.col("j") >= 2 * wh, F.col("v"))).cast("long").alias("v_sum"),
        F.sum((F.col("j") + 1) * F.col("v")).cast("long").alias("checksum"),
    ).select(
        "media_id", "frame_idx",
        F.round(F.col("frame_idx").cast("double") / F.col("fps"), 6).alias("frame_ts"),
        "n_frames", "fps", "w", "h", "y_sum", "u_sum", "v_sum", "checksum",
    )


def _q_text_stats(spark, sf_dir):
    """D-family text kernels: token/stopword/punct counts + quality score."""
    from extremexp_knowledge_graph_spark.functions import text as T

    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        T.stopword_count(F.col("text")).alias("n_stopwords"),
        T.quality_score(F.col("text")).alias("quality"),
    )


def _q_text_topk_per_lang(spark, sf_dir):
    """Window-function surface (G7 generalized): top-3 documents per language
    by quality score, ties broken on doc_id — rank/partition semantics over
    the same text kernels as text_stats."""
    from pyspark.sql.window import Window

    stats = _q_text_stats(spark, sf_dir).select("doc_id", "quality")
    langs = _docs(spark, sf_dir).select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        stats.join(langs, "doc_id")
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .select("lang", "doc_id", "quality", "rnk")
    )


def _q_text_token_counts(spark, sf_dir):
    """Token counting two ways (training-data length budgeting): whitespace
    split and the BPE-ish GPT-2-style pre-tokenizer piece count."""
    from extremexp_knowledge_graph_spark.functions import text as T

    return _docs(spark, sf_dir).select(
        "doc_id",
        T.whitespace_token_count(F.col("text")).alias("n_ws_tokens"),
        T.bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


def _q_text_lang_id(spark, sf_dir):
    from extremexp_knowledge_graph_spark.functions import text as T

    return _docs(spark, sf_dir).select("doc_id", T.lang_id(F.col("text")).alias("lang_guess"))


def _q_text_fingerprint(spark, sf_dir):
    from extremexp_knowledge_graph_spark.functions import text as T

    return _docs(spark, sf_dir).select("doc_id", T.fingerprint(F.col("text")).alias("fp"))


def _q_text_vocab_topk(spark, sf_dir):
    """Corpus vocabulary: token frequencies over every document (the
    training-data staple behind tokenizer fitting and stopword discovery) —
    explode + one hash-shuffle on token with map-side partial counts, top
    100 by count with lexicographic tie-break."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        F.explode(F.expr(r"regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).alias("tok")
    )
    return (
        toks.groupBy("tok")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(100)
    )


def _q_sample_uniform(spark, sf_dir):
    """Deterministic md5-threshold sampling (training-data curation;
    membership a pure function of doc_id — engine/partitioning/rerun
    stable, predicate verbatim in the oracle)."""
    from extremexp_knowledge_graph_spark.operators.sampling import deterministic_sample

    return deterministic_sample(_docs(spark, sf_dir), 0.1).select("doc_id")


def _q_sample_stratified(spark, sf_dir):
    """Per-language deterministic sampling (corpus balancing): en kept at
    5%, de at 50%, other languages at the 20% default — one scan, the
    per-stratum threshold is a literal CASE."""
    from extremexp_knowledge_graph_spark.operators.sampling import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir), {"en": 0.05, "de": 0.5}, strata_col="lang", default_frac=0.2
    ).select("doc_id", "lang")


def _q_text_curation(spark, sf_dir):
    """The canonical training-data cleaning composition: exact-dedup keepers
    ∩ quality floor ∩ confident language id — one pass over documents plus
    the dedup keeper semi-join."""
    from extremexp_knowledge_graph_spark.functions import text as T
    from extremexp_knowledge_graph_spark.operators.dedup import exact_dup_groups

    d = _docs(spark, sf_dir)
    keep = exact_dup_groups(d).select(F.col("keeper_id").alias("doc_id"))
    return (
        d.join(keep, "doc_id", "left_semi")
        .select(
            "doc_id",
            T.quality_score(F.col("text")).alias("quality"),
            T.lang_id(F.col("text")).alias("lang_guess"),
        )
        .where((F.col("quality") >= 0.3) & (F.col("lang_guess") != "und"))
    )


def _q_dedup_exact(spark, sf_dir):
    from extremexp_knowledge_graph_spark.operators.dedup import exact_dup_groups

    return exact_dup_groups(_docs(spark, sf_dir))


def _q_dedup_minhash(spark, sf_dir):
    """MinHash-LSH blocked near-dup pairs, Jaccard-verified (E1 web mode)."""
    from extremexp_knowledge_graph_spark.operators.dedup import minhash_dedup_pairs

    return minhash_dedup_pairs(
        _docs(spark, sf_dir), threshold=0.5, num_hashes=8, bands=4, n=3
    )


def _q_dedup_ngram_jaccard(spark, sf_dir):
    from extremexp_knowledge_graph_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.5)


def _q_dedup_simhash(spark, sf_dir):
    """SimHash near-dup (vectorized numpy kernel; oracled bit-exactly in SQL)."""
    from extremexp_knowledge_graph_spark.operators.dedup import simhash_near_pairs

    return simhash_near_pairs(_docs(spark, sf_dir), max_hamming=16)


def _q_kg_canonicalize(spark, sf_dir):
    """S3 canonicalization end-to-end (E1 web mode): MinHash-LSH blocking →
    Jaccard verify → connected components → canonical id per entity. Driven
    over the documents table (text = surface form); oracle replicates the
    blocking SQL and resolves components with a recursive CTE."""
    from extremexp_knowledge_graph_spark.operators.canonicalize import canonicalize_entities

    ents = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("entity_id"), F.col("text").alias("name")
    )
    return canonicalize_entities(ents, threshold=0.5, num_hashes=8, bands=4, shingle_n=3)


def _q_kg_canonicalize_incr(spark, sf_dir):
    """E1 incremental mode (operators/canonicalize.py::
    canonicalize_entities_incremental): even-doc_id entities are the already-
    canonicalized history (full batch fit), odd-doc_id entities arrive as the
    new ingest batch. Adoption via ONE cross-set LSH band join (the history
    never self-joins), within-batch transitivity via CC, stability contract.
    The oracle replays blocking + Jaccard + both closures + the adoption
    resolution in recursive SQL."""
    from extremexp_knowledge_graph_spark.operators.canonicalize import (
        canonicalize_entities,
        canonicalize_entities_incremental,
    )

    ents = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("entity_id"), F.col("text").alias("name")
    )
    old = ents.where(F.col("entity_id") % 2 == 0)
    new = ents.where(F.col("entity_id") % 2 == 1)
    emap_old = canonicalize_entities(old, threshold=0.5, num_hashes=8, bands=4, shingle_n=3)
    return canonicalize_entities_incremental(
        new, old, emap_old, threshold=0.5, num_hashes=8, bands=4, shingle_n=3
    )


def _q_dedup_paragraph(spark, sf_dir):
    """CCNet-style paragraph-level dedup (operators/dedup.py::
    paragraph_dedup): paragraphs whose whitespace-normalized fingerprint
    occurs in >1 document are scrubbed from every document; survivors
    reassemble in order — the boilerplate scrub document-level dedup can't
    do. The documents table is single-line, so paragraph structure is
    minted deterministically: a newsletter banner shared by ALL docs
    (dropped everywhere), the doc's own body (unique, kept), and a footer
    shared by even doc_ids (dropped) vs a per-doc colophon on odd ones
    (kept)."""
    from extremexp_knowledge_graph_spark.operators.dedup import paragraph_dedup

    d = _docs(spark, sf_dir)
    aug = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("subscribe now daily newsletter"),
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit("copyright footer all rights reserved"),
            ).otherwise(F.concat(F.lit("colophon of document "), F.col("doc_id").cast("string"))),
        ).alias("text"),
    )
    return paragraph_dedup(aug, max_para_df=1)


def _q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs, exact all-pairs recall baseline
    (explicit n_planes=0 opt-in; the operator DEFAULT is LSH-blocked)."""
    from extremexp_knowledge_graph_spark.operators.similarity import embedding_near_dup_pairs

    return embedding_near_dup_pairs(_emb(spark, sf_dir), threshold=0.4, n_planes=0)


def _q_dedup_embedding_lsh(spark, sf_dir):
    """Embedding near-dup via the default LSH-blocked scale path (4 planes ×
    8 tables — the same recall/cost point as ann_lsh); oracled in full SQL
    with the hyperplanes embedded as literals. The exploded bucket frame is
    parquet-staged so the Arrow kernel runs ONCE and the self-join reads
    the staged frame twice (single-eval; staging dir reaped at exit)."""
    import atexit
    import shutil
    import tempfile

    from extremexp_knowledge_graph_spark.operators.similarity import embedding_near_dup_pairs

    staging = tempfile.mkdtemp(prefix="spark_lsh_buckets_")
    atexit.register(shutil.rmtree, staging, ignore_errors=True)
    return embedding_near_dup_pairs(
        _emb(spark, sf_dir), threshold=0.4, n_planes=4, n_tables=8,
        staging_path=staging,
    )


def _q_ann_topk(spark, sf_dir):
    """Brute-force cosine top-k (exactness baseline)."""
    from extremexp_knowledge_graph_spark.operators.similarity import brute_force_topk

    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    return brute_force_topk(emb, queries, k=5)


def _q_ann_threshold(spark, sf_dir):
    from extremexp_knowledge_graph_spark.operators.similarity import cosine_threshold_pairs

    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    return cosine_threshold_pairs(emb, queries, threshold=0.25)


def _q_ann_lsh(spark, sf_dir):
    """LSH-bucketed approximate ANN (scale path; fully oracled in SQL).

    4 planes × 8 tables: coarse buckets (2^4 per table) trade candidate-set
    size for recall — measured ~0.76 top-5 recall vs brute force on the
    near-random synthetic embeddings (8 planes × 4 tables gives ~0.1; the
    planes/tables pair is THE recall/cost knob and would be tuned per-corpus
    at scale)."""
    from extremexp_knowledge_graph_spark.operators.similarity import lsh_ann_topk

    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    return lsh_ann_topk(emb, queries, k=5, dim=64, n_planes=4, n_tables=8)


def _q_ann_ivf(spark, sf_dir):
    """IVF ANN (k-means coarse quantizer, relational Lloyd iterations) —
    fully oracled: the fit is deterministic AND engine-portable (md5-ordered
    init, fixed iterations, argmin ties broken on centroid index), so the
    DuckDB oracle replays the identical Lloyd recursion in SQL. Cross-engine
    float-summation noise (~1e-13) cannot flip an assignment because the
    corpus's Voronoi margins are ≥1.7e-4 (≈1e-3 relative) — asserted by
    tests/test_dedup_similarity.py::test_ivf_oracle_margins."""
    from extremexp_knowledge_graph_spark.operators.similarity import ivf_ann_topk

    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    return ivf_ann_topk(emb, queries, k=5, nlist=16, nprobe=4, iters=3)


def _q_sql_pricing_summary(spark, sf_dir):
    """G5-G7 relational surface: TPC-H Q1-shaped agg over lineitem."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # sums go through exact decimals so the value-hash is engine-independent
    # (double summation order differs between Spark and DuckDB)
    dec = lambda c: F.col(c).cast("decimal(18,6)")  # noqa: E731
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(dec("l_quantity")).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(dec("l_extendedprice")).cast("double"), 2).alias("sum_base_price"),
            F.round(
                F.sum((dec("l_extendedprice") * (F.lit(1).cast("decimal(18,6)") - dec("l_discount")))).cast("double"), 2
            ).alias("sum_disc_price"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


def _q_sql_top_customers(spark, sf_dir):
    """Join + agg + top-k (broadcast dim side)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double"), 2).alias("revenue"),
            F.count("*").cast("long").alias("n_orders"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def _q_sql_sales_rollup(spark, sf_dir):
    """Grouping-sets surface: ROLLUP over (returnflag, linestatus) with
    grand total — NULL group keys rendered as 'ALL' so the value-hash is
    well-defined on both engines."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double"), 2).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_qty",
        )
    )


def _q_text_chunks(spark, sf_dir):
    """Sliding-window chunking (operators/chunking.py): 40-token windows
    every 24 tokens — the tokenize→window→stride packing step; fully
    native expressions, replayed with list_slice windows in DuckDB."""
    from extremexp_knowledge_graph_spark.operators.chunking import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), window=40, stride=24)


def _q_text_chunk_curation(spark, sf_dir):
    """Composed curation → chunking → fingerprint pipeline in ONE plan with
    zero Python boundaries (round-4 verdict item #7): exact-dedup keepers ∩
    quality floor ∩ confident language id (the text_curation selection),
    chunked 40/24 (operators/chunking.py), then per-document chunk counts +
    an order-sensitive chunk fingerprint — the packing-manifest shape a
    training-data pipeline emits per curated document."""
    from extremexp_knowledge_graph_spark.functions import text as T
    from extremexp_knowledge_graph_spark.operators.chunking import chunk_documents
    from extremexp_knowledge_graph_spark.operators.dedup import exact_dup_groups

    d = _docs(spark, sf_dir)
    keep = exact_dup_groups(d).select(F.col("keeper_id").alias("doc_id"))
    curated = (
        d.join(keep, "doc_id", "left_semi")
        .where(
            (T.quality_score(F.col("text")) >= 0.3)
            & (T.lang_id(F.col("text")) != "und")
        )
        .select("doc_id", "text")
    )
    ch = chunk_documents(curated, window=40, stride=24).withColumn(
        "fp", F.md5("chunk_text")
    )
    return ch.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_idx", "fp"))),
                    lambda s: s["fp"],
                ),
                "",
            )
        ).alias("chunks_fp"),
    )


def _q_events_sessions(spark, sf_dir):
    """Gap-based sessionization (operators/sessions.py) via Spark's native
    session_window; the oracle replays the merge semantics relationally
    (lag → break only when the gap STRICTLY exceeds 30min → running sum →
    group): touching windows merge — an event exactly at the previous
    window's end continues the session (pinned against Spark in
    test_sessionize_gap_semantics) — and end = last_event + gap."""
    from extremexp_knowledge_graph_spark.operators.sessions import sessionize

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    s = sessionize(e, gap="30 minutes", value_col="value")
    return s.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
        "n_events", "sum_value",
    )


def _q_events_sessions_two_phase(spark, sf_dir):
    """The hot-key-safe sessionizer (operators/sessions.py::
    sessionize_two_phase — intra-bucket session_window, then per-user
    interval merge over SESSION rows) must produce bit-identical sessions
    to the one-phase plan, so it shares events_sessions' oracle verbatim:
    the driver gate itself proves the skew-safe formulation is exact."""
    from extremexp_knowledge_graph_spark.operators.sessions import sessionize_two_phase

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    s = sessionize_two_phase(e, gap="30 minutes", bucket="6 hours", value_col="value")
    return s.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
        "n_events", "sum_value",
    )


def _q_kg_degree_topk(spark, sf_dir):
    """Per-node degree centrality over the full constructed triple set
    (plans/queries.py::degree_topk); same triple universe as
    kg_pred_counts, so the oracle swaps only the final aggregate."""
    from extremexp_knowledge_graph_spark.plans.queries import degree_topk

    return degree_topk(_kg_triples(spark, sf_dir), k=20)


def _q_kg_pagerank(spark, sf_dir):
    """Relational PageRank (plans/queries.py::pagerank_topk) over the same
    constructed triple universe as kg_degree_topk — 5 damped power
    iterations, top-20. Float determinism: per-destination contributions
    fold in source order on BOTH sides (_sorted_fold ≡ list_reduce ORDER
    BY), and the 1-α literal is Python-evaluated once so both engines see
    0.15000000000000002, not 0.15."""
    from extremexp_knowledge_graph_spark.plans.queries import pagerank_topk

    pr = pagerank_topk(_kg_triples(spark, sf_dir), k=20, iters=5, alpha=0.85)
    return pr.select("node", F.col("rank").alias("pr"))


def _q_sketch_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct-count sketch (functions/sketch.py::hll_distinct)
    over event ids — O(m)-state cardinality estimation, the sketch that
    replaces COUNT(DISTINCT) shuffles at corpus scale. Fully deterministic
    (md5 nibble-wise register/rank, register-ordered harmonic fold, Python-
    evaluated α·m²), so the oracle replays the sketch EXACTLY — estimate
    included — not just approximately."""
    from extremexp_knowledge_graph_spark.functions.sketch import hll_distinct

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return hll_distinct(e, "event_id", p=8)


def _q_events_hourly(spark, sf_dir):
    """Windowed aggregation shape (streaming-equivalent batch plan)."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00:00").alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double") / F.count("*"), 6
            ).alias("avg_value"),
        )
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "kg_line_triples": _q_kg_line_triples,
        "kg_svo_triples": _q_kg_svo_triples,
        "kg_mentions": _q_kg_mentions,
        "kg_linked_mentions": _q_kg_linked_mentions,
        "kg_pred_counts": _q_kg_pred_counts,
        "kg_doc_mention_stats": _q_kg_doc_mention_stats,
        "kg_class_counts": _q_kg_class_counts,
        "kg_paper_details": _q_kg_paper_details,
        "kg_papers_triples": _q_kg_papers_triples,
        "kg_entity_view_sets": _q_kg_entity_view_sets,
        "multimodal_features": _q_multimodal_features,
        "multimodal_decode": _q_multimodal_decode,
        "multimodal_audio": _q_multimodal_audio,
        "multimodal_video": _q_multimodal_video,
        "multimodal_resize": _q_multimodal_resize,
        "multimodal_gif": _q_multimodal_gif,
        "multimodal_jpeg": _q_multimodal_jpeg,
        "text_stats": _q_text_stats,
        "text_topk_per_lang": _q_text_topk_per_lang,
        "text_token_counts": _q_text_token_counts,
        "text_lang_id": _q_text_lang_id,
        "text_fingerprint": _q_text_fingerprint,
        "text_vocab_topk": _q_text_vocab_topk,
        "sample_uniform": _q_sample_uniform,
        "sample_stratified": _q_sample_stratified,
        "text_curation": _q_text_curation,
        "dedup_exact": _q_dedup_exact,
        "dedup_minhash": _q_dedup_minhash,
        "dedup_ngram_jaccard": _q_dedup_ngram_jaccard,
        "dedup_simhash": _q_dedup_simhash,
        "dedup_paragraph": _q_dedup_paragraph,
        "dedup_embedding": _q_dedup_embedding,
        "dedup_embedding_lsh": _q_dedup_embedding_lsh,
        "kg_canonicalize": _q_kg_canonicalize,
        "kg_canonicalize_incr": _q_kg_canonicalize_incr,
        "ann_topk": _q_ann_topk,
        "ann_threshold": _q_ann_threshold,
        "ann_lsh": _q_ann_lsh,
        "ann_ivf": _q_ann_ivf,
        "sql_pricing_summary": _q_sql_pricing_summary,
        "sql_top_customers": _q_sql_top_customers,
        "sql_sales_rollup": _q_sql_sales_rollup,
        "events_hourly": _q_events_hourly,
        "events_sessions": _q_events_sessions,
        "events_sessions_two_phase": _q_events_sessions_two_phase,
        "text_chunks": _q_text_chunks,
        "text_chunk_curation": _q_text_chunk_curation,
        "kg_degree_topk": _q_kg_degree_topk,
        "kg_pagerank": _q_kg_pagerank,
        "sketch_hll_distinct": _q_sketch_hll_distinct,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect; views pre-registered by the driver)
# ---------------------------------------------------------------------------
_LINES_CTE = r"""
lines as (
  select doc_id, pos, trim(line) as line from (
    select doc_id,
           unnest(string_split(text, chr(10))) as line,
           generate_subscripts(string_split(text, chr(10)), 1) as pos
    from documents)
  where trim(line) <> ''
)
"""


def _svo_union_sql(text_expr: str) -> str:
    """Per-verb extraction branches over pre-split lines of ``text_expr``."""
    branches = []
    for verb in ["is", "has", "contains", "includes", "uses", "implements"]:
        branches.append(
            rf"""
  select doc_id, pos, '{verb}' as verb,
         lower(m[1]) as subj_tok, lower(m[2]) as obj_tok
  from (
    select doc_id, pos,
           unnest(list_zip(regexp_extract_all(line, '(?i)(\w+)\s+{verb}\s+(\w+)', 1),
                           regexp_extract_all(line, '(?i)(\w+)\s+{verb}\s+(\w+)', 2))) as m
    from lines)"""
        )
    return " union all ".join(branches)


ORACLE: dict[str, str] = {}

ORACLE["kg_line_triples"] = rf"""
with {_LINES_CTE}
select subj, pred, obj from (
  select 'http://example.org/document_' || doc_id as subj,
         'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' as pred,
         'http://example.org/Document' as obj from documents
  union all
  select 'http://example.org/document_' || doc_id,
         'http://www.w3.org/2000/01/rdf-schema#label', doc_id::varchar from documents
  union all
  select 'http://example.org/document_' || doc_id,
         'http://example.org/hasContent', text from documents
  union all
  select 'http://example.org/document_' || doc_id || '_line_' || pos,
         'http://www.w3.org/1999/02/22-rdf-syntax-ns#type', 'http://example.org/Line' from lines
  union all
  select 'http://example.org/document_' || doc_id || '_line_' || pos,
         'http://www.w3.org/2000/01/rdf-schema#label', 'Line ' || pos from lines
  union all
  select 'http://example.org/document_' || doc_id || '_line_' || pos,
         'http://example.org/hasText', line from lines
  union all
  select 'http://example.org/document_' || doc_id,
         'http://example.org/hasLine',
         'http://example.org/document_' || doc_id || '_line_' || pos from lines
)
"""

ORACLE["kg_svo_triples"] = rf"""
with docs2 as (select doc_id, replace(text, ' the ', ' is ') as text from documents),
lines as (
  select doc_id, pos, trim(line) as line from (
    select doc_id,
           unnest(string_split(text, chr(10))) as line,
           generate_subscripts(string_split(text, chr(10)), 1) as pos
    from docs2)
  where trim(line) <> ''
),
matches as ({_svo_union_sql("text")})
select subj, pred, obj from (
  select 'http://example.org/' || subj_tok as subj,
         case when verb='is' then 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
              else 'http://example.org/' || verb end as pred,
         'http://example.org/' || obj_tok as obj from matches
  union all
  select 'http://example.org/document_' || doc_id || '_relationship_' || subj_tok || '_' || obj_tok || '_' || pos,
         'http://www.w3.org/1999/02/22-rdf-syntax-ns#type', 'http://example.org/Relationship' from matches
  union all
  select 'http://example.org/document_' || doc_id || '_relationship_' || subj_tok || '_' || obj_tok || '_' || pos,
         'http://example.org/hasSubject', 'http://example.org/' || subj_tok from matches
  union all
  select 'http://example.org/document_' || doc_id || '_relationship_' || subj_tok || '_' || obj_tok || '_' || pos,
         'http://example.org/hasObject', 'http://example.org/' || obj_tok from matches
  union all
  select 'http://example.org/document_' || doc_id || '_relationship_' || subj_tok || '_' || obj_tok || '_' || pos,
         'http://example.org/foundInLine',
         'http://example.org/document_' || doc_id || '_line_' || pos from matches
)
"""

_GAZ_CTE = f"gaz(tok, entity) as (select lower(g), g from (values {SVO_GAZ_SQL}) v(g))"

_MENTIONS_CTE = rf"""
doc_toks as (
  select distinct doc_id, unnest(regexp_extract_all(lower(text), '\w+', 0)) as tok
  from documents
),
{_GAZ_CTE},
hits as (select distinct doc_id, entity from doc_toks join gaz using (tok))
"""

ORACLE["kg_mentions"] = rf"""
with {_MENTIONS_CTE}
select 'http://example.org/document_' || doc_id as subj,
       'http://example.org/mentions' as pred,
       'http://example.org/Term_' || entity as obj
from hits
"""

# Full TF-IDF linker replay. Determinism notes: every float reduction folds
# token-sorted left-to-right (Spark: F.aggregate over array_sort(collect_list);
# DuckDB: list_reduce over list(... ORDER BY tok); 0.0+x==x so the missing
# init element is exact); tf/df/N are exact ints; idf/norm/cosine are then
# identical double expressions on both engines. The prior blend uses the
# EXACT double Spark computes: F.lit(1 - 0.7) is 0.30000000000000004, one
# ulp above the decimal-nearest 0.3 literal. Contexts are single-token, so
# their normalized weight replays as w/sqrt(w*w) (NOT hardcoded 1.0 — sqrt of
# a rounded square can be 1 ulp off 1.0, and both engines must take the same
# path).
_LINKER_ALIAS_SQL = ", ".join(
    f"('{g}', '{g}', 1.0), ('{g}', '{g}#alt', 0.5)" for g in DOC_GAZETTEER
)
ORACLE["kg_linked_mentions"] = rf"""
WITH toks AS (
  SELECT doc_id AS id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS tok
  FROM documents
),
tf AS (SELECT id, tok, CAST(count(*) AS DOUBLE) AS tf FROM toks GROUP BY id, tok),
dfq AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY tok),
nd AS (SELECT CAST(count(DISTINCT id) AS DOUBLE) AS n FROM tf),
w AS (
  SELECT id, tok, tf * (ln(n / (1 + df)) + 1) AS w
  FROM tf JOIN dfq USING (tok) CROSS JOIN nd
),
norms AS (
  SELECT id, sqrt(list_reduce(list(w * w ORDER BY tok), (a, b) -> a + b)) AS norm
  FROM w GROUP BY id
),
wn AS (SELECT id, tok, w / norm AS w FROM w JOIN norms USING (id)),
al AS (SELECT * FROM (VALUES {_LINKER_ALIAS_SQL}) AS t(alias, entity_id, prior)),
ctx_tf AS (SELECT DISTINCT entity_id, alias AS tok FROM al),
ctx_df AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM ctx_tf GROUP BY tok),
ctx_nd AS (SELECT CAST(count(DISTINCT entity_id) AS DOUBLE) AS n FROM ctx_tf),
ctx_w AS (
  SELECT entity_id, tok, (ln(n / (1 + df)) + 1) AS w
  FROM ctx_tf JOIN ctx_df USING (tok) CROSS JOIN ctx_nd
),
ctx_wn AS (SELECT entity_id, tok, w / sqrt(w * w) AS cw FROM ctx_w),
cand AS (
  SELECT DISTINCT t.id AS doc_id, t.tok AS surface, al.entity_id, al.prior
  FROM (SELECT DISTINCT id, tok FROM toks) t JOIN al ON t.tok = al.alias
),
cos AS (
  SELECT c.doc_id, c.entity_id,
         list_reduce(list(wn.w * cx.cw ORDER BY wn.tok), (a, b) -> a + b) AS cos
  FROM (SELECT DISTINCT doc_id, entity_id FROM cand) c
  JOIN wn ON wn.id = c.doc_id
  JOIN ctx_wn cx ON cx.entity_id = c.entity_id AND cx.tok = wn.tok
  GROUP BY c.doc_id, c.entity_id
)
SELECT doc_id, surface, entity_id,
       round(0.7 * coalesce(cos, 0.0) + 0.30000000000000004 * prior, 6) AS score
FROM cand LEFT JOIN cos USING (doc_id, entity_id)
QUALIFY row_number() OVER (
  PARTITION BY doc_id, surface
  ORDER BY round(0.7 * coalesce(cos, 0.0) + 0.30000000000000004 * prior, 6) DESC, entity_id
) = 1
"""

ORACLE["kg_pred_counts"] = rf"""
with docs2 as (select doc_id, replace(text, ' the ', ' is ') as text from documents),
{_LINES_CTE},
lines2 as (
  select doc_id, pos, trim(line) as line from (
    select doc_id,
           unnest(string_split(text, chr(10))) as line,
           generate_subscripts(string_split(text, chr(10)), 1) as pos
    from docs2)
  where trim(line) <> ''
),
matches as ({_svo_union_sql("text").replace("from lines", "from lines2")}),
{_MENTIONS_CTE.lstrip()},
all_triples as (
  select subj, pred, obj, obj_is_iri from (
    select 'http://example.org/document_' || doc_id as subj,
           'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' as pred,
           'http://example.org/Document' as obj, 1 as obj_is_iri from documents
    union all
    select 'http://example.org/document_' || doc_id,
           'http://www.w3.org/2000/01/rdf-schema#label', doc_id::varchar, 0 from documents
    union all
    select 'http://example.org/document_' || doc_id,
           'http://example.org/hasContent', text, 0 from documents
    union all
    select 'http://example.org/document_' || doc_id || '_line_' || pos,
           'http://www.w3.org/1999/02/22-rdf-syntax-ns#type', 'http://example.org/Line', 1 from lines
    union all
    select 'http://example.org/document_' || doc_id || '_line_' || pos,
           'http://www.w3.org/2000/01/rdf-schema#label', 'Line ' || pos, 0 from lines
    union all
    select 'http://example.org/document_' || doc_id || '_line_' || pos,
           'http://example.org/hasText', line, 0 from lines
    union all
    select 'http://example.org/document_' || doc_id,
           'http://example.org/hasLine',
           'http://example.org/document_' || doc_id || '_line_' || pos, 1 from lines
    union all
    select 'http://example.org/' || subj_tok,
           case when verb='is' then 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
                else 'http://example.org/' || verb end,
           'http://example.org/' || obj_tok, 1 from matches
    union all
    select 'http://example.org/document_' || doc_id || '_relationship_' || subj_tok || '_' || obj_tok || '_' || pos,
           'http://www.w3.org/1999/02/22-rdf-syntax-ns#type', 'http://example.org/Relationship', 1 from matches
    union all
    select 'http://example.org/document_' || doc_id || '_relationship_' || subj_tok || '_' || obj_tok || '_' || pos,
           'http://example.org/hasSubject', 'http://example.org/' || subj_tok, 1 from matches
    union all
    select 'http://example.org/document_' || doc_id || '_relationship_' || subj_tok || '_' || obj_tok || '_' || pos,
           'http://example.org/hasObject', 'http://example.org/' || obj_tok, 1 from matches
    union all
    select 'http://example.org/document_' || doc_id || '_relationship_' || subj_tok || '_' || obj_tok || '_' || pos,
           'http://example.org/foundInLine',
           'http://example.org/document_' || doc_id || '_line_' || pos, 1 from matches
    union all
    select 'http://example.org/document_' || doc_id,
           'http://example.org/mentions',
           'http://example.org/Term_' || entity, 1 from hits
  )
),
dedup as (select distinct subj, pred, obj, obj_is_iri from all_triples)
select pred, count(*)::bigint as n from dedup group by pred
"""

ORACLE["kg_doc_mention_stats"] = rf"""
with {_MENTIONS_CTE},
m as (
  select 'http://example.org/document_' || doc_id as subj,
         count(*)::bigint as n_mentions,
         min('http://example.org/Term_' || entity) as first_term
  from hits group by doc_id
)
select d.subj, coalesce(m.n_mentions, 0)::bigint as n_mentions, m.first_term
from (select 'http://example.org/document_' || doc_id as subj from documents) d
left join m using (subj)
"""

ORACLE["kg_class_counts"] = rf"""
with {_LINES_CTE},
t as (
  select 'http://example.org/Document' as cls from documents
  union all
  select 'http://example.org/Line' from lines
)
select cls as "class", count(*)::bigint as n
from t group by cls
order by n desc, cls asc
"""

# paper_details exemplar: the pivoted-entity-view star pattern collapses, in
# SQL, to one row per paper with CASE-gated optional props — identical
# result set to k left self-joins on the triple table.
ORACLE["kg_paper_details"] = r"""
with d as (
  select 'http://example.org/paper_' || doc_id as subj,
         doc_id,
         string_split(text, chr(10))[1] as title,
         (1990 + doc_id % 30)::varchar as year
  from documents
)
select subj, title,
       case when doc_id % 3 = 0 then 'http://pdf.example.org/' || doc_id end as "pdfUrl",
       case when doc_id % 5 = 0 then 'http://pwc.example.org/' || doc_id end as "papersWithCodeUrl",
       year
from d
where title is not null
order by year desc nulls last, subj asc
limit 10
"""

# ---------------------------------------------------------------------------
# kg_papers_triples: full-SQL replay of the flagship papers→triples mapper
# (operators/papers_to_triples.py), branch by branch and kernel by kernel —
# the same strategy as the IVF oracle's Lloyd replay. Kernel fidelity rests
# on three verified facts: (1) the minted-title alphabet is restricted to
# chars where Python (?U)\w/\s and RE2's ASCII classes agree; (2) DuckDB's
# shortest-roundtrip DOUBLE::VARCHAR equals Python repr(float) on the minted
# value range (no scientific-notation crossover); (3) RE2 \b behaves like
# Python \b on ASCII.
# ---------------------------------------------------------------------------
def _san_sql(x: str) -> str:
    """DuckDB replay of functions/uri.py::sanitize_for_uri (D1)."""
    core = (
        "regexp_replace(regexp_replace(regexp_replace(" + x
        + r", '^\s+|\s+$', '', 'g'), '[^\w\s-]', '', 'g'), '[-\s]+', '_', 'g')"
    )
    return (
        "(case when " + x + " is null or " + x + " = '' then 'unknown' when "
        + core + " = '' then 'sanitized_empty' else " + core + " end)"
    )


def _url_year_sql(u: str) -> str:
    """DuckDB replay of functions/year.py::year_from_pdf_url (D3)."""
    ax1 = "regexp_extract(" + u + r", '(?i)arxiv\.org/pdf/(\d{2})(\d{2})\.\d+', 1)"
    ax2 = "regexp_extract(" + u + r", '(?i)arxiv\.org/pdf/(\d{2})(\d{2})\.\d+', 2)"
    yy = "try_cast(" + ax1 + " as int)"
    mm = "try_cast(" + ax2 + " as int)"
    return (
        "(case when " + u + " is null or " + u + " = '' then NULL when "
        + ax1 + " <> '' and " + mm + " between 1 and 12 then (case when "
        + yy + " >= 90 then " + yy + " + 1900 else " + yy + " + 2000 end)::varchar "
        + "else (regexp_extract_all(" + u + r", '\b(19\d{2}|20\d{2})\b', 1))[-1] end)"
    )


def _metric_lex_sql(v: str) -> str:
    """DuckDB replay of functions/values.py::parse_metric_value lexical (D4/D5):
    str(float(x)) ≡ shortest-roundtrip DOUBLE::VARCHAR on the minted range."""
    pct = "trim(replace(" + v + ", '%', ''))"
    return (
        "(case when contains(" + v + ", '%') then (case when try_cast(" + pct
        + " as double) is not null then ((" + pct + ")::double / 100.0)::varchar else "
        + v + " end) else (case when try_cast(" + v + " as double) is not null then (("
        + v + ")::double)::varchar else " + v + " end) end)"
    )


def _metric_dt_sql(v: str) -> str:
    pct = "trim(replace(" + v + ", '%', ''))"
    dec = "'http://www.w3.org/2001/XMLSchema#decimal'"
    st = "'http://www.w3.org/2001/XMLSchema#string'"
    return (
        "(case when contains(" + v + ", '%') then (case when try_cast(" + pct
        + " as double) is not null then " + dec + " else " + st + " end) "
        + "else (case when try_cast(" + v + " as double) is not null then " + dec
        + " else " + st + " end) end)"
    )


def _papers_triples_oracle() -> str:
    from extremexp_knowledge_graph_spark import schema as S

    ns = S.NS

    def lit(s: str) -> str:
        return "'" + s + "'"

    san_title = _san_sql("coalesce(title, 'Unknown')")
    triple_cols = "subj, pred, obj, obj_is_iri, obj_datatype"
    # mention families: (array column, class local-name, name pred, link pred)
    mention_families = [
        ("tasks", "Task", S.P_TASK_NAME, S.P_MENTIONS_TASK),
        ("datasets", "Dataset", S.P_DATASET_NAME, S.P_MENTIONS_DATASET),
        ("methods", "Method", S.P_METHOD_NAME, S.P_EMPLOYS_METHOD),
    ]
    mention_sel = " union all ".join(
        f"select subj, unnest({col}) as name, '{cls}' as cls, "
        f"{lit(name_p)} as name_pred, {lit(link_p)} as link_pred from p"
        for col, cls, name_p, link_p in mention_families
    )
    # result-level entity fan-outs: (field, class local-name, name pred,
    # link pred, name literal typed xsd:string?) — task/dataset names are
    # UNTYPED plain literals, model config is typed (src/utils.py:346,353,361)
    rr_entities = [
        ("task", "Task", S.P_TASK_NAME, S.P_EVALUATES_TASK, False),
        ("dataset", "Dataset", S.P_DATASET_NAME, S.P_ON_DATASET, False),
        ("model", "ModelConfiguration", S.P_CONFIGURATION_STRING, S.P_ACHIEVED_BY_MODEL, True),
    ]
    rr_entity_branches = " union all ".join(
        f"""
  select {lit(ns)} || '{cls}_' || {_san_sql(f)}, {lit(S.RDF_TYPE)}, {lit(ns + cls)}, 1, NULL::varchar from rr where {f} <> ''
  union all
  select {lit(ns)} || '{cls}_' || {_san_sql(f)}, {lit(name_p)}, {f}, 0, {f"{lit(S.XSD_STRING)}" if typed else "NULL::varchar"} from rr where {f} <> ''
  union all
  select ruri, {lit(link_p)}, {lit(ns)} || '{cls}_' || {_san_sql(f)}, 1, NULL::varchar from rr where {f} <> ''"""
        for f, cls, name_p, link_p, typed in rr_entities
    )
    return f"""
with papers as (
  select doc_id,
    case when doc_id % 7 = 0 then NULL
         when doc_id % 7 = 1 then ''
         when doc_id % 7 = 2 then '  Deep & Fast: Study ' || doc_id || '  '
         when doc_id % 7 = 3 then '@@##$$'
         else 'Survey of ' || (['Neural','Bayesian','Convex','Sparse','Quantum'])[(doc_id % 5)::int + 1]
              || ' ' || (['Networks','Inference','Optimization','Coding'])[(doc_id % 4)::int + 1]
              || ' ' || doc_id end as title,
    case when doc_id % 6 = 0 then 0 when doc_id % 6 = 1 then NULL else 1990 + doc_id % 30 end as year,
    case when doc_id % 4 = 0 then 'https://arxiv.org/pdf/' || lpad((doc_id % 100)::varchar, 2, '0')
              || lpad((1 + doc_id % 14)::varchar, 2, '0') || '.' || (doc_id + 10000) || 'v1.pdf'
         when doc_id % 4 = 1 then 'http://proceedings.example.org/' || (1950 + doc_id % 100) || '/paper' || doc_id || '.pdf'
         when doc_id % 4 = 2 then 'http://no-year.example.org/paper' || doc_id || '.pdf'
         else '' end as url,
    case when doc_id % 5 = 0 then 'https://paperswithcode.com/paper/p' || doc_id else '' end as origin,
    case when doc_id % 3 = 0 then ['Image Classification']
         when doc_id % 3 = 1 then ['Speech Recognition','Image Classification']
         else []::varchar[] end as tasks,
    case when doc_id % 4 = 0 then ['ImageNet-1k']
         when doc_id % 4 = 1 then ['CIFAR 10','MNIST']
         else []::varchar[] end as datasets,
    case when doc_id % 5 = 0 then ['Adam ± SGD']
         when doc_id % 5 = 1 then ['Dropout']
         when doc_id % 5 = 2 then ['Batch Norm.']
         else []::varchar[] end as methods
  from documents
),
p as (
  select doc_id, title, year, url, origin, tasks, datasets, methods,
         {san_title} as paper_san,
         {lit(ns)} || 'Paper_' || {san_title} as subj,
         {_url_year_sql('url')} as url_year
  from papers
),
rbase as (
  select doc_id, subj, paper_san, unnest(range(0, doc_id % 3)) as idx from p
),
rr as (
  select doc_id, subj, idx,
    {lit(ns)} || paper_san || '_result_' || idx as ruri,
    (['Image Classification','','Object Detection'])[((doc_id + idx) % 3)::int + 1] as task,
    (['ImageNet-1k','COCO',''])[((doc_id + idx) % 3)::int + 1] as dataset,
    (['ResNet-50 (ours)','','ViT B/16'])[((doc_id + 2*idx) % 3)::int + 1] as model,
    (['Accuracy','Top-1 Error',''])[((doc_id + idx) % 3)::int + 1] as metric,
    (['92.5%','0.873','11030210','state-of-the-art','','58.10'])[((doc_id + idx) % 6)::int + 1] as value,
    (['3','N/A','','12'])[((doc_id + idx) % 4)::int + 1] as rnk
  from rbase
),
mention as ({mention_sel}),
all_t as (
  -- paper scalars (B3 truthiness gates; _paper_scalars)
  select subj, {lit(S.RDF_TYPE)} as pred, {lit(S.CLS_PAPER)} as obj, 1 as obj_is_iri, NULL::varchar as obj_datatype from p
  union all
  select subj, {lit(S.P_TITLE)}, title, 0, {lit(S.XSD_STRING)} from p where title is not null and title <> ''
  union all
  select subj, {lit(S.P_PDF_URL)}, url, 0, {lit(S.XSD_ANYURI)} from p where url <> ''
  union all
  select subj, {lit(S.P_YEAR)}, url_year, 0, {lit(S.XSD_GYEAR)} from p where url <> '' and url_year is not null
  union all
  select subj, {lit(S.P_YEAR)}, year::varchar, 0, {lit(S.XSD_GYEAR)} from p where year is not null and year <> 0
  union all
  select subj, {lit(S.P_PWC_URL)}, origin, 0, {lit(S.XSD_ANYURI)} from p where origin <> ''
  union all
  -- paper-level mention lists (_mentions; names typed xsd:string)
  select {lit(ns)} || cls || '_' || {_san_sql('name')}, {lit(S.RDF_TYPE)}, {lit(ns)} || cls, 1, NULL::varchar from mention
  union all
  select {lit(ns)} || cls || '_' || {_san_sql('name')}, name_pred, name, 0, {lit(S.XSD_STRING)} from mention
  union all
  select subj, link_pred, {lit(ns)} || cls || '_' || {_san_sql('name')}, 1, NULL::varchar from mention
  union all
  -- results (_results; unconditional result spine + gated fan-out)
  select ruri, {lit(S.RDF_TYPE)}, {lit(S.CLS_REPORTED_RESULT)}, 1, NULL::varchar from rr
  union all
  select subj, {lit(S.P_REPORTS_RESULT)}, ruri, 1, NULL::varchar from rr
  union all
  select ruri, {lit(S.P_REPORTED_IN_PAPER)}, subj, 1, NULL::varchar from rr
  union all
  select ruri, {lit(S.P_METRIC_NAME)}, metric, 0, {lit(S.XSD_STRING)} from rr where metric <> ''
  union all
  select ruri, {lit(S.P_METRIC_VALUE)}, {_metric_lex_sql('value')}, 0, {_metric_dt_sql('value')} from rr where value <> ''
  union all
  select ruri, {lit(S.P_RANK)}, try_cast(rnk as bigint)::varchar, 0, {lit(S.XSD_INTEGER)} from rr
    where rnk <> '' and try_cast(rnk as bigint) is not null
  union all {rr_entity_branches}
)
select distinct {triple_cols} from all_t
"""


ORACLE["kg_papers_triples"] = _papers_triples_oracle()


def _entity_view_sets_oracle() -> str:
    from extremexp_knowledge_graph_spark import schema as S

    inner = _papers_triples_oracle()
    return f"""
with t as ({inner}),
members as (
  select distinct subj from t
  where pred = '{S.RDF_TYPE}' and obj = '{S.CLS_PAPER}'
)
select m.subj,
  coalesce(string_agg(obj, '|' order by obj) filter (pred = '{S.P_MENTIONS_TASK}'), '') as tasks,
  coalesce(string_agg(obj, '|' order by obj) filter (pred = '{S.P_MENTIONS_DATASET}'), '') as datasets,
  coalesce(string_agg(obj, '|' order by obj) filter (pred = '{S.P_EMPLOYS_METHOD}'), '') as methods
from members m left join t on t.subj = m.subj
group by m.subj
"""


ORACLE["kg_entity_view_sets"] = _entity_view_sets_oracle()


# decode_features stub kernel in SQL: md5 of the utf-8 payload; feature[i] =
# float32(hexchunk_i / 65535) re-rounded in double — the 4-hex-digit parse
# is exact integer arithmetic (< 2^16, no uhugeint needed).
ORACLE["multimodal_features"] = r"""
with base as (
  select doc_id as media_id,
         case when doc_id % 3 = 0 then 'image/png'
              when doc_id % 3 = 1 then 'audio/wav'
              else 'video/mp4' end as mime,
         octet_length(coalesce(text, '')::blob)::bigint as n_bytes,
         md5(coalesce(text, '')) as digest
  from documents
)
select media_id, mime, n_bytes, digest, i::bigint as dim_i,
  round((((
      (strpos('0123456789abcdef', substr(digest, i*4 + 1, 1)) - 1) * 4096
    + (strpos('0123456789abcdef', substr(digest, i*4 + 2, 1)) - 1) * 256
    + (strpos('0123456789abcdef', substr(digest, i*4 + 3, 1)) - 1) * 16
    + (strpos('0123456789abcdef', substr(digest, i*4 + 4, 1)) - 1)
  ) / 65535.0)::float)::double, 6) as v
from base cross join (select unnest(range(8)) as i)
"""

# Independent pixel derivation: the generator's byte stream is
# concat(md5(f"{seed}|{id}|{k}")) hex-decoded; the oracle re-derives each
# byte from the hex digest arithmetically (strpos-based hex parse, exact
# 64-bit int math) — it never touches the PPM/BMP container, so the Spark
# side's header parsing / BGR swap / bottom-up flip are genuinely checked.
ORACLE["multimodal_decode"] = r"""
WITH meta AS (
  SELECT doc_id AS media_id,
         CAST(2 + (doc_id % 3) AS INTEGER) AS w,
         CAST(2 + ((doc_id * 5) % 3) AS INTEGER) AS h,
         CASE doc_id % 3 WHEN 0 THEN 'ppm' WHEN 1 THEN 'bmp' ELSE 'png' END AS fmt
  FROM documents
),
px AS (
  SELECT media_id, fmt, w, h, j,
    (strpos('0123456789abcdef',
            substr(md5('42|' || media_id || '|' || (j // 16)), ((j % 16) * 2) + 1, 1)) - 1) * 16
    + (strpos('0123456789abcdef',
              substr(md5('42|' || media_id || '|' || (j // 16)), ((j % 16) * 2) + 2, 1)) - 1) AS val
  FROM meta, LATERAL (SELECT unnest(range(0, CAST(w AS BIGINT) * h * 3)) AS j) rj
)
SELECT media_id, fmt, w, h,
  CAST(count(*) AS BIGINT) AS n_px,
  round(CAST(sum(CASE WHEN j % 3 = 0 THEN val END) AS DOUBLE) / (w * h), 6) AS mean_r,
  round(CAST(sum(CASE WHEN j % 3 = 1 THEN val END) AS DOUBLE) / (w * h), 6) AS mean_g,
  round(CAST(sum(CASE WHEN j % 3 = 2 THEN val END) AS DOUBLE) / (w * h), 6) AS mean_b,
  CAST(sum((j + 1) * val) AS BIGINT) AS checksum
FROM px GROUP BY media_id, fmt, w, h
"""

# Independent sample derivation for the WAV decode: sample j is bytes
# (2j, 2j+1) of the md5('42|wav|'||id||'|'||k) digest stream, read
# little-endian signed 16-bit. 2j is even so both bytes always fall in the
# SAME digest (k = j // 8) — the oracle re-derives them arithmetically and
# never touches the RIFF container, so chunk-walk/byte-order/signedness in
# the Spark kernel are genuinely checked. All aggregates are exact 64-bit
# ints except the one rounded mean.
ORACLE["multimodal_audio"] = r"""
WITH meta AS (
  SELECT doc_id AS media_id,
         CAST(16 + (doc_id % 5) * 8 AS BIGINT) AS n_samples,
         CAST(8000 * (1 + doc_id % 3) AS INTEGER) AS sample_rate
  FROM documents
),
b AS (
  SELECT media_id, n_samples, sample_rate, j,
    (strpos('0123456789abcdef',
            substr(md5('42|wav|' || media_id || '|' || (j // 8)), (((2*j) % 16) * 2) + 1, 1)) - 1) * 16
    + (strpos('0123456789abcdef',
              substr(md5('42|wav|' || media_id || '|' || (j // 8)), (((2*j) % 16) * 2) + 2, 1)) - 1) AS lo,
    (strpos('0123456789abcdef',
            substr(md5('42|wav|' || media_id || '|' || (j // 8)), (((2*j+1) % 16) * 2) + 1, 1)) - 1) * 16
    + (strpos('0123456789abcdef',
              substr(md5('42|wav|' || media_id || '|' || (j // 8)), (((2*j+1) % 16) * 2) + 2, 1)) - 1) AS hi
  FROM meta, LATERAL (SELECT unnest(range(0, n_samples)) AS j) rj
),
s AS (
  SELECT media_id, n_samples, sample_rate, j,
         lo + 256 * hi - CASE WHEN hi >= 128 THEN 65536 ELSE 0 END AS v
  FROM b
),
s2 AS (SELECT *, lag(v) OVER (PARTITION BY media_id ORDER BY j) AS prev FROM s)
SELECT media_id, sample_rate, n_samples,
  CAST(sum(v) AS BIGINT) AS sum_amp,
  CAST(sum(v * v) AS BIGINT) AS sum_sq,
  CAST(sum(CASE WHEN prev IS NOT NULL AND ((v < 0) != (prev < 0)) THEN 1 ELSE 0 END) AS BIGINT) AS sign_flips,
  round(CAST(sum(v) AS DOUBLE) / n_samples, 6) AS mean_amp
FROM s2 GROUP BY media_id, sample_rate, n_samples
"""

# GIF replay: decoded RGB pixel j is the identity-gray palette entry of
# stream INDEX byte j // 3 (w*h index bytes per image, n_px = w*h pixels
# exploded to 3 channel values each in the checksum).
ORACLE["multimodal_gif"] = r"""
WITH meta AS (
  SELECT doc_id AS media_id, 'gif' AS fmt,
         CAST(2 + (doc_id % 3) AS INTEGER) AS w,
         CAST(2 + ((doc_id * 5) % 3) AS INTEGER) AS h
  FROM documents
),
px AS (
  SELECT media_id, fmt, w, h, j,
    (strpos('0123456789abcdef',
            substr(md5('42|' || media_id || '|' || ((j // 3) // 16)), (((j // 3) % 16) * 2) + 1, 1)) - 1) * 16
    + (strpos('0123456789abcdef',
              substr(md5('42|' || media_id || '|' || ((j // 3) // 16)), (((j // 3) % 16) * 2) + 2, 1)) - 1) AS val
  FROM meta, LATERAL (SELECT unnest(range(0, CAST(w AS BIGINT) * h * 3)) AS j) rj
)
SELECT media_id, fmt, w, h,
  CAST(count(*) AS BIGINT) AS n_px,
  round(CAST(sum(val) AS DOUBLE) / (w * h * 3), 6) AS mean_gray,
  CAST(sum((j + 1) * val) AS BIGINT) AS checksum
FROM px GROUP BY media_id, fmt, w, h
"""

# Resize replay: output (3x2) pixel j → (r, c, ch) → source pixel via the
# same floor-division gather the kernel uses → md5 stream byte. Src dims
# from the image_dims formula.
ORACLE["multimodal_resize"] = r"""
WITH meta AS (
  SELECT doc_id AS media_id,
         CAST(2 + (doc_id % 3) AS INTEGER) AS src_w,
         CAST(2 + ((doc_id * 5) % 3) AS INTEGER) AS src_h,
         CASE doc_id % 3 WHEN 0 THEN 'ppm' WHEN 1 THEN 'bmp' ELSE 'png' END AS fmt
  FROM documents
),
px AS (
  SELECT media_id, fmt, src_w, src_h, j,
    3 * (((j // 9) * src_h // 2) * src_w + ((j % 9) // 3) * src_w // 3) + (j % 3) AS p
  FROM meta, LATERAL (SELECT unnest(range(0, 18)) AS j) rj
),
v AS (
  SELECT media_id, fmt, src_w, src_h, j,
    (strpos('0123456789abcdef',
            substr(md5('42|' || media_id || '|' || (p // 16)), ((p % 16) * 2) + 1, 1)) - 1) * 16
    + (strpos('0123456789abcdef',
              substr(md5('42|' || media_id || '|' || (p // 16)), ((p % 16) * 2) + 2, 1)) - 1) AS val
  FROM px
)
SELECT media_id, fmt, src_w, src_h,
  CAST(count(*) AS BIGINT) AS n_px,
  round(CAST(sum(CASE WHEN j % 3 = 0 THEN val END) AS DOUBLE) / 6, 6) AS mean_r,
  round(CAST(sum(CASE WHEN j % 3 = 2 THEN val END) AS DOUBLE) / 6, 6) AS mean_b,
  CAST(sum((j + 1) * val) AS BIGINT) AS checksum
FROM v GROUP BY media_id, fmt, src_w, src_h
"""

# Independent plane derivation for Y4M frame sampling: byte p of media id's
# video stream (p = frame_idx*3*w*h + j) is hex byte p%16 of
# md5('42|y4m|'||id||'|'||(p//16)). The stride replay uses the same
# half-up rounding as the kernel (floor(x + 0.5), NOT round() — DuckDB
# rounds half away from zero, Python banker's-rounds; floor(+0.5) is
# identical on both engines for the non-negative range here).
ORACLE["multimodal_video"] = r"""
WITH meta AS (
  SELECT doc_id AS media_id,
         CAST(2 + (doc_id % 3) AS INTEGER) AS w,
         CAST(2 + ((doc_id * 5) % 3) AS INTEGER) AS h,
         CAST(4 + (doc_id % 5) * 2 AS INTEGER) AS n_frames,
         CAST(5 * (1 + doc_id % 3) AS INTEGER) AS fps
  FROM documents
),
idx AS (
  SELECT media_id, w, h, n_frames, fps, CAST(i AS INTEGER) AS frame_idx
  FROM meta, LATERAL (
    SELECT unnest(range(0, CAST(n_frames AS BIGINT),
                        greatest(1, CAST(floor(0.25 * fps + 0.5) AS BIGINT)))) AS i
  ) ri
),
px AS (
  SELECT media_id, frame_idx, n_frames, fps, w, h, j,
    (strpos('0123456789abcdef',
            substr(md5('42|y4m|' || media_id || '|' || ((frame_idx * w * h * 3 + j) // 16)),
                   (((frame_idx * w * h * 3 + j) % 16) * 2) + 1, 1)) - 1) * 16
    + (strpos('0123456789abcdef',
              substr(md5('42|y4m|' || media_id || '|' || ((frame_idx * w * h * 3 + j) // 16)),
                     (((frame_idx * w * h * 3 + j) % 16) * 2) + 2, 1)) - 1) AS val
  FROM idx, LATERAL (SELECT unnest(range(0, CAST(w AS BIGINT) * h * 3)) AS j) rj
)
SELECT media_id, frame_idx,
  round(CAST(frame_idx AS DOUBLE) / fps, 6) AS frame_ts,
  n_frames, fps, w, h,
  CAST(sum(CASE WHEN j < w*h THEN val END) AS BIGINT) AS y_sum,
  CAST(sum(CASE WHEN j >= w*h AND j < 2*w*h THEN val END) AS BIGINT) AS u_sum,
  CAST(sum(CASE WHEN j >= 2*w*h THEN val END) AS BIGINT) AS v_sum,
  CAST(sum((j + 1) * val) AS BIGINT) AS checksum
FROM px GROUP BY media_id, frame_idx, n_frames, fps, w, h
"""

ORACLE["text_stats"] = r"""
select doc_id,
       len(regexp_extract_all(lower(text), '[a-z0-9]+', 0))::bigint as n_tokens,
       length(text)::bigint as n_chars,
       len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+', 0),
           t -> list_contains(['the','a','and','is','of','to','in','it','that','for'], t)))::bigint as n_stopwords,
       round(
         least(len(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) / 100.0, 1.0) * 0.5
         + (1.0 - least(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                        / greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+', 0)), 1)::double, 1.0)) * 0.3
         + least(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+', 0),
                 t -> list_contains(['the','a','and','is','of','to','in','it','that','for'], t))) * 4.0
                 / greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+', 0)), 1)::double, 1.0) * 0.2
       , 6) as quality
from documents
"""

ORACLE["text_topk_per_lang"] = (
    "with ts as ("
    + ORACLE["text_stats"]
    + r""")
select lang, doc_id, quality, rnk from (
  select d.lang, ts.doc_id, ts.quality,
         row_number() over (partition by d.lang
                            order by ts.quality desc, ts.doc_id asc)::bigint as rnk
  from ts join documents d using (doc_id)) sub
where rnk <= 3
"""
)

ORACLE["text_token_counts"] = r"""
select doc_id,
  len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> ''))::bigint as n_ws_tokens,
  len(list_filter(
    regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+'),
    p -> not regexp_matches(p, '^\s+$')))::bigint as n_bpe_tokens
from documents
"""

ORACLE["text_lang_id"] = r"""
with c as (
  select doc_id,
    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+', 0),
        t -> list_contains(['the','and','is','of','to'], t))) as en,
    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+', 0),
        t -> list_contains(['der','die','und','nicht','das'], t))) as de,
    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+', 0),
        t -> list_contains(['el','la','que','de','los'], t))) as es,
    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+', 0),
        t -> list_contains(['le','la','et','les','des'], t))) as fr
  from documents
)
select doc_id,
  case when greatest(en,de,es,fr) = 0 then 'und'
       when en = greatest(en,de,es,fr) then 'en'
       when de = greatest(en,de,es,fr) then 'de'
       when es = greatest(en,de,es,fr) then 'es'
       else 'fr' end as lang_guess
from c
"""

ORACLE["text_fingerprint"] = r"""
select doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) as fp from documents
"""

ORACLE["text_vocab_topk"] = r"""
select tok, count(*)::bigint as n from (
  select unnest(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) as tok
  from documents)
group by tok
order by n desc, tok asc
limit 100
"""


def _sampling_oracles() -> dict[str, str]:
    from extremexp_knowledge_graph_spark.operators.sampling import frac_to_hex_threshold as thr

    uniform = f"""
select doc_id from documents
where substr(md5(doc_id::varchar || '|sample'), 1, 8) < '{thr(0.1)}'
"""
    stratified = f"""
select doc_id, lang from documents
where substr(md5(doc_id::varchar || '|strata'), 1, 8) <
  case when lang = 'en' then '{thr(0.05)}'
       when lang = 'de' then '{thr(0.5)}'
       else '{thr(0.2)}' end
"""
    return {"sample_uniform": uniform, "sample_stratified": stratified}


ORACLE.update(_sampling_oracles())

# Curation composition: reuse the exact quality / lang-id / fingerprint
# formulas already oracled above, intersected with the dedup keepers.
ORACLE["text_curation"] = r"""
with ts as (
select doc_id,
       round(
         least(len(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) / 100.0, 1.0) * 0.5
         + (1.0 - least(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                        / greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+', 0)), 1)::double, 1.0)) * 0.3
         + least(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+', 0),
                 t -> list_contains(['the','a','and','is','of','to','in','it','that','for'], t))) * 4.0
                 / greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+', 0)), 1)::double, 1.0) * 0.2
       , 6) as quality
from documents
),
c as (
  select doc_id,
    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+', 0),
        t -> list_contains(['the','and','is','of','to'], t))) as en,
    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+', 0),
        t -> list_contains(['der','die','und','nicht','das'], t))) as de,
    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+', 0),
        t -> list_contains(['el','la','que','de','los'], t))) as es,
    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+', 0),
        t -> list_contains(['le','la','et','les','des'], t))) as fr
  from documents
),
lid as (
  select doc_id,
    case when greatest(en,de,es,fr) = 0 then 'und'
         when en = greatest(en,de,es,fr) then 'en'
         when de = greatest(en,de,es,fr) then 'de'
         when es = greatest(en,de,es,fr) then 'es'
         else 'fr' end as lang_guess
  from c
),
keep as (
  select min(doc_id) as doc_id
  from documents group by md5(regexp_replace(text, '\s+', ' ', 'g'))
)
select d.doc_id, ts.quality, lid.lang_guess
from documents d
join keep using (doc_id)
join ts on ts.doc_id = d.doc_id
join lid on lid.doc_id = d.doc_id
where ts.quality >= 0.3 and lid.lang_guess <> 'und'
"""

ORACLE["dedup_exact"] = r"""
select md5(regexp_replace(text, '\s+', ' ', 'g')) as fingerprint,
       count(*)::bigint as n_copies, min(doc_id) as keeper_id
from documents group by 1
"""

_SHINGLES_CTE = r"""
toks as (select doc_id as id, regexp_extract_all(lower(text), '[a-z0-9]+', 0) as t from documents),
sh as (
  select distinct id, shingle from (
    select id, array_to_string(t[i:i+2], ' ') as shingle
    from toks, unnest(range(1, len(t) - 1)) as u(i)
    where len(t) >= 3)
)
"""


def _minhash_oracle(num_hashes: int = 8, bands: int = 4, threshold: float = 0.5) -> str:
    r = num_hashes // bands
    mins = ", ".join(
        f"min(md5('{j}|' || shingle)) as h{j}" for j in range(num_hashes)
    )
    band_exprs = ", ".join(
        "(" + " || ".join(f"h{b * r + i}" for i in range(r)) + f") as band_{b}" for b in range(bands)
    )
    band_union = " union all ".join(
        f"select id, {b} as band, band_{b} as band_sig from sigs" for b in range(bands)
    )
    return rf"""
with {_SHINGLES_CTE},
sigs0 as (select id, {mins} from sh group by id),
sigs as (select id, {band_exprs} from sigs0),
band_rows as ({band_union}),
cand as (
  select distinct a.id as id_a, b.id as id_b
  from band_rows a join band_rows b on a.band = b.band and a.band_sig = b.band_sig
  where a.id < b.id
),
sizes as (select id, count(*)::bigint as sz from sh group by id),
inter as (
  select c.id_a, c.id_b, count(*)::bigint as i
  from cand c
  join sh sa on sa.id = c.id_a
  join sh sb on sb.id = c.id_b and sb.shingle = sa.shingle
  group by c.id_a, c.id_b
)
select i.id_a, i.id_b,
       round(i.i / (za.sz + zb.sz - i.i)::double, 6) as jaccard
from inter i
join sizes za on za.id = i.id_a
join sizes zb on zb.id = i.id_b
where i.i / (za.sz + zb.sz - i.i)::double >= {threshold}
"""


ORACLE["dedup_minhash"] = _minhash_oracle(8, 4, 0.5)

# Canonicalization: same LSH-blocked Jaccard pairs as dedup_minhash, then
# connected components as a recursive transitive-closure CTE (components are
# tiny near-cliques by construction, so closure is cheap in the oracle even
# though the engine uses log-round label propagation at scale). canonical =
# min(id) over the component; singletons map to themselves.
_MINHASH_PAIRS = _minhash_oracle(8, 4, 0.5)
ORACLE["kg_canonicalize"] = rf"""
with recursive pairs as (
  select id_a, id_b from ({_MINHASH_PAIRS})
),
sym as (
  select id_a as a, id_b as b from pairs
  union
  select id_b, id_a from pairs
),
reach(a, b) as (
  select a, b from sym
  union
  select r.a, s.b from reach r join sym s on r.b = s.a
),
comp as (
  select a as entity_id, least(a, min(b)) as canonical_id from reach group by a
)
select d.doc_id as entity_id, coalesce(c.canonical_id, d.doc_id) as canonical_id
from documents d left join comp c on c.entity_id = d.doc_id
"""

# Paragraph-level dedup in SQL: same fingerprint (md5 of \s+-normalized
# paragraph), document-frequency gate, order-preserving reassembly.
ORACLE["dedup_paragraph"] = r"""
with aug as (
  select doc_id,
         'subscribe now daily newsletter' || chr(10) || text || chr(10) ||
         case when doc_id % 2 = 0 then 'copyright footer all rights reserved'
              else 'colophon of document ' || doc_id end as text
  from documents
),
paras as (
  select id, pos, para, md5(regexp_replace(para, '\s+', ' ', 'g')) as fp from (
    select doc_id as id,
           unnest(string_split(text, chr(10))) as para,
           generate_subscripts(string_split(text, chr(10)), 1) as pos
    from aug)
  where trim(para) <> ''
),
dfreq as (select fp, count(distinct id) as pdf from paras group by fp),
k as (select p.*, d.pdf <= 1 as keep from paras p join dfreq d using (fp)),
agg as (
  select id,
    string_agg(para, chr(10) order by pos) filter (keep) as text,
    (count(*) filter (keep))::bigint as n_kept,
    (count(*) filter (not keep))::bigint as n_dropped
  from k group by id
)
select id as doc_id, text, n_kept, n_dropped from agg where n_kept > 0
"""


# Incremental canonicalization in pure SQL: the same LSH blocking + Jaccard
# pairs as kg_canonicalize, partitioned by id parity into old-old (history
# closure → emap_old), new-old (adoption edges), and new-new (batch closure);
# resolution = per-new-component min adopted canonical, else component min —
# replaying canonicalize_entities_incremental's contract exactly.
def _incr_canon_oracle(num_hashes: int = 8, bands: int = 4, threshold: float = 0.5) -> str:
    r = num_hashes // bands
    mins = ", ".join(f"min(md5('{j}|' || shingle)) as h{j}" for j in range(num_hashes))
    band_exprs = ", ".join(
        "(" + " || ".join(f"h{b * r + i}" for i in range(r)) + f") as band_{b}" for b in range(bands)
    )
    band_union = " union all ".join(
        f"select id, {b} as band, band_{b} as band_sig from sigs" for b in range(bands)
    )
    return rf"""
with recursive {_SHINGLES_CTE},
sigs0 as (select id, {mins} from sh group by id),
sigs as (select id, {band_exprs} from sigs0),
band_rows as ({band_union}),
sizes as (select id, count(*)::bigint as sz from sh group by id),
cand_all as (
  select distinct a.id as id_a, b.id as id_b
  from band_rows a join band_rows b on a.band = b.band and a.band_sig = b.band_sig
  where a.id <> b.id
),
jac as (
  select c.id_a, c.id_b
  from (select c.id_a, c.id_b, count(*)::bigint as i
        from cand_all c
        join sh sa on sa.id = c.id_a
        join sh sb on sb.id = c.id_b and sb.shingle = sa.shingle
        group by c.id_a, c.id_b) c
  join sizes za on za.id = c.id_a
  join sizes zb on zb.id = c.id_b
  where c.i / (za.sz + zb.sz - c.i)::double >= {threshold}
),
old_pairs as (select id_a, id_b from jac where id_a % 2 = 0 and id_b % 2 = 0 and id_a < id_b),
adopt_pairs as (select id_a, id_b from jac where id_a % 2 = 1 and id_b % 2 = 0),
new_pairs as (select id_a, id_b from jac where id_a % 2 = 1 and id_b % 2 = 1 and id_a < id_b),
sym_old as (select id_a as a, id_b as b from old_pairs union select id_b, id_a from old_pairs),
reach_old(a, b) as (
  select a, b from sym_old
  union
  select r.a, s.b from reach_old r join sym_old s on r.b = s.a
),
comp_old as (select a as entity_id, least(a, min(b)) as canonical_id from reach_old group by a),
emap_old as (
  select d.doc_id as entity_id, coalesce(c.canonical_id, d.doc_id) as canonical_id
  from documents d left join comp_old c on c.entity_id = d.doc_id
  where d.doc_id % 2 = 0
),
sym_new as (select id_a as a, id_b as b from new_pairs union select id_b, id_a from new_pairs),
reach_new(a, b) as (
  select a, b from sym_new
  union
  select r.a, s.b from reach_new r join sym_new s on r.b = s.a
),
comp_new as (select a as entity_id, least(a, min(b)) as comp from reach_new group by a),
base as (
  select d.doc_id as entity_id, coalesce(c.comp, d.doc_id) as comp
  from documents d left join comp_new c on c.entity_id = d.doc_id
  where d.doc_id % 2 = 1
),
direct as (
  select p.id_a as entity_id, min(m.canonical_id) as adopt_c
  from adopt_pairs p join emap_old m on m.entity_id = p.id_b
  group by p.id_a
),
comp_adopt as (
  select b.comp, min(d.adopt_c) as comp_c
  from base b left join direct d on d.entity_id = b.entity_id
  group by b.comp
)
select b.entity_id, coalesce(ca.comp_c, b.comp) as canonical_id
from base b left join comp_adopt ca on ca.comp = b.comp
"""


ORACLE["kg_canonicalize_incr"] = _incr_canon_oracle(8, 4, 0.5)


# SimHash in pure SQL: md5-hex → uint64 via arithmetic hex parse (list_reduce
# keeps uhugeint — list_sum/sum would round through DOUBLE and corrupt low
# bits), per-bit majority vote, bit_or-assembled signature (disjoint powers),
# two's-complement to BIGINT to match the kernel's int64 output, then the
# same 4×16-bit-chunk banding join + Hamming verify as simhash_near_pairs.
# (Whitespace-only texts would differ — kernel emits 0, SQL drops the doc —
# but the corpus has none; NULL texts are dropped by both.)
ORACLE["dedup_simhash"] = r"""
with toks as (
  select doc_id, tok from (
    select doc_id, unnest(list_distinct(string_split_regex(lower(text), '\s+'))) as tok
    from documents where text is not null)
  where tok <> ''
),
hashes as (
  select doc_id, tok,
    list_reduce(list_transform(range(1, 17),
      p -> (strpos('0123456789abcdef', substr(md5(tok), p, 1))::uhugeint - 1::uhugeint)
           * (1::uhugeint << (4*(16-p))::uhugeint) ), (x, y) -> x + y)::uhugeint as h
  from toks
),
bits as (
  select doc_id, i,
    sum( ((h >> i::uhugeint) & 1::uhugeint)::hugeint ) * 2 - count(*) as vote
  from hashes cross join (select unnest(range(64)) as i)
  group by doc_id, i
),
sigs as (
  select doc_id,
    bit_or(case when vote > 0 then (1::uhugeint << i::uhugeint) else 0::uhugeint end)::uhugeint as usig
  from bits group by doc_id
),
final as (
  select doc_id,
    (case when usig >= 9223372036854775808::uhugeint
          then usig::hugeint - 18446744073709551616::hugeint
          else usig::hugeint end)::bigint as simhash,
    usig
  from sigs
),
chunks as (
  select doc_id, simhash, k, ((usig >> (16*k)::uhugeint) & 65535::uhugeint)::bigint as chunk
  from final cross join (select unnest(range(4)) as k)
),
cand as (
  select distinct a.doc_id as id_a, b.doc_id as id_b, a.simhash as sig_a, b.simhash as sig_b
  from chunks a join chunks b on a.k = b.k and a.chunk = b.chunk and a.doc_id < b.doc_id
)
select id_a, id_b, bit_count(xor(sig_a, sig_b))::int as hamming
from cand where bit_count(xor(sig_a, sig_b)) <= 16
"""

ORACLE["dedup_ngram_jaccard"] = rf"""
with {_SHINGLES_CTE},
sizes as (select id, count(*)::bigint as sz from sh group by id),
inter as (
  select a.id as id_a, b.id as id_b, count(*)::bigint as i
  from sh a join sh b on a.shingle = b.shingle and a.id < b.id
  group by 1, 2
)
select i.id_a, i.id_b,
       round(i.i / (za.sz + zb.sz - i.i)::double, 6) as jaccard
from inter i
join sizes za on za.id = i.id_a
join sizes zb on zb.id = i.id_b
where i.i / (za.sz + zb.sz - i.i)::double >= 0.5
"""

_COS_SQL = """
round(
  list_reduce(list_transform(range(1, len(c.embedding)+1),
      i -> c.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE), (x,y) -> x+y)
  / (sqrt(list_reduce(list_transform(range(1, len(c.embedding)+1),
      i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE), (x,y) -> x+y))
   * sqrt(list_reduce(list_transform(range(1, len(q.embedding)+1),
      i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE), (x,y) -> x+y)))
, 6)
"""

_COS_AB_SQL = """
round(
  list_reduce(list_transform(range(1, len(a.embedding)+1),
      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), (x,y) -> x+y)
  / (sqrt(list_reduce(list_transform(range(1, len(a.embedding)+1),
      i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE), (x,y) -> x+y))
   * sqrt(list_reduce(list_transform(range(1, len(b.embedding)+1),
      i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), (x,y) -> x+y)))
, 6)
"""

ORACLE["dedup_embedding"] = rf"""
select a.vec_id as id_a, b.vec_id as id_b, {_COS_AB_SQL} as score
from embeddings a join embeddings b on a.vec_id < b.vec_id
where {_COS_AB_SQL} >= 0.4
"""

def _ann_lsh_oracle(k: int = 5, dim: int = 64, n_planes: int = 4, n_tables: int = 8, seed: int = 7) -> str:
    """Full SQL replica of lsh_ann_topk: the hyperplane constants are
    embedded as literals (repr round-trips float64 exactly), sign-of-dot is
    numerically safe on this corpus (min |dot| ≈ 6e-5 vs ~1e-15 fold-order
    error — measured), and the rerank reuses the left-to-right cosine fold
    that ann_topk already hash-matches."""
    from extremexp_knowledge_graph_spark.operators.similarity import _hyperplanes

    rows = []
    for t in range(n_tables):
        for p, w in enumerate(_hyperplanes(dim, n_planes, seed + 1000 * t)):
            arr = "[" + ", ".join(repr(float(x)) for x in w) + "]"
            rows.append(f"({t}, {p}, {arr}::double[])")
    planes_values = ",\n".join(rows)
    dot = (
        "list_reduce(list_transform(range(1, len(e.embedding)+1),"
        " i -> e.embedding[i]::DOUBLE * p.w[i]), (x,y) -> x+y)"
    )
    return rf"""
with planes(tbl, plane, w) as (values
{planes_values}
),
buckets as (
  select e.vec_id, e.embedding, p.tbl,
         string_agg(case when {dot} >= 0 then '1' else '0' end, '' order by p.plane) as bucket
  from embeddings e cross join planes p
  group by e.vec_id, e.embedding, p.tbl
),
cand as (
  select distinct c.vec_id, c.embedding as c_emb, q.vec_id as query_id, q.embedding as q_emb
  from buckets c
  join (select * from buckets where vec_id < 10) q
    on c.tbl = q.tbl and c.bucket = q.bucket
  where c.vec_id <> q.vec_id
),
scored as (
  select query_id, vec_id,
    round(
      list_reduce(list_transform(range(1, len(c_emb)+1),
          i -> c_emb[i]::DOUBLE * q_emb[i]::DOUBLE), (x,y) -> x+y)
      / (sqrt(list_reduce(list_transform(range(1, len(c_emb)+1),
          i -> c_emb[i]::DOUBLE * c_emb[i]::DOUBLE), (x,y) -> x+y))
       * sqrt(list_reduce(list_transform(range(1, len(q_emb)+1),
          i -> q_emb[i]::DOUBLE * q_emb[i]::DOUBLE), (x,y) -> x+y)))
    , 6) as score
  from cand
),
ranked as (
  select query_id, vec_id, score,
         row_number() over (partition by query_id order by score desc, vec_id asc) as rnk
  from scored
)
select query_id, vec_id, score, rnk::int as rnk from ranked where rnk <= {k}
"""


ORACLE["ann_lsh"] = _ann_lsh_oracle(5, 64, 4, 8, 7)


def _lsh_buckets_cte(dim: int = 64, n_planes: int = 4, n_tables: int = 8, seed: int = 7) -> str:
    """planes + buckets CTE bodies shared by the LSH oracles (hyperplane
    constants as float64 literals — repr round-trips exactly)."""
    from extremexp_knowledge_graph_spark.operators.similarity import _hyperplanes

    rows = []
    for t in range(n_tables):
        for p, w in enumerate(_hyperplanes(dim, n_planes, seed + 1000 * t)):
            arr = "[" + ", ".join(repr(float(x)) for x in w) + "]"
            rows.append(f"({t}, {p}, {arr}::double[])")
    planes_values = ",\n".join(rows)
    dot = (
        "list_reduce(list_transform(range(1, len(e.embedding)+1),"
        " i -> e.embedding[i]::DOUBLE * p.w[i]), (x,y) -> x+y)"
    )
    return rf"""planes(tbl, plane, w) as (values
{planes_values}
),
buckets as (
  select e.vec_id, e.embedding, p.tbl,
         string_agg(case when {dot} >= 0 then '1' else '0' end, '' order by p.plane) as bucket
  from embeddings e cross join planes p
  group by e.vec_id, e.embedding, p.tbl
)"""


# LSH-blocked near-dup: candidate pairs share a bucket in ≥1 table; exact
# cosine verify within candidates — the full-SQL replica of
# embedding_near_dup_pairs' DEFAULT (scale) path.
ORACLE["dedup_embedding_lsh"] = rf"""
with {_lsh_buckets_cte(64, 4, 8, 7)},
cand as (
  select distinct a.vec_id as id_a, a.embedding as va, b.vec_id as id_b, b.embedding as vb
  from buckets a join buckets b on a.tbl = b.tbl and a.bucket = b.bucket
  where a.vec_id < b.vec_id
)
select id_a, id_b,
  round(
    list_reduce(list_transform(range(1, len(va)+1),
        i -> va[i]::DOUBLE * vb[i]::DOUBLE), (x,y) -> x+y)
    / (sqrt(list_reduce(list_transform(range(1, len(va)+1),
        i -> va[i]::DOUBLE * va[i]::DOUBLE), (x,y) -> x+y))
     * sqrt(list_reduce(list_transform(range(1, len(vb)+1),
        i -> vb[i]::DOUBLE * vb[i]::DOUBLE), (x,y) -> x+y)))
  , 6) as score
from cand
where round(
    list_reduce(list_transform(range(1, len(va)+1),
        i -> va[i]::DOUBLE * vb[i]::DOUBLE), (x,y) -> x+y)
    / (sqrt(list_reduce(list_transform(range(1, len(va)+1),
        i -> va[i]::DOUBLE * va[i]::DOUBLE), (x,y) -> x+y))
     * sqrt(list_reduce(list_transform(range(1, len(vb)+1),
        i -> vb[i]::DOUBLE * vb[i]::DOUBLE), (x,y) -> x+y)))
  , 6) >= 0.4
"""


def _ann_ivf_oracle(
    k: int = 5, nlist: int = 16, nprobe: int = 4, iters: int = 3, seed: int = 7
) -> str:
    """Full SQL replay of ivf_ann_topk's deterministic fit + probe + rerank.

    The fit is portable by construction (operators/similarity.py::
    ivf_fit_centroids): init = first ``nlist`` vectors by md5(vec_id||'|s')
    order; each Lloyd iteration assigns every vector to its nearest centroid
    by squared distance (−2·v·c + ‖c‖², ties → lowest centroid index) and
    re-averages per dimension, keeping the previous centroid for emptied
    clusters. Cross-engine float-summation differences (numpy matmul vs SQL
    left-to-right fold, ~1e-13) are harmless because Voronoi assignment
    margins on this corpus are ≥1.7e-4, ≈1e-3 relative (asserted in pytest)."""

    def dist(vec_expr: str, cent: str) -> str:
        return (
            f"-2 * list_reduce(list_transform(range(1, len({vec_expr})+1),"
            f" i -> {vec_expr}[i]::DOUBLE * {cent}.vec[i]), (x,y) -> x+y)"
            f" + list_reduce(list_transform(range(1, len({cent}.vec)+1),"
            f" i -> {cent}.vec[i] * {cent}.vec[i]), (x,y) -> x+y)"
        )

    ctes = [
        f"""cent0 as (
  select c, vec from (
    select row_number() over (order by md5(vec_id::varchar || '|{seed}')) - 1 as c,
           embedding::double[] as vec
    from embeddings) sub
  where c < {nlist}
)"""
    ]
    for it in range(iters):
        ctes.append(
            f"""a{it} as (
  select vec_id, embedding, c from (
    select e.vec_id, e.embedding, cc.c,
           row_number() over (partition by e.vec_id
                              order by {dist('e.embedding', 'cc')}, cc.c) as rn
    from embeddings e cross join cent{it} cc) sub
  where rn = 1
)"""
        )
        ctes.append(
            f"""m{it} as (
  select c, list(m order by i) as vec from (
    select c, i, avg(x) as m from (
      select c, unnest(embedding) as x, generate_subscripts(embedding, 1) as i
      from a{it}) ex
    group by c, i) dims
  group by c
)"""
        )
        ctes.append(
            f"""cent{it + 1} as (
  select p.c, coalesce(m.vec, p.vec) as vec
  from cent{it} p left join m{it} m on m.c = p.c
)"""
        )
    fin = f"cent{iters}"
    ctes.append(
        f"""afin as (
  select vec_id, embedding, c from (
    select e.vec_id, e.embedding, cc.c,
           row_number() over (partition by e.vec_id
                              order by {dist('e.embedding', 'cc')}, cc.c) as rn
    from embeddings e cross join {fin} cc) sub
  where rn = 1
)"""
    )
    ctes.append(
        f"""qprobe as (
  select vec_id as query_id, embedding as q_emb, c from (
    select e.vec_id, e.embedding, cc.c,
           row_number() over (partition by e.vec_id
                              order by {dist('e.embedding', 'cc')}, cc.c) as rn
    from embeddings e cross join {fin} cc
    where e.vec_id < 10) sub
  where rn <= {nprobe}
)"""
    )
    ctes.append(
        """scored as (
  select q.query_id, a.vec_id,
    round(
      list_reduce(list_transform(range(1, len(a.embedding)+1),
          i -> a.embedding[i]::DOUBLE * q.q_emb[i]::DOUBLE), (x,y) -> x+y)
      / (sqrt(list_reduce(list_transform(range(1, len(a.embedding)+1),
          i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE), (x,y) -> x+y))
       * sqrt(list_reduce(list_transform(range(1, len(q.q_emb)+1),
          i -> q.q_emb[i]::DOUBLE * q.q_emb[i]::DOUBLE), (x,y) -> x+y)))
    , 6) as score
  from afin a join qprobe q on a.c = q.c
  where a.vec_id <> q.query_id
)"""
    )
    ctes.append(
        """ranked as (
  select query_id, vec_id, score,
         row_number() over (partition by query_id order by score desc, vec_id asc) as rnk
  from scored
)"""
    )
    body = ",\n".join(ctes)
    return f"""
with {body}
select query_id, vec_id, score, rnk::int as rnk from ranked where rnk <= {k}
"""


ORACLE["ann_ivf"] = _ann_ivf_oracle(5, 16, 4, 3, 7)

ORACLE["ann_topk"] = rf"""
with scored as (
  select q.vec_id as query_id, c.vec_id, {_COS_SQL} as score
  from embeddings c, embeddings q
  where q.vec_id < 10 and c.vec_id <> q.vec_id
),
ranked as (
  select query_id, vec_id, score,
         row_number() over (partition by query_id order by score desc, vec_id asc) as rnk
  from scored
)
select query_id, vec_id, score, rnk::int as rnk from ranked where rnk <= 5
"""

ORACLE["ann_threshold"] = rf"""
select q.vec_id as query_id, c.vec_id, {_COS_SQL} as score
from embeddings c, embeddings q
where q.vec_id < 50 and c.vec_id <> q.vec_id and {_COS_SQL} >= 0.25
"""

ORACLE["sql_pricing_summary"] = """
select l_returnflag, l_linestatus,
       round((sum(l_quantity::decimal(18,6)))::double, 2) as sum_qty,
       round((sum(l_extendedprice::decimal(18,6)))::double, 2) as sum_base_price,
       round((sum(l_extendedprice::decimal(18,6) * (1::decimal(18,6) - l_discount::decimal(18,6))))::double, 2) as sum_disc_price,
       count(*)::bigint as count_order
from lineitem
where l_shipdate <= timestamp '1998-09-02'
group by l_returnflag, l_linestatus
"""

ORACLE["sql_top_customers"] = """
select c_custkey, c_name,
       round((sum(o_totalprice::decimal(18,6)))::double, 2) as revenue,
       count(*)::bigint as n_orders
from orders join customer on o_custkey = c_custkey
group by c_custkey, c_name
order by revenue desc, c_custkey asc
limit 20
"""

ORACLE["sql_sales_rollup"] = """
select coalesce(l_returnflag, 'ALL') as returnflag,
       coalesce(l_linestatus, 'ALL') as linestatus,
       count(*)::bigint as n,
       round(sum(l_quantity::decimal(18,6))::double, 2) as sum_qty
from lineitem
where l_shipdate <= '1998-09-02'
group by rollup(l_returnflag, l_linestatus)
"""

ORACLE["events_hourly"] = """
select strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') as hour, event_type,
       count(*)::bigint as n,
       round(((sum(value::decimal(18,6)))::double / count(*)), 6) as avg_value
from events
group by 1, 2
"""


ORACLE["text_chunks"] = r"""
WITH t AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '[a-z0-9]+', 0) AS toks,
         len(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS n
  FROM documents
),
c AS (
  SELECT doc_id, toks, n,
         CAST(s // 24 AS INTEGER) AS chunk_idx, CAST(s AS BIGINT) AS start_tok
  FROM t, LATERAL (SELECT unnest(range(0, CAST(n AS BIGINT), 24)) AS s) rs
  WHERE n > 0
)
SELECT doc_id, chunk_idx, start_tok,
  CAST(len(list_slice(toks, start_tok + 1, least(start_tok + 40, n))) AS BIGINT) AS n_tokens,
  array_to_string(list_slice(toks, start_tok + 1, least(start_tok + 40, n)), ' ') AS chunk_text
FROM c
"""

def _jpeg_md5_byte_sql(idx: str) -> str:
    """SQL for byte ``idx`` of the '42|jpg|<media_id>|<k>' md5 stream —
    the same strpos hex parse the GIF/PNG oracles use."""
    stream = f"md5('42|jpg|' || media_id || '|' || (({idx}) // 16))"
    return (
        f"((strpos('0123456789abcdef', substr({stream}, ((({idx}) % 16) * 2) + 1, 1)) - 1) * 16"
        f" + (strpos('0123456789abcdef', substr({stream}, ((({idx}) % 16) * 2) + 2, 1)) - 1))"
    )


# Arithmetic replay of the baseline-JPEG fixtures, fully independent of the
# decoder: per pixel, look up the block's DC byte in the md5 stream (scan
# interleave order — 1/3/6 bytes per block-or-MCU for gray/4:4:4/4:2:0),
# component sample = clamp(2*byte - 128) (DC-only IDCT), then the JFIF
# color convert with floor(x+0.5) exactly as the decoder rounds.
ORACLE["multimodal_jpeg"] = rf"""
WITH meta AS (
  SELECT doc_id AS media_id,
         CAST(9 + (doc_id % 13) AS INTEGER) AS w,
         CAST(9 + ((doc_id * 7) % 11) AS INTEGER) AS h,
         doc_id % 3 AS mode
  FROM documents
),
px AS (
  SELECT media_id, w, h, mode, j,
         (j // 3) // w AS r, (j // 3) % w AS c, j % 3 AS ch
  FROM meta, LATERAL (SELECT unnest(range(0, CAST(w AS BIGINT) * h * 3)) AS j) rj
),
idx AS (
  SELECT media_id, w, h, mode, j, ch,
    CASE WHEN mode = 2
         THEN 6 * ((r // 16) * ((w + 15) // 16) + (c // 16)) + ((r % 16) // 8) * 2 + ((c % 16) // 8)
         WHEN mode = 1 THEN 3 * ((r // 8) * ((w + 7) // 8) + (c // 8))
         ELSE (r // 8) * ((w + 7) // 8) + (c // 8) END AS yi,
    CASE WHEN mode = 2 THEN 6 * ((r // 16) * ((w + 15) // 16) + (c // 16)) + 4
         WHEN mode = 1 THEN 3 * ((r // 8) * ((w + 7) // 8) + (c // 8)) + 1
         ELSE NULL END AS cbi,
    CASE WHEN mode = 2 THEN 6 * ((r // 16) * ((w + 15) // 16) + (c // 16)) + 5
         WHEN mode = 1 THEN 3 * ((r // 8) * ((w + 7) // 8) + (c // 8)) + 2
         ELSE NULL END AS cri
  FROM px
),
comps AS (
  SELECT media_id, w, h, mode, j, ch,
    least(255, greatest(0, 2 * {_jpeg_md5_byte_sql("yi")} - 128)) AS y,
    least(255, greatest(0, 2 * {_jpeg_md5_byte_sql("cbi")} - 128)) AS cb,
    least(255, greatest(0, 2 * {_jpeg_md5_byte_sql("cri")} - 128)) AS cr
  FROM idx
),
vals AS (
  SELECT media_id, w, h, j,
    CAST(CASE WHEN mode = 0 THEN y
         WHEN ch = 0 THEN least(255, greatest(0, floor(y + 1.402 * (cr - 128) + 0.5)))
         WHEN ch = 1 THEN least(255, greatest(0, floor(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5)))
         ELSE least(255, greatest(0, floor(y + 1.772 * (cb - 128) + 0.5))) END AS BIGINT) AS val
  FROM comps
)
SELECT media_id, 'jpeg' AS fmt, w, h,
  CAST(count(*) AS BIGINT) AS n_px,
  round(CAST(sum(val) AS DOUBLE) / (w * h * 3), 6) AS mean_val,
  CAST(sum((j + 1) * val) AS BIGINT) AS checksum
FROM vals GROUP BY media_id, w, h
"""


# Composed curation → chunking → fingerprint replay: the curated keeper set
# is the text_curation oracle verbatim (nested WITH in a derived table),
# then the text_chunks windows run over ONLY those documents and roll up to
# per-doc counts + an order-sensitive md5-of-md5s chunk fingerprint
# (string_agg ORDER BY chunk_idx ≡ Spark's array_sort(collect_list)).
ORACLE["text_chunk_curation"] = rf"""
WITH curated AS (
  SELECT cur.doc_id, d.text
  FROM ({ORACLE["text_curation"]}) cur JOIN documents d USING (doc_id)
),
t AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '[a-z0-9]+', 0) AS toks,
         len(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS n
  FROM curated
),
c AS (
  SELECT doc_id, toks, n,
         CAST(s // 24 AS INTEGER) AS chunk_idx, CAST(s AS BIGINT) AS start_tok
  FROM t, LATERAL (SELECT unnest(range(0, CAST(n AS BIGINT), 24)) AS s) rs
  WHERE n > 0
),
ch AS (
  SELECT doc_id, chunk_idx,
    CAST(len(list_slice(toks, start_tok + 1, least(start_tok + 40, n))) AS BIGINT) AS n_tokens,
    md5(array_to_string(list_slice(toks, start_tok + 1, least(start_tok + 40, n)), ' ')) AS fp
  FROM c
)
SELECT doc_id,
  count(*)::BIGINT AS n_chunks,
  sum(n_tokens)::BIGINT AS total_tokens,
  md5(string_agg(fp, '' ORDER BY chunk_idx)) AS chunks_fp
FROM ch GROUP BY doc_id
"""

# Relational replay of Spark session_window merge semantics: break exactly
# when the inter-event gap EXCEEDS 30min (touching windows merge — an
# event at precisely prev_ts + gap continues the session; verified against
# Spark in test_sessionize_gap_semantics); session_end = last event + gap.
# Microsecond timestamps both sides; value sums in decimal then rounds.
ORACLE["events_sessions"] = r"""
WITH o AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id,
  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
  count(*)::BIGINT AS n_events,
  round((sum(value::DECIMAL(18,6)))::DOUBLE, 6) AS sum_value
FROM s GROUP BY user_id, sid
"""

# The two-phase (hot-key-safe) sessionizer is defined to be bit-identical
# to the one-phase plan — it shares the SAME oracle, so the driver gate
# itself proves the equivalence at sf0.01.
ORACLE["events_sessions_two_phase"] = ORACLE["events_sessions"]


# Same triple universe as kg_pred_counts — swap only the final aggregate
# for per-node degrees. Object-side nodes replay dedup's explicit
# obj_is_iri flag (branch-determined, same as the Spark side's TRIPLE_KEY
# column), not a scheme-prefix heuristic.
ORACLE["kg_degree_topk"] = ORACLE["kg_pred_counts"].replace(
    "select pred, count(*)::bigint as n from dedup group by pred",
    """select node,
  sum(out_d)::bigint as out_degree,
  sum(in_d)::bigint as in_degree,
  (sum(out_d) + sum(in_d))::bigint as degree
from (
  select subj as node, 1 as out_d, 0 as in_d from dedup
  union all
  select obj, 0, 1 from dedup where obj_is_iri = 1
)
group by node
order by degree desc, node
limit 20""",
)


def _pagerank_cte_sql(iters: int = 5, alpha: float = 0.85) -> str:
    """Unrolled damped power iteration continuing kg_pred_counts' WITH list
    (leading comma). DuckDB recursive CTEs forbid the aggregate we need, so
    the iterations are generated as chained CTEs — same constant-depth
    shape as the Spark loop. ``list_reduce(list(x ORDER BY src))`` folds
    contributions in source order ≡ the Spark side's _sorted_fold; the 1-α
    literal is repr()'d from the SAME Python expression Spark lits."""
    a, om = repr(alpha), repr(1 - alpha)
    parts = [
        ",\nedges AS (SELECT DISTINCT subj AS src, obj AS dst FROM dedup WHERE obj_is_iri = 1),",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),",
        "outdeg AS (SELECT src, count(*)::BIGINT AS od FROM edges GROUP BY src),",
        "r0 AS (SELECT node, 1.0::DOUBLE AS r FROM nodes),",
    ]
    for i in range(1, iters + 1):
        parts.append(f"""r{i} AS (
  SELECT n.node, {om} + {a} * coalesce(c.s, 0.0) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node,
           list_reduce(list(r.r / d.od ORDER BY e.src), (x, y) -> x + y) AS s
    FROM edges e JOIN r{i - 1} r ON r.node = e.src JOIN outdeg d ON d.src = e.src
    GROUP BY e.dst
  ) c ON c.node = n.node
){"," if i < iters else ""}""")
    parts.append(
        f"SELECT node, round(r, 6) AS pr FROM r{iters} ORDER BY pr DESC, node LIMIT 20"
    )
    return "\n".join(parts)


ORACLE["kg_pagerank"] = ORACLE["kg_pred_counts"].replace(
    "select pred, count(*)::bigint as n from dedup group by pred",
    _pagerank_cte_sql(iters=5, alpha=0.85),
)


def _hll_oracle_sql() -> str:
    """Exact replay of functions/sketch.py::hll_distinct(p=8) — nibble-wise
    register/rank from the md5 hex string, register-ordered harmonic fold,
    and the SAME Python-evaluated α·m² double."""
    from extremexp_knowledge_graph_spark.functions.sketch import hll_alpha_m2

    am2 = repr(hll_alpha_m2(8))
    return rf"""
WITH h AS (
  SELECT md5(event_id::VARCHAR || '|hll') AS hx FROM events
),
rr AS (
  SELECT
    (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
      + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) AS reg,
    length(regexp_extract(substr(hx, 3, 13), '^(0*)', 1)) AS z,
    substr(hx, 3, 13) AS s
  FROM h
),
rk AS (
  SELECT reg,
    CASE WHEN z = 13 THEN 53
         ELSE z * 4 + CASE WHEN nib >= 8 THEN 0 WHEN nib >= 4 THEN 1
                           WHEN nib >= 2 THEN 2 ELSE 3 END + 1 END AS rank
  FROM (SELECT reg, z,
               strpos('0123456789abcdef', substr(s, z + 1, 1)) - 1 AS nib
        FROM rr)
),
regs AS (SELECT reg, max(rank) AS mx FROM rk GROUP BY reg),
agg AS (
  SELECT count(*)::BIGINT AS registers_seen,
         list_reduce(list(power(2.0, -mx) ORDER BY reg), (x, y) -> x + y) AS ssum
  FROM regs
)
SELECT 256::INTEGER AS m, registers_seen,
  round(CASE WHEN registers_seen = 0 THEN 0.0::DOUBLE
             ELSE {am2} / (ssum + (256 - registers_seen)) END, 6) AS hll_estimate
FROM agg
"""


ORACLE["sketch_hll_distinct"] = _hll_oracle_sql()


def oracle_sql() -> dict[str, str]:
    return dict(ORACLE)
