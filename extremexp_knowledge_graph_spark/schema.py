"""Schemas and the fixed ontology.

Ontology constants mirror the reference's hand-written schema module
(extremexp_kg_matic/src/kg_schema.py:1-48): 6 classes, 11 datatype
properties, 8 object properties under the namespace
``http://extremexp.eu/ontology/matic_papers/`` (src/kg_schema.py:4).

Input schema mirrors the reference's pydantic model PaperData
(src/api.py:114-127) plus the alias fields it accepts (`pdfUrl` for `url`,
`papersWithCodeUrl` for `origin`); the duck-typed mapper additionally
tolerates missing keys (src/utils.py:249-362) which explicit-schema JSON
reads reproduce as NULLs.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# Namespaces (src/kg_schema.py:4; rdflib RDF namespace)
# ---------------------------------------------------------------------------
NS = "http://extremexp.eu/ontology/matic_papers/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD = "http://www.w3.org/2001/XMLSchema#"
RDFS_NS = "http://www.w3.org/2000/01/rdf-schema#"
# Secondary namespace used by the reference's generic text extractor
# (src/utils.py:12 `EX = Namespace("http://example.org/")`).
EX2 = "http://example.org/"

XSD_STRING = XSD + "string"
XSD_ANYURI = XSD + "anyURI"
XSD_GYEAR = XSD + "gYear"
XSD_DECIMAL = XSD + "decimal"
XSD_INTEGER = XSD + "integer"

# Classes (src/kg_schema.py:7-12)
CLS_PAPER = NS + "Paper"
CLS_TASK = NS + "Task"
CLS_DATASET = NS + "Dataset"
CLS_METHOD = NS + "Method"
CLS_MODEL_CONFIGURATION = NS + "ModelConfiguration"
CLS_REPORTED_RESULT = NS + "ReportedResult"

# Datatype properties (src/kg_schema.py:15-35)
P_TITLE = NS + "paperTitle"
P_PDF_URL = NS + "pdfUrl"
P_PWC_URL = NS + "papersWithCodeUrl"
P_YEAR = NS + "year"
P_TASK_NAME = NS + "taskName"
P_DATASET_NAME = NS + "datasetName"
P_METHOD_NAME = NS + "methodName"
P_CONFIGURATION_STRING = NS + "configurationString"
P_METRIC_NAME = NS + "metricName"
P_METRIC_VALUE = NS + "metricValue"
P_RANK = NS + "rank"

# Object properties (src/kg_schema.py:39-48)
P_MENTIONS_TASK = NS + "mentionsTask"
P_MENTIONS_DATASET = NS + "mentionsDataset"
P_REPORTS_RESULT = NS + "reportsResult"
P_EMPLOYS_METHOD = NS + "employsMethod"
P_EVALUATES_TASK = NS + "evaluatesTask"
P_ON_DATASET = NS + "onDataset"
P_ACHIEVED_BY_MODEL = NS + "achievedByModel"
P_REPORTED_IN_PAPER = NS + "reportedInPaper"

# ---------------------------------------------------------------------------
# Input schema: papers (fixture regime)
# ---------------------------------------------------------------------------
RESULT_STRUCT = StructType(
    [
        StructField("task", StringType()),
        StructField("dataset", StringType()),
        StructField("model", StringType()),
        StructField("metric", StringType()),
        StructField("value", StringType()),
        StructField("rank", StringType()),
    ]
)

#: Raw JSON schema including the alias fields accepted by the API
#: (src/api.py:114-127 `pdfUrl` alias of `url`, `papersWithCodeUrl` alias of
#: `origin`); normalize_aliases() below collapses them (src/api.py:236-248,
#: though the mapper itself already coalesces at src/utils.py:264-265,274-275).
PAPER_RAW_SCHEMA = StructType(
    [
        StructField("title", StringType()),
        StructField("year", IntegerType()),
        StructField("url", StringType()),
        StructField("pdfUrl", StringType()),
        StructField("origin", StringType()),
        StructField("papersWithCodeUrl", StringType()),
        StructField("tasks", ArrayType(StringType())),
        StructField("datasets", ArrayType(StringType())),
        StructField("methods", ArrayType(StringType())),
        StructField("results", ArrayType(RESULT_STRUCT)),
    ]
)

#: Normalized schema the mapper consumes.
PAPER_SCHEMA = StructType(
    [
        StructField("title", StringType()),
        StructField("year", IntegerType()),
        StructField("url", StringType()),
        StructField("origin", StringType()),
        StructField("tasks", ArrayType(StringType())),
        StructField("datasets", ArrayType(StringType())),
        StructField("methods", ArrayType(StringType())),
        StructField("results", ArrayType(RESULT_STRUCT)),
        StructField("prov", StringType()),
    ]
)

# ---------------------------------------------------------------------------
# Input schema: pages (web regime, BASELINE.json input_hint)
# ---------------------------------------------------------------------------
PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)

# Derived web-pipeline relations (S1 / S2 / S3 output) — the declared
# schemas ``kg_store.read_table`` reads them with (a zero-row partitioned
# parquet write leaves no footer to infer one from).
DOCS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("url_bucket", LongType()),
    ]
)

LINKED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("surface", StringType()),
        StructField("entity_id", StringType()),
        StructField("score", DoubleType()),
        StructField("url_bucket", LongType()),
    ]
)

EMAP_SCHEMA = StructType(
    [
        StructField("entity_id", StringType()),
        StructField("canonical_id", StringType()),
    ]
)

# ---------------------------------------------------------------------------
# Output schema: the materialized triple table (FIXTURES.md §3)
# ---------------------------------------------------------------------------
TRIPLE_SCHEMA = StructType(
    [
        StructField("subj", StringType(), nullable=False),
        StructField("pred", StringType(), nullable=False),
        StructField("obj", StringType()),
        StructField("obj_is_iri", BooleanType(), nullable=False),
        # NULL = RDF plain literal (the reference emits untyped literals for
        # result-level task/dataset names, src/utils.py:346,353).
        StructField("obj_datatype", StringType()),
        StructField("prov", StringType()),
    ]
)

TRIPLE_KEY = ["subj", "pred", "obj", "obj_is_iri", "obj_datatype"]

#: Checkpoint manifest row — per stage × partition lineage + metrics
#: (replaces the reference's in-memory ``processed_files`` set,
#: src/file_watcher.py:20,124, and its metrics collector, src/monitoring.py).
MANIFEST_SCHEMA = StructType(
    [
        StructField("stage", StringType(), nullable=False),
        StructField("partition_key", StringType(), nullable=False),
        StructField("input_fingerprint", StringType()),
        StructField("output_fingerprint", StringType()),
        StructField("rows_in", LongType()),
        StructField("rows_out", LongType()),
        StructField("wall_ms", LongType()),
        StructField("status", StringType()),
        StructField("ts", TimestampType()),
        # monotonic append sequence: latest-row selection tiebreak when two
        # appends land in the same wall-clock microsecond (or the clock steps
        # backwards). NULL on legacy rows; ordering puts NULLs last.
        StructField("seq", LongType()),
    ]
)
