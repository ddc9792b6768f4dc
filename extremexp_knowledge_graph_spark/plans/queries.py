"""Query-side plans over the triple table (G1-G7).

The reference's query surface is whatever SPARQL Fuseki executes; its one
checked-in exemplar (extremexp_kg_matic/sparql_queries/query_paper_details.rq)
is a star pattern with three OPTIONALs and LIMIT 10. Triple-pattern stars
over a triple table are self-joins on ``subj``; the scalable form is a
*pivoted entity view* (one groupBy instead of k self-joins), which is what
``entity_view`` builds — at 10^12 triples that's one shuffle on subj, and
the store's subject bucketing makes it co-located.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from extremexp_knowledge_graph_spark.schema import (
    CLS_PAPER,
    P_PDF_URL,
    P_PWC_URL,
    P_TITLE,
    P_YEAR,
    RDF_TYPE,
)


def entity_view(triples: DataFrame, class_iri: str, props: dict[str, str]) -> DataFrame:
    """Pivot a class's instances into one row per subject: (subj, <props...>).

    ``props`` maps output column name → predicate IRI. Multi-valued
    predicates keep the minimum value (deterministic); use
    ``collect_set``-style views for set-valued needs.
    """
    members = triples.where((F.col("pred") == RDF_TYPE) & (F.col("obj") == class_iri)).select("subj")
    wanted = {v: k for k, v in props.items()}
    rows = triples.join(members, "subj", "left_semi").where(F.col("pred").isin(list(wanted)))
    pivoted = (
        rows.groupBy("subj")
        .pivot("pred", list(wanted))
        .agg(F.min("obj"))
    )
    out = members.join(pivoted, "subj", "left")  # G2: OPTIONAL ≡ left join
    for pred_iri, col_name in wanted.items():
        out = out.withColumnRenamed(pred_iri, col_name)
    return out


def entity_view_sets(triples: DataFrame, class_iri: str, props: dict[str, str]) -> DataFrame:
    """Set-valued entity view: like ``entity_view`` but each prop column is
    the SORTED ARRAY of all values (rdflib's multi-valued predicate
    semantics, e.g. a paper's full ``mentionsTask`` set rather than the
    minimum). Same single shuffle on subj; per-group state is the value set,
    bounded by per-entity fan-out (ontology-bounded, not corpus-bounded).
    Subjects lacking a predicate get NULL (G2 OPTIONAL ≡ left join)."""
    members = triples.where((F.col("pred") == RDF_TYPE) & (F.col("obj") == class_iri)).select("subj").distinct()
    wanted = {v: k for k, v in props.items()}
    rows = triples.join(members, "subj", "left_semi").where(F.col("pred").isin(list(wanted)))
    pivoted = (
        rows.groupBy("subj")
        .pivot("pred", list(wanted))
        .agg(F.array_sort(F.collect_set("obj")))
    )
    out = members.join(pivoted, "subj", "left")
    for pred_iri, col_name in wanted.items():
        out = out.withColumnRenamed(pred_iri, col_name)
    return out


def paper_details(triples: DataFrame, title_contains: str | None = None, limit: int = 10) -> DataFrame:
    """The exemplar query (query_paper_details.rq:1-15): papers with title and
    OPTIONAL pdfUrl/papersWithCodeUrl/year; FILTER CONTAINS on lowered title
    (G3, the commented filter in the .rq); ordered by year desc then subj for
    determinism (the report's 'papers ordered by year', reports/main.tex:207);
    LIMIT (G4)."""
    view = entity_view(
        triples,
        CLS_PAPER,
        {"title": P_TITLE, "pdfUrl": P_PDF_URL, "papersWithCodeUrl": P_PWC_URL, "year": P_YEAR},
    )
    view = view.where(F.col("title").isNotNull())
    if title_contains:
        view = view.where(F.lower(F.col("title")).contains(title_contains.lower()))
    return (
        view.orderBy(F.desc_nulls_last("year"), F.asc("subj"))
        .limit(limit)
        .select("subj", "title", "pdfUrl", "papersWithCodeUrl", "year")
    )


def count_by_predicate(triples: DataFrame) -> DataFrame:
    return triples.groupBy("pred").agg(F.count("*").cast("long").alias("n")).orderBy(F.desc("n"), F.asc("pred"))


def count_by_class(triples: DataFrame) -> DataFrame:
    return (
        triples.where(F.col("pred") == RDF_TYPE)
        .groupBy(F.col("obj").alias("class"))
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("class"))
    )


def degree_topk(triples: DataFrame, k: int = 20) -> DataFrame:
    """Graph-side centrality stats over the KG: per-node out-degree (as
    subject) + in-degree (as IRI object), top-k by total degree with a
    total tiebreak order. The reference exposes only whole-graph counts
    (src/fuseki_client.py:111-132); per-node degrees are the first thing a
    graph consumer asks next. One union + one hash aggregate + a
    TakeOrderedAndProject — no full sort at 100 TB.

    Object-side nodes are selected by the triple relation's explicit
    ``obj_is_iri`` flag (part of TRIPLE_KEY), not a scheme prefix: https
    IRIs count toward in-degree and literals that merely start with
    ``http://`` do not."""
    nodes = triples.select(
        F.col("subj").alias("node"), F.lit(1).alias("out_d"), F.lit(0).alias("in_d")
    ).unionByName(
        triples.where(F.col("obj_is_iri").cast("boolean")).select(
            F.col("obj").alias("node"), F.lit(0).alias("out_d"), F.lit(1).alias("in_d")
        )
    )
    return (
        nodes.groupBy("node")
        .agg(
            F.sum("out_d").cast("long").alias("out_degree"),
            F.sum("in_d").cast("long").alias("in_degree"),
        )
        .withColumn("degree", (F.col("out_degree") + F.col("in_degree")).cast("long"))
        .orderBy(F.desc("degree"), F.asc("node"))
        .limit(k)
    )


def pagerank_topk(
    triples: DataFrame, k: int = 20, iters: int = 10, alpha: float = 0.85
) -> DataFrame:
    """Relational PageRank over the KG's IRI→IRI edges (damped power
    iteration, unnormalized ``(1-α) + α·Σ r(u)/outdeg(u)`` form), top-k.

    The graph-analytics step past ``degree_topk`` that a KG consumer asks
    for next; the reference has no graph-side computation at all (its
    Fuseki endpoint serves pattern queries only, src/fuseki_client.py).
    Spark-first shape: the edge relation (with out-degrees) is computed
    once and lineage-truncated; each iteration is one join + one hash
    aggregate, checkpointed so the plan stays constant-depth. At 100 TB:
    pre-partition edges by ``src`` so the per-iteration join is
    shuffle-free on the edge side and only the (much smaller) rank vector
    moves.

    Float determinism for the driver oracle: per-destination contributions
    fold in SOURCE-NODE order via the linker's ``_sorted_fold`` (≡ DuckDB
    ``list_reduce(list(... ORDER BY src))``), and ``1-α`` is evaluated in
    Python on both sides so the literal is bit-identical. Parallel edges
    are collapsed (simple digraph); dangling mass is dropped (the damping
    constant keeps ranks finite) — both documented, both replayed."""
    from extremexp_knowledge_graph_spark.operators.linker import _sorted_fold

    edges = (
        triples.where(F.col("obj_is_iri").cast("boolean"))
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .distinct()
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    outdeg = edges.groupBy("src").agg(F.count("*").cast("long").alias("od"))
    e = edges.join(outdeg, "src").localCheckpoint()
    ranks = nodes.select("node", F.lit(1.0).alias("r"))
    for _ in range(iters):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(_sorted_fold(F.col("src"), F.col("r") / F.col("od")).alias("s"))
        )
        ranks = (
            nodes.join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                (F.lit(1 - alpha) + F.lit(alpha) * F.coalesce("s", F.lit(0.0))).alias("r"),
            )
            .localCheckpoint()
        )
    return (
        ranks.select("node", F.round("r", 6).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("node"))
        .limit(k)
    )
