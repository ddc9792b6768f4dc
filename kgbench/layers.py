"""The traced part of a ``--trace 1`` run: per-layer metrics.

In place of the untraced pass, a traced pass calls each stage on its own
(``run_web_pipeline(stages=(X,))``) under a Spark job group of the stage's
name; its wall (``trace.pass_s``) minus ``pass_s`` of an untraced run of the
same workload and seed is the tracing overhead. Then each layer's operator
is called directly on the traced pass's stage input with a ``noop`` sink,
the store is merged into and read, the pipeline is resubmitted unchanged,
and the query mix runs on the traced pass's store (each result checked
against DuckDB). Every call is a span and a job group; ``fold`` turns the
event log into the metrics.
"""

from __future__ import annotations

import functools
import glob
import os
import pstats
import shutil

import checks
import duckdb
from tracing import group_fold, job_group, layer_metrics

from extremexp_knowledge_graph_spark.plans.web_pipeline import ALL_STAGES, S3, S4

PAGERANK_ITERS = 10
QUERIES = ("count_by_predicate", "count_by_class", "entity_view", "degree_topk", "pagerank_topk")

#: stage -> the operator probes whose walls its bookkeeping_s excludes
OPERATOR = {
    "s1_extract": ("html_extract.extract_text",),
    "s2_link": ("linker.link_mentions",),
    "s3_canonicalize": ("canonicalize.operator",),
    "s4_materialize": ("pattern_extract.triples", "kg_store.merge"),
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _manifest_seq(out: str) -> int:
    files = glob.glob(f"{out}/manifest/**/*.parquet", recursive=True)
    if not files:
        return -1
    return duckdb.sql(
        f"select coalesce(max(seq), -1) from read_parquet('{out}/manifest/**/*.parquet')"
    ).fetchone()[0]


def _manifest_rows_out(out: str, stage: str, after_seq: int) -> int:
    return duckdb.sql(
        f"select coalesce(sum(rows_out), 0) from read_parquet('{out}/manifest/**/*.parquet') "
        f"where stage = '{stage}' and seq > {after_seq}"
    ).fetchone()[0]


def traced(bench) -> dict:
    """Run the traced pass and the layer probes; returns what ``fold`` needs."""
    raw = {"attempted": 0, "failed": 0, "rows_out": {}, "values": {}}
    out = _traced_pass(bench, raw)
    with bench.spans.span("probes"):
        _operator_probes(bench, raw, out)
        _store_probes(bench, raw, out)
        _query_probes(bench, raw, out + "/triples")
    return raw


def _count(bench, raw: dict, errs: list[str]) -> None:
    raw["attempted"] += 1
    raw["failed"] += bool(errs)
    bench.failures.extend(errs)


def _traced_pass(bench, raw: dict) -> str:
    """The pass, one ``run_web_pipeline`` call per stage, each under its own
    job group; rows_out per stage from the manifest rows the call appended
    (S4: the merge's new_triples)."""
    from extremexp_knowledge_graph_spark.plans.web_pipeline import run_web_pipeline

    out = bench.fresh_out("traced")
    stats: dict = {}
    with bench.spans.span("traced"):
        for stage in ALL_STAGES:
            seq = _manifest_seq(out)
            with job_group(bench.sc, stage), bench.spans.span(stage):
                stats.update(run_web_pipeline(bench.spark, bench.pages, out,
                                              aliases=bench.aliases, bucket_expr=bench.expr,
                                              stages=(stage,)))
            raw["rows_out"][stage] = (
                stats[stage]["new_triples"] if stage == S4 else _manifest_rows_out(out, stage, seq)
            )
    _count(bench, raw, [f"traced: {e}" for e in bench.check(out, stats)])
    bench.last_stats = stats
    raw["values"]["canonicalize.delta_entities"] = (stats[S3]["delta_entities"], "count")
    return out


def _operator_probes(bench, raw: dict, out: str) -> None:
    """Each stage's operator on the traced pass's own stage input (the
    buckets it processed: every base segment, or the delta segment)."""
    from pyspark.sql import functions as F

    from extremexp_knowledge_graph_spark.operators.canonicalize import (
        canonicalize_entities,
        canonicalize_entities_incremental,
    )
    from extremexp_knowledge_graph_spark.operators.html_extract import extract_text
    from extremexp_knowledge_graph_spark.operators.linker import link_mentions
    from extremexp_knowledge_graph_spark.operators.pattern_extract import line_triples, svo_triples
    from extremexp_knowledge_graph_spark.plans.web_pipeline import (
        CANON_BANDS,
        CANON_NUM_HASHES,
        CANON_SHINGLE_N,
        CANON_THRESHOLD,
    )

    spark, sc, sp = bench.spark, bench.sc, bench.spans
    segments = bench.n // bench.seg  # the base crawl's; the delta segment is bucket `segments`
    pend = list(range(segments)) if bench.args.workload == "build" else [segments]
    pages = bench.pages.where(F.expr(bench.expr).isin(pend))
    docs = spark.read.parquet(out + "/docs").where(F.col("url_bucket").isin(pend))
    n_docs = docs.count()
    with job_group(sc, "html_extract.extract_text"), sp.span("html_extract.extract_text"):
        _noop(pages.select(extract_text(F.col("html")).alias("text")))
    prof_dir = str(bench.work / "udf_profile")
    spark.profile.clear(type="perf")
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    try:
        with job_group(sc, "html_extract.profiled"), sp.span("html_extract.profiled"):
            _noop(pages.select(extract_text(F.col("html")).alias("text")))
    finally:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
    spark.profile.dump(prof_dir, type="perf")
    raw["udf_user_s"] = sum(pstats.Stats(f).total_tt for f in glob.glob(f"{prof_dir}/*.pstats"))

    with job_group(sc, "linker.link_mentions"), sp.span("linker.link_mentions"):
        _noop(link_mentions(docs, bench.aliases, n_docs=n_docs))

    linked = spark.read.parquet(out + "/linked").where(F.col("url_bucket").isin(pend))
    ents = linked.select("entity_id", F.col("entity_id").alias("name")).distinct()
    canon = dict(id_col="entity_id", name_col="name", threshold=CANON_THRESHOLD,
                 num_hashes=CANON_NUM_HASHES, bands=CANON_BANDS, shingle_n=CANON_SHINGLE_N)
    if bench.args.workload == "build":
        op = canonicalize_entities(ents, **canon)
    else:  # the incremental path, against the base map and signatures the stage saw
        emap = spark.read.parquet(bench.base_dir + "/entity_map")
        op = canonicalize_entities_incremental(
            ents.join(emap.select("entity_id"), "entity_id", "left_anti"),
            emap.select("entity_id", F.col("entity_id").alias("name")), emap,
            existing_band_rows=spark.read.parquet(bench.base_dir + "/entity_sigs"), **canon,
        )
    with job_group(sc, "canonicalize.operator"), sp.span("canonicalize.operator"):
        _noop(op)

    with job_group(sc, "pattern_extract.triples"), sp.span("pattern_extract.triples"):
        _noop(line_triples(docs).unionByName(svo_triples(docs)))


def _store_probes(bench, raw: dict, out: str) -> None:
    """Merge the pass's new triples into a copy of the pre-pass store (empty
    on ``build``), scan the store, measure its layout, resubmit unchanged."""
    from extremexp_knowledge_graph_spark.plans import kg_store
    from extremexp_knowledge_graph_spark.plans.web_pipeline import run_web_pipeline

    spark, sc, sp = bench.spark, bench.sc, bench.spans
    store = out + "/triples"
    new_t = kg_store.read_triples(spark, store)
    target = str(bench.work / "merge_store")
    if bench.args.workload == "delta":
        pre = bench.base_dir + "/triples"
        old = kg_store.read_triples(spark, pre)
        same = [new_t[k].eqNullSafe(old[k]) for k in checks.KEY.split(", ")]
        new_t = new_t.join(old, functools.reduce(lambda a, b: a & b, same), "left_anti")
        shutil.copytree(pre, target)
    staged = str(bench.work / "merge_input")
    new_t.write.parquet(staged)
    with job_group(sc, "kg_store.merge"), sp.span("kg_store.merge"):
        raw["merged"] = kg_store.merge_triples(spark, spark.read.parquet(staged), target)
    with job_group(sc, "kg_store.read_triples"), sp.span("kg_store.read_triples"):
        _noop(kg_store.read_triples(spark, store))

    files = glob.glob(f"{store}/*/*.parquet")
    n_store = duckdb.sql(f"select count(*) from read_parquet('{store}/*/*.parquet')").fetchone()[0]
    raw["values"]["kg_store.files"] = (len(files), "count")
    raw["values"]["kg_store.bytes_per_triple"] = (sum(map(os.path.getsize, files)) / n_store, "B")
    n_manifest = duckdb.sql(
        f"select count(*) from read_parquet('{out}/manifest/**/*.parquet')").fetchone()[0]
    raw["values"]["manifest.rows"] = (n_manifest, "count")

    with job_group(sc, "manifest.resume_noop"), sp.span("manifest.resume_noop"):
        noop = run_web_pipeline(spark, bench.pages, out, aliases=bench.aliases,
                                bucket_expr=bench.expr)
    moved = noop["s1_extract"]["pending_buckets"] or noop[S4]["new_triples"]
    _count(bench, raw, [f"unchanged resubmit was not a no-op: {noop}"] if moved else [])


def _query_probes(bench, raw: dict, store: str) -> None:
    """The query mix over the traced pass's store, each result checked
    against DuckDB."""
    from extremexp_knowledge_graph_spark.plans import kg_store
    from extremexp_knowledge_graph_spark.plans import queries as Q
    from extremexp_knowledge_graph_spark.schema import EX2

    t = kg_store.read_triples(bench.spark, store)
    mix = {
        "count_by_predicate": lambda: Q.count_by_predicate(t),
        "count_by_class": lambda: Q.count_by_class(t),
        "entity_view": lambda: Q.entity_view(
            t, EX2 + "Relationship",
            {"s": EX2 + "hasSubject", "o": EX2 + "hasObject", "line": EX2 + "foundInLine"},
        ),
        "degree_topk": lambda: Q.degree_topk(t, 20),
        "pagerank_topk": lambda: Q.pagerank_topk(t, 20, iters=PAGERANK_ITERS),
    }
    for name in QUERIES:
        with job_group(bench.sc, f"queries.{name}"), bench.spans.span(f"queries.{name}"):
            df = mix[name]()
            rows = [tuple(r) for r in df.collect()]
        _count(bench, raw, checks.check_query(name, df.columns, rows, store, PAGERANK_ITERS))


def fold(bench, raw: dict) -> dict:
    """Per-layer metrics from the spans and the (now closed) event log."""
    from tracing import fold_event_log

    logs = glob.glob(str(bench.work / "eventlog" / "*"))
    ev = fold_event_log(logs[0])
    sp, cores = bench.spans, bench.cores
    m: dict[str, tuple[float, str]] = {}
    units = {"wall_s": "s", "executor_run_s": "s", "executor_cpu_s": "s", "idle_core_share": "ratio",
             "jobs": "count", "tasks": "count", "shuffle_write_bytes": "B", "spill_bytes": "B",
             "task_skew": "ratio", "rows_out": "count"}
    for stage in ALL_STAGES:
        lm = layer_metrics(group_fold(ev, stage), sp.wall(stage), cores)
        lm["rows_out"] = raw["rows_out"][stage]
        for k, v in lm.items():
            m[f"{stage}.{k}"] = (v, units[k])
    probe = {g: sp.wall(g) for gs in OPERATOR.values() for g in gs}
    for stage, ops in OPERATOR.items():
        m[f"{stage}.bookkeeping_s"] = (sp.wall(stage) - sum(probe[g] for g in ops), "s")
    m["html_extract.extract_text_s"] = (probe["html_extract.extract_text"], "s")
    m["html_extract.udf_user_s"] = (raw["udf_user_s"], "s")
    m["html_extract.udf_arrow_s"] = (
        group_fold(ev, "html_extract.profiled")["executor_run_s"] - raw["udf_user_s"], "s")
    m["linker.link_mentions_s"] = (probe["linker.link_mentions"], "s")
    m["canonicalize.operator_s"] = (probe["canonicalize.operator"], "s")
    m["pattern_extract.triples_s"] = (probe["pattern_extract.triples"], "s")
    merge = group_fold(ev, "kg_store.merge")
    m["kg_store.merge_s"] = (probe["kg_store.merge"], "s")
    m["kg_store.merge_rows_read"] = (merge["records_read"], "count")
    m["kg_store.read_amplification"] = (merge["records_read"] / max(raw["merged"], 1), "ratio")
    m["kg_store.read_triples_s"] = (sp.wall("kg_store.read_triples"), "s")
    m["manifest.resume_noop_s"] = (sp.wall("manifest.resume_noop"), "s")
    for name in QUERIES:
        g = group_fold(ev, f"queries.{name}")
        m[f"queries.{name}_s"] = (sp.wall(f"queries.{name}"), "s")
        m[f"queries.{name}.executor_run_s"] = (g["executor_run_s"], "s")
        m[f"queries.{name}.shuffle_write_bytes"] = (g["shuffle_write_bytes"], "B")
    m.update(raw["values"])
    m["setup.session_s"] = (sp.wall("setup.session"), "s")
    m["setup.inputs_s"] = (sp.wall("setup.inputs"), "s")
    m["trace.pass_s"] = (sp.wall("traced"), "s")
    return {"metrics": dict(sorted(m.items())), "attempted": raw["attempted"], "failed": raw["failed"]}
