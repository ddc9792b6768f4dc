"""Output checks, run outside the timed passes. DuckDB reads the parquet
files the pipeline wrote, so no check goes through the Spark code under
test. Each check returns a list of failure messages (empty = passed)."""

from __future__ import annotations

import hashlib

import duckdb

KEY = "subj, pred, obj, obj_is_iri, obj_datatype"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
EX = "http://example.org/"


def _parquet(path: str) -> str:
    """A DuckDB table expression over a (possibly partitioned) Spark parquet dir."""
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true, union_by_name = true)"


def _canon_cell(v) -> str:
    if v is None:
        return "␀"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(round(v, 9))
    return str(v)


def hash_rows(cols: list[str], rows) -> str:
    """Order-independent digest of a result: columns sorted by name, rows
    canonicalised and sorted, then sha256 (the scheme of
    ``tools/check_oracle.py``)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted("\x1f".join(_canon_cell(r[i]) for i in order) for r in rows):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def store_digest(store: str) -> tuple[int, int, str]:
    """(rows, distinct triple keys, digest over the triple keys) of a store."""
    con = duckdb.connect()
    rows, distinct = con.sql(
        f"select count(*), count(distinct ({KEY})) from {_parquet(store)}"
    ).fetchone()
    keys = con.sql(f"select {KEY} from {_parquet(store)}").fetchall()
    return rows, distinct, hash_rows(KEY.split(", "), keys)


def check_build(out_dir: str, pages: str, n_pages: int, digest: tuple[int, int, str]) -> list[str]:
    """A built store has no duplicate triple keys; every page extracted to
    exactly its ground-truth text; every page has its Document triple."""
    errs = []
    rows, distinct, _ = digest
    if rows != distinct:
        errs.append(f"store holds {rows - distinct} duplicate triple keys")
    con = duckdb.connect()
    n_docs, bad_text = con.sql(
        f"""select count(*), count(*) filter (where d.text is distinct from p.text)
            from {_parquet(out_dir + '/docs')} d join {_parquet(pages)} p using (url)"""
    ).fetchone()
    if n_docs != n_pages:
        errs.append(f"docs has {n_docs} rows joined to pages, expected {n_pages}")
    if bad_text:
        errs.append(f"{bad_text} docs differ from their ground-truth text")
    n_doc_nodes = con.sql(
        f"select count(*) from {_parquet(out_dir + '/triples')} "
        f"where pred = '{RDF_TYPE}' and obj = '{EX}Document'"
    ).fetchone()[0]
    if n_doc_nodes != n_pages:
        errs.append(f"store has {n_doc_nodes} Document nodes, expected {n_pages}")
    return errs


def check_delta(out_dir: str, base_store: str, stats: dict, n_pages: int, segment_size: int) -> list[str]:
    """The invariants of an incremental ingest: the store is a duplicate-free
    superset of the base; ``new_triples`` equals its growth; S3 mapped new
    entities and every linked entity is in the entity map; all pages are in
    docs."""
    errs = []
    con = duckdb.connect()
    store = out_dir + "/triples"
    rows, distinct = con.sql(
        f"select count(*), count(distinct ({KEY})) from {_parquet(store)}"
    ).fetchone()
    base_rows = con.sql(f"select count(*) from {_parquet(base_store)}").fetchone()[0]
    if rows != distinct:
        errs.append(f"store holds {rows - distinct} duplicate triple keys")
    lost = con.sql(
        f"select count(*) from (select {KEY} from {_parquet(base_store)} "
        f"except select {KEY} from {_parquet(store)})"
    ).fetchone()[0]
    if lost:
        errs.append(f"{lost} base triples missing after the delta")
    new = stats["s4_materialize"]["new_triples"]
    if new != rows - base_rows:
        errs.append(f"new_triples={new} but the store grew by {rows - base_rows}")
    if new <= 0:
        errs.append("the delta added no triples")
    if stats["s3_canonicalize"]["delta_entities"] <= 0:
        errs.append("S3 mapped no new entities")
    unmapped = con.sql(
        f"select count(*) from (select entity_id from {_parquet(out_dir + '/linked')} "
        f"except select entity_id from {_parquet(out_dir + '/entity_map')})"
    ).fetchone()[0]
    if unmapped:
        errs.append(f"{unmapped} linked entities missing from the entity map")
    n_docs = con.sql(f"select count(*) from {_parquet(out_dir + '/docs')}").fetchone()[0]
    if n_docs != n_pages + segment_size:
        errs.append(f"docs has {n_docs} rows, expected {n_pages + segment_size}")
    return errs


def query_oracles(store: str, pagerank_iters: int) -> dict[str, str]:
    """DuckDB evaluations of the benchmark's query mix over the store files,
    with the column names the Spark plans produce."""
    import __spark_entry__

    t = _parquet(store)
    return {
        "count_by_predicate": f"select pred, count(*)::bigint as n from {t} group by pred",
        "count_by_class": (
            f"select obj as class, count(*)::bigint as n from {t} "
            f"where pred = '{RDF_TYPE}' group by obj"
        ),
        "entity_view": f"""
            with m as (select subj from {t} where pred = '{RDF_TYPE}' and obj = '{EX}Relationship')
            select m.subj,
                   min(r.obj) filter (where r.pred = '{EX}hasSubject') as s,
                   min(r.obj) filter (where r.pred = '{EX}hasObject') as o,
                   min(r.obj) filter (where r.pred = '{EX}foundInLine') as line
            from m left join {t} r on r.subj = m.subj
            group by m.subj""",
        "degree_topk": f"""
            with nodes as (
              select subj as node, 1 as out_d, 0 as in_d from {t}
              union all select obj, 0, 1 from {t} where obj_is_iri)
            select node, sum(out_d)::bigint as out_degree, sum(in_d)::bigint as in_degree,
                   (sum(out_d) + sum(in_d))::bigint as degree
            from nodes group by node order by degree desc, node limit 20""",
        "pagerank_topk": (
            f"select node, pr as rank from (with dedup as "
            f"(select subj, obj, obj_is_iri::integer as obj_is_iri from {t})"
            f"{__spark_entry__._pagerank_cte_sql(iters=pagerank_iters)})"
        ),
    }


def check_query(name: str, cols: list[str], rows, store: str, pagerank_iters: int) -> list[str]:
    """A Spark query result equals its DuckDB evaluation (row count, columns,
    order-independent value digest)."""
    con = duckdb.connect()
    rel = con.sql(query_oracles(store, pagerank_iters)[name])
    ocols, orows = rel.columns, rel.fetchall()
    errs = []
    if sorted(cols) != sorted(ocols):
        errs.append(f"{name}: columns {sorted(cols)} != oracle {sorted(ocols)}")
    elif len(rows) != len(orows) or hash_rows(cols, rows) != hash_rows(ocols, orows):
        errs.append(f"{name}: {len(rows)} rows differ from the oracle's {len(orows)}")
    return errs
