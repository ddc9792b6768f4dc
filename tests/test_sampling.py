"""Deterministic sampling operators (operators/sampling.py) vs a pure-
Python md5 oracle; partitioning invariance; split disjointness."""

from __future__ import annotations

import hashlib

from pyspark.sql import Row

from extremexp_knowledge_graph_spark.operators.sampling import (
    deterministic_sample,
    deterministic_split,
    frac_to_hex_threshold,
    stratified_sample,
)

LANGS = ["en", "de", "es", "fr"]


def _docs(spark, n=400):
    rows = [Row(doc_id=i, lang=LANGS[i % 4], text=f"doc {i}") for i in range(n)]
    return spark.createDataFrame(rows)


def _py_hash(key, salt):
    return hashlib.md5(f"{key}|{salt}".encode()).hexdigest()[:8]


def test_sample_matches_python_oracle_and_partitioning(spark):
    df = _docs(spark)
    got = {r.doc_id for r in deterministic_sample(df, 0.25).collect()}
    thr = frac_to_hex_threshold(0.25)
    want = {i for i in range(400) if _py_hash(i, "sample") < thr}
    assert got == want and 0 < len(got) < 400
    # membership is layout-independent
    got2 = {r.doc_id for r in deterministic_sample(df.repartition(13), 0.25).collect()}
    assert got2 == got
    # fraction lands near the target (md5 uniformity)
    assert abs(len(got) / 400 - 0.25) < 0.08


def test_sample_membership_stable_under_corpus_growth(spark):
    """A key's membership never changes when other rows come or go — the
    property df.sample() lacks and resumable pipelines need."""
    small = deterministic_sample(_docs(spark, 100), 0.3)
    big = deterministic_sample(_docs(spark, 400), 0.3)
    s = {r.doc_id for r in small.collect()}
    b = {r.doc_id for r in big.collect()}
    assert s == {i for i in b if i < 100}


def test_split_disjoint_exhaustive(spark):
    df = _docs(spark)
    train, val, test = deterministic_split(df, [0.8, 0.1, 0.1])
    tr = {r.doc_id for r in train.collect()}
    va = {r.doc_id for r in val.collect()}
    te = {r.doc_id for r in test.collect()}
    assert tr | va | te == set(range(400))
    assert not (tr & va) and not (tr & te) and not (va & te)
    assert len(tr) > len(va) and len(tr) > len(te)


def test_split_epsilon_accumulation_is_exhaustive(spark):
    """[0.1]*10 float-sums to 0.9999999999999999; the last bound must snap to
    the open-top sentinel so keys hashing to 'ffffffff' still land in a split
    (advisor finding: without the snap they fall in NO split, ~2^-32/key)."""
    df = _docs(spark)
    splits = deterministic_split(df, [0.1] * 10)
    got = [s for sp in splits for s in (r.doc_id for r in sp.collect())]
    assert sorted(got) == list(range(400))  # exhaustive, no double-assignment
    # premise: the naive accumulation really does undershoot 1.0
    assert sum([0.1] * 10) != 1.0 and frac_to_hex_threshold(1.0) == "gggggggg"


def test_stratified_fractions(spark):
    df = _docs(spark)
    out = stratified_sample(df, {"en": 1.0, "de": 0.0}, default_frac=0.5)
    by_lang = {}
    for r in out.collect():
        by_lang.setdefault(r.lang, set()).add(r.doc_id)
    assert len(by_lang.get("en", ())) == 100  # frac 1.0 keeps every row
    assert "de" not in by_lang  # frac 0.0 keeps none
    for lang in ("es", "fr"):  # default 0.5 within uniformity tolerance
        assert 30 <= len(by_lang[lang]) <= 70


def test_hll_distinct_accuracy_and_determinism(spark):
    """HyperLogLog sketch (functions/sketch.py): estimate within ~4σ of
    truth at several cardinalities, invariant to partitioning (pure
    function of the value set), and p validation."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from extremexp_knowledge_graph_spark.functions.sketch import hll_distinct

    for n in (2000, 20000, 80000):
        df = spark.range(n).select(F.concat(F.lit("key_"), F.col("id")).alias("k"))
        row = hll_distinct(df, "k").collect()[0]
        exact = df.distinct().count()
        sigma = 1.04 / (row.m ** 0.5)
        assert abs(row.hll_estimate - exact) / exact < 4 * sigma, row

    a = hll_distinct(
        spark.range(30000).repartition(3).select(F.col("id").cast("string").alias("k")), "k"
    ).collect()[0]
    b = hll_distinct(
        spark.range(30000).repartition(17).select(F.col("id").cast("string").alias("k")), "k"
    ).collect()[0]
    assert a == b  # partition-layout invariant, estimate bit-equal

    with _pytest.raises(ValueError):
        hll_distinct(spark.range(5).select(F.col("id").cast("string").alias("k")), "k", p=7)


def test_hll_distinct_empty_relation_estimates_zero(spark):
    """An empty relation sets no register; the raw estimator's denominator
    is then m, which would report α·m distinct values. Both the sketch and
    its DuckDB driver oracle must estimate 0.0 instead."""
    import duckdb
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from extremexp_knowledge_graph_spark.functions.sketch import hll_distinct

    empty = spark.range(0).select(F.col("id").cast("string").alias("k"))
    row = hll_distinct(empty, "k").collect()[0]
    assert (row.m, row.registers_seen, row.hll_estimate) == (256, 0, 0.0)

    con = duckdb.connect()
    con.sql("create table events (event_id BIGINT)")
    oracle = con.sql(entrymod.oracle_sql()["sketch_hll_distinct"]).fetchall()
    assert oracle == [(256, 0, 0.0)]
