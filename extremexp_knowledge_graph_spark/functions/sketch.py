"""Cardinality sketching — HyperLogLog distinct counting with O(m) state.

The 100 TB motivation: ``COUNT(DISTINCT url)`` over a petabyte corpus
shuffles every distinct key; the HLL register table is ``m`` rows
regardless of cardinality, with map-side partial ``max`` doing almost all
the work — the same reason ``approx_count_distinct`` exists, but built
from relational primitives with a FULLY deterministic, engine-replayable
definition (Spark's built-in sketch is opaque to an external oracle).

Determinism contract (same family as operators/sampling.py): the hash is
``md5(value || '|' || salt)`` — reproducible in any engine — and all bit
manipulation is NIBBLE-wise on the hex string (register = first p/4 hex
chars; rank = leading-zero count of the next 13 nibbles), so the DuckDB
driver oracle replays the sketch exactly: string ops + CASE, no 64-bit
bit-twiddling. The harmonic sum folds in register order (the linker's
``_sorted_fold`` ≡ ``list_reduce(... ORDER BY reg)``), and the
``α·m²`` constant is Python-evaluated once so both engines divide by the
same double. Raw HLL estimator only (no small/large-range corrections) —
callers wanting exact counts at small cardinalities should just count;
the sketch's job is the huge-cardinality regime where corrections are
inactive anyway. Expected standard error ≈ 1.04/√m (~6.5% at p=8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from extremexp_knowledge_graph_spark.operators.linker import _sorted_fold

#: rank nibbles read after the register prefix; 13 nibbles = 52 bits of
#: rank space, max rank 53 — far past any realistic register value
_RANK_NIBBLES = 13


def hll_alpha_m2(p: int) -> float:
    """The α·m² estimator constant, evaluated ONCE in Python — oracles
    embed ``repr()`` of this exact double."""
    m = 1 << p
    return (0.7213 / (1 + 1.079 / m)) * m * m


def hll_distinct(df: DataFrame, col: str, p: int = 8, salt: str = "hll") -> DataFrame:
    """One-row DataFrame: (m, registers_seen, hll_estimate).

    ``p`` must be a multiple of 4 (nibble-aligned register index; 8 → 256
    registers). An empty relation estimates 0.0: with no register set the
    raw estimator would divide by ``m`` and report α·m instead."""
    if p % 4 or not (4 <= p <= 16):
        raise ValueError("p must be a multiple of 4 in [4, 16]")
    m = 1 << p
    reg_chars = p // 4
    h = F.md5(F.concat(F.col(col).cast("string"), F.lit("|" + salt)))
    reg = F.conv(F.substring(h, 1, reg_chars), 16, 10).cast("int")
    s = F.substring(h, reg_chars + 1, _RANK_NIBBLES)
    z = F.length(F.regexp_extract(s, "^(0*)", 1))  # leading zero nibbles
    nib = F.conv(F.substring(s, z + 1, 1), 16, 10).cast("int")  # first nonzero
    in_nib = (
        F.when(nib >= 8, 0).when(nib >= 4, 1).when(nib >= 2, 2).otherwise(3)
    )
    rank = F.when(z == _RANK_NIBBLES, F.lit(4 * _RANK_NIBBLES + 1)).otherwise(
        z * 4 + in_nib + 1
    )
    regs = (
        df.select(reg.alias("reg"), rank.alias("rank"))
        .groupBy("reg")
        .agg(F.max("rank").alias("mx"))
    )
    agg = regs.agg(
        F.count("*").cast("long").alias("registers_seen"),
        _sorted_fold(F.col("reg"), F.pow(F.lit(2.0), -F.col("mx"))).alias("_ssum"),
    )
    am2 = hll_alpha_m2(p)
    est = F.lit(am2) / (F.col("_ssum") + (F.lit(m) - F.col("registers_seen")))
    return agg.select(
        F.lit(m).cast("int").alias("m"),
        "registers_seen",
        F.round(F.when(F.col("registers_seen") == 0, F.lit(0.0)).otherwise(est), 6).alias(
            "hll_estimate"
        ),
    )
