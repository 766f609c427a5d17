"""Skew-handling join utilities.

AQE's skew-join splitting (enabled in session.py) is the first line of
defense, but it only helps sort-merge joins after a shuffle exists.
``salted_join`` is the explicit control for the remaining case: a
large→medium join where the medium side is too big to broadcast and a
handful of hot keys would pin single reducers. Salting trades an
R-fold replication of the medium side for an even spread of each hot
key across R reducers.

The salt is a deterministic hash of a high-cardinality column (NOT
``rand()``): deterministic plans re-run identically, results stay
oracle-checkable, and a uniform hash spreads as well as randomness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# one advisory-sized partition's worth of input per slot: the spread
# threshold below. Inputs estimated larger than par×this are left
# alone — they are wide (or will be reshuffled by their join) anyway.
_SPREAD_BYTES_PER_SLOT = 64 << 20


def spread_small_input(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition a PARALLELISM-STARVED input on deterministic
    keys (guide §2.5/§2.6): a one-split scan (or a small derived table
    the planner will broadcast around) serializes any expensive per-row
    stage — interpreted cosine folds, Python codecs, one file per
    partition directory of a sink — onto one core while the rest of the
    cluster idles. Rows with equal ``keys`` land in the same partition.

    The guard is a DRIVER-ONLY logical-plan size estimate
    (``optimizedPlan().stats().sizeInBytes`` — no job, no AQE stage
    materialization; an ``rdd.getNumPartitions()`` probe here was
    measured re-executing the whole upstream pipeline once per call
    under AQE, PERF_NOTES r16 wave 2). Inputs estimated larger than
    defaultParallelism × 64 MB are returned untouched, as the same
    object (callers may test identity) — at scale the spread is a no-op
    by construction, and mis-estimates err toward not spreading (never
    incorrect, only unspread)."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # noqa: BLE001 — estimation must never fail a query
        return df
    if size > par * _SPREAD_BYTES_PER_SLOT:
        return df
    return df.repartition(par, *keys)


def salted_join(
    large: DataFrame,
    medium: DataFrame,
    on: str,
    spread_col: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``large ⋈ medium ON on`` with the large side's hot
    keys spread across ``n_salts`` reducers.

    ``spread_col`` is any high-cardinality column of ``large`` (a row
    id, line number…) whose hash distributes rows of the SAME join key
    across salts. The medium side is replicated n_salts times via an
    explode — total shuffle volume grows by |medium|·(n_salts-1),
    bounded and chosen by the caller; the win is that no reducer sees
    more than ~1/n_salts of any hot key.
    """
    salted_large = large.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(spread_col)), F.lit(n_salts)).cast("int")
    )
    salted_medium = medium.withColumn(
        "__salt", F.explode(F.array([F.lit(i) for i in range(n_salts)]))
    )
    out = salted_large.join(salted_medium, [on, "__salt"], how)
    return out.drop("__salt")
