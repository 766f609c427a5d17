"""Data-quality gates (SURVEY.md §2.10 Q1-Q3).

The reference's quality_checks (etl_functions.py:136-147) prints
"NOK" per empty table and always returns 0 — nothing fails. Here the
gates RAISE, return their evidence as data, and run as few Spark jobs
as possible: FK coverage is one broadcast anti-join count, not a
per-key loop; the pipeline's row accounting, all-table row counts and
FK count come from one aggregate action (``check_pipeline``).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class QualityError(AssertionError):
    """A quality gate failed; message carries the metric evidence."""


def _raise_if_empty(counts: dict[str, int]) -> None:
    empty = [name for name, n in counts.items() if n == 0]
    if empty:
        raise QualityError(f"empty output tables: {empty} (counts={counts})")


def _raise_if_unresolved(unresolved: int, fact_key: str, dim_key: str) -> None:
    if unresolved:
        raise QualityError(
            f"{unresolved} fact rows have {fact_key} not present in dim.{dim_key}"
        )


def unresolved_fk_rows(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str
) -> DataFrame:
    """Fact rows whose non-null FK has no match in the dim: one
    broadcast LEFT ANTI join, no fact shuffle."""
    return fact.filter(F.col(fact_key).isNotNull()).join(
        F.broadcast(dim.select(F.col(dim_key).alias(fact_key)).distinct()),
        fact_key,
        "left_anti",
    )


def count_all(frames: dict[str, DataFrame]) -> dict[str, int]:
    """Row count of every frame in ONE aggregate action: a tagged union
    whose conditional counts partial-aggregate map-side and meet in a
    single reduce (the operators/graph.py triangle-count pattern), in
    place of one ``count()`` job — and one driver round-trip — each."""
    tagged = reduce(
        DataFrame.unionAll,
        [df.select(F.lit(i).alias("__t")) for i, df in enumerate(frames.values())],
    )
    row = tagged.agg(
        *[F.count(F.when(F.col("__t") == i, 1)) for i in range(len(frames))]
    ).head()
    return dict(zip(frames, row))


def assert_nonempty(tables: dict[str, DataFrame]) -> dict[str, int]:
    """Q1: every output table must have rows. Returns the counts."""
    counts = {name: df.count() for name, df in tables.items()}
    _raise_if_empty(counts)
    return counts


def fk_coverage(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str
) -> dict[str, int]:
    """Every non-null fact FK must resolve in the dim (the check the
    reference never made — its left joins silently null the key).
    One broadcast LEFT ANTI join; no fact shuffle."""
    unresolved = unresolved_fk_rows(fact, dim, fact_key, dim_key).count()
    _raise_if_unresolved(unresolved, fact_key, dim_key)
    return {"unresolved_fks": unresolved}


def check_star(star: dict[str, DataFrame]) -> dict[str, int]:
    """Full gate for the star pipeline (plans/star.py outputs):
    non-empty tables + fact→priority_dim FK coverage."""
    metrics = assert_nonempty(star)
    metrics.update(fk_coverage(star["fact"], star["priority_dim"], "priority_key", "priority_key"))
    return metrics


def check_pipeline(
    source: DataFrame, cleaned: DataFrame, star: dict[str, DataFrame]
) -> dict[str, int]:
    """``row_accounting(source, cleaned)`` plus ``check_star(star)`` —
    the same metrics, the same gates, the same errors — from ONE
    aggregate action (``count_all``) instead of seven ``count()`` actions."""
    orphans = unresolved_fk_rows(
        star["fact"], star["priority_dim"], "priority_key", "priority_key"
    )
    counts = count_all(
        {"rows_before": source, "rows_after": cleaned, **star, "unresolved_fks": orphans}
    )
    tables = {name: counts[name] for name in star}
    _raise_if_empty(tables)
    _raise_if_unresolved(counts["unresolved_fks"], "priority_key", "priority_key")
    before, after = counts["rows_before"], counts["rows_after"]
    return {
        "rows_before": before,
        "rows_after": after,
        "rows_dropped": before - after,
        **tables,
        "unresolved_fks": counts["unresolved_fks"],
    }


# ---- declarative expectations ---------------------------------------------


def expect(name: str, condition: F.Column) -> tuple[str, F.Column]:
    """One named row-level rule. Null condition results count as
    violations (a rule you can't evaluate is not a pass)."""
    return name, F.coalesce(condition, F.lit(False))


def expectation_report(df: DataFrame, rules: list[tuple[str, F.Column]]) -> DataFrame:
    """Violation counts for every rule in ONE aggregate pass over the
    data (no per-rule jobs — at 100 TB each extra pass is a full
    scan). Returns (rule, n_rows, n_violations, violation_rate)."""
    total = F.count(F.lit(1))
    agg = df.agg(
        total.alias("__n"),
        *[
            F.sum(F.when(~cond, 1).otherwise(0)).alias(f"__v_{i}")
            for i, (_, cond) in enumerate(rules)
        ],
    )
    stacked = ", ".join(
        f"'{name}', __v_{i}" for i, (name, _) in enumerate(rules)
    )
    return agg.selectExpr(
        f"stack({len(rules)}, {stacked}) AS (rule, n_violations)", "__n AS n_rows"
    ).selectExpr(
        "rule",
        "n_rows",
        "n_violations",
        "CAST(n_violations AS DOUBLE) / n_rows AS violation_rate",
    )


def expectation_split(
    df: DataFrame, rules: list[tuple[str, F.Column]]
) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantine): rows failing ANY rule are quarantined with
    a ``failed_rules`` array naming which — replayable evidence, the
    same contract as read_csv_quarantine. One projection, no shuffle;
    the caller fork reuses one scan under whole-stage codegen."""
    flagged = df.withColumn(
        "failed_rules",
        F.filter(
            F.array(
                *[
                    F.when(~cond, F.lit(name)).otherwise(F.lit(None))
                    for name, cond in rules
                ]
            ),
            lambda x: x.isNotNull(),
        ),
    )
    clean = flagged.filter(F.size("failed_rules") == 0).drop("failed_rules")
    quarantine = flagged.filter(F.size("failed_rules") > 0)
    return clean, quarantine
