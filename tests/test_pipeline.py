"""End-to-end star pipeline: build → partitioned parquet sinks →
re-read → quality gates (the reference's etl.py lifecycle, S5/S6/Q1 +
FK coverage made real)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from udacitycapstonedataengineer_spark.operators.quality import (
    QualityError,
    assert_nonempty,
    check_star,
    fk_coverage,
)
from udacitycapstonedataengineer_spark.plans.star import build_star
from udacitycapstonedataengineer_spark.sources.readers import load_tables
from udacitycapstonedataengineer_spark.sources.writers import write_parquet

CAL_PARTS = ["arrival_year", "arrival_month", "arrival_week"]

# Spark jobs one ``run_pipeline`` starts on the sf0.001 fixtures in the
# test session (local[4], 4 shuffle partitions). The count is fixed at
# fixed data, so an added eager action (a stray count() or collect())
# fails test_pipeline_job_budget without any wall-clock measurement.
JOB_BUDGET = 33


def _group_jobs(spark, group: str, fn) -> list[int]:
    """Ids of the Spark jobs ``fn()`` starts, run under job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
        return sorted(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("", "")


def test_star_pipeline_roundtrip(spark, sf_dir, tmp_path):
    star = build_star(load_tables(spark, sf_dir))
    metrics = check_star(star)
    assert metrics["unresolved_fks"] == 0
    assert all(metrics[t] > 0 for t in star)

    # partitioned sink (S6: reference partitions calendar by y/m/w)
    cal_path = str(tmp_path / "calendar_dim")
    write_parquet(
        star["calendar_dim"],
        cal_path,
        partition_by=["arrival_year", "arrival_month", "arrival_week"],
    )
    assert any(d.startswith("arrival_year=") for d in os.listdir(cal_path))

    fact_path = str(tmp_path / "fact")
    write_parquet(star["fact"], fact_path)

    # re-read: round-trip preserves rows and partition pruning works
    cal_back = spark.read.parquet(cal_path)
    assert cal_back.count() == star["calendar_dim"].count()
    one_year = cal_back.filter(F.col("arrival_year") == 1995)
    plan = one_year._jdf.queryExecution().executedPlan().toString()
    assert one_year.count() > 0
    # partition filter must prune at the source, not post-scan
    assert "PartitionFilters: [isnotnull(arrival_year" in plan

    fact_back = spark.read.parquet(fact_path)
    assert fact_back.count() == star["fact"].count()


def test_partitioned_sink_one_file_per_dir_on_every_slot(spark, sf_dir, tmp_path):
    """The calendar dim arrives in ONE partition (global row_number
    window). Its partitioned sink must still write exactly one file per
    (year, month, week) directory, hold the built rows, write from more
    than one task, and keep partition pruning at the source."""
    cal = build_star(load_tables(spark, sf_dir))["calendar_dim"]
    path = tmp_path / "calendar_dim"
    ids = _group_jobs(
        spark,
        "calendar_sink",
        lambda: write_parquet(cal, str(path), partition_by=CAL_PARTS),
    )

    files = list(path.rglob("*.parquet"))
    dirs = [f.parent for f in files]
    assert len(dirs) == len(set(dirs)) == cal.select(*CAL_PARTS).distinct().count()
    assert all(d.relative_to(path).parts[0].startswith("arrival_year=") for d in dirs)

    back = spark.read.parquet(str(path)).select(*cal.columns)
    assert sorted(back.collect()) == sorted(cal.collect())

    # the write job (the group's last) ran its stage on several slots
    tracker = spark.sparkContext.statusTracker()
    write_tasks = max(
        tracker.getStageInfo(sid).numCompletedTasks
        for sid in tracker.getJobInfo(ids[-1]).stageIds
    )
    if spark.sparkContext.defaultParallelism > 1:
        assert write_tasks > 1, write_tasks

    one_year = spark.read.parquet(str(path)).filter(F.col("arrival_year") == 1995)
    assert one_year.count() > 0
    plan = one_year._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(arrival_year" in plan


def test_pipeline_metrics_match_unfused_counts(spark, sf_dir, tmp_path):
    """run_pipeline's single aggregate returns, key for key and in
    order, what row_accounting + check_star return, and writes every
    sink."""
    from udacitycapstonedataengineer_spark.operators.cleaning import (
        drop_nulls,
        row_accounting,
    )
    from udacitycapstonedataengineer_spark.plans.pipeline import run_pipeline

    got = run_pipeline(spark, sf_dir, str(tmp_path))
    tables = load_tables(spark, sf_dir)
    orders = drop_nulls(tables["orders"], subset=["o_orderkey", "o_orderdate"])
    want = row_accounting(tables["orders"], orders)
    want.update(check_star(build_star({**tables, "orders": orders})))
    assert list(got.items()) == list(want.items())
    assert sorted(os.listdir(tmp_path)) == sorted(
        ["priority_dim", "country_dim", "calendar_dim", "fact"]
    )


def test_pipeline_gates_raise_before_any_sink(spark, sf_dir, tmp_path, monkeypatch):
    """An empty star table fails the fused gate with the same
    QualityError as assert_nonempty, and no sink directory is made."""
    from udacitycapstonedataengineer_spark.plans import pipeline

    def star_with_empty_dim(tables):
        star = build_star(tables)
        return {**star, "country_dim": star["country_dim"].limit(0)}

    monkeypatch.setattr(pipeline, "build_star", star_with_empty_dim)
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(QualityError, match=r"empty output tables: \['country_dim'\]"):
        pipeline.run_pipeline(spark, sf_dir, str(tmp_path / "out"))
    assert not (tmp_path / "out").exists()
    # ...and the cached source is released
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted


def test_pipeline_job_budget(spark, sf_dir, tmp_path):
    """Every Spark job run_pipeline starts, counted in one job group."""
    from udacitycapstonedataengineer_spark.plans.pipeline import run_pipeline

    ids = _group_jobs(
        spark, "pipeline_budget", lambda: run_pipeline(spark, sf_dir, str(tmp_path))
    )
    assert len(ids) == JOB_BUDGET, f"{len(ids)} jobs, budget {JOB_BUDGET}"


def test_row_accounting(spark, sf_dir):
    from udacitycapstonedataengineer_spark.operators.cleaning import (
        drop_nulls,
        row_accounting,
    )

    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    cleaned = drop_nulls(ev, subset=["user_id", "event_type"])
    m = row_accounting(ev, cleaned)
    assert m["rows_before"] == ev.count()
    assert m["rows_before"] - m["rows_dropped"] == m["rows_after"]
    assert m["rows_after"] == cleaned.count()


def test_quality_gates_raise(spark):
    empty = spark.range(0).select(F.col("id").alias("k"))
    full = spark.range(5).select(F.col("id").alias("k"))
    with pytest.raises(QualityError):
        assert_nonempty({"t": empty})
    # FK 5 in fact, dim only has 0..4
    fact = spark.range(6).select(F.col("id").alias("k"))
    with pytest.raises(QualityError):
        fk_coverage(fact, full, "k", "k")
    assert fk_coverage(full, full, "k", "k") == {"unresolved_fks": 0}


def test_prepare_corpus_chain(spark, sf_dir):
    """The composed corpus pipeline: monotone row accounting, chunk
    counts consistent with kept docs, and run-to-run determinism."""
    from udacitycapstonedataengineer_spark.plans.corpus import prepare_corpus
    from udacitycapstonedataengineer_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    chunks, m = prepare_corpus(docs)
    assert (
        m["raw"] >= m["after_quality"] >= m["after_lang"]
        >= m["after_exact_dedup"] >= m["after_near_dedup"]
    )
    assert m["after_near_dedup"] > 0
    assert m["chunks"] >= m["after_near_dedup"]  # ≥1 chunk per kept doc
    # kept docs are unique
    assert chunks.select("doc_id").distinct().count() == m["after_near_dedup"]
    # deterministic end to end
    chunks2, m2 = prepare_corpus(docs)
    assert m2 == m
    assert sorted(map(tuple, chunks.collect())) == sorted(
        map(tuple, chunks2.collect())
    )


def test_observed_clean_single_pass(spark):
    """Observation metrics must match the data and cost no extra job."""
    from udacitycapstonedataengineer_spark.operators.cleaning import observed_clean

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (None, "c"), (4, "d"), (None, None)],
        "k int, v string",
    )
    cleaned, obs = observed_clean(df, ["k", "v"])
    kept = cleaned.count()  # the ONE action; metrics ride along
    assert kept == 2
    m = obs.get
    assert m["rows_seen"] == 5
    assert m["rows_dropped"] == 3
    assert m["rows_seen"] - m["rows_dropped"] == kept


def test_expectation_split_quarantines_with_evidence(spark):
    """Failing rows land in quarantine with the names of the rules
    they broke; clean + quarantine partitions the input exactly."""
    from pyspark.sql import functions as F

    from udacitycapstonedataengineer_spark.operators.quality import (
        expect,
        expectation_split,
    )

    df = spark.createDataFrame(
        [(1, 10.0, "A"), (2, -5.0, "A"), (3, 7.0, "X"), (4, None, "R")],
        "id long, price double, flag string",
    )
    rules = [
        expect("price_positive", F.col("price") > 0),
        expect("flag_domain", F.col("flag").isin("A", "N", "R")),
    ]
    clean, quarantine = expectation_split(df, rules)
    assert {r.id for r in clean.collect()} == {1}
    bad = {r.id: sorted(r.failed_rules) for r in quarantine.collect()}
    assert bad == {
        2: ["price_positive"],
        3: ["flag_domain"],
        4: ["price_positive"],  # null price = unevaluable = violation
    }
    assert clean.count() + quarantine.count() == df.count()
