"""End-to-end batch ETL runner — the reference's ``etl.py main()``
(etl.py:82-94, SURVEY.md §3.1) re-expressed.

Differences from the reference lifecycle, all deliberate (SURVEY §7.3):
- the cleaned fact source is CACHED once and every dim/fact builder
  reads the in-memory plan (the reference re-ran the source scan for
  every count() and re-read the visa dim from parquet mid-pipeline);
- quality gates RAISE instead of printing "NOK", before any sink is
  written;
- row accounting comes back as data in the returned metrics, counted
  together with the gates in ONE aggregate action (the reference ran a
  scan per count);
- the small partitioned calendar sink is written from every slot
  (``sources.writers.write_parquet``), not from the single partition
  its global ``row_number`` window leaves behind.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ..operators.cleaning import drop_nulls
from ..operators.quality import check_pipeline
from ..sources.readers import load_tables
from ..sources.writers import write_parquet
from .star import build_star


def run_pipeline(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> dict[str, int]:
    """read → clean → dims → fact → quality → parquet sinks.

    Returns the quality/accounting metrics. ``QualityError`` is raised
    before any sink is written. Sinks land under ``out_dir/<table>``;
    the calendar dim partitions by y/m/w exactly as the reference does
    (etl_functions.py:129-130), one file per partition directory.
    """
    tables = load_tables(spark, sf_dir)

    # clean the fact source (F1/F2 semantics) and cache: five downstream
    # builders consume it, one scan pays for all of them
    orders_raw = tables["orders"]
    orders = drop_nulls(
        orders_raw, how="any", subset=["o_orderkey", "o_orderdate"]
    ).cache()
    try:
        star = build_star({**tables, "orders": orders})
        metrics = check_pipeline(orders_raw, orders, star)

        write_parquet(star["priority_dim"], os.path.join(out_dir, "priority_dim"))
        write_parquet(star["country_dim"], os.path.join(out_dir, "country_dim"))
        write_parquet(
            star["calendar_dim"],
            os.path.join(out_dir, "calendar_dim"),
            partition_by=["arrival_year", "arrival_month", "arrival_week"],
        )
        write_parquet(star["fact"], os.path.join(out_dir, "fact"))
    finally:
        # a failed gate or sink must not leave the source cached
        orders.unpersist()
    return metrics
