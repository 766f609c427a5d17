"""Parquet sinks (SURVEY.md §2.1 S5-S6).

The reference writes every output table with
``df.write.parquet(path, mode='overwrite')`` and partitions the calendar
dim by year/month/week (etl_functions.py:129-130). Partitioned writes are
the scale lever: at 100 TB, a date-partitioned fact enables partition
pruning on every time-sliced read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.skew import spread_small_input

# parquet page size for SMALL partitioned sinks. parquet-mr allocates
# page-sized buffers per column for every file it opens (default page
# 1 MB), however few rows the file holds. With one file per partition
# directory written on every slot at once, those buffers — not the
# data — grew the driver's committed heap (calendar dim, 412 files,
# local[4] on a 4-vCPU VM: 390 → 611 MB at 1 MB pages, 390 MB at
# 64 KB). A small file's pages are far below 64 KB, so the bytes on
# disk do not change.
_SMALL_SINK_PAGE_BYTES = 64 << 10


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """``df`` as parquet under ``path``, optionally hive-partitioned.

    A partitioned sink writes one file per partition directory from
    the task that holds the directory's rows. A small input that
    arrives in one partition (a dim behind a global window) would write
    every directory from one task, paying the per-file costs — directory
    and file permission calls (a ``chmod`` process each when Hadoop's
    native library is absent), writer set-up — serially. Such an input
    is hash-clustered on the partition columns across all slots
    (``skew.spread_small_input``: a driver-only size estimate, no job),
    so every directory still gets exactly one file but the directories
    are written in parallel, with page buffers sized for small files.
    An input above the spread threshold is written exactly as given.
    """
    if not partition_by:
        df.write.mode(mode).parquet(path)
        return
    spread = spread_small_input(df, *partition_by)
    writer = spread.write.mode(mode).partitionBy(*partition_by)
    if spread is not df:
        writer = writer.option("parquet.page.size", _SMALL_SINK_PAGE_BYTES)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    path: str,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (hash-clustered) parquet table, registered in the
    session catalog at an explicit external ``path``.

    The co-located-join lever at scale: two tables bucketed+sorted on
    the same key with the same bucket count join with NO shuffle and NO
    sort — the physical plan goes straight to SortMergeJoin over the
    pre-clustered files. Worth the write-side shuffle whenever a big
    fact is joined on the same key by many downstream queries."""
    writer = (
        df.write.mode(mode)
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def compact_parquet(
    spark,
    path: str,
    out_path: str,
    target_file_mb: int = 128,
) -> int:
    """Small-files compaction: rewrite a parquet directory into files
    of ~``target_file_mb``. Streaming sinks and over-parallel writes
    leave thousands of tiny files; at 100 TB that breaks scan planning
    (one task per file, listing dominates). Sizing comes from the
    actual on-disk bytes, not a guess; returns the output file count.
    """
    import math
    import os

    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    # coalesce, not repartition: narrowing to n files needs no shuffle
    df.coalesce(n).write.mode("overwrite").parquet(out_path)
    return n


def write_range_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int,
    mode: str = "overwrite",
) -> None:
    """Range-cluster rows across files on ``cluster_cols`` so each
    file's min/max footer stats cover a DISJOINT value range — parquet
    row-group/file skipping then prunes most files for any selective
    range predicate (the poor-man's Z-order for one dimension; at
    100 TB this is the difference between scanning a day and a year).
    """
    (
        df.repartitionByRange(n_files, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode(mode)
        .parquet(path)
    )


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_by: list[str],
) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present
    in ``df``, leaving every other partition untouched. The incremental
    batch pattern at 100 TB — reprocess one day/source and land it over
    a petabyte table without rewriting (or even listing) the rest.
    Static overwrite (the default) would truncate the whole table.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def zorder_key(x: str, y: str, bits: int = 16) -> "F.Column":
    """Morton (Z-order) key: interleave the low ``bits`` of two
    non-negative integer columns — one native fold, codegen'd. Rows
    close in (x, y) land close in z, so range-clustering on z gives
    every file a small RECTANGLE of (x, y) space and parquet min/max
    stats prune on BOTH dimensions (write_range_clustered prunes only
    its leading column)."""
    from pyspark.sql import functions as F

    return F.expr(
        f"aggregate(sequence(0, {bits - 1}), 0L, (acc, i) -> acc"
        f" | shiftleft((shiftright(CAST({x} AS BIGINT), i) & 1), 2 * i)"
        f" | shiftleft((shiftright(CAST({y} AS BIGINT), i) & 1), 2 * i + 1))"
    )


def write_zordered(
    df: DataFrame,
    path: str,
    x: str,
    y: str,
    n_files: int,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Two-dimensional clustered layout: range-partition + sort on the
    Morton key. At 100 TB this lets time × tenant (or key × day)
    predicates both skip files, where single-column clustering only
    serves its leading dimension."""
    keyed = df.withColumn("__z", zorder_key(x, y, bits))
    (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )
