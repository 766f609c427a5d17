"""CSV readers (S2/S3), partitioned-writer reuse, the salted join and
the small-input spread guard."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from udacitycapstonedataengineer_spark.operators.skew import salted_join
from udacitycapstonedataengineer_spark.sources.readers import load_table, read_csv
from udacitycapstonedataengineer_spark.sources.writers import write_bucketed

CSV_SCHEMA = T.StructType(
    [
        T.StructField("city", T.StringType()),
        T.StructField("state", T.StringType()),
        T.StructField("median_age", T.DoubleType()),
        T.StructField("population", T.IntegerType()),
    ]
)


def test_read_csv_custom_delimiter(spark, tmp_path):
    # the reference's ;-separated demographics source (etl.py:61)
    p = tmp_path / "demo.csv"
    p.write_text(
        "city;state;median_age;population\n"
        "Springfield;IL;34.5;110000\n"
        "Portland;OR;36.1;650000\n"
    )
    df = read_csv(spark, str(p), schema=CSV_SCHEMA, sep=";")
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "string", "string", "double", "int",
    ]
    rows = {r.city: r for r in df.collect()}
    assert rows["Portland"].population == 650000
    assert rows["Springfield"].median_age == 34.5


def test_read_csv_infer_fallback(spark, tmp_path):
    p = tmp_path / "plain.csv"
    p.write_text("a,b\n1,x\n2,y\n")
    df = read_csv(spark, str(p))
    assert df.count() == 2
    assert df.schema["a"].dataType.simpleString() == "int"


def test_json_and_orc_roundtrip(spark, sf_dir, tmp_path):
    """Source-format breadth beyond the reference: JSON and ORC write →
    schema'd read preserves rows and types."""
    src = load_table(spark, sf_dir, "nation")
    jp, op = str(tmp_path / "j"), str(tmp_path / "o")
    src.write.mode("overwrite").json(jp)
    src.write.mode("overwrite").orc(op)
    back_j = spark.read.schema(src.schema).json(jp)
    back_o = spark.read.orc(op)
    want = sorted(map(tuple, src.collect()))
    assert sorted(map(tuple, back_j.collect())) == want
    assert sorted(map(tuple, back_o.collect())) == want
    assert back_o.schema == src.schema


def test_salted_join_matches_plain_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    medium = part.withColumnRenamed("p_partkey", "l_partkey")

    plain = li.join(medium, "l_partkey").select(
        "l_orderkey", "l_linenumber", "l_partkey", "p_name"
    )
    salted = salted_join(
        li, medium, on="l_partkey", spread_col="l_orderkey", n_salts=4
    ).select("l_orderkey", "l_linenumber", "l_partkey", "p_name")

    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
    # the join key must carry the salt into the shuffle
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key must SortMergeJoin with no
    Exchange — the co-located-join contract of write_bucketed."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    # at test SF both sides fit the broadcast threshold and the planner
    # rightly skips bucketing; disable auto-broadcast to exercise the
    # big-big co-located path this feature exists for
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(
            orders, "b_orders", ["o_orderkey"], 4,
            str(tmp_path / "b_orders"), sort_cols=["o_orderkey"],
        )
        write_bucketed(
            li, "b_lineitem", ["o_orderkey"], 4,
            str(tmp_path / "b_lineitem"), sort_cols=["o_orderkey"],
        )
        joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_text_and_binaryfile_sources(spark, tmp_path):
    """Unstructured ingestion surface: line-oriented text files (the
    raw-corpus entry point before parsing) and whole-file binary reads
    (the multimodal entry point — one row per object with path
    metadata, the pattern for image/audio blobs landing as files)."""
    d = tmp_path / "raw"
    d.mkdir()
    (d / "a.txt").write_text("line one\nline two\n")
    (d / "b.txt").write_text("line three\n")
    lines = spark.read.text(str(d))
    assert sorted(r.value for r in lines.collect()) == [
        "line one",
        "line three",
        "line two",
    ]
    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(str(d))
        .select("path", "length", "content")
    )
    got = {
        r.path.rsplit("/", 1)[-1]: (r.length, bytes(r.content))
        for r in blobs.collect()
    }
    assert got == {
        "a.txt": (18, b"line one\nline two\n"),
        "b.txt": (11, b"line three\n"),
    }


def test_compact_parquet_reduces_files(spark, sf_dir, tmp_path):
    from udacitycapstonedataengineer_spark.sources.writers import compact_parquet

    scattered = str(tmp_path / "scattered")
    src = load_table(spark, sf_dir, "events")
    src.repartition(24).write.parquet(scattered)
    n_before = len(list((tmp_path / "scattered").glob("*.parquet")))
    assert n_before >= 24
    out = str(tmp_path / "compacted")
    compact_parquet(spark, scattered, out)
    n_after = len(list((tmp_path / "compacted").glob("*.parquet")))
    assert n_after < n_before
    assert spark.read.parquet(out).count() == src.count()


def test_range_clustered_files_have_disjoint_stats(spark, sf_dir, tmp_path):
    """Each output file's (min, max) on the cluster column must be
    disjoint — the property parquet skipping needs."""
    import pyarrow.parquet as pq

    from udacitycapstonedataengineer_spark.sources.writers import (
        write_range_clustered,
    )

    out = tmp_path / "clustered"
    write_range_clustered(
        load_table(spark, sf_dir, "orders"), str(out), ["o_orderdate"], 4
    )
    ranges = []
    for f in out.glob("*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.to_arrow_schema().get_field_index("o_orderdate")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) == 4
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint (boundary value may touch)


def test_csv_corrupt_record_quarantine(spark, tmp_path):
    """Bad rows quarantine with original text; clean rows parse; and
    FAILFAST (the strict alternative) raises instead."""
    import pytest
    from pyspark.sql import types as T

    from udacitycapstonedataengineer_spark.sources.readers import (
        read_csv_quarantine,
    )

    p = tmp_path / "dirty.csv"
    p.write_text("a,b\n1,x\nnot_an_int,y\n3,z\n")
    schema = T.StructType(
        [T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())]
    )
    df = read_csv_quarantine(spark, str(p), schema).cache()
    clean = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert sorted((r.a, r.b) for r in clean.collect()) == [(1, "x"), (3, "z")]
    assert [r._corrupt_record for r in bad.collect()] == ["not_an_int,y"]
    df.unpersist()
    with pytest.raises(Exception):
        (
            spark.read.option("header", True)
            .option("mode", "FAILFAST")
            .schema(schema)
            .csv(str(p))
            .collect()
        )


def test_sql_udf_registration(spark):
    """§2.8 extension: a vectorized pandas_udf registered into the SQL
    catalog and called from spark.sql — the sanctioned way to expose
    Python logic to SQL users (Arrow batches, not per-row pickling)."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # no type hints: postponed annotation evaluation (future import in
    # this module) stringifies them, which pandas_udf can't infer from
    @pandas_udf("double", PandasUDFType.SCALAR)
    def sas_days_to_epoch_secs(days):
        # SAS epoch (1960-01-01) → unix epoch seconds, vectorized
        return (days - 3653) * 86400.0

    spark.udf.register("sas_days_to_epoch_secs", sas_days_to_epoch_secs)
    out = spark.sql(
        "SELECT sas_days_to_epoch_secs(CAST(d AS DOUBLE)) AS secs "
        "FROM VALUES (3653.0), (3654.0) AS t(d)"
    ).collect()
    assert [r.secs for r in out] == [0.0, 86400.0]


def test_dynamic_partition_overwrite(spark, sf_dir, tmp_path):
    """Rewriting one partition must leave the others byte-identical —
    and the rewritten partition fully replaced, not appended."""
    from udacitycapstonedataengineer_spark.sources.writers import (
        overwrite_partitions,
        write_parquet,
    )

    out = str(tmp_path / "by_type")
    ev = load_table(spark, sf_dir, "events")
    write_parquet(ev, out, partition_by=["event_type"])
    before = {
        r.event_type: r.n
        for r in spark.read.parquet(out)
        .groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # reprocess ONLY the 'click' slice: halve it
    clicks_half = ev.filter(
        (F.col("event_type") == "click") & (F.col("event_id") % 2 == 0)
    )
    overwrite_partitions(clicks_half, out, ["event_type"])
    after = {
        r.event_type: r.n
        for r in spark.read.parquet(out)
        .groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert after["click"] == clicks_half.count()  # replaced, not appended
    for k in before:
        if k != "click":
            assert after[k] == before[k]  # untouched partitions intact


def test_zorder_files_cover_small_rectangles(spark, tmp_path):
    """Z-order layout: every file's (x, y) bounding box is a small
    fraction of the domain — so min/max stats prune on BOTH columns.
    A row-major layout would give every file the full y range."""
    import pyarrow.parquet as pq

    from udacitycapstonedataengineer_spark.sources.writers import (
        write_zordered,
    )

    n = 1 << 14
    df = spark.range(n).selectExpr(
        "CAST(id % 128 AS BIGINT) AS x", "CAST(id DIV 128 AS BIGINT) AS y"
    )
    out = tmp_path / "zordered"
    write_zordered(df, str(out), "x", "y", n_files=16, bits=7)

    areas = []
    for part in sorted(out.glob("*.parquet")):
        md = pq.read_metadata(str(part))
        xmin = ymin = 1 << 60
        xmax = ymax = -1
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                name = col.path_in_schema
                if name not in ("x", "y") or col.statistics is None:
                    continue
                st = col.statistics
                if name == "x":
                    xmin, xmax = min(xmin, st.min), max(xmax, st.max)
                else:
                    ymin, ymax = min(ymin, st.min), max(ymax, st.max)
        areas.append((xmax - xmin + 1) * (ymax - ymin + 1) / (128 * 128))
    # each file covers a small rectangle, not a full-width stripe
    assert len(areas) >= 8
    assert sum(areas) / len(areas) < 0.25
    assert max(areas) < 0.6


def test_join_strategy_hints_control_physical_plan(spark, sf_dir):
    """The three join strategies are selectable per-join — the control
    a tuner needs when AQE's default pick is wrong for a known
    workload (e.g. forcing SMJ for a huge-huge join that would spill a
    hash build, or shuffle-hash when one side is pre-bucketed)."""
    from udacitycapstonedataengineer_spark.sources.readers import load_table

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cases = {
        "merge": "SortMergeJoin",
        "shuffle_hash": "ShuffledHashJoin",
        "broadcast": "BroadcastHashJoin",
    }
    for hint, node in cases.items():
        plan = (
            o.join(c.hint(hint), o.o_custkey == c.c_custkey)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert node in plan, (hint, plan[:400])


def test_ingest_lineage_metadata_columns(spark, tmp_path):
    """_metadata-based lineage: every row names its source file, and
    the columns persist through a sink for replay/blame."""
    from udacitycapstonedataengineer_spark.sources.readers import (
        with_ingest_lineage,
    )

    for i in range(2):
        spark.range(i * 10, i * 10 + 10).coalesce(1).write.parquet(
            str(tmp_path / "landing" / f"f{i}.parquet")
        )
    df = with_ingest_lineage(
        spark.read.parquet(str(tmp_path / "landing" / "*.parquet")),
        batch_id="b-2026-08-13",
    )
    rows = df.collect()
    assert len(rows) == 20
    by_file = {}
    for r in rows:
        assert r._src_bytes > 0 and r._src_mtime is not None
        assert r._batch_id == "b-2026-08-13"
        by_file.setdefault(r._src_file, set()).add(r.id)
    # rows attribute to exactly their producing file
    assert sorted(len(v) for v in by_file.values()) == [10, 10]
    # lineage survives a sink round-trip
    df.write.mode("overwrite").parquet(str(tmp_path / "out"))
    back = spark.read.parquet(str(tmp_path / "out"))
    assert "_src_file" in back.columns and back.count() == 20


def test_xml_source_roundtrip(spark, tmp_path):
    """Spark 4 ships the XML source natively (spark-xml was merged
    upstream): write with rootTag/rowTag, read back with an explicit
    rowTag — schema and values survive. Avro remains an external
    module (not on this classpath) and is documented as such."""
    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", 2.5)], "id long, name string, score double"
    )
    path = str(tmp_path / "xml_out")
    (df.write.format("xml").option("rootTag", "rows").option("rowTag", "row")
       .save(path))
    back = (
        spark.read.format("xml").option("rowTag", "row").load(path)
        .select("id", "name", "score")
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_lsh_max_bucket_caps_boilerplate_skew(spark):
    """Skew-stress for the LSH banding path (VERDICT r3 #8): a
    boilerplate-heavy corpus puts one dominant bucket in every band;
    the max_bucket cap must (a) keep the candidate-pair count bounded
    — uncapped, 300 clones alone emit 300·299/2 = 44 850 pairs — and
    (b) report the drop through lsh_bucket_profile so operators can
    SEE what the cap removed instead of trusting a docstring."""
    from udacitycapstonedataengineer_spark.operators.dedup import (
        lsh_bucket_profile,
        minhash_candidates,
    )

    n_clone, n_distinct = 300, 50
    boiler = (
        "terms of service apply to every visitor of this site and by "
        "continuing you accept the terms of service in full"
    )
    rows = [(i, boiler) for i in range(n_clone)] + [
        (
            1000 + i,
            f"unique document number {i} discussing topic {i * 7} in "
            f"detail with content specific to item {i * 13}",
        )
        for i in range(n_distinct)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    prof = lsh_bucket_profile(docs, num_hashes=16, bands=4, max_bucket=64)
    stats = {r.band: r for r in prof.collect()}
    assert set(stats) == {0, 1, 2, 3}
    for band, r in stats.items():
        # identical docs share identical signatures: the boilerplate
        # bucket holds all 300 clones and must be flagged as dropped
        assert r.max_bucket_size >= n_clone, (band, r)
        assert r.n_dropped_buckets >= 1, (band, r)
        assert r.n_dropped_rows >= n_clone, (band, r)
        assert r.dropped_pairs_avoided >= n_clone * (n_clone - 1) // 2, (
            band, r,
        )

    cand = minhash_candidates(docs, num_hashes=16, bands=4, max_bucket=64)
    n_pairs = cand.count()
    # the cap drops the degenerate bucket entirely: candidates are at
    # most incidental collisions among the distinct docs — orders of
    # magnitude below the uncapped quadratic blowup
    assert n_pairs < 1000, n_pairs


def test_aqe_skew_join_split_fires_at_runtime(spark):
    """VERDICT r6 #7: runtime evidence that AQE's skew-join splitting
    actually fires on a skewed shuffle join — the doctor checks static
    plans, this pins the dynamic half of the skew story. One hot key
    carries ~97% of the left side; with test-scale skew thresholds the
    final adaptive plan must mark the join skew=true (the hot
    partition is split across tasks instead of pinning one reducer).

    Where salting (operators/skew.salted_join) remains necessary:
    AQE's split only applies to sort-merge joins AFTER a shuffle
    materializes, and splits at map-output granularity — a single
    gigantic KEY still needs salting when its rows must ALSO aggregate
    (AQE cannot split a groupBy key), which is why salted_join keeps
    its own test above rather than being deleted in favor of AQE.
    """
    confs = {
        # force the sort-merge path (no broadcast escape hatch) and
        # scale AQE's skew thresholds down to fixture size
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = (
            spark.range(200_000)
            .select(
                F.when(F.col("id") % 32 < 31, F.lit(7))
                .otherwise(F.col("id") % 1000)
                .alias("k"),
                F.concat(F.lit("payload-"), F.col("id")).alias("pad"),
            )
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), F.col("id").alias("rv")
        )
        # keep the payload column alive through the shuffle: AQE's
        # skew detector reads COMPRESSED map-output sizes, and a
        # pruned-to-one-repeated-long hot partition compresses below
        # any realistic threshold
        joined = left.join(right, "k").groupBy().agg(
            F.count(F.lit(1)).alias("n"), F.max("pad").alias("mx")
        )
        [row] = joined.collect()
        assert row["n"] == 200_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_spread_small_input_guard(spark, monkeypatch):
    """``spread_small_input`` hash-clusters a small frame on all its
    keys across every slot, and returns a frame whose driver-side size
    estimate is above the guard as the SAME object (the partitioned
    sink reads that identity as "write it as given"). The guard's
    threshold is lowered so the small frame counts as large."""
    from udacitycapstonedataengineer_spark.operators import skew

    par = spark.sparkContext.defaultParallelism
    df = spark.range(64).select(
        (F.col("id") % 4).alias("a"), (F.col("id") % 3).alias("b"), "id"
    )
    spread = skew.spread_small_input(df, "a", "b")
    assert spread is not df
    assert spread.rdd.getNumPartitions() == par
    # rows with equal keys share one partition
    owners = (
        spread.select("a", "b", F.spark_partition_id().alias("p"))
        .groupBy("a", "b")
        .agg(F.countDistinct("p").alias("n"))
    )
    assert owners.filter(F.col("n") > 1).count() == 0
    assert sorted(spread.collect()) == sorted(df.collect())

    monkeypatch.setattr(skew, "_SPREAD_BYTES_PER_SLOT", 1)
    assert skew.spread_small_input(df, "a", "b") is df
