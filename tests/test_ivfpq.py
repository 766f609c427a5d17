"""IVF-PQ composition (operators/ivfpq.py): index integrity, probe
pruning, and retrieval quality vs exact L2."""

from __future__ import annotations

import numpy as np

from udacitycapstonedataengineer_spark.operators.ivfpq import (
    ivfpq_build,
    ivfpq_topk,
)
from udacitycapstonedataengineer_spark.sources.readers import load_table

NLIST, M, K = 8, 8, 16


def test_ivfpq_index_integrity_and_retrieval(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    rows = sorted(
        emb.select("vec_id", "embedding").collect(), key=lambda r: r["vec_id"]
    )
    ids = [r["vec_id"] for r in rows]
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)

    cents, books, index = ivfpq_build(emb, nlist=NLIST, m=M, k=K)
    idx = index.persist()

    # every vector indexed exactly once, cells within range, codes
    # well-formed
    got = idx.collect()
    assert len(got) == len(ids)
    assert {r["vec_id"] for r in got} == set(ids)
    for r in got:
        assert 0 <= r["cell"] < NLIST
        assert len(r["codes"]) == M
        assert all(0 <= c < K for c in r["codes"])
    # cells are the TRUE nearest coarse centroids (spot-check)
    cmap = {r["cid"]: np.array(r["c"]) for r in cents.collect()}
    cells = {r["vec_id"]: r["cell"] for r in got}
    for i in (0, 7, 99):
        d2 = {cid: ((X[i] - c) ** 2).sum() for cid, c in cmap.items()}
        best = min(d2, key=lambda cid: (d2[cid], cid))
        assert cells[ids[i]] == best

    # retrieval: the query vector itself must come back; top-10 must
    # overlap exact L2 top-10
    query = [float(v) for v in X[7]]
    top = ivfpq_topk(idx, cents, books, query, nprobe=2, topk=10).collect()
    top_ids = {r["vec_id"] for r in top}
    assert ids[7] in top_ids
    exact = {ids[i] for i in np.argsort(((X - X[7]) ** 2).sum(axis=1))[:10]}
    assert len(top_ids & exact) >= 3, top_ids

    # probe pruning is real: results only come from the nprobe cells
    # nearest the query
    probed = sorted(
        cmap,
        key=lambda cid: (((X[7] - cmap[cid]) ** 2).sum(), cid),
    )[:2]
    for r in top:
        assert cells[r["vec_id"]] in probed
    idx.unpersist()


def test_ivfpq_index_partition_pruned_serving(spark, sf_dir, tmp_path):
    """The module docstring's scale claim, made mechanical: persist
    the code index partitioned by CELL, and a probe's ``cell isin``
    filter must land as a PartitionFilter on the parquet scan — the
    query reads nprobe/nlist of the files, not the index. Results
    from the persisted index must equal the in-memory build exactly."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    cents, books, index = ivfpq_build(emb, nlist=NLIST, m=M, k=K)
    path = str(tmp_path / "ivfpq_index")
    index.write.partitionBy("cell").mode("overwrite").parquet(path)
    back = spark.read.parquet(path).withColumn(
        "cell", F.col("cell").cast("long")
    )
    query = [
        float(v) for v in emb.filter("vec_id = 7").head()["embedding"]
    ]
    served = ivfpq_topk(back, cents, books, query, nprobe=2, topk=10)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters"
    )[1][:200], plan[:3000]
    mem = ivfpq_topk(index, cents, books, query, nprobe=2, topk=10)
    assert [r.asDict() for r in served.collect()] == [
        r.asDict() for r in mem.collect()
    ]


def test_ivfpq_refined_rerank(spark, sf_dir):
    """The refine stage: (a) with rerank = corpus size the refined
    top-k IS the exact L2 top-k (re-rank math is exact); (b) at a
    practical rerank the refined top-k's overlap with exact is at
    least the plain-ADC overlap (refinement never hurts recall)."""
    from udacitycapstonedataengineer_spark.operators.ivfpq import (
        ivfpq_topk_refined,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    rows = sorted(
        emb.select("vec_id", "embedding").collect(), key=lambda r: r["vec_id"]
    )
    ids = [r["vec_id"] for r in rows]
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    cents, books, index = ivfpq_build(emb, nlist=NLIST, m=M, k=K)
    query = [float(v) for v in X[7]]

    # (a) probing EVERY cell with rerank >= corpus: exact equality
    full = ivfpq_topk_refined(
        index, cents, books, emb, query,
        nprobe=NLIST, rerank=len(ids), topk=10,
    ).collect()
    exact_order = np.lexsort(
        (ids, ((X - X[7]) ** 2).sum(axis=1))
    )[:10]
    assert [r["vec_id"] for r in full] == [ids[i] for i in exact_order]

    # (b) refined ⊇-recall vs plain ADC at the same probe budget
    exact_ids = {ids[i] for i in exact_order}
    adc = {
        r["vec_id"]
        for r in ivfpq_topk(index, cents, books, query, 2, 10).collect()
    }
    refined = {
        r["vec_id"]
        for r in ivfpq_topk_refined(
            index, cents, books, emb, query, nprobe=2, rerank=50, topk=10
        ).collect()
    }
    assert len(refined & exact_ids) >= len(adc & exact_ids)
    assert ids[7] in refined


def test_ivfpq_registered_query_recall_contract(spark, sf_dir):
    """The oracled ``ann_topk_ivfpq`` query (VERDICT r7 #3) carries an
    explicit recall-vs-exact-L2 contract column: recall@10 of the
    nprobe=2 ADC top-10 against the exact top-10 must clear the same
    floor the operator tests pin (>=0.3), and the query vector itself
    (a database vector at distance 0) must surface ranked in the exact
    set."""
    from udacitycapstonedataengineer_spark.plans.queries import QUERIES

    rows = QUERIES["ann_topk_ivfpq"](spark, sf_dir).collect()
    assert len(rows) == 10
    assert [r["rank"] for r in rows] == list(range(1, 11))
    recall = sum(1 for r in rows if r["in_exact_topk"]) / len(rows)
    assert recall >= 0.3, [r.asDict() for r in rows]
    self_hit = [r for r in rows if r["vec_id"] == 7]
    assert self_hit and self_hit[0]["in_exact_topk"]


def test_ivfpq_incremental_append_equals_rebuild(spark, sf_dir):
    """VERDICT r8 #5 done-criterion: encoding a new batch against the
    FROZEN corpus model and appending must equal re-encoding the whole
    union under that same model — row-for-row (cells and codes), and
    probe-for-probe. The ANN sibling of BM25's append-equals-rebuild."""
    from pyspark.sql import functions as F

    from udacitycapstonedataengineer_spark.operators.ivfpq import (
        ivfpq_encode_batch,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(~F.expr("vec_id % 10 = 7"))
    batch = emb.filter(F.expr("vec_id % 10 = 7"))
    cents, books, corpus_index = ivfpq_build(corpus, nlist=NLIST, m=M, k=K)

    appended = corpus_index.unionByName(
        ivfpq_encode_batch(batch, cents, books, m=M)
    )
    rebuilt = ivfpq_encode_batch(emb, cents, books, m=M)

    key = lambda r: r["vec_id"]  # noqa: E731
    got = sorted(appended.collect(), key=key)
    want = sorted(rebuilt.collect(), key=key)
    assert [(r["vec_id"], r["cell"], list(r["codes"])) for r in got] == [
        (r["vec_id"], r["cell"], list(r["codes"])) for r in want
    ]

    query = [float(v) for v in emb.filter("vec_id = 7").head()["embedding"]]
    pa = ivfpq_topk(appended, cents, books, query, nprobe=2, topk=10)
    pr = ivfpq_topk(rebuilt, cents, books, query, nprobe=2, topk=10)
    assert [r.asDict() for r in pa.collect()] == [
        r.asDict() for r in pr.collect()
    ]


def test_ivfpq_served_query_partition_pruned(spark, sf_dir):
    """VERDICT r8 #4 done-criterion: the REGISTERED served query's
    probe scan must carry a PartitionFilters entry on the cell column —
    the written-index read-back prunes to nprobe/nlist of the files,
    proven on the exact plan the driver gate hashes."""
    from udacitycapstonedataengineer_spark.plans.queries import QUERIES

    df = QUERIES["ann_topk_ivfpq_served"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan[:3000]
    assert "cell" in plan.split("PartitionFilters")[1][:200], plan[:3000]
    rows = df.collect()
    assert len(rows) == 10 and [r["rank"] for r in rows] == list(range(1, 11))


def test_ivfpq_index_drift_moves_on_shift(spark, sf_dir):
    """VERDICT r9 #5 done-criterion: the drift metrics must MOVE when
    the batch distribution shifts off the frozen quantizer. Encode the
    same batch twice against the same frozen corpus model — once as-is,
    once displaced by a constant offset — and the batch residual
    energy must rise while every corpus-side stat stays identical
    (the corpus never changed; a drift metric that moves corpus stats
    is measuring the wrong thing)."""
    from pyspark.sql import functions as F

    from udacitycapstonedataengineer_spark.operators.ivfpq import ivfpq_build
    from udacitycapstonedataengineer_spark.plans import queries  # noqa: F401
    from udacitycapstonedataengineer_spark.plans.queries_round10 import (
        _BATCH_WHERE,
        ivfpq_drift_stats,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(f"NOT ({_BATCH_WHERE})")
    cents, _books, _index = ivfpq_build(corpus, nlist=8, m=8, k=16, iters=2)

    base = {r["cell"]: r.asDict() for r in ivfpq_drift_stats(emb, cents).collect()}

    shifted = emb.withColumn(
        "embedding",
        F.when(
            F.expr(_BATCH_WHERE),
            F.expr("transform(embedding, x -> cast(x as double) + 0.5D)"),
        ).otherwise(F.expr("transform(embedding, x -> cast(x as double))")),
    )
    moved = {
        r["cell"]: r.asDict()
        for r in ivfpq_drift_stats(shifted, cents).collect()
    }

    assert set(base) == set(moved)
    for cell in base:
        for col in ("corpus_n", "corpus_energy", "fill_share_corpus",
                    "energy_per_vec_corpus"):
            assert base[cell][col] == moved[cell][col], (cell, col)
    base_energy = sum(r["batch_energy"] for r in base.values())
    moved_energy = sum(r["batch_energy"] for r in moved.values())
    assert moved_energy > base_energy, (base_energy, moved_energy)
    # fill shares shift too: the displaced batch lands in different cells
    assert any(
        base[c]["batch_n"] != moved[c]["batch_n"] for c in base
    ) or moved_energy > base_energy


def test_double_array_bit_identical_to_lit_path(spark):
    """Model and query literals ship as ONE SQL-text array
    (``clustering.double_array``) instead of one ``F.lit`` call per
    double. Both forms must collect to the same bits: the ADC LUT's
    +inf sentinel, signed zero, ``1e-05``-style reprs, float32
    values upcast to double (every embedding), and the extremes."""
    import struct

    from pyspark.sql import functions as F

    from udacitycapstonedataengineer_spark.operators.clustering import (
        double_array,
    )

    values = [
        float("inf"),
        float("-inf"),
        -0.0,
        0.0,
        1e-05,
        -1.52587890625e-05,
        float(np.float32(0.1)),
        float(np.float32(-1 / 3)),
        5e-324,
        1.7976931348623157e308,
        123456789.123,
    ]
    [row] = spark.range(1).select(
        double_array(values).alias("sql"),
        F.array(*[F.lit(float(x)) for x in values]).alias("lit"),
    ).collect()

    def bits(xs):
        return [struct.pack("<d", x) for x in xs]

    assert bits(row["sql"]) == bits(row["lit"]) == bits(values)


# Spark jobs of one warm run (query construction + a noop write) at
# sf0.001. Deterministic for a fixed plan and data, so an added driver
# action fails here without a timing canary. Both include the 2 jobs
# the trainers' spread input adds: its first action, the seed fetch,
# also materializes the exchange.
JOB_BUDGET = {"ann_topk_ivfpq": 11, "semdedup_survivors": 54}


def test_model_build_job_budget_and_class_reuse(spark, sf_dir):
    """Job budgets for the two model-building queries, and codegen
    class reuse across a pass: after ann → semdedup, a second ann
    compiles NO new classes (CodegenMetrics counts every cache miss).
    With Spark's 100-entry default cache, the ~170 classes of one
    pass evicted each other and every pass recompiled them all."""
    from udacitycapstonedataengineer_spark.plans.queries import QUERIES

    sc = spark.sparkContext
    compiles = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run(name: str, group: str) -> tuple[int, int]:
        c0 = compiles.getCount()
        sc.setJobGroup(group, group)
        try:
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setJobGroup("", "")
        return jobs, compiles.getCount() - c0

    run("ann_topk_ivfpq", "budget-ann-warm")
    run("semdedup_survivors", "budget-semdedup-warm")
    jobs, compiled = run("ann_topk_ivfpq", "budget-ann")
    assert compiled == 0, f"second ann_topk_ivfpq compiled {compiled} classes"
    assert jobs == JOB_BUDGET["ann_topk_ivfpq"], jobs
    jobs, _ = run("semdedup_survivors", "budget-semdedup")
    assert jobs == JOB_BUDGET["semdedup_survivors"], jobs
