"""Operator-level checks for the approximate and as-of paths that the
hash oracle can't cover."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from udacitycapstonedataengineer_spark.operators.asof import asof_join_backward
from udacitycapstonedataengineer_spark.plans.queries import QUERIES
from udacitycapstonedataengineer_spark.sources.readers import load_table


def test_approx_distinct_within_tolerance(spark, sf_dir):
    """The registered query now self-verifies (interval-assertion
    oracle, VERDICT r3 #1); this pins the raw HLL++ estimate against
    the exact count at the tighter 5% bound the estimator earns."""
    ev = load_table(spark, sf_dir, "events")
    rows = (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
            F.countDistinct("user_id").alias("n"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert abs(r.approx - r.n) <= max(2, 0.05 * r.n), (
            r.event_type, r.approx, r.n,
        )
    # and the registered self-verifying form must claim every group ok
    checked = QUERIES["approx_distinct_users"](spark, sf_dir).collect()
    assert checked and all(r.hll_within_eps for r in checked)


def test_approx_percentile_within_tolerance(spark, sf_dir):
    """Value-domain bound on the raw GK estimate (the registered query
    asserts the rank-domain contract; this keeps the value-domain one)."""
    orders = load_table(spark, sf_dir, "orders")
    rows = (
        orders.groupBy("o_orderstatus")
        .agg(
            F.percentile_approx("o_totalprice", 0.5, 10_000).alias("approx"),
            F.expr("percentile(o_totalprice, 0.5)").alias("m"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert abs(r.approx - r.m) <= 0.02 * abs(r.m), (
            r.o_orderstatus, r.approx, r.m,
        )
    checked = QUERIES["approx_percentile_price"](spark, sf_dir).collect()
    assert checked and all(r.median_within_rank_eps for r in checked)


def test_range_join_matches_naive_and_avoids_nested_loop(spark, sf_dir):
    from udacitycapstonedataengineer_spark.operators.rangejoin import (
        range_join_bucketed,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros("ts")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "event_id", "ts_us"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts_us").alias("c_start"),
        (F.col("ts_us") + 600_000_000).alias("c_end"),
    )
    bucketed = range_join_bucketed(
        errors, clicks, "user_id", "ts_us", "c_start", "c_end",
        bucket_width=600_000_000,
    )
    naive = errors.join(
        clicks,
        (errors.user_id == clicks.user_id)
        & (clicks.c_start <= errors.ts_us)
        & (errors.ts_us < clicks.c_end),
    ).select(errors.user_id, "event_id", "ts_us", "c_start", "c_end")
    assert sorted(map(tuple, bucketed.collect())) == sorted(
        map(tuple, naive.collect())
    )
    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 7, "d")],
        ["k", "ts", "tag"],
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (2, 99, 990.0)],
        ["k", "ts", "val"],
    )
    got = {
        r.tag: r.val
        for r in asof_join_backward(
            left, right, key="k", ts="ts", payload_cols=["val"]
        ).collect()
    }
    # ts=10 sees the coincident right row; ts=20 the latest earlier one;
    # ts=5 predates all; key 2's only right row is in the future
    assert got == {"a": 100.0, "b": 150.0, "c": None, "d": None}


def test_scd2_invariants(spark):
    """SCD2 structural invariants on a mixed batch: changed, unchanged,
    and brand-new keys."""
    from udacitycapstonedataengineer_spark.operators.scd import scd2_apply

    dim = spark.createDataFrame(
        [
            # k=1 will change, k=2 won't, k=3 has history already
            (1, "a", "1990-01-01", None, True),
            (2, "b", "1990-01-01", None, True),
            (3, "c-old", "1990-01-01", "1995-01-01", False),
            (3, "c", "1995-01-01", None, True),
        ],
        "k int, attr string, valid_from string, valid_to string, is_current boolean",
    ).selectExpr(
        "k", "attr", "CAST(valid_from AS DATE) valid_from",
        "CAST(valid_to AS DATE) valid_to", "is_current",
    )
    updates = spark.createDataFrame(
        [
            (1, "a2", "2000-06-01"),   # change
            (2, "b", "2000-06-01"),    # no-op (identical attr)
            (9, "new", "2000-06-01"),  # brand-new key
        ],
        "k int, attr string, change_date string",
    ).selectExpr("k", "attr", "CAST(change_date AS DATE) change_date")

    out = scd2_apply(dim, updates, ["k"], ["attr"]).collect()
    rows = {(r.k, r.attr): r for r in out}
    assert len(out) == 6  # 4 original + 1 closed-reopen pair nets +1 + 1 new
    # changed key: old row closed at change date, new current row opened
    assert rows[(1, "a")].is_current is False
    assert str(rows[(1, "a")].valid_to) == "2000-06-01"
    assert rows[(1, "a2")].is_current is True
    assert rows[(1, "a2")].valid_to is None
    # identical update is a no-op
    assert rows[(2, "b")].is_current is True and rows[(2, "b")].valid_to is None
    # history untouched, current for k=3 untouched
    assert rows[(3, "c-old")].is_current is False
    assert rows[(3, "c")].is_current is True
    # brand-new key inserted as current
    assert rows[(9, "new")].is_current is True
    # invariant: exactly one current row per live key
    from collections import Counter

    cur_keys = Counter(r.k for r in out if r.is_current)
    assert all(v == 1 for v in cur_keys.values())


def test_connected_components_chain_and_islands(spark):
    from udacitycapstonedataengineer_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "doc_a long, doc_b long",
    )
    comp = {r.node: r.comp for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                    20: 20, 21: 20, 22: 20}

    # round-9 regression (found by the raised-budget property suite):
    # the path 0-4-3-2-1 drives one large+small-star round into
    # {(2,0),(2,1),(4,0),(3,1)} — parents {0,1} never appear as
    # children, so the old single-probe convergence test declared a
    # star forest while child 2 pointed at BOTH roots: the component
    # split in two and node 2 got duplicate labels. The fix adds the
    # multi-parent probe.
    glued = spark.createDataFrame(
        [(0, 4), (1, 2), (2, 3), (3, 4)], "doc_a long, doc_b long"
    )
    rows = connected_components(glued, max_iter=40).collect()
    assert len(rows) == 5  # exactly one label per node — no dups
    assert {r.node: r.comp for r in rows} == {i: 0 for i in range(5)}


def test_dedup_transitive_closure(spark, sf_dir):
    """Transitive dedup: one survivor per cluster, and NO surviving
    near-dup edge — the invariant pairwise loser-dropping can violate
    on chains (A≈B, B≈C with A,C not paired)."""
    from udacitycapstonedataengineer_spark.operators.dedup import (
        minhash_near_dups,
    )
    from udacitycapstonedataengineer_spark.operators.graph import (
        dedup_transitive,
    )
    from udacitycapstonedataengineer_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dups(docs, num_hashes=16, bands=4, threshold=0.3)
    kept = dedup_transitive(docs, pairs)
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert kept.count() == len(kept_ids)  # unique
    # closure property: no near-dup pair survives intact
    for r in pairs.collect():
        assert not (r.doc_a in kept_ids and r.doc_b in kept_ids)
    # every cluster kept exactly one member (its min id)
    import collections

    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for r in pairs.collect():
        ra, rb = find(r.doc_a), find(r.doc_b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters = collections.defaultdict(set)
    for r in pairs.collect():
        for n in (r.doc_a, r.doc_b):
            clusters[find(n)].add(n)
    for root, members in clusters.items():
        assert kept_ids & members == {min(members)}


def test_stratified_sample_rates(spark, sf_dir):
    """sampleBy must hit each stratum's fraction within tolerance and
    be reproducible under the same seed."""
    from udacitycapstonedataengineer_spark.plans.queries import QUERIES
    from udacitycapstonedataengineer_spark.sources.readers import load_table

    orders = load_table(spark, sf_dir, "orders")
    fractions = {"O": 0.1, "F": 0.5, "P": 1.0}
    totals = {
        r.o_orderstatus: r.n
        for r in orders.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    sampled = orders.sampleBy("o_orderstatus", fractions, seed=42)
    got = {
        r.o_orderstatus: r.n
        for r in sampled.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for status, frac in fractions.items():
        if status not in totals:
            continue
        expect = totals[status] * frac
        if frac == 1.0:
            assert got[status] == totals[status]
        else:
            assert abs(got[status] - expect) < 4 * (expect**0.5) + 10
    # deterministic under fixed seed
    again = {
        r.o_orderkey
        for r in orders.sampleBy("o_orderstatus", fractions, seed=42).collect()
    }
    assert again == {r.o_orderkey for r in sampled.collect()}
    # and the registered self-verifying form must claim every stratum ok
    checked = QUERIES["sample_stratified_by_status"](spark, sf_dir).collect()
    assert checked and all(r.rate_within_eps for r in checked)


def test_aqe_coalesces_shuffle_partitions(spark, sf_dir):
    """The session contract: AQE must be live, shrinking the 32
    configured shuffle partitions to match the (tiny) data."""
    from udacitycapstonedataengineer_spark.sources.readers import load_table

    df = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    df.collect()  # AQE final plan materializes after execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in plan and "coalesced" in plan


def test_kmeans_reproducible_across_layouts(spark, sf_dir):
    """The point of fixed-point centroid accumulation: identical
    assignments regardless of partitioning (double-sum averaging would
    drift with partition merge order)."""
    from udacitycapstonedataengineer_spark.operators.clustering import kmeans
    from udacitycapstonedataengineer_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = {r.vec_id: r.cluster for r in kmeans(emb.repartition(17), k=8, iters=2).collect()}
    b = {r.vec_id: r.cluster for r in kmeans(emb.repartition(3), k=8, iters=2).collect()}
    assert a == b
    assert len(set(a.values())) > 1  # actually clustered, not collapsed
    assert set(a) == {r.vec_id for r in emb.select("vec_id").collect()}


def test_kmeans_assign_matches_window_reference(spark, sf_dir):
    """r16 internals change (guide §2.4): ``kmeans_assign`` became a
    map-only projection over the collected centroid model instead of
    crossJoin(broadcast) + a row_number window. The decision — same
    sequential squared-L2 fold, (dist2, cid) tie-break — must equal
    the historical window shape row-for-row, and the new plan must
    carry no Exchange."""
    from pyspark.sql import Window

    from udacitycapstonedataengineer_spark.operators.clustering import (
        _DIST2,
        _as_double_vec,
        kmeans_assign,
        kmeans_fit,
    )
    from udacitycapstonedataengineer_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    vectors, centroids = kmeans_fit(emb, k=8, iters=2, dim=64)
    got = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign(vectors, centroids).collect()
    }
    # the pre-r16 reference shape, inlined
    joined = _as_double_vec(emb, "embedding").crossJoin(
        F.broadcast(centroids)
    ).withColumn("dist2", F.expr(_DIST2.format(v="v", c="c")))
    w = Window.partitionBy("vec_id").orderBy("dist2", "cid")
    want = {
        r["vec_id"]: r["cluster"]
        for r in joined.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .select("vec_id", F.col("cid").alias("cluster"))
        .collect()
    }
    assert got == want
    # the plan check reads a plain scan: the trained ``vectors`` carry
    # kmeans_fit's input spread (one Exchange, materialized with the
    # cache), which is not part of the assignment
    plan = (
        kmeans_assign(_as_double_vec(emb, "embedding"), centroids)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan[:2000]


def test_snapshot_diff_classifies_and_is_nullsafe(spark):
    """added/removed/changed classification, NULL→value and value→NULL
    both count as changes, unchanged rows are dropped."""
    from udacitycapstonedataengineer_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, None), (3, 30, "c"), (4, None, "d")],
        "k int, v int, s string",
    )
    new = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (4, 40, "d"), (5, 50, "e")],
        "k int, v int, s string",
    )
    got = {
        r.k: r.change_type
        for r in snapshot_diff(old, new, ["k"], ["v", "s"]).collect()
    }
    assert got == {2: "changed", 3: "removed", 4: "changed", 5: "added"}


def test_kmeans_sparse_ids_and_underfilled_k(spark, sf_dir):
    """ADVICE r2: init takes the first k vectors by id RANK, so
    sparse/offset vec_ids still seed exactly k clusters; fewer than k
    input vectors raises instead of silently under-clustering."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from udacitycapstonedataengineer_spark.operators.clustering import kmeans
    from udacitycapstonedataengineer_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    # shift every id far past k: the old `vec_id < k` filter seeded ZERO
    shifted = emb.withColumn("vec_id", F.col("vec_id") + 100_000)
    out = kmeans(shifted, k=4, iters=2).collect()
    assert len(out) == shifted.count()
    assert len({r.cluster for r in out}) > 1
    # offset-invariance: same clustering as the unshifted input
    base = {r.vec_id: r.cluster for r in kmeans(emb, k=4, iters=2).collect()}
    assert {r.vec_id - 100_000: r.cluster - 100_000 for r in out} == base
    with _pytest.raises(ValueError, match="only"):
        kmeans(emb.limit(3), k=4, iters=2)


def test_grouped_median_generic_key_types(spark):
    """ADVICE r2: median_dev_grouped derives field types from the
    input schema — a numeric key other than user_id (the old
    name-hardcoded case) must work, as must a string key."""
    from udacitycapstonedataengineer_spark.operators.grouped import (
        median_dev_grouped,
    )

    df = spark.createDataFrame(
        [(1, 10, 100), (1, 11, 200), (1, 12, 300), (2, 20, 5), (2, 21, 15)],
        "grp int, row_id int, v int",
    )
    out = {
        (r.grp, r.row_id): (r.median_val, r.dev_val)
        for r in median_dev_grouped(df, "grp", "row_id", "v").collect()
    }
    assert out[(1, 10)] == (200.0, -100.0)
    assert out[(2, 21)] == (10.0, 5.0)

    sdf = spark.createDataFrame(
        [("a", 1, 4), ("a", 2, 8), ("b", 3, 7)], "grp string, row_id long, v long"
    )
    sout = {
        r.row_id: r.median_val
        for r in median_dev_grouped(sdf, "grp", "row_id", "v").collect()
    }
    assert sout == {1: 6.0, 2: 6.0, 3: 7.0}


@pytest.mark.slow  # VERDICT r16 next #2: multi-minute, opt-in tier
def test_twophase_components_vs_hashmin_and_roundcount(spark):
    """VERDICT r6 #4 done-criteria: (a) two-phase large-star/small-star
    produces IDENTICAL assignments to the hash-min implementation on
    chain / cycle / star / random shapes; (b) on a 48-node chain the
    two-phase round count beats hash-min's O(diameter) (hash-min needs
    ~diameter rounds; two-phase ~log)."""
    import random

    from udacitycapstonedataengineer_spark.operators.graph import (
        connected_components,
        connected_components_hashmin,
    )

    rng = random.Random(7)
    fixtures = {
        "chain48": [(i, i + 1) for i in range(48)],
        "cycle12": [(i, (i + 1) % 12) for i in range(12)],
        "star": [(0, i) for i in range(1, 15)],
        "random": [
            (rng.randrange(40), rng.randrange(40)) for _ in range(60)
        ],
        "two_cliques_bridge": [(i, j) for i in range(5) for j in range(i)]
        + [(10 + i, 10 + j) for i in range(5) for j in range(i)]
        + [(4, 10)],
    }
    for name, raw in fixtures.items():
        edges = [(a, b) for a, b in raw if a != b]
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        tp_stats: dict = {}
        hm_stats: dict = {}
        tp = {
            r.node: r.comp
            for r in connected_components(df, stats=tp_stats).collect()
        }
        hm = {
            r.node: r.comp
            for r in connected_components_hashmin(
                df, max_iter=60, stats=hm_stats
            ).collect()
        }
        assert tp == hm, f"fixture {name}: assignments diverge"
        if name == "chain48":
            assert hm_stats["rounds"] >= 24, hm_stats
            assert tp_stats["rounds"] < hm_stats["rounds"] / 2, (
                tp_stats,
                hm_stats,
            )


def test_triangle_count_vs_bruteforce(spark):
    """Degree-oriented triangle counting == brute-force enumeration on
    fixtures with hubs, cliques, and triangle-free shapes."""
    import itertools
    import random

    from udacitycapstonedataengineer_spark.operators.graph import (
        triangle_count,
    )

    rng = random.Random(5)
    fixtures = {
        "k5_clique": [(i, j) for i in range(5) for j in range(i)],
        "star_hub": [(0, i) for i in range(1, 20)],  # 0 triangles
        "two_tri_shared_edge": [(1, 2), (2, 3), (1, 3), (3, 4), (2, 4)],
        "random": list(
            {
                (min(x, y), max(x, y))
                for x, y in (
                    (rng.randrange(15), rng.randrange(15)) for _ in range(40)
                )
                if x != y
            }
        ),
        "with_dupes_and_selfloops": [(1, 2), (2, 1), (1, 1), (2, 3), (1, 3)],
    }
    for name, es in fixtures.items():
        df = spark.createDataFrame(es, "doc_a long, doc_b long")
        [row] = triangle_count(df).collect()
        canon = {(min(a, b), max(a, b)) for a, b in es if a != b}
        nodes = {n for e in canon for n in e}
        brute = sum(
            1
            for x, y, z in itertools.combinations(sorted(nodes), 3)
            if (x, y) in canon and (y, z) in canon and (x, z) in canon
        )
        assert row["n_triangles"] == brute, name
        assert row["n_edges"] == len(canon), name
        assert row["n_nodes"] == len(nodes), name


def test_connected_components_materializes_input_once(spark):
    """r10 perf contract (PERF_NOTES: 2-3× on the semdedup closure
    queries): connected_components must cut the INPUT edge plan with
    one checkpoint — its label output's physical plan may contain
    ONLY the final node-spine join over checkpointed scans, never the
    caller's edge-producing pipeline. Regression here means every
    consumer of the labels silently re-runs candidate generation."""
    import re

    from pyspark.sql import functions as F

    from udacitycapstonedataengineer_spark.operators.graph import (
        connected_components,
    )

    # expensive-shaped upstream: a join producing the edges — if the
    # operator leaks its input plan, a join/Range from HERE shows up
    # in the output plan
    a = spark.range(20).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("k")
    )
    b = spark.range(20).select(
        F.col("id").alias("doc_b"), F.col("id").alias("k")
    )
    comp = connected_components(a.join(b, "k").select("doc_a", "doc_b"))
    plan = comp._jdf.queryExecution().executedPlan().toString()
    joins = re.findall(
        r"SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin", plan
    )
    assert len(joins) == 1, f"expected only the label join, got: {joins}"
    assert "Scan ExistingRDD" in plan, plan[:2000]
    assert "Range (" not in plan, (
        "input edge plan leaked into the label output:\n" + plan[:2000]
    )
