"""SemDeDup — semantic deduplication via k-means cells (Abbas et al.,
"SemDeDup: Data-efficient learning at web-scale through semantic
deduplication", 2023).

Exact embedding near-dup needs all-pairs cosine — O(n²), impossible at
10^9+ documents. SemDeDup's observation: semantic duplicates land in
the same k-means cluster of embedding space, so cluster FIRST (cheap,
linear) and compare pairs only WITHIN cells — the same
candidate-restriction discipline as the MinHash band join and the LSH
bucket join (operators/dedup.py, operators/similarity.py), with the
clusters doubling as a semantic partition of the corpus.

Composition keeps the repo's determinism contract end-to-end: the
coarse clustering IS ``clustering.kmeans`` (RNG-free seeds,
fixed-point centroid updates, explicit tie-breaks) and the pair
cosine is the same sequential double fold every ANN operator uses —
so the whole operator replays bit-for-bit in the DuckDB oracle
(`semdedup_oracle_sql`: the unrolled k-means CTEs nested as a derived
table + the same list_inner_product cosine).

Scale shape: one k-means pass (broadcast centroids), one shuffle on
the cluster id, and a within-cell self-join whose cost is
Σ|cell|² — bounded by choosing k so cells stay ~10³-10⁴ vectors
(SemDeDup uses k≈100k at web scale; cells here are data-sized for the
oracle). Never an all-pairs join; the cell id is also the natural
partition-pruning key for incremental re-dedup of new batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .clustering import (
    centroid_assign_expr,
    model_rows,
    kmeans_assign_sql,
    kmeans_fit,
    kmeans_oracle_parts,
    kmeans_oracle_sql,
)
from .similarity import cosine_prenorm, cosine_sql, norm


def _spread_for_pairs(df: DataFrame, key: str) -> DataFrame:
    """Right-size the PROBE side of a within-cell pair join (guide
    §2.5/§2.6): at oracle scale the embeddings arrive as one parquet
    split and the planner broadcasts the build side, so the Σ|cell|²
    cosine work — the operator's dominant cost, evaluated as an
    interpreted higher-order fold — inherits ONE partition and runs on
    one core. Delegates to ``skew.spread_small_input`` (driver-only
    size-estimate guard — an rdd partition-count probe here was
    measured re-executing the upstream pipeline once per call under
    AQE); at scale the guard makes this a no-op. Result set unchanged
    — partitioning only."""
    from .skew import spread_small_input

    return spread_small_input(df, key)


def semdedup_pairs(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    threshold: float = 0.2,
) -> DataFrame:
    """(cluster, vec_a, vec_b, cosine): within-cluster pairs with
    cosine ≥ threshold — the drop candidates (keep-one-per-pair-set
    policy is the caller's; SemDeDup keeps the lowest-id exemplar).
    Norms are precomputed per vector (bit-identical to the inline
    fold — see ``similarity.cosine_prenorm``), so the pair stage does
    one dot product per candidate, not three folds.

    The cluster id is attached MAP-SIDE (guide §2.4): ``kmeans_fit``
    returns the model (k×dim — collected once), and the assignment is
    a codegen'd projection directly on the ``emb`` rows — the
    pre-r16 shape joined a separate assignment table back onto the
    corpus by vec_id, a corpus-grain shuffle that existed only to
    recover the embedding column the window had dropped. The pair
    join on the cluster id (the Σ|cell|² stage) is unchanged — that
    is the operator's inherent cost."""
    vectors, centroids = kmeans_fit(emb, k=k, iters=iters, dim=dim)
    # the model is collected; the pairs below re-read ``emb`` itself
    vectors.unpersist()
    cent_rows = model_rows(centroids)
    v = (
        emb.withColumn(
            "__v",
            F.expr("transform(embedding, x -> cast(x as double))"),
        )
        .withColumn("cluster", centroid_assign_expr(cent_rows, "__v"))
        .select(
            "cluster",
            "vec_id",
            "embedding",
            norm("embedding").alias("n"),
        )
    )
    a = _spread_for_pairs(
        v.select(
            "cluster",
            F.col("vec_id").alias("vec_a"),
            F.col("embedding").alias("e_a"),
            F.col("n").alias("n_a"),
        ),
        "vec_a",
    )
    b = _spread_for_pairs(
        v.select(
            "cluster",
            F.col("vec_id").alias("vec_b"),
            F.col("embedding").alias("e_b"),
            F.col("n").alias("n_b"),
        ),
        "vec_b",
    )
    cos = cosine_prenorm("e_a", "e_b", "n_a", "n_b")
    return (
        a.join(b, "cluster")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("cluster", "vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def semdedup_incremental_pairs(
    corpus: DataFrame,
    new_batch: DataFrame,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    threshold: float = 0.2,
) -> DataFrame:
    """(cluster, new_vec_id, corpus_vec_id, cosine): semantic near-dups
    of a NEW batch against an already-clustered corpus — the
    incremental twin of ``semdedup_pairs``, mirroring
    ``dedup.minhash_candidates_incremental``: the model (k×dim
    centroids) is fitted on the CORPUS only, the batch is assigned to
    the standing cells (one broadcast, no re-clustering), and the pair
    join compares batch rows against corpus members of the SAME cell
    only. A daily ingest shuffles its own rows; the 100 TB corpus
    contributes only its (vec_id, cluster) assignment — in production
    a persisted table, exactly like the standing MinHash band index."""
    vectors, centroids = kmeans_fit(corpus, k=k, iters=iters, dim=dim)
    vectors.unpersist()  # the model is collected (see semdedup_pairs)
    cent_rows = model_rows(centroids)

    def _assigned(side: DataFrame) -> DataFrame:
        # map-side assignment against the collected model — no
        # corpus-grain join-back (guide §2.4; see semdedup_pairs)
        return side.withColumn(
            "__v", F.expr("transform(embedding, x -> cast(x as double))")
        ).withColumn("cluster", centroid_assign_expr(cent_rows, "__v"))

    a = _assigned(new_batch).select(
        "cluster",
        F.col("vec_id").alias("new_vec_id"),
        F.col("embedding").alias("e_a"),
        norm("embedding").alias("n_a"),
    )
    b = _spread_for_pairs(
        _assigned(corpus).select(
            "cluster",
            F.col("vec_id").alias("corpus_vec_id"),
            F.col("embedding").alias("e_b"),
            norm("embedding").alias("n_b"),
        ),
        "corpus_vec_id",
    )
    cos = cosine_prenorm("e_a", "e_b", "n_a", "n_b")
    return (
        a.join(b, "cluster")
        .select("cluster", "new_vec_id", "corpus_vec_id", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def semdedup_incremental_oracle_sql(
    new_where: str,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    threshold: float = 0.2,
    table: str = "embeddings",
) -> str:
    """DuckDB twin of the incremental path: k-means CTEs fitted on
    the corpus subset (NOT ``new_where``), both sides assigned to the
    fitted centroids, pair join within cells with the same
    sequential-fold cosine."""
    cos = cosine_sql("a.embedding", "b.embedding")
    parts, cents = kmeans_oracle_parts(
        k=k, iters=iters, dim=dim, table=table,
        fit_where=f"NOT ({new_where})",
    )
    parts = parts + [
        f"newv AS (SELECT * FROM e WHERE {new_where})",
        f"corpus_assign AS {kmeans_assign_sql(dim, 'ef', cents)}",
        f"new_assign AS {kmeans_assign_sql(dim, 'newv', cents)}",
    ]
    joined = ",\n".join(parts)
    return f"""
    WITH {joined}
    SELECT na.cluster, a.vec_id AS new_vec_id, b.vec_id AS corpus_vec_id,
           {cos} AS cosine
    FROM new_assign na
    JOIN {table} a ON a.vec_id = na.vec_id
    JOIN corpus_assign ca ON ca.cluster = na.cluster
    JOIN {table} b ON b.vec_id = ca.vec_id
    WHERE {cos} >= {threshold}
    """


def semdedup_oracle_sql(
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    threshold: float = 0.2,
    table: str = "embeddings",
    k_sql: str | None = None,
) -> str:
    """DuckDB twin: the unrolled k-means CTEs (kmeans_oracle_sql)
    nested as a derived table, then the same within-cluster pair join
    with the same sequential-fold cosine. ``k_sql`` threads the
    cell-budget derived-k subquery through to the seed LIMIT (VERDICT
    r13 next #6); None keeps the text byte-identical to pre-r14."""
    cos = cosine_sql("a.embedding", "b.embedding")
    return f"""
    WITH assign AS (
        SELECT * FROM ({kmeans_oracle_sql(k=k, iters=iters, dim=dim,
                                          table=table, k_sql=k_sql)}) t
    ),
    v AS (SELECT e.vec_id, e.embedding, a.cluster
          FROM {table} e JOIN assign a USING (vec_id))
    SELECT a.cluster, a.vec_id AS vec_a, b.vec_id AS vec_b,
           {cos} AS cosine
    FROM v a JOIN v b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    WHERE {cos} >= {threshold}
    """
