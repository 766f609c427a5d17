"""Coarse-quantizer-only fit for IVF-PQ governance (VERDICT r10 #3,
landed ahead of the r12 call-site switch).

``ivfpq_index_drift`` and ``ivfpq_rebuild_decision`` call
``ivfpq_build`` and discard the codebooks and the index — paying
``pq_train``'s eager seed collect + training jobs and a residual+index
persist nobody reads (~2-4 s each at sf0.1). Only the coarse
centroids feed ``ivfpq_drift_stats``. This module is the first stage
of ``ivfpq_build`` EXACTLY — same dense 0..nlist-1 seed cids, same
fixed-point sums, same truncating centroid update
((Σ/n) cast long → double / SCALE), same empty-cell retention via the
left_anti union — so the returned centroids are bit-identical to the
build's (pinned by ``test_coarse_fit_equals_ivfpq_build_centroids``).

NOT a drop-in for ``clustering.kmeans_fit``: that trainer seeds cids
from vec_id, uses a non-truncating float update, and drops emptied
clusters — three deliberate differences the oracle CTE generators
mirror per-operator.

Kept out of operators/ivfpq.py this round: editing a shared operator
file forces re-earns the rotation-filled r11 window cannot absorb
(VERDICT r10 #1). r12 switches the two governance queries to this
helper — a 2-query re-earn that fits its window — and may then fold
``ivfpq_build``'s first stage onto this function as a pure refactor.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .clustering import (
    SCALE,
    centroid_assign_expr,
    double_array_sql,
    training_vectors,
)


def centroid_array(cent_rows) -> Column:
    """array<array<double>> literal of the frozen centroids ordered by
    dense cid — ``element_at(centroid_array(m), cid + 1)`` recovers a
    row's winning centroid after ``centroid_assign_expr`` without the
    argmin having to carry the vectors (the ``stream_ivfpq_encode``
    lookup shape). One SQL string: the model ships in one call."""
    cents = sorted(cent_rows, key=lambda r: r["cid"])
    if [int(r["cid"]) for r in cents] != list(range(len(cents))):
        raise ValueError(
            "centroid_array: coarse cids must be dense 0..nlist-1"
        )
    return F.expr(
        "array(" + ",".join(double_array_sql(r["c"]) for r in cents) + ")"
    )


def coarse_fit_from_vectors(
    vectors: DataFrame, nlist: int, iters: int, who: str
) -> list:
    """The shared coarse-quantizer trainer behind ``ivfpq_coarse_fit``
    and ``ivfpq_build`` (the fold the r12 note anticipated): dense
    0..nlist-1 seed cids, map-only assignment per round
    (``centroid_assign_expr`` over the collected model — so the model
    is bounded by ``LITERAL_MODEL_CEILING``), fixed-point sums,
    truncating centroid update, empty-cell retention. Returns the
    COLLECTED centroid rows [(cid, c)] — model-sized (nlist×dim), so
    callers build literals/DataFrames from them without re-running
    the training subtree per consumer. ``vectors`` = (vec_id,
    v array<double>), expected persisted by the caller."""
    from .clustering import quantize_vec_py

    seed = vectors.orderBy("vec_id").limit(nlist).collect()
    if len(seed) < nlist:
        raise ValueError(f"{who}: nlist={nlist} > {len(seed)} vectors")
    dim = len(seed[0]["v"])
    # driver-side seed quantization (bit-identical — quantize_vec_py):
    # the model starts as plain rows, no local-relation action spent
    cent_rows = [
        {"cid": i, "c": quantize_vec_py(r["v"])} for i, r in enumerate(seed)
    ]
    for _ in range(iters - 1):
        # narrow fixed-point sums (posexplode to (cluster, d, q)): the
        # dim-wide column list codegens a far larger class — measured
        # 2× per-action cost (PERF_NOTES r16); values are identical
        # exact BIGINTs either way
        sums = (
            vectors.select(
                centroid_assign_expr(cent_rows).alias("cluster"),
                F.expr(
                    f"transform(v, x -> CAST(FLOOR(x * {SCALE}) AS BIGINT))"
                ).alias("qv"),
            )
            .select("cluster", F.posexplode("qv").alias("d", "q"))
            .groupBy("cluster", "d")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("q").alias("s"))
            .collect()
        )
        per: dict[int, dict[int, tuple[int, int]]] = {}
        for r in sums:
            per.setdefault(int(r["cluster"]), {})[int(r["d"])] = (
                int(r["s"]),
                int(r["n"]),
            )
        # truncating update finished driver-side, op for op the former
        # SQL select: (s / n) double division, CAST AS BIGINT (trunc
        # toward zero — Python int() matches), back to double / SCALE
        new_rows = [
            {
                "cid": cid,
                "c": [
                    float(int(float(dims[d][0]) / float(dims[d][1]))) / SCALE
                    for d in range(dim)
                ],
            }
            for cid, dims in sorted(per.items())
        ]
        # empty clusters keep their previous centroid (driver-side
        # merge of two model-sized row lists — the left_anti union's
        # exact semantics without another distributed plan)
        new_cids = {int(r["cid"]) for r in new_rows}
        cent_rows = new_rows + [
            r for r in cent_rows if int(r["cid"]) not in new_cids
        ]
    return sorted(cent_rows, key=lambda r: int(r["cid"]))


def ivfpq_coarse_fit(
    emb: DataFrame,
    nlist: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
) -> DataFrame:
    """(cid, c array<double>): the frozen coarse quantizer, exactly
    ``ivfpq_build(...)[0]`` without training codebooks or encoding
    the corpus. One persisted double-vector scan + (iters-1)
    map-only assign/re-aggregate rounds (``centroid_assign_expr`` — the
    round's centroids are already model-sized, so each round collects
    them and assigns per-row with NO shuffle before the cluster-grain
    sums); the model is nlist×dim — driver-sized at any corpus
    scale. Centroids stay bit-identical to the crossJoin+window path
    (same distance fold, same tie-break, and the fixed-point sums are
    order-free BIGINTs) — pinned by
    ``test_coarse_fit_equals_ivfpq_build_centroids``."""
    vectors = training_vectors(emb, vec_col)
    cent_rows = coarse_fit_from_vectors(
        vectors, nlist, iters, "ivfpq_coarse_fit"
    )
    # the fitted model is fully collected — the corpus-scan cache has
    # no further consumers, and the returned table is a local relation
    vectors.unpersist()
    out = emb.sparkSession.createDataFrame(
        [(int(r["cid"]), [float(x) for x in r["c"]]) for r in cent_rows],
        "cid bigint, c array<double>",
    )
    out._graft_rows = cent_rows
    return out
