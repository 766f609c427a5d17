"""Round-10 query group.

- text_kn_trigram_prob — interpolated Kneser-Ney extended one order
  up (VERDICT r9 #7): trigram probabilities with recursive
  continuation back-off through the bigram level to the unigram
  continuation distribution, the full Chen & Goodman (1998)
  interpolated-KN stack a data pipeline actually ships for n-gram LM
  statistics. Same discipline as ``text_kn_bigram_prob``: every count
  is an exact integer aggregate; the smoothing is ONE shared float
  expression evaluated in the same op order on both engines.
- ivfpq_index_drift — index-staleness governance for the incremental
  IVF-PQ path (VERDICT r9 #5): per-cell fill counts and fixed-point
  residual energy of the standing corpus vs a batch encoded against
  the FROZEN coarse quantizer. Appending against frozen centroids is
  correct but silently decays recall as the data distribution drifts
  off the quantizer; this query is the drift measurement that gates
  the rebuild (threshold policy in SCALING.md), mirroring how
  ``orders_profile_drift`` gates snapshot publishes.
- semdedup_survivors_incremental — the SemDeDup keep policy at the
  incremental layer (VERDICT r9 #8): a new batch's survivors decided
  against the STANDING exemplar set without reclustering the corpus —
  the ``dedup_incremental_anti`` pattern lifted to semantic edges.
  Batch rows die either by matching a standing corpus survivor
  (``corpus_dup``) or by losing the exemplar election among the
  remaining batch rows (``batch_dup``); the rest are ``novel``.

Reference parity: the reference pipeline has no ANN/LM surface
(/root/reference/etl.py is a star-schema ETL); these extend the
LLM-training-data families SURVEY.md §2 adds beyond it.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.clustering import (
    _as_double_vec,
    centroid_assign_expr,
    model_rows,
    kmeans_assign_sql,
    kmeans_fit,
    kmeans_oracle_parts,
)
from ..operators.coarse import centroid_array, ivfpq_coarse_fit
from ..operators.graph import connected_components
from ..operators.ivfpq import (
    _ivfpq_oracle_parts,
    ivfpq_build,
    ivfpq_oracle_sql,
    ivfpq_recall_curve,
)
from ..operators.similarity import cosine_prenorm, cosine_sql, norm
from .queries_round8 import _IVFPQ, _NPROBE, _QVEC_ID, _SEMDEDUP, _TOPK
from .queries_round9 import _exact_topk_flags
from .registry import query

# the standing split every incremental query in the repo uses: the
# batch is a daily-ingest stand-in, the rest is the standing corpus
_BATCH_WHERE = "vec_id % 10 = 7"

# fixed-point quantum for residual-energy drift stats: floor(x·10³)²
# keeps per-cell energy sums exact BIGINTs (hash-safe) with headroom —
# unit residuals quantize to ~10³, squared ~10⁶, so even 10⁹ rows per
# cell stay far under 2⁶³
_ENERGY_SCALE = 1000


@query(
    "text_kn_trigram_prob",
    r"""
    WITH t AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents
    ),
    tg AS (
        SELECT toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
        FROM t, UNNEST(generate_series(1, len(toks) - 2)) AS u(i)
        WHERE toks[i] != '' AND toks[i + 1] != '' AND toks[i + 2] != ''
    ),
    c123 AS (SELECT w1, w2, w3, count(*) AS c123 FROM tg GROUP BY 1, 2, 3),
    c12 AS (SELECT w1, w2, CAST(SUM(c123) AS BIGINT) AS c12,
                   count(*) AS n3p FROM c123 GROUP BY 1, 2),
    nc23 AS (SELECT w2, w3, count(*) AS nc23 FROM c123 GROUP BY 1, 2),
    nc2 AS (SELECT w2, CAST(SUM(nc23) AS BIGINT) AS nc2,
                   count(*) AS n2p FROM nc23 GROUP BY 1),
    cont3 AS (SELECT w3, count(*) AS cont3 FROM nc23 GROUP BY 1),
    ty AS (SELECT count(*) AS n_types FROM nc23)
    SELECT w1, w2, w3, c123.c123 AS c_trigram, c12.c12 AS c_context,
           ((CAST(c123.c123 AS DOUBLE) - 0.75) / CAST(c12.c12 AS DOUBLE))
           + (((0.75 * CAST(c12.n3p AS DOUBLE)) / CAST(c12.c12 AS DOUBLE))
              * (((CAST(nc23.nc23 AS DOUBLE) - 0.75)
                  / CAST(nc2.nc2 AS DOUBLE))
                 + (((0.75 * CAST(nc2.n2p AS DOUBLE))
                     / CAST(nc2.nc2 AS DOUBLE))
                    * (CAST(cont3.cont3 AS DOUBLE)
                       / CAST(ty.n_types AS DOUBLE)))))
               AS kn_prob
    FROM c123 JOIN c12 USING (w1, w2) JOIN nc23 USING (w2, w3)
         JOIN nc2 USING (w2) JOIN cont3 USING (w3) CROSS JOIN ty
    ORDER BY kn_prob DESC, w1, w2, w3
    LIMIT 30
    """,
)
def _text_kn_trigram_prob(spark, t):
    # Interpolated Kneser-Ney trigram probability (Chen & Goodman
    # 1998), standard D = 0.75, recursing through the continuation
    # distributions:
    #   P(w3|w1,w2) = (c(w1w2w3) − D)/c(w1w2)
    #               + (D·N1+(w1w2·)/c(w1w2)) · P_KN(w3|w2)
    #   P_KN(w3|w2) = (N1+(·w2w3) − D)/N1+(·w2·)
    #               + (D·N1+(w2·)/N1+(·w2·)) · N1+(·w3)/N1+(··)
    # Observed trigrams only, so both discounted counts are ≥ 1 > D
    # and no max(·,0) branch is needed; every count is an exact
    # integer aggregate and the whole smoothing is one shared float
    # expression in the same op order on both engines (the
    # text_kn_bigram_prob discipline, one level deeper). Shuffles:
    # trigram-grain count, then three tiny join-backs ((w1,w2) grain,
    # (w2,w3) grain via its own count, w2 and w3 grain) + a broadcast
    # 1-row type count — still the tf-idf join-back shape.
    docs = t["documents"]
    tg = (
        docs.select(
            F.expr(r"split(lower(trim(text)), '\\s+')").alias("toks")
        )
        .filter(F.expr("size(toks) >= 3"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 2), i -> "
                    "struct(element_at(toks, i) AS w1, "
                    "element_at(toks, i + 1) AS w2, "
                    "element_at(toks, i + 2) AS w3))"
                )
            ).alias("g")
        )
        .select("g.w1", "g.w2", "g.w3")
        .filter(
            (F.col("w1") != "") & (F.col("w2") != "") & (F.col("w3") != "")
        )
    )
    c123 = tg.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c123"))
    c12 = c123.groupBy("w1", "w2").agg(
        F.sum("c123").alias("c12"), F.count(F.lit(1)).alias("n3p")
    )
    nc23 = c123.groupBy("w2", "w3").agg(F.count(F.lit(1)).alias("nc23"))
    nc2 = nc23.groupBy("w2").agg(
        F.sum("nc23").alias("nc2"), F.count(F.lit(1)).alias("n2p")
    )
    cont3 = nc23.groupBy("w3").agg(F.count(F.lit(1)).alias("cont3"))
    types = nc23.select(F.count(F.lit(1)).alias("n_types"))
    d = F.lit(0.75)
    p_bi = (
        (F.col("nc23").cast("double") - d) / F.col("nc2").cast("double")
    ) + (
        ((d * F.col("n2p").cast("double")) / F.col("nc2").cast("double"))
        * (F.col("cont3").cast("double") / F.col("n_types").cast("double"))
    )
    p_tri = (
        (F.col("c123").cast("double") - d) / F.col("c12").cast("double")
    ) + (
        ((d * F.col("n3p").cast("double")) / F.col("c12").cast("double"))
        * p_bi
    )
    return (
        c123.join(c12, ["w1", "w2"])
        .join(nc23, ["w2", "w3"])
        .join(nc2, "w2")
        .join(cont3, "w3")
        .crossJoin(F.broadcast(types))
        .select(
            "w1",
            "w2",
            "w3",
            F.col("c123").alias("c_trigram"),
            F.col("c12").alias("c_context"),
            p_tri.alias("kn_prob"),
        )
        .orderBy(F.desc("kn_prob"), "w1", "w2", "w3")
        .limit(30)
    )


def _ivfpq_drift_oracle_sql() -> str:
    """DuckDB twin of ``ivfpq_index_drift``: the IVF-PQ build CTEs
    with the model fitted on the corpus only (`fit_where`), then the
    frozen-assignment residuals of EVERY row (the generator's `r` CTE
    already assigns all of `e` to the fitted centroids) bucketed into
    corpus/batch per-cell fixed-point energy + fill stats."""
    parts, _ = _ivfpq_oracle_parts(
        dim=64,
        nprobe=_NPROBE,
        query_vec_id=_QVEC_ID,
        exact_k=_TOPK,
        table="embeddings",
        fit_where=f"NOT ({_BATCH_WHERE})",
        **_IVFPQ,
    )
    # final coarse-centroid CTE name follows the generator's naming
    prev = f"cc{_IVFPQ['iters'] - 1}"
    s = _ENERGY_SCALE
    parts += [
        f"""ren AS (SELECT vec_id, cell,
               list_reduce(list_transform(rv, x ->
                   CAST(FLOOR(x * {s}.0) AS BIGINT)
                   * CAST(FLOOR(x * {s}.0) AS BIGINT)),
                   (acc, w) -> acc + w) AS energy
           FROM r)""",
        f"""cstat AS (SELECT cell, count(*) AS corpus_n,
                CAST(SUM(energy) AS BIGINT) AS corpus_energy
           FROM ren WHERE NOT ({_BATCH_WHERE}) GROUP BY cell)""",
        f"""bstat AS (SELECT cell, count(*) AS batch_n,
                CAST(SUM(energy) AS BIGINT) AS batch_energy
           FROM ren WHERE {_BATCH_WHERE} GROUP BY cell)""",
        f"spine AS (SELECT cid AS cell FROM {prev})",
        f"""tot AS (SELECT
               (SELECT count(*) FROM e WHERE NOT ({_BATCH_WHERE}))
                   AS total_corpus,
               (SELECT count(*) FROM e WHERE {_BATCH_WHERE})
                   AS total_batch)""",
    ]
    return (
        "WITH " + ",\n".join(parts) + """
        SELECT spine.cell,
               COALESCE(corpus_n, 0) AS corpus_n,
               COALESCE(batch_n, 0) AS batch_n,
               COALESCE(corpus_energy, 0) AS corpus_energy,
               COALESCE(batch_energy, 0) AS batch_energy,
               CAST(COALESCE(corpus_n, 0) AS DOUBLE)
                   / CAST(total_corpus AS DOUBLE) AS fill_share_corpus,
               CAST(COALESCE(batch_n, 0) AS DOUBLE)
                   / CAST(total_batch AS DOUBLE) AS fill_share_batch,
               CASE WHEN COALESCE(corpus_n, 0) > 0
                    THEN CAST(COALESCE(corpus_energy, 0) AS DOUBLE)
                         / CAST(corpus_n AS DOUBLE)
                    ELSE 0.0 END AS energy_per_vec_corpus,
               CASE WHEN COALESCE(batch_n, 0) > 0
                    THEN CAST(COALESCE(batch_energy, 0) AS DOUBLE)
                         / CAST(batch_n AS DOUBLE)
                    ELSE 0.0 END AS energy_per_vec_batch
        FROM spine LEFT JOIN cstat USING (cell)
             LEFT JOIN bstat USING (cell) CROSS JOIN tot
        ORDER BY cell"""
    )


def ivfpq_drift_stats(emb, centroids, batch_where: str = _BATCH_WHERE):
    """(cell, corpus_n, batch_n, corpus_energy, batch_energy, fill
    shares, per-vector energies): the drift measurement behind
    ``ivfpq_index_drift``, factored so tests can feed shifted batches.
    ``centroids`` is the FROZEN coarse quantizer (cid, c) — collected
    (model-sized, nlist×dim) so assignment + residual run as ONE
    map-only pass over corpus+batch (``centroid_assign_expr``); the only
    corpus-grain shuffles left are the two cell-grain aggregates. The
    previous shape paid a nlist·N row_number window plus an N⋈N
    join-back for the same numbers."""
    s = _ENERGY_SCALE
    vectors = _as_double_vec(emb, "embedding")
    cent_rows = model_rows(centroids)
    energy = F.expr(
        f"aggregate(transform(rv, x -> "
        f"CAST(FLOOR(x * {s}.0) AS BIGINT)"
        f" * CAST(FLOOR(x * {s}.0) AS BIGINT)), "
        f"0L, (acc, w) -> acc + w)"
    )
    # assignment projected in its OWN step (one fold evaluation per
    # row — Catalyst does not CSE lambda-bearing folds), then the
    # winning centroid recovered by dense-cid lookup (round-12
    # review: the previous shape threaded the full centroid array
    # through every fold step and evaluated the fold twice)
    carr = centroid_array(cent_rows)
    assigned = vectors.select(
        "vec_id", "v", centroid_assign_expr(cent_rows).alias("cell")
    )
    ren = assigned.select(
        "vec_id",
        "cell",
        F.zip_with(
            F.col("v"),
            F.element_at(carr, F.col("cell").cast("int") + 1),
            lambda x, y: x - y,
        ).alias("rv"),
    ).select("vec_id", "cell", energy.alias("energy"))
    is_batch = F.expr(batch_where)
    # ONE conditional cell-grain aggregation (guide §2.4 — r17,
    # VERDICT r16 next #4): the former corpus/batch branch pair plus
    # the separate totals scan re-ran the assignment map pass — with
    # its nlist×dim literal argmin fold — THREE times inside the one
    # action. The conditional counts/sums produce the identical exact
    # BIGINTs in one pass; the totals are the per-cell sums re-
    # aggregated (every row lands in exactly one cell, so Σ per-cell
    # ≡ the direct corpus count — same integers, same ANSI
    # divide-by-zero on an empty batch). Persisted: the totals branch
    # and the spine join both read the nlist-row result.
    cellstats = (
        ren.withColumn("__b", is_batch)
        .groupBy("cell")
        .agg(
            F.count(F.when(~F.col("__b"), 1)).alias("corpus_n"),
            F.count(F.when(F.col("__b"), 1)).alias("batch_n"),
            F.sum(F.when(~F.col("__b"), F.col("energy"))).alias(
                "corpus_energy"
            ),
            F.sum(F.when(F.col("__b"), F.col("energy"))).alias(
                "batch_energy"
            ),
        )
        .persist()
    )
    tot = cellstats.agg(
        F.sum("corpus_n").alias("total_corpus"),
        F.sum("batch_n").alias("total_batch"),
    )
    spine = centroids.select(F.col("cid").alias("cell"))
    per_vec = lambda n, e: F.when(  # noqa: E731 — shared CASE shape
        F.col(n) > 0,
        F.col(e).cast("double") / F.col(n).cast("double"),
    ).otherwise(F.lit(0.0))
    return (
        spine.join(cellstats, "cell", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "cell",
            F.coalesce("corpus_n", F.lit(0)).alias("corpus_n"),
            F.coalesce("batch_n", F.lit(0)).alias("batch_n"),
            F.coalesce("corpus_energy", F.lit(0)).alias("corpus_energy"),
            F.coalesce("batch_energy", F.lit(0)).alias("batch_energy"),
            F.col("total_corpus"),
            F.col("total_batch"),
        )
        .select(
            "cell",
            "corpus_n",
            "batch_n",
            "corpus_energy",
            "batch_energy",
            (
                F.col("corpus_n").cast("double")
                / F.col("total_corpus").cast("double")
            ).alias("fill_share_corpus"),
            (
                F.col("batch_n").cast("double")
                / F.col("total_batch").cast("double")
            ).alias("fill_share_batch"),
            per_vec("corpus_n", "corpus_energy").alias(
                "energy_per_vec_corpus"
            ),
            per_vec("batch_n", "batch_energy").alias("energy_per_vec_batch"),
        )
        .orderBy("cell")
    )


@query("ivfpq_index_drift", _ivfpq_drift_oracle_sql())
def _ivfpq_index_drift(spark, t):
    # Index-staleness governance (VERDICT r9 #5): the incremental
    # IVF-PQ path appends batches encoded against FROZEN centroids —
    # correct, but as the appended fraction grows the quantizer
    # drifts off the live distribution and recall decays silently.
    # This is the measurement that gates the rebuild: per cell, the
    # standing corpus's fill count + fixed-point residual energy
    # (floor(r·10³)² summed — exact BIGINTs, hash-safe) next to the
    # same stats for the batch under the SAME frozen assignment. A
    # healthy append tracks the corpus shares; rising batch
    # energy-per-vector or fill skew = the quantizer no longer fits
    # the data (rebuild-when thresholds in SCALING.md). One residual
    # pass over corpus+batch, two cell-grain aggregates, an nlist-row
    # spine join — corpus-linear, no driver loops. The oracle refits
    # the coarse model on the corpus subset only (fit_where), so
    # training leakage from the batch moves centroids and hash-fails.
    # Only the frozen coarse quantizer feeds the measurement, so the
    # model comes from ``ivfpq_coarse_fit`` — pinned bit-identical to
    # ``ivfpq_build(...)[0]`` (test_coarse_fit_equals_ivfpq_build_
    # centroids) without pq_train's seed collect + training jobs or
    # the residual/index persist nobody reads (VERDICT r11 wrong #1).
    emb = t["embeddings"]
    corpus = emb.filter(~F.expr(_BATCH_WHERE))
    cents = ivfpq_coarse_fit(
        corpus, nlist=_IVFPQ["nlist"], iters=_IVFPQ["iters"]
    )
    return ivfpq_drift_stats(emb, cents)


def _semdedup_survivors_incremental_oracle_sql() -> str:
    """DuckDB twin of ``semdedup_incremental_survivors``: k-means CTEs
    fitted on the corpus only, corpus pairs + reachability closure →
    standing exemplars, batch assigned to the frozen cells, then the
    two-stage batch decision (standing-survivor hit, else batch-pair
    exemplar election via a second recursive closure)."""
    k, iters, dim, threshold = (
        _SEMDEDUP["k"],
        _SEMDEDUP["iters"],
        _SEMDEDUP["dim"],
        _SEMDEDUP["threshold"],
    )
    cos = cosine_sql("a.embedding", "b.embedding")
    parts, prev = kmeans_oracle_parts(
        k=k,
        iters=iters,
        dim=dim,
        table="embeddings",
        fit_where=f"NOT ({_BATCH_WHERE})",
    )
    parts += [
        f"ca AS {kmeans_assign_sql(dim, 'ef', prev)}",
        f"bv AS (SELECT * FROM e WHERE {_BATCH_WHERE})",
        f"ba AS {kmeans_assign_sql(dim, 'bv', prev)}",
        f"""cp AS (SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
           FROM ca x JOIN embeddings a ON a.vec_id = x.vec_id
                JOIN ca y ON y.cluster = x.cluster
                JOIN embeddings b ON b.vec_id = y.vec_id
           WHERE x.vec_id < y.vec_id AND {cos} >= {threshold})""",
        """edges AS (SELECT vec_a AS src, vec_b AS dst FROM cp
           UNION SELECT vec_b, vec_a FROM cp)""",
        """reach(node, lbl) AS (
           SELECT src, src FROM edges
           UNION
           SELECT g.src, r.lbl FROM edges g JOIN reach r ON g.dst = r.node)""",
        """comp AS (SELECT node, MIN(lbl) AS component
           FROM reach GROUP BY node)""",
        """surv AS (SELECT x.vec_id, x.cluster FROM ca x
           WHERE x.vec_id NOT IN
                 (SELECT node FROM comp WHERE node != component))""",
        f"""hit AS (SELECT DISTINCT nb.vec_id
           FROM ba nb JOIN embeddings a ON a.vec_id = nb.vec_id
                JOIN surv s ON s.cluster = nb.cluster
                JOIN embeddings b ON b.vec_id = s.vec_id
           WHERE {cos} >= {threshold})""",
        """passed AS (SELECT nb.vec_id, nb.cluster FROM ba nb
           WHERE nb.vec_id NOT IN (SELECT vec_id FROM hit))""",
        f"""bp AS (SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
           FROM passed x JOIN embeddings a ON a.vec_id = x.vec_id
                JOIN passed y ON y.cluster = x.cluster
                JOIN embeddings b ON b.vec_id = y.vec_id
           WHERE x.vec_id < y.vec_id AND {cos} >= {threshold})""",
        """bedges AS (SELECT vec_a AS src, vec_b AS dst FROM bp
           UNION SELECT vec_b, vec_a FROM bp)""",
        """breach(node, lbl) AS (
           SELECT src, src FROM bedges
           UNION
           SELECT g.src, r.lbl
           FROM bedges g JOIN breach r ON g.dst = r.node)""",
        """bcomp AS (SELECT node, MIN(lbl) AS component
           FROM breach GROUP BY node)""",
        """bdrop AS (SELECT node FROM bcomp WHERE node != component)""",
    ]
    return (
        "WITH RECURSIVE " + ",\n".join(parts) + f"""
        SELECT eb.vec_id, eb.label,
               CASE WHEN eb.vec_id IN (SELECT vec_id FROM hit)
                        THEN 'corpus_dup'
                    WHEN eb.vec_id IN (SELECT node FROM bdrop)
                        THEN 'batch_dup'
                    ELSE 'novel' END AS reason,
               (eb.vec_id NOT IN (SELECT vec_id FROM hit))
               AND (eb.vec_id NOT IN (SELECT node FROM bdrop)) AS kept
        FROM embeddings eb WHERE {_BATCH_WHERE}
        ORDER BY vec_id"""
    )


def _spread_members(df, key: str):
    # the semdedup operator's _spread_for_pairs, re-exported here for
    # the standing member tables (see operators/semdedup.py)
    from ..operators.semdedup import _spread_for_pairs

    return _spread_for_pairs(df, key)


def _cell_members(emb, cent_rows, id_col: str, e_col: str, n_col: str):
    # map-side assignment against the collected model (guide §2.4):
    # the pre-r16 shape joined a separate assignment table back onto
    # the rows by vec_id — a corpus-grain shuffle that existed only to
    # recover the embedding column
    return (
        emb.withColumn(
            "__v", F.expr("transform(embedding, x -> cast(x as double))")
        )
        .withColumn("cluster", centroid_assign_expr(cent_rows, "__v"))
        .select(
            "cluster",
            F.col("vec_id").alias(id_col),
            F.col("embedding").alias(e_col),
            norm("embedding").alias(n_col),
        )
    )


def semdedup_incremental_survivors(corpus, batch, k, iters, dim, threshold):
    """(vec_id, label, reason, kept) for every BATCH row: the SemDeDup
    keep policy decided against the STANDING corpus exemplar set under
    the frozen corpus model — no corpus reclustering, no corpus
    reclosure. ``reason`` ∈ {corpus_dup, batch_dup, novel}; kept =
    novel. In production the model (k×dim centroids) and the survivor
    table are persisted — a daily batch costs one broadcast assign,
    one batch×survivors-per-cell join, and a closure over BATCH pairs
    only (``test_semdedup_incremental_survivors_standing_tables``
    proves the persisted-standing-tables path ≡ this recompute)."""
    vectors, centroids = kmeans_fit(corpus, k=k, iters=iters, dim=dim)
    # the standing model is already materialized (kmeans_fit returns a
    # local relation backed by the collected k×dim rows), so the
    # training vectors are released; the member table stays
    # persisted — the pair self-join, survivor anti-join and batch
    # decision all scan it
    vectors.unpersist()
    cent_rows = model_rows(centroids)
    # spread before persist (guide §2.5/§2.6): a one-split embedding
    # scan would cache the member table as ONE partition and the pair
    # self-join's cosine work would run on one core; the cached layout
    # is what every consumer inherits. No-op on wide scans.
    cm = _spread_members(
        _cell_members(corpus, cent_rows, "vec_a", "e_a", "n_a"), "vec_a"
    ).persist()
    cos = cosine_prenorm("e_a", "e_b", "n_a", "n_b")
    cpairs = (
        cm.join(
            cm.select(
                "cluster",
                F.col("vec_a").alias("vec_b"),
                F.col("e_a").alias("e_b"),
                F.col("n_a").alias("n_b"),
            ),
            "cluster",
        )
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(cos >= threshold)
        .select("vec_a", "vec_b")
    )
    # localCheckpoint: connected_components' label output re-derives
    # its node spine from the edge plan — eager-cut it so the closure
    # (and the pair cosines under it) run exactly once
    comp = connected_components(cpairs, a="vec_a", b="vec_b").localCheckpoint(
        eager=False
    )
    dropped = comp.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("vec_a")
    )
    surv = cm.join(dropped, "vec_a", "left_anti").persist()
    return _decide_batch(batch, centroids, surv, threshold)


def _decide_batch(batch, centroids, surv, threshold):
    """The per-batch half of ``semdedup_incremental_survivors``:
    ``surv`` is the standing survivor-member table (cluster, vec_a,
    e_a, n_a) — in production a persisted parquet table. ``centroids``
    may be a DataFrame (e.g. read back from the standing parquet) or
    pre-collected rows — the model is k×dim either way."""
    cent_rows = model_rows(centroids)
    bm = _spread_members(
        _cell_members(batch, cent_rows, "vec_b", "e_b", "n_b"), "vec_b"
    ).persist()
    cos = cosine_prenorm("e_a", "e_b", "n_a", "n_b")
    hit = (
        surv.join(bm, "cluster")
        .filter(cos >= threshold)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .persist()
    )
    passed = bm.join(
        hit.select(F.col("vec_id").alias("vec_b")), "vec_b", "left_anti"
    ).persist()
    pa = passed.select(
        "cluster",
        F.col("vec_b").alias("vec_a"),
        F.col("e_b").alias("e_a"),
        F.col("n_b").alias("n_a"),
    )
    bpairs = (
        pa.join(passed, "cluster")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(cos >= threshold)
        .select("vec_a", "vec_b")
    )
    bcomp = connected_components(
        bpairs, a="vec_a", b="vec_b"
    ).localCheckpoint(eager=False)
    bdrop = bcomp.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("vec_id"), F.lit(True).alias("is_bdrop")
    )
    reason = (
        F.when(F.col("is_hit"), F.lit("corpus_dup"))
        .when(F.col("is_bdrop"), F.lit("batch_dup"))
        .otherwise(F.lit("novel"))
    )
    return (
        batch.select("vec_id", "label")
        .join(hit.withColumn("is_hit", F.lit(True)), "vec_id", "left")
        .join(bdrop, "vec_id", "left")
        .withColumn("is_hit", F.coalesce("is_hit", F.lit(False)))
        .withColumn("is_bdrop", F.coalesce("is_bdrop", F.lit(False)))
        .select(
            "vec_id",
            "label",
            reason.alias("reason"),
            (~F.col("is_hit") & ~F.col("is_bdrop")).alias("kept"),
        )
        .orderBy("vec_id")
    )


@query(
    "semdedup_survivors_incremental",
    _semdedup_survivors_incremental_oracle_sql(),
)
def _semdedup_survivors_incremental(spark, t):
    # Incremental SemDeDup keep policy (VERDICT r9 #8): the batch's
    # survivors are decided against the STANDING exemplar set — the
    # corpus model and its survivor table are reused, never refit or
    # reclosed (semdedup_survivors recomputes the closure corpus-wide;
    # this is the dedup_incremental_anti shape at the semantic layer).
    # A batch row dies by matching a standing survivor in its frozen
    # cell (corpus_dup) or by losing the min-id exemplar election
    # among surviving batch rows (batch_dup). The oracle refits
    # k-means on the corpus subset only (fit_where CTE) and replays
    # both closures recursively — model or survivor-set leakage from
    # the batch hash-fails. Note the policy is sequencing-honest, not
    # recompute-equivalent: standing exemplars are immutable (already
    # served/trained on), so a batch row can survive that a full
    # recompute would have dropped — that asymmetry is the point of
    # the incremental contract.
    emb = t["embeddings"]
    corpus = emb.filter(~F.expr(_BATCH_WHERE))
    batch = emb.filter(F.expr(_BATCH_WHERE))
    return semdedup_incremental_survivors(corpus, batch, **_SEMDEDUP)


_RECALL_NPROBES = (1, 2, 4, 8)


def _ivfpq_recall_curve_oracle_sql() -> str:
    """DuckDB twin of ``ann_ivfpq_recall_curve``: one full build+probe
    derived table per nprobe (each is the UNCHANGED ``ivfpq_oracle_sql``
    text, so the per-point semantics are exactly the driver-gated
    single-probe query's), recall aggregated per point."""
    points = []
    for np_ in _RECALL_NPROBES:
        inner = ivfpq_oracle_sql(
            dim=64,
            nprobe=np_,
            topk=_TOPK,
            query_vec_id=_QVEC_ID,
            exact_k=_TOPK,
            **_IVFPQ,
        )
        points.append(
            f"""SELECT {np_} AS nprobe,
                CAST(COUNT(CASE WHEN in_exact_topk THEN 1 END) AS BIGINT)
                    AS hits
                FROM ({inner}) q{np_}"""
        )
    u = "\nUNION ALL\n".join(points)
    return f"""
    SELECT nprobe, hits,
           CAST(hits AS DOUBLE) / {float(_TOPK)} AS recall
    FROM ({u})
    ORDER BY nprobe
    """


@query("ann_ivfpq_recall_curve", _ivfpq_recall_curve_oracle_sql())
def _ann_ivfpq_recall_curve(spark, t):
    # The recall-vs-cost curve every ANN deployment tunes against:
    # recall@k of the ADC probe vs the exact top-k, at nprobe ∈
    # {1,2,4,8} (probing 1/8 .. all of the nlist=8 cells). Spark
    # builds the index ONCE and probes it once per point — each probe
    # is one filter+fold+TakeOrdered job over the probed cells' code
    # rows, so the whole curve costs build + 4 cheap probes; the
    # oracle replays the full build per point (same SQL text as the
    # driver-gated ann_topk_ivfpq). hits is an exact integer; recall
    # is the one shared float division. At 100 TB the same loop runs
    # against the written index with partition pruning per point —
    # the curve is how nprobe (the recall/latency knob) gets chosen,
    # and re-running it after appends is the recall-decay check that
    # complements ivfpq_index_drift's distribution view.
    # r17 (guide §2.4): the four per-point probes are FUSED into one
    # index scan + one window — the exact ground-truth subtree (a
    # full-corpus scan) appears once instead of once per point. Row-
    # identical by the probe-prefix property (ivfpq_recall_curve).
    emb = t["embeddings"]
    cents, books, index = ivfpq_build(emb, **_IVFPQ)
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == _QVEC_ID).head()["embedding"]
    ]
    exact = _exact_topk_flags(emb, q, _TOPK)
    return ivfpq_recall_curve(
        index, cents, books, q, _RECALL_NPROBES, _TOPK, exact
    )


def _ivfpq_rebuild_decision_oracle_sql() -> str:
    """DuckDB twin of ``ivfpq_rebuild_decision``: the drift oracle as
    a derived table, aggregated into the three SCALING.md thresholds."""
    drift = _ivfpq_drift_oracle_sql()
    return f"""
    WITH d AS ({drift}),
    agg AS (
        SELECT CAST(SUM(corpus_n) AS BIGINT) AS tc,
               CAST(SUM(batch_n) AS BIGINT) AS tb,
               CAST(SUM(corpus_energy) AS BIGINT) AS ec,
               CAST(SUM(batch_energy) AS BIGINT) AS eb,
               CAST(SUM(CASE WHEN batch_n * {_IVFPQ["nlist"]} > tbx.tb2 * 2
                             AND (batch_n * tcx.tc2 > 2 * corpus_n * tbx.tb2
                                  OR batch_n * tcx.tc2 * 2
                                     < corpus_n * tbx.tb2)
                        THEN 1 ELSE 0 END) AS BIGINT) AS skew_cells
        FROM d
        CROSS JOIN (SELECT CAST(SUM(batch_n) AS BIGINT) AS tb2 FROM d) tbx
        CROSS JOIN (SELECT CAST(SUM(corpus_n) AS BIGINT) AS tc2 FROM d) tcx
    )
    SELECT
        (CAST(eb AS DOUBLE) / CAST(tb AS DOUBLE))
            / (CAST(ec AS DOUBLE) / CAST(tc AS DOUBLE)) AS energy_ratio,
        skew_cells AS fill_skew_cells,
        CAST(tb AS DOUBLE) / CAST(tb + tc AS DOUBLE) AS appended_fraction,
        (CAST(eb AS DOUBLE) / CAST(tb AS DOUBLE))
            / (CAST(ec AS DOUBLE) / CAST(tc AS DOUBLE)) > 1.5
            AS rebuild_energy,
        skew_cells > 0 AS rebuild_fill,
        CAST(tb AS DOUBLE) / CAST(tb + tc AS DOUBLE) > 0.3
            AS rebuild_fraction,
        ((CAST(eb AS DOUBLE) / CAST(tb AS DOUBLE))
            / (CAST(ec AS DOUBLE) / CAST(tc AS DOUBLE)) > 1.5)
        OR (skew_cells > 0)
        OR (CAST(tb AS DOUBLE) / CAST(tb + tc AS DOUBLE) > 0.3)
            AS rebuild
    FROM agg
    """


@query("ivfpq_rebuild_decision", _ivfpq_rebuild_decision_oracle_sql())
def _ivfpq_rebuild_decision(spark, t):
    # SCALING.md's rebuild-when policy AS CODE — the one-row
    # governance endpoint a scheduler polls after each append:
    #   rebuild_energy:   pooled batch energy-per-vector > 1.5× the
    #                     corpus's (quantizer off-distribution);
    #   rebuild_fill:     some cell holds > 2/nlist of the batch AND
    #                     its batch/corpus fill-share ratio is outside
    #                     [0.5, 2] (mass piling into skewed cells) —
    #                     both sides of the ratio test are CROSS-
    #                     MULTIPLIED so the comparison stays in exact
    #                     64-bit integers (no float division at all;
    #                     headroom: per-cell count × total count must
    #                     stay under 2⁶³ — at corpus sizes where that
    #                     binds, normalize shares to fixed-point per
    #                     mille first);
    #   rebuild_fraction: appended rows > 30% of the indexed total.
    # The two reported ratios are the usual shared-expression doubles
    # over exact integer sums; the booleans are what the scheduler
    # consumes. Composes the committed drift stats — one residual
    # pass + one nlist-row aggregate on top. Like the drift query, the
    # model is the coarse quantizer alone (``ivfpq_coarse_fit``, bit-
    # identical to the build's first stage) — no PQ training for a
    # decision that never reads codebooks (VERDICT r11 wrong #1).
    emb = t["embeddings"]
    corpus = emb.filter(~F.expr(_BATCH_WHERE))
    cents = ivfpq_coarse_fit(
        corpus, nlist=_IVFPQ["nlist"], iters=_IVFPQ["iters"]
    )
    # persisted: the totals and skew branches below each consume the
    # drift stats — without this the residual pass over corpus+batch
    # runs once per branch (the recompute-amplification class the CC
    # checkpoint fix documents)
    d = ivfpq_drift_stats(emb, cents).persist()
    tb = F.sum("batch_n")
    tc = F.sum("corpus_n")
    totals = d.agg(
        tc.alias("tc"),
        tb.alias("tb"),
        F.sum("corpus_energy").alias("ec"),
        F.sum("batch_energy").alias("eb"),
    )
    skew = (
        d.crossJoin(F.broadcast(totals.select("tb", "tc")))
        .select(
            F.when(
                (F.col("batch_n") * _IVFPQ["nlist"] > F.col("tb") * 2)
                & (
                    (
                        F.col("batch_n") * F.col("tc")
                        > F.lit(2) * F.col("corpus_n") * F.col("tb")
                    )
                    | (
                        F.col("batch_n") * F.col("tc") * 2
                        < F.col("corpus_n") * F.col("tb")
                    )
                ),
                1,
            )
            .otherwise(0)
            .alias("s")
        )
        .agg(F.sum("s").alias("skew_cells"))
    )
    energy_ratio = (
        F.col("eb").cast("double") / F.col("tb").cast("double")
    ) / (F.col("ec").cast("double") / F.col("tc").cast("double"))
    appended = F.col("tb").cast("double") / (
        F.col("tb") + F.col("tc")
    ).cast("double")
    return (
        totals.crossJoin(F.broadcast(skew))
        .select(
            energy_ratio.alias("energy_ratio"),
            F.col("skew_cells").alias("fill_skew_cells"),
            appended.alias("appended_fraction"),
            (energy_ratio > 1.5).alias("rebuild_energy"),
            (F.col("skew_cells") > 0).alias("rebuild_fill"),
            (appended > 0.3).alias("rebuild_fraction"),
            (
                (energy_ratio > 1.5)
                | (F.col("skew_cells") > 0)
                | (appended > 0.3)
            ).alias("rebuild"),
        )
    )
