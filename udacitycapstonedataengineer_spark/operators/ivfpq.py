"""IVF-PQ — the composed billion-scale ANN index (coarse inverted
lists × product-quantized residuals).

PQ alone (operators/pq.py) still scores EVERY vector's codes; IVF
alone (operators/similarity.py) prunes to a few coarse cells but keeps
full floats. The production index composes them (FAISS's IVFPQ): a
coarse k-means partitions vectors into ``nlist`` cells; each vector
stores its cell id plus the PQ codes of its RESIDUAL (vector − cell
centroid); a query probes only its ``nprobe`` nearest cells and scores
codes there with a PER-CELL ADC lookup table built from the query's
residual against that cell's centroid.

Composition here is deliberately thin: the coarse quantizer IS
``clustering.kmeans_assign`` and the residual codebooks ARE
``pq.pq_train`` on the residual table — the operators compose as
DataFrames, no new algorithmic machinery. Determinism carries
through (both components are RNG-free with fixed tie-breaks), so the
whole index build is bit-reproducible on any partitioning.

Scale shape: build = coarse k-means + one residual subtraction
(narrow) + grouped PQ training; query = nprobe·m·k lookup-table
flops on the driver, then a scan of ONLY the probed cells' code rows
(cell id is a join/filter key — on a cell-partitioned layout this is
partition pruning, nprobe/nlist of the data).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .coarse import centroid_array, coarse_fit_from_vectors
from .clustering import centroid_assign_expr, model_rows
from .pq import pq_codes_expr, pq_train


def ivfpq_build(
    emb: DataFrame,
    nlist: int = 8,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (coarse_centroids, codebooks, index):
    coarse_centroids = (cid, c array<double>); codebooks = PQ books
    over residuals (sub, cid, c); index = (vec_id, cell, codes).

    Every model-vs-data boundary is exploited for shape (guide §2.4):
    the coarse quantizer trains with map-only assignment rounds
    (``coarse_fit_from_vectors`` — the fold the r12 note anticipated),
    cells + residuals come out of ONE codegen'd projection over the
    persisted vectors (literal centroid lookup — no window Exchange,
    no corpus-grain join-back, no broadcast join), and the index is a
    map-only PQ encode of the persisted residuals (``pq_codes_expr``)
    — the old shape's encode window + vec_id re-group + final join
    are gone. Returned centroids/codebooks are local relations backed
    by the collected model, so downstream probes/appends/oracles pay
    no training re-runs per action. Bit-identical outputs: same
    sequential distance folds, same (dist2, cid) tie-breaks, same
    fixed-point truncating updates — pinned by the oracle parity
    suite and test_round11's bit-identity gates."""
    from .clustering import kmeans  # noqa: F401  (doc pointer)

    spark = emb.sparkSession
    vectors = emb.select(
        "vec_id",
        F.expr(
            f"transform({vec_col}, x -> cast(x as double))"
        ).alias("v"),
    ).persist()
    # coarse quantizer: seeds + iterations exactly as clustering.kmeans
    cent_rows = coarse_fit_from_vectors(vectors, nlist, iters, "ivfpq_build")
    centroids = spark.createDataFrame(
        [(int(r["cid"]), [float(x) for x in r["c"]]) for r in cent_rows],
        "cid bigint, c array<double>",
    )
    centroids._graft_rows = cent_rows
    carr = centroid_array(cent_rows)
    # element_at is 1-based; carr is injected as a named column so the
    # literal array appears once in the plan, not once per element
    residuals = (
        vectors.withColumn("cell", centroid_assign_expr(cent_rows))
        .withColumn("__carr", carr)
        .select(
            "vec_id",
            "cell",
            F.expr(
                "zip_with(v, element_at(__carr, cast(cell as int) + 1),"
                " (x, y) -> x - y)"
            ).alias("embedding"),
        )
        .persist()
    )
    codebooks = pq_train(residuals, m=m, k=k, iters=iters)
    book_rows = model_rows(codebooks)  # attached at construction
    # persisted: ivfpq_topk filters the index once PER PROBED CELL —
    # in production the index is a written table, so the persist
    # models the real read-back cost
    index = residuals.select(
        "vec_id",
        "cell",
        pq_codes_expr(book_rows, m, "embedding").alias("codes"),
    ).persist()
    return centroids, codebooks, index


def ivfpq_encode_batch(
    batch_emb: DataFrame,
    coarse_centroids: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode a NEW batch against the FROZEN model — incremental index
    maintenance (VERDICT r8 #5, the ANN sibling of BM25's
    append-equals-rebuild): assign each batch vector to the standing
    coarse cells (one broadcast of nlist centroids, no re-clustering),
    subtract that cell's centroid, PQ-encode the residual with the
    frozen codebooks. Returns (vec_id, cell, codes) rows that append
    onto the cell-partitioned index — a daily ingest shuffles only its
    own rows; the corpus index is untouched parquet.

    ``test_ivfpq_incremental_append_equals_rebuild`` pins append ≡
    re-encode-everything-under-the-frozen-model, probe results
    included.

    The whole encode is ONE stateless codegen'd projection (the
    ``stream_ivfpq_encode`` shape, now shared with the batch path):
    literal-argmin cell, literal-lookup residual, literal-argmin
    codes — zero shuffle, zero join (guide §2.4). Model args may be
    DataFrames or pre-collected rows.

    Contract (ADVICE r16 #3): the coarse model's cids must be DENSE
    0..nlist-1 — the residual lookup is ``element_at(carr, cell+1)``
    and ``centroid_array`` raises ValueError otherwise. ``ivfpq_build``
    /``ivfpq_coarse_fit`` models satisfy this by construction;
    ``kmeans_fit``-style models that DROP emptied clusters do not —
    re-index such a model before encoding against it."""
    cent_rows = model_rows(coarse_centroids)
    book_rows = model_rows(codebooks)
    return (
        batch_emb.select(
            "vec_id",
            F.expr(f"transform({vec_col}, x -> cast(x as double))").alias(
                "v"
            ),
        )
        .withColumn("cell", centroid_assign_expr(cent_rows))
        .withColumn("__carr", centroid_array(cent_rows))
        .withColumn(
            "rv",
            F.expr(
                "zip_with(v, element_at(__carr, cast(cell as int) + 1),"
                " (x, y) -> x - y)"
            ),
        )
        .select(
            "vec_id", "cell", pq_codes_expr(book_rows, m, "rv").alias("codes")
        )
    )


def _query_d2(q: np.ndarray, c: np.ndarray) -> float:
    """Sequential squared-L2 fold — bit-identical to the SQL twin's
    list_inner_product (see ivfpq_oracle_sql)."""
    acc = 0.0
    for a, b in zip(q, c):
        acc += (float(a) - float(b)) * (float(a) - float(b))
    return acc


def _probe_order(q: np.ndarray, cents: dict) -> list[int]:
    """All cell ids sorted by (d2(query, centroid), cid) — the probe
    priority; ``order[:nprobe]`` is the probed set at any nprobe (so
    probe sets at increasing nprobe are PREFIXES of one another, the
    property the fused curve scan relies on)."""
    return sorted(cents, key=lambda cid: (_query_d2(q, cents[cid]), cid))


def _cell_lut(
    q: np.ndarray, cent: np.ndarray, cb: list, m: int, k: int, dsub: int
) -> list[float]:
    """ADC lookup table for ONE cell: the query's residual in that
    cell scored against every (sub, cid) codeword — same sequential
    fold pq_adc_topk uses. +inf sentinel for (sub, cid) slots the
    codebook never emits: a served index whose codes exceed the
    codebook must rank those rows LAST, not score the subquantizer as
    distance 0 (ADVICE r8 — pq_adc_topk's original sentinel
    semantics)."""
    resid = q - cent
    lut = [float("inf")] * (m * k)
    for r in cb:
        qs = resid[r["sub"] * dsub : (r["sub"] + 1) * dsub]
        d2 = 0.0
        for a, b in zip(qs, r["c"]):
            d2 += (float(a) - float(b)) * (float(a) - float(b))
        lut[r["sub"] * k + r["cid"]] = d2
    return lut


def _adc_dist_expr(m: int, k: int) -> F.Column:
    """Sequential ADC fold over the row's codes against the __lut
    column (exact: IEEE 0.0+x == x, same order as the oracle's
    list_reduce)."""
    return F.expr(
        f"aggregate(sequence(0, {m} - 1), 0D, (acc, s) -> "
        f"acc + element_at(__lut, s * {k} + element_at(codes, s + 1) + 1))"
    )


def ivfpq_topk(
    index: DataFrame,
    coarse_centroids: DataFrame,
    codebooks: DataFrame,
    query: list[float],
    nprobe: int = 2,
    topk: int = 10,
) -> DataFrame:
    """Probe the query's ``nprobe`` nearest cells and ADC-score only
    their code rows, each against a lookup table built from the
    query's residual in THAT cell. Smallest adc_dist2 first, vec_id
    tie-break."""
    q = np.asarray(query, dtype=np.float64)
    cent_rows = model_rows(coarse_centroids)
    cents = {r["cid"]: np.asarray(r["c"]) for r in cent_rows}
    probed = _probe_order(q, cents)[:nprobe]

    # all probed cells score in ONE job: per-cell LUTs become a
    # CASE-selected literal array, so the scan over the probed cells'
    # code rows is a single filter + fold + TakeOrdered instead of
    # nprobe separate filter/sort/limit jobs.
    cb = model_rows(codebooks)
    m = max(r["sub"] for r in cb) + 1
    k = max(r["cid"] for r in cb) + 1
    dsub = len(cb[0]["c"])
    lut_expr = None
    for cell in probed:
        arr = F.array(
            *[F.lit(x) for x in _cell_lut(q, cents[cell], cb, m, k, dsub)]
        )
        lut_expr = (
            arr
            if lut_expr is None
            else F.when(F.col("cell") == cell, arr).otherwise(lut_expr)
        )
        # (reversed-order nesting is fine: cells are disjoint)
    return (
        index.filter(F.col("cell").isin(probed))
        .withColumn("__lut", lut_expr)
        .select("vec_id", _adc_dist_expr(m, k).alias("adc_dist2"))
        .orderBy("adc_dist2", "vec_id")
        .limit(topk)
    )


def ivfpq_recall_curve(
    index: DataFrame,
    coarse_centroids: DataFrame,
    codebooks: DataFrame,
    query: list[float],
    nprobes: tuple[int, ...],
    topk: int,
    exact_flags: DataFrame,
) -> DataFrame:
    """The whole recall-vs-nprobe curve in ONE index scan (guide §2.4
    — VERDICT r16 next #3): (nprobe, hits, recall) per curve point,
    row-identical to looping ``ivfpq_topk`` per point and joining
    ``exact_flags`` per point.

    Why one scan is the same answer: probe sets at increasing nprobe
    are prefixes of one probe ORDER (cells sorted by (d2, cid) —
    ``_probe_order``), and a cell's ADC LUT depends only on (query,
    cell), never on nprobe. So the scan reads the max-nprobe probe
    set once (`cell isin` stays a PartitionFilter on a served index),
    joins each row's cell to a broadcast (cell, probe rank, LUT)
    relation, scores the fold once per row, replicates the row to the
    curve points whose nprobe covers its cell's rank (≤ |nprobes|×,
    topk-bounded downstream), and takes per-point top-k with one
    window. The exact ground-truth subtree — a FULL-CORPUS scan the
    per-point loop replicated once per point — appears exactly once.
    """
    q = np.asarray(query, dtype=np.float64)
    cents = {
        r["cid"]: np.asarray(r["c"]) for r in model_rows(coarse_centroids)
    }
    cb = model_rows(codebooks)
    m = max(r["sub"] for r in cb) + 1
    k = max(r["cid"] for r in cb) + 1
    dsub = len(cb[0]["c"])
    probed = _probe_order(q, cents)[: max(nprobes)]
    spark = index.sparkSession
    luts = spark.createDataFrame(
        [
            (int(cell), rank + 1, _cell_lut(q, cents[cell], cb, m, k, dsub))
            for rank, cell in enumerate(probed)
        ],
        "cell bigint, __cell_rank int, __lut array<double>",
    )
    pts = F.array(*[F.lit(int(p)) for p in nprobes])
    w = Window.partitionBy("nprobe").orderBy("adc_dist2", "vec_id")
    counted = (
        index.filter(F.col("cell").isin([int(c) for c in probed]))
        .join(F.broadcast(luts), "cell")
        .select(
            "vec_id",
            "__cell_rank",
            _adc_dist_expr(m, k).alias("adc_dist2"),
        )
        # a row participates in every curve point probing its cell
        .withColumn(
            "nprobe",
            F.explode(F.filter(pts, lambda p: p >= F.col("__cell_rank"))),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= topk)
        .join(F.broadcast(exact_flags), "vec_id", "left")
        .groupBy("nprobe")
        .agg(F.count(F.when(F.col("in_exact_topk"), 1)).alias("hits"))
    )
    # a curve point whose probed cells hold zero eligible rows (e.g.
    # a filtered served index) must still report hits=0, exactly as
    # the per-point loop's global agg did
    points = spark.createDataFrame(
        [(int(p),) for p in nprobes], "nprobe int"
    )
    return (
        points.join(counted, "nprobe", "left")
        .select(
            "nprobe",
            F.coalesce("hits", F.lit(0).cast("long")).alias("hits"),
            (
                F.coalesce("hits", F.lit(0).cast("long")).cast("double")
                / F.lit(float(topk))
            ).alias("recall"),
        )
        .orderBy("nprobe")
    )


def ivfpq_topk_multi(
    index: DataFrame,
    coarse_centroids: DataFrame,
    codebooks: DataFrame,
    queries: list[tuple[int, list[float]]],
    nprobe: int,
    topk: int,
) -> DataFrame:
    """(query_vec_id, vec_id): per sampled query, the ADC top-k of its
    probed cells — row-identical to looping ``ivfpq_topk`` per query,
    in ONE scan of the union of all probed cells (guide §2.4). Each
    query's (cell → LUT) pairs ride one broadcast relation keyed
    (query_vec_id, cell), so a code row is scored once per query
    probing its cell and the plan stays O(1) in Q (the ADVICE r11 #5
    broadcast-not-literals discipline); `cell isin` keeps the
    PartitionFilter on a served index."""
    cents = {
        r["cid"]: np.asarray(r["c"]) for r in model_rows(coarse_centroids)
    }
    cb = model_rows(codebooks)
    m = max(r["sub"] for r in cb) + 1
    k = max(r["cid"] for r in cb) + 1
    dsub = len(cb[0]["c"])
    lut_rows = []
    all_cells: set[int] = set()
    for qid, vec in queries:
        q = np.asarray(vec, dtype=np.float64)
        for cell in _probe_order(q, cents)[:nprobe]:
            all_cells.add(int(cell))
            lut_rows.append(
                (
                    int(qid),
                    int(cell),
                    _cell_lut(q, cents[cell], cb, m, k, dsub),
                )
            )
    luts = index.sparkSession.createDataFrame(
        lut_rows, "query_vec_id bigint, cell bigint, __lut array<double>"
    )
    w = Window.partitionBy("query_vec_id").orderBy("adc_dist2", "vec_id")
    return (
        index.filter(F.col("cell").isin(sorted(all_cells)))
        .join(F.broadcast(luts), "cell")
        .select(
            "query_vec_id", "vec_id", _adc_dist_expr(m, k).alias("adc_dist2")
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= topk)
        .select("query_vec_id", "vec_id")
    )


def ivfpq_topk_refined(
    index: DataFrame,
    coarse_centroids: DataFrame,
    codebooks: DataFrame,
    emb: DataFrame,
    query: list[float],
    nprobe: int = 2,
    rerank: int = 50,
    topk: int = 10,
    vec_col: str = "embedding",
) -> DataFrame:
    """FAISS's refine stage: ADC shortlists ``rerank`` candidates from
    the probed cells (compressed codes only), then the ORIGINAL
    vectors of just those candidates are fetched and re-ranked by
    exact squared-L2. Returns (vec_id, dist2) smallest-first.

    Scale shape: the expensive full-precision distance touches only
    ``rerank`` rows — the shortlist is broadcast into the embedding
    scan (a join on vec_id that prunes before any vector math), so
    refinement cost is O(rerank·dim) regardless of corpus size. This
    recovers most of the recall PQ compression gives up (codes order
    the shortlist, exact math orders the answer)."""
    shortlist = ivfpq_topk(
        index, coarse_centroids, codebooks, query, nprobe, topk=rerank
    ).select("vec_id")
    qlit = F.array(*[F.lit(float(x)) for x in query])
    dist2 = F.expr(
        "aggregate(zip_with(v, qv, (x, y) -> (x - y) * (x - y)),"
        " 0D, (acc, w) -> acc + w)"
    )
    return (
        emb.join(F.broadcast(shortlist), "vec_id")
        .select(
            "vec_id",
            F.expr(
                f"transform({vec_col}, x -> cast(x as double))"
            ).alias("v"),
        )
        .withColumn("qv", qlit)
        .select("vec_id", dist2.alias("dist2"))
        .orderBy("dist2", "vec_id")
        .limit(topk)
    )


def _ivfpq_oracle_parts(
    nlist: int,
    m: int,
    k: int,
    iters: int,
    dim: int,
    nprobe: int,
    query_vec_id: int,
    exact_k: int,
    table: str,
    fit_where: str | None = None,
    candidate_where: str | None = None,
):
    """Shared CTE list for the IVF-PQ oracles: build (coarse k-means
    unrolled, residuals, grouped PQ train, encode), probe selection,
    per-cell ADC (`adc` CTE), and the exact-L2 top set (`exact` CTE).
    Returns (parts, dist) where dist(v, c, n) renders the sequential
    squared-L2 fold.

    ``fit_where`` (incremental maintenance): when given, the MODEL —
    coarse seeds + k-means iterations, PQ seeds + training — fits on
    only the rows matching it, while assignment/encoding/probing still
    cover every row; the twin of freezing the corpus model and
    appending a batch encoded against it (the semdedup_incremental
    corpus-only-fit CTE pattern).

    ``candidate_where`` (filtered serving, VERDICT r13 next #7): a
    metadata predicate on ``table`` restricting WHICH rows may be
    returned — both the ADC scoring set and the exact ground truth
    filter to it, while the model/encoding/probe-selection still see
    everything (the production RAG shape: the index stores the
    metadata, the probe scan applies the predicate). Default None
    keeps the emitted SQL byte-identical to the pre-r14 text."""
    from .clustering import SCALE

    dsub = dim // m

    def dist(v: str, c: str, n: int) -> str:
        diff = (
            f"list_transform(generate_series(1, {n}), i -> {v}[i] - {c}[i])"
        )
        return f"list_inner_product({diff}, {diff})"

    def quant(col: str) -> str:
        return (
            f"list_transform({col}, x -> "
            f"CAST(FLOOR(x * {SCALE}) AS DOUBLE) / {SCALE})"
        )

    subs = f"(SELECT unnest(generate_series(0, {m - 1})) AS sub)"
    parts = [
        f"e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {table})",
        f"q AS (SELECT v AS qv FROM e WHERE vec_id = {query_vec_id})",
    ]
    fit = "e"
    if fit_where is not None:
        parts.append(f"ef AS (SELECT * FROM e WHERE {fit_where})")
        fit = "ef"
    parts.append(
        f"""cc0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
                            AS BIGINT) AS cid, {quant('v')} AS c
             FROM (SELECT * FROM {fit} ORDER BY vec_id LIMIT {nlist}))"""
    )
    prev = "cc0"
    for it in range(1, iters):
        parts.append(
            f"""ca{it} AS (SELECT vec_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY {dist('e.v', 'c.c', dim)}, c.cid) AS rn
                FROM {fit} AS e CROSS JOIN {prev} c) WHERE rn = 1)"""
        )
        # truncating update: Spark's (sum/n).cast(long) — TRUNC, not CAST
        parts.append(
            f"""ccn{it} AS (SELECT cid,
                   list(CAST(TRUNC(CAST(s AS DOUBLE) / n) AS BIGINT)
                        / {SCALE} ORDER BY d) AS c
             FROM (SELECT a.cid, ds.d,
                          SUM(CAST(FLOOR(e.v[ds.d] * {SCALE}) AS BIGINT)) AS s,
                          count(*) AS n
                   FROM e JOIN ca{it} a USING (vec_id)
                   CROSS JOIN (SELECT unnest(generate_series(1, {dim})) AS d) ds
                   GROUP BY a.cid, ds.d)
             GROUP BY cid)"""
        )
        parts.append(
            f"""cc{it} AS (SELECT * FROM ccn{it} UNION ALL
                SELECT p.cid, p.c FROM {prev} p
                ANTI JOIN ccn{it} n ON p.cid = n.cid)"""
        )
        prev = f"cc{it}"
    parts += [
        f"""cells AS (SELECT vec_id, cid AS cell FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {dist('e.v', 'c.c', dim)}, c.cid) AS rn
            FROM e CROSS JOIN {prev} c) WHERE rn = 1)""",
        f"""r AS (SELECT e.vec_id, cells.cell,
                 list_transform(generate_series(1, {dim}),
                                i -> e.v[i] - c.c[i]) AS rv
           FROM e JOIN cells USING (vec_id)
           JOIN {prev} c ON c.cid = cells.cell)""",
        f"""sv AS (SELECT vec_id, su.sub,
                  list_slice(rv, su.sub * {dsub} + 1,
                             su.sub * {dsub} + {dsub}) AS v
           FROM r CROSS JOIN {subs} su)""",
        f"""svf AS (SELECT sv.* FROM sv
            WHERE vec_id IN (SELECT vec_id FROM {fit}))""",
        f"""pq0 AS (SELECT sub,
                   CAST(row_number() OVER (PARTITION BY sub ORDER BY vec_id)
                        - 1 AS INT) AS cid, {quant('v')} AS c
            FROM sv WHERE vec_id IN
                 (SELECT vec_id FROM {fit} ORDER BY vec_id LIMIT {k}))""",
    ]
    pprev = "pq0"
    for it in range(1, iters):
        parts.append(
            f"""pa{it} AS (SELECT vec_id, sub, cid FROM (
                SELECT sv.vec_id, sv.sub, c.cid,
                       row_number() OVER (PARTITION BY sv.vec_id, sv.sub
                           ORDER BY {dist('sv.v', 'c.c', dsub)}, c.cid) AS rn
                FROM svf AS sv JOIN {pprev} c USING (sub)) WHERE rn = 1)"""
        )
        parts.append(
            f"""pqn{it} AS (SELECT sub, cid,
                   list(CAST(TRUNC(CAST(s AS DOUBLE) / n) AS BIGINT)
                        / {SCALE} ORDER BY d) AS c
             FROM (SELECT a.sub, a.cid, ds.d,
                          SUM(CAST(FLOOR(sv.v[ds.d] * {SCALE}) AS BIGINT)) AS s,
                          count(*) AS n
                   FROM sv JOIN pa{it} a USING (vec_id, sub)
                   CROSS JOIN (SELECT unnest(generate_series(1, {dsub})) AS d) ds
                   GROUP BY a.sub, a.cid, ds.d)
             GROUP BY sub, cid)"""
        )
        parts.append(
            f"""pq{it} AS (SELECT * FROM pqn{it} UNION ALL
                SELECT p.sub, p.cid, p.c FROM {pprev} p
                ANTI JOIN pqn{it} n ON p.sub = n.sub AND p.cid = n.cid)"""
        )
        pprev = f"pq{it}"
    parts += [
        f"""enc AS (SELECT vec_id, sub, cid FROM (
            SELECT sv.vec_id, sv.sub, c.cid,
                   row_number() OVER (PARTITION BY sv.vec_id, sv.sub
                       ORDER BY {dist('sv.v', 'c.c', dsub)}, c.cid) AS rn
            FROM sv JOIN {pprev} c USING (sub)) WHERE rn = 1)""",
        f"""probes AS (SELECT cid AS cell, c FROM (
            SELECT c.cid, c.c,
                   row_number() OVER (
                       ORDER BY {dist('q.qv', 'c.c', dim)}, c.cid) AS rn
            FROM {prev} c CROSS JOIN q) WHERE rn <= {nprobe})""",
        f"""qr AS (SELECT p.cell, su.sub,
                  list_slice(list_transform(generate_series(1, {dim}),
                                            i -> q.qv[i] - p.c[i]),
                             su.sub * {dsub} + 1,
                             su.sub * {dsub} + {dsub}) AS qs
           FROM probes p CROSS JOIN {subs} su CROSS JOIN q)""",
        f"""lut AS (SELECT qr.cell, qr.sub, c.cid,
                   {dist('qr.qs', 'c.c', dsub)} AS d2
            FROM qr JOIN {pprev} c ON c.sub = qr.sub)""",
    ]
    cand_filter = ""
    if candidate_where is not None:
        parts.append(
            f"cand AS (SELECT vec_id FROM {table} WHERE {candidate_where})"
        )
        cand_filter = " WHERE cells.vec_id IN (SELECT vec_id FROM cand)"
    parts.append(
        f"""adc AS (SELECT vec_id,
                  list_reduce(list(d2 ORDER BY sub),
                              (acc, x) -> acc + x) AS adc_dist2
           FROM (SELECT cells.vec_id, enc.sub, lut.d2
                 FROM cells
                 JOIN enc ON enc.vec_id = cells.vec_id
                 JOIN lut ON lut.cell = cells.cell
                         AND lut.sub = enc.sub AND lut.cid = enc.cid{cand_filter})
           GROUP BY vec_id)"""
    )
    exact_src = (
        "e"
        if candidate_where is None
        else "(SELECT e.* FROM e JOIN cand USING (vec_id)) e"
    )
    parts.append(
        f"""exact AS (SELECT e.vec_id FROM (
            SELECT e.vec_id,
                   row_number() OVER (
                       ORDER BY {dist('e.v', 'q.qv', dim)}, e.vec_id) AS rn
            FROM {exact_src} CROSS JOIN q) e WHERE rn <= {exact_k})"""
    )
    return parts, dist


def ivfpq_oracle_sql(
    nlist: int = 8,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    dim: int = 64,
    nprobe: int = 2,
    topk: int = 10,
    query_vec_id: int = 7,
    exact_k: int = 10,
    table: str = "embeddings",
    fit_where: str | None = None,
    candidate_where: str | None = None,
) -> str:
    """DuckDB twin of the WHOLE IVF-PQ pipeline, generated (the
    kmeans_oracle_sql pattern): coarse k-means unrolled per iteration,
    residual subtraction, grouped per-subspace PQ training, encoding,
    nprobe cell selection, per-cell ADC, and the exact-L2 recall
    contract column — every float op in the same sequence the Spark
    side executes (list_inner_product ≡ the sequential zip_with fold;
    TRUNC for Spark's truncating double→long cast — DuckDB's bare
    CAST rounds; list_reduce over sub-ordered LUT entries ≡ the
    sequential aggregate() fold, exact because IEEE 0.0+x == x)."""
    parts, _ = _ivfpq_oracle_parts(
        nlist, m, k, iters, dim, nprobe, query_vec_id, exact_k, table,
        fit_where=fit_where, candidate_where=candidate_where,
    )
    return (
        "WITH " + ",\n".join(parts) + f"""
        SELECT vec_id, adc_dist2, rank, in_exact_topk FROM (
            SELECT vec_id, adc_dist2,
                   row_number() OVER (ORDER BY adc_dist2, vec_id) AS rank,
                   vec_id IN (SELECT vec_id FROM exact) AS in_exact_topk
            FROM adc) WHERE rank <= {topk}
        ORDER BY rank"""
    )


def ivfpq_refined_oracle_sql(
    nlist: int = 8,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    dim: int = 64,
    nprobe: int = 2,
    rerank: int = 50,
    topk: int = 10,
    query_vec_id: int = 7,
    table: str = "embeddings",
) -> str:
    """DuckDB twin of ``ivfpq_topk_refined``: the full-build CTEs,
    ADC shortlist of ``rerank`` candidates, then EXACT squared-L2 on
    only those candidates' original vectors (same sequential fold),
    ranked (dist2, vec_id)."""
    parts, dist = _ivfpq_oracle_parts(
        nlist, m, k, iters, dim, nprobe, query_vec_id, topk, table
    )
    parts = parts + [
        f"""short AS (SELECT vec_id FROM (
            SELECT vec_id,
                   row_number() OVER (ORDER BY adc_dist2, vec_id) AS rn
            FROM adc) WHERE rn <= {rerank})""",
    ]
    d = dist("e.v", "q.qv", dim)
    return (
        "WITH " + ",\n".join(parts) + f"""
        SELECT vec_id, dist2, rank FROM (
            SELECT e.vec_id, {d} AS dist2,
                   row_number() OVER (ORDER BY {d}, e.vec_id) AS rank
            FROM e JOIN short USING (vec_id) CROSS JOIN q)
        WHERE rank <= {topk}
        ORDER BY rank"""
    )
