"""Round-9 query group.

- ann_topk_ivfpq_served — the oracled IVF-PQ probe served from a
  WRITTEN cell-partitioned index (VERDICT r8 #4): the query writes
  the index partitioned by cell, reads it back, and probes the
  read-back under the SAME oracle as ``ann_topk_ivfpq`` — the driver
  gate itself proves written-index ≡ in-memory ≡ DuckDB each round,
  and ``test_ivfpq_served_query_partition_pruned`` asserts the probe
  scan carries PartitionFilters (nprobe/nlist of the files read).
- ann_topk_ivfpq_incremental — incremental index maintenance
  (VERDICT r8 #5): model fitted on the CORPUS only, the new batch
  encoded against the frozen centroids + codebooks and appended; the
  oracle re-fits on the corpus subset (`fit_where`, the
  semdedup_incremental corpus-only-fit CTE pattern), so training on
  the union would move the model and hash-fail.
- text_kn_bigram_prob — full interpolated Kneser-Ney bigram
  probabilities (VERDICT r8 #6) composed from the r8 continuation
  counts: absolute discount D=0.75 with continuation back-off, one
  shared float expression over exact integer counts.
- semdedup_survivors — the SemDeDup keep policy end-to-end (VERDICT
  r8 #7): transitive closure over semantic pairs, drop all but the
  min-id exemplar per component, emit the surviving corpus with
  per-label savings (embeddings carry ``label`` where documents
  carry ``source``).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.graph import connected_components
from ..operators.clustering import double_array
from ..operators.ivfpq import (
    ivfpq_build,
    ivfpq_encode_batch,
    ivfpq_oracle_sql,
    ivfpq_topk,
)
from ..operators.semdedup import semdedup_oracle_sql, semdedup_pairs
from .queries_round8 import _IVFPQ, _NPROBE, _QVEC_ID, _SEMDEDUP, _TOPK
from .queries_round8 import _doc_bigrams
from .registry import query


def _exact_topk_flags(emb, q, topk):
    """(vec_id, in_exact_topk=true) for the exact-L2 top ``topk`` —
    the recall-contract column every IVF-PQ query carries."""
    qlit = double_array(q)
    return (
        emb.select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
        )
        .withColumn("qv", qlit)
        .select(
            "vec_id",
            F.expr(
                "aggregate(zip_with(v, qv, (x, y) -> (x - y) * (x - y)),"
                " 0D, (acc, w) -> acc + w)"
            ).alias("d2"),
        )
        .orderBy("d2", "vec_id")
        .limit(topk)
        .select("vec_id", F.lit(True).alias("in_exact_topk"))
    )


def _ranked_probe(top, exact):
    w = Window.orderBy("adc_dist2", "vec_id")
    return (
        top.withColumn("rank", F.row_number().over(w))
        .join(F.broadcast(exact), "vec_id", "left")
        .select(
            "vec_id",
            "adc_dist2",
            "rank",
            F.coalesce("in_exact_topk", F.lit(False)).alias("in_exact_topk"),
        )
        .orderBy("rank")
    )


@query(
    "ann_topk_ivfpq_served",
    ivfpq_oracle_sql(
        dim=64,
        nprobe=_NPROBE,
        topk=_TOPK,
        query_vec_id=_QVEC_ID,
        exact_k=_TOPK,
        **_IVFPQ,
    ),
)
def _ann_topk_ivfpq_served(spark, t):
    # The production serving path under the driver gate: build, WRITE
    # the index partitioned by cell, read it back, probe the parquet
    # read-back. Same oracle as ann_topk_ivfpq — the gate proves
    # written ≡ in-memory ≡ DuckDB. The probe's `cell isin` filter
    # lands as a PartitionFilter on the read-back scan (plan-asserted
    # in test_ivfpq.py), so serving reads nprobe/nlist of the files.
    # pid-scoped path: bench/driver re-runs overwrite in-place while
    # concurrent processes never collide.
    emb = t["embeddings"]
    cents, books, index = ivfpq_build(emb, **_IVFPQ)
    path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_ivfpq_served_{os.getpid()}"
    )
    index.write.partitionBy("cell").mode("overwrite").parquet(path)
    back = spark.read.parquet(path).withColumn(
        "cell", F.col("cell").cast("long")
    )
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == _QVEC_ID).head()["embedding"]
    ]
    top = ivfpq_topk(back, cents, books, q, nprobe=_NPROBE, topk=_TOPK)
    return _ranked_probe(top, _exact_topk_flags(emb, q, _TOPK))


_BATCH_WHERE = "vec_id % 10 = 7"


@query(
    "ann_topk_ivfpq_incremental",
    ivfpq_oracle_sql(
        dim=64,
        nprobe=_NPROBE,
        topk=_TOPK,
        query_vec_id=_QVEC_ID,
        exact_k=_TOPK,
        fit_where=f"NOT ({_BATCH_WHERE})",
        **_IVFPQ,
    ),
)
def _ann_topk_ivfpq_incremental(spark, t):
    # Incremental maintenance: the corpus (vec_id % 10 != 7) builds
    # the model + index once; the daily batch is encoded against the
    # FROZEN centroids/codebooks (ivfpq_encode_batch — one broadcast,
    # no re-clustering) and appended. The probe then runs over the
    # appended index. The oracle fits k-means + PQ on the corpus
    # subset only (fit_where) but encodes and probes everything — so
    # any leakage of batch rows into training moves the centroids and
    # hash-fails, exactly the semdedup_incremental proof shape.
    emb = t["embeddings"]
    corpus = emb.filter(~F.expr(_BATCH_WHERE))
    batch = emb.filter(F.expr(_BATCH_WHERE))
    cents, books, corpus_index = ivfpq_build(corpus, **_IVFPQ)
    appended = corpus_index.unionByName(
        ivfpq_encode_batch(batch, cents, books, m=_IVFPQ["m"])
    )
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == _QVEC_ID).head()["embedding"]
    ]
    top = ivfpq_topk(appended, cents, books, q, nprobe=_NPROBE, topk=_TOPK)
    return _ranked_probe(top, _exact_topk_flags(emb, q, _TOPK))


@query(
    "text_kn_bigram_prob",
    r"""
    WITH t AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents
    ),
    bg AS (
        SELECT toks[i] AS w1, toks[i + 1] AS w2
        FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
        WHERE toks[i] != '' AND toks[i + 1] != ''
    ),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
                  count(*) AS n1p FROM c12 GROUP BY w1),
    cont AS (SELECT w2, count(*) AS cont FROM c12 GROUP BY w2),
    ty AS (SELECT count(*) AS n_types FROM c12)
    SELECT w1, w2, c12.c12 AS c_bigram, c1.c1 AS c_left,
           ((CAST(c12.c12 AS DOUBLE) - 0.75) / CAST(c1.c1 AS DOUBLE))
           + (((0.75 * CAST(c1.n1p AS DOUBLE)) / CAST(c1.c1 AS DOUBLE))
              * (CAST(cont.cont AS DOUBLE) / CAST(ty.n_types AS DOUBLE)))
               AS kn_prob
    FROM c12 JOIN c1 USING (w1) JOIN cont USING (w2) CROSS JOIN ty
    ORDER BY kn_prob DESC, w1, w2
    LIMIT 30
    """,
)
def _text_kn_bigram_prob(spark, t):
    # Interpolated Kneser-Ney bigram probability (Kneser & Ney 1995;
    # Chen & Goodman 1998), standard D = 0.75:
    #   P(w2|w1) = (c(w1,w2) − D)/c(w1)
    #            + (D·N1+(w1,·)/c(w1)) · (N1+(·,w2)/N1+(··))
    # Every count is an exact integer aggregate (order-free under any
    # shuffle); the smoothing is ONE shared float expression evaluated
    # in the same op order on both engines, so doubles are
    # bit-identical (the linear-idf discipline). Observed bigrams only
    # (c12 ≥ 1 > D), so no max(·,0) branch is needed. Three shuffles:
    # bigram-grain count, then two tiny joins back (w1-grain, w2-grain)
    # + a broadcast 1-row type count — the tf-idf join-back shape.
    bg = _doc_bigrams(t["documents"])
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1p")
    )
    cont = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("cont"))
    types = c12.select(F.count(F.lit(1)).alias("n_types"))
    kn = (
        (F.col("c12").cast("double") - F.lit(0.75))
        / F.col("c1").cast("double")
    ) + (
        (
            (F.lit(0.75) * F.col("n1p").cast("double"))
            / F.col("c1").cast("double")
        )
        * (F.col("cont").cast("double") / F.col("n_types").cast("double"))
    )
    return (
        c12.join(c1, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types))
        .select(
            "w1",
            "w2",
            F.col("c12").alias("c_bigram"),
            F.col("c1").alias("c_left"),
            kn.alias("kn_prob"),
        )
        .orderBy(F.desc("kn_prob"), "w1", "w2")
        .limit(30)
    )


@query(
    "semdedup_survivors",
    f"""
    WITH RECURSIVE pairs AS (
        SELECT vec_a, vec_b FROM ( {semdedup_oracle_sql(**_SEMDEDUP)} ) q
    ),
    edges AS (
        SELECT vec_a AS src, vec_b AS dst FROM pairs
        UNION
        SELECT vec_b, vec_a FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node
    ),
    comp AS (SELECT node, CAST(MIN(lbl) AS BIGINT) AS component
             FROM reach GROUP BY node),
    sizes AS (SELECT component, count(*) AS comp_size
              FROM comp GROUP BY component),
    surv AS (
        SELECT e.vec_id, e.label,
               COALESCE(c.component, e.vec_id) AS component,
               COALESCE(s.comp_size, 1) AS comp_size
        FROM embeddings e
        LEFT JOIN comp c ON c.node = e.vec_id
        LEFT JOIN sizes s ON s.component = COALESCE(c.component, e.vec_id)
        WHERE e.vec_id NOT IN
              (SELECT node FROM comp WHERE node != component)
    ),
    tot AS (SELECT label, count(*) AS label_total
            FROM embeddings GROUP BY label),
    kept AS (SELECT label, count(*) AS label_kept FROM surv GROUP BY label)
    SELECT surv.vec_id, surv.label, surv.component, surv.comp_size,
           tot.label_total, kept.label_kept
    FROM surv JOIN tot USING (label) JOIN kept USING (label)
    ORDER BY vec_id
    """,
)
def _semdedup_survivors(spark, t):
    # The SemDeDup KEEP policy end-to-end: semantic pairs → transitive
    # closure → drop every non-exemplar (node != component min) → the
    # SURVIVING corpus, each row carrying its component, component
    # size, and per-label savings (label_kept of label_total) — the
    # semantic sibling of docs_dedup_savings_by_source. The survivor
    # SET rides the hash compare (VERDICT r8 #7's done criterion):
    # a closure bug that drops the wrong exemplar changes rows, not
    # just counts. Scale shape: closure runs on the pair edges only
    # (O(log n) star rounds); the final anti-join + two label-grain
    # broadcasts are corpus-linear.
    emb = t["embeddings"].select("vec_id", "label")
    pairs = semdedup_pairs(t["embeddings"], **_SEMDEDUP).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    comp = connected_components(pairs)  # (node, comp)
    dropped = comp.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("vec_id")
    )
    sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("comp_size"))
    surv = (
        emb.join(dropped, "vec_id", "left_anti")
        .join(
            comp.withColumnRenamed("node", "vec_id"), "vec_id", "left"
        )
        .withColumn("component", F.coalesce("comp", "vec_id"))
        .join(
            sizes.withColumnRenamed("comp", "component"),
            "component",
            "left",
        )
        .withColumn("comp_size", F.coalesce("comp_size", F.lit(1)))
        .select("vec_id", "label", "component", "comp_size")
    )
    tot = emb.groupBy("label").agg(F.count(F.lit(1)).alias("label_total"))
    kept = surv.groupBy("label").agg(F.count(F.lit(1)).alias("label_kept"))
    return (
        surv.join(F.broadcast(tot), "label")
        .join(F.broadcast(kept), "label")
        .select(
            "vec_id",
            "label",
            "component",
            "comp_size",
            "label_total",
            "label_kept",
        )
        .orderBy("vec_id")
    )
