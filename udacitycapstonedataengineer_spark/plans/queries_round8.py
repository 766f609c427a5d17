"""Round-8 query group.

- ann_topk_ivfpq — the composed IVF-PQ index (operators/ivfpq.py)
  registered as an oracled query (VERDICT r7 #3): the DuckDB twin
  replays the ENTIRE build — coarse k-means, residuals, grouped PQ
  training, encoding — plus nprobe=2 probing, per-cell ADC, and an
  exact-L2 recall contract column, all hash-compared bit-for-bit.
- text_bm25_indexed_topk — BM25 served from the standing postings
  index (operators/retrieval.py, VERDICT r7 #4), oracled by the SAME
  SQL as the scan-shaped ``text_bm25_linear_topk``: the driver gate
  itself proves index-serving ≡ corpus-scan.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.clustering import double_array
from ..operators.ivfpq import (
    ivfpq_build,
    ivfpq_oracle_sql,
    ivfpq_refined_oracle_sql,
    ivfpq_topk,
    ivfpq_topk_refined,
)
from ..operators.retrieval import bm25_search_topk, build_bm25_index
from .registry import ORACLE, query

_IVFPQ = dict(nlist=8, m=8, k=16, iters=2)
_QVEC_ID, _NPROBE, _TOPK = 7, 2, 10


@query(
    "ann_topk_ivfpq",
    ivfpq_oracle_sql(
        dim=64,
        nprobe=_NPROBE,
        topk=_TOPK,
        query_vec_id=_QVEC_ID,
        exact_k=_TOPK,
        **_IVFPQ,
    ),
)
def _ann_topk_ivfpq(spark, t):
    # The billion-scale composed index end-to-end: coarse cells ×
    # PQ residual codes, nprobe=2 cell probe (the operator docstring's
    # promise — ann_topk_ivf only exercises one cell), per-cell ADC,
    # and in_exact_topk = membership in the EXACT L2 top-10 — the
    # recall contract rides the hash compare, so a quantizer bug that
    # degrades recall flips booleans and fails the driver gate. Build
    # is bit-reproducible (RNG-free seeds, fixed-point updates), which
    # is what makes a full-pipeline DuckDB replay possible at all.
    # Driver collects are bounded: nlist coarse centroids, m×k
    # codebook rows, the 1-row query vector.
    emb = t["embeddings"]
    cents, books, index = ivfpq_build(emb, **_IVFPQ)
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == _QVEC_ID).head()["embedding"]
    ]
    top = ivfpq_topk(
        index, cents, books, q, nprobe=_NPROBE, topk=_TOPK
    )
    qlit = double_array(q)
    exact = (
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
        .limit(_TOPK)
        .select("vec_id", F.lit(True).alias("in_exact_topk"))
    )
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
    "ann_topk_ivfpq_refined",
    ivfpq_refined_oracle_sql(
        dim=64,
        nprobe=_NPROBE,
        rerank=50,
        topk=_TOPK,
        query_vec_id=_QVEC_ID,
        **_IVFPQ,
    ),
)
def _ann_topk_ivfpq_refined(spark, t):
    # FAISS's refine stage on the same index: ADC shortlists 50
    # candidates from the probed cells (codes only), the original
    # vectors of JUST those 50 are exact-L2 re-ranked — the pattern
    # that recovers compression-lost recall at O(rerank·dim) cost.
    # The oracle replays build + shortlist + re-rank bit-for-bit.
    emb = t["embeddings"]
    cents, books, index = ivfpq_build(emb, **_IVFPQ)
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == _QVEC_ID).head()["embedding"]
    ]
    top = ivfpq_topk_refined(
        index, cents, books, emb, q, nprobe=_NPROBE, rerank=50, topk=_TOPK
    )
    w = Window.orderBy("dist2", "vec_id")
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("vec_id", "dist2", "rank")
        .orderBy("rank")
    )


@query("text_bm25_indexed_topk", ORACLE["text_bm25_linear_topk"])
def _text_bm25_indexed_topk(spark, t):
    # The standing-index BM25 serving path under the SAME oracle as
    # the scan twin: build_bm25_index pays the one corpus tokenize,
    # bm25_search_topk then touches only postings (term isin filter →
    # pushed predicate, broadcast df/stats, fixed-fold term sum) —
    # O(postings-of-terms) per query at 100 TB, not O(corpus).
    postings, stats = build_bm25_index(t["documents"])
    return bm25_search_topk(
        postings, stats, ["join", "vector", "stream"], k=15
    )


from ..operators.semdedup import (  # noqa: E402
    semdedup_incremental_oracle_sql,
    semdedup_incremental_pairs,
    semdedup_oracle_sql,
    semdedup_pairs,
)

_SEMDEDUP = dict(k=8, iters=2, dim=64, threshold=0.2)


@query("semdedup_pairs", semdedup_oracle_sql(**_SEMDEDUP))
def _semdedup_pairs(spark, t):
    # SemDeDup (Abbas et al. 2023): cluster embeddings with the
    # deterministic k-means, compare pairs only WITHIN cells — the
    # linear-time candidate restriction that makes semantic dedup
    # feasible at web scale (vs all-pairs cosine). The oracle replays
    # the unrolled k-means AND the pair cosine bit-for-bit.
    return semdedup_pairs(t["embeddings"], **_SEMDEDUP)


@query(
    "semdedup_clusters",
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
    )
    SELECT node AS vec_id, CAST(MIN(lbl) AS BIGINT) AS component
    FROM reach GROUP BY node ORDER BY vec_id
    """,
)
def _semdedup_clusters(spark, t):
    # the full SemDeDup KEEP policy: transitive closure over the
    # within-cell cosine pairs — keep one exemplar (min vec_id) per
    # component, exactly the dedup_clusters composition with semantic
    # edges instead of MinHash edges. Spark runs the same
    # connected-components operator; DuckDB replays k-means + pair
    # cosine + a recursive-CTE reachability closure.
    from ..operators.graph import connected_components

    pairs = semdedup_pairs(t["embeddings"], **_SEMDEDUP).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    return (
        connected_components(pairs)
        .select(
            F.col("node").alias("vec_id"), F.col("comp").alias("component")
        )
        .orderBy("vec_id")
    )


_NEW_BATCH_WHERE = "vec_id % 10 = 7"


@query(
    "semdedup_incremental_pairs",
    semdedup_incremental_oracle_sql(_NEW_BATCH_WHERE, **_SEMDEDUP),
)
def _semdedup_incremental_pairs(spark, t):
    # The incremental twin: centroids fitted on the CORPUS only, the
    # new batch (vec_id % 10 = 7 — a daily-ingest stand-in) assigned
    # to the standing cells and compared against corpus members of the
    # same cell. The oracle re-fits k-means on the corpus subset and
    # replays both assignments — proving the model is genuinely
    # corpus-only (training on the union would move centroids and
    # hash-fail).
    emb = t["embeddings"]
    new_batch = emb.filter(F.expr(_NEW_BATCH_WHERE))
    corpus = emb.filter(~F.expr(_NEW_BATCH_WHERE))
    return semdedup_incremental_pairs(corpus, new_batch, **_SEMDEDUP)


def _doc_bigrams(docs):
    """(doc_id, w1, w2): adjacent lowercased whitespace-token pairs —
    shared by the KN-continuation and OOV-rate queries. 1-based
    element_at ≡ DuckDB list indexing."""
    return (
        docs.select(
            "doc_id",
            F.expr(r"split(lower(trim(text)), '\\s+')").alias("toks"),
        )
        .filter(F.expr("size(toks) >= 2"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), i -> "
                    "struct(element_at(toks, i) AS w1, "
                    "element_at(toks, i + 1) AS w2))"
                )
            ).alias("bg"),
        )
        .select(
            "doc_id",
            F.col("bg.w1").alias("w1"),
            F.col("bg.w2").alias("w2"),
        )
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )


@query(
    "docs_oov_bigram_rate",
    r"""
    WITH t AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents
    ),
    bg AS (
        SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
        WHERE toks[i] != '' AND toks[i + 1] != ''
    ),
    cnt AS (SELECT w1, w2, count(*) AS n FROM bg GROUP BY 1, 2),
    per_doc AS (
        SELECT bg.doc_id,
               count(*) AS n_bigrams,
               CAST(SUM(CASE WHEN cnt.n <= 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_rare
        FROM bg JOIN cnt USING (w1, w2)
        GROUP BY bg.doc_id
    )
    SELECT doc_id, n_bigrams, n_rare,
           CAST(n_rare AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS rare_rate
    FROM per_doc
    ORDER BY rare_rate DESC, doc_id
    LIMIT 25
    """,
)
def _docs_oov_bigram_rate(spark, t):
    # Rare-bigram (OOV-ish) rate per document — the cheap corpus-
    # statistics proxy for LM-surprisal quality filters: documents
    # whose adjacent-word pairs are mostly corpus-rare are boilerplate,
    # mangled text, or junk. All counting is exact integers (order-
    # free under any shuffle); the single terminal division is one
    # double op per row, so the output hash-matches. Two shuffles:
    # bigram-grain count, then doc-grain aggregate over the joined
    # counts (the same join-back shape as tf-idf).
    bg = _doc_bigrams(t["documents"])
    cnt = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    per_doc = (
        bg.join(cnt, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(
                F.when(F.col("n") <= 2, 1).otherwise(0)
            ).cast("long").alias("n_rare"),
        )
    )
    return (
        per_doc.select(
            "doc_id",
            "n_bigrams",
            "n_rare",
            (
                F.col("n_rare").cast("double")
                / F.col("n_bigrams").cast("double")
            ).alias("rare_rate"),
        )
        .orderBy(F.desc("rare_rate"), "doc_id")
        .limit(25)
    )



@query(
    "text_kn_continuation_counts",
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
    )
    SELECT w2 AS word,
           COUNT(DISTINCT w1) AS continuation_count,
           COUNT(*) AS n_occurrences
    FROM bg GROUP BY w2
    ORDER BY continuation_count DESC, n_occurrences DESC, word
    LIMIT 20
    """,
)
def _text_kn_continuation_counts(spark, t):
    # Kneser-Ney continuation counts — the statistic KN smoothing
    # replaces raw unigram counts with: how many DISTINCT left
    # contexts a word follows (|{w1 : c(w1,w) > 0}|). The canonical
    # n-gram-LM training input over a corpus; one bigram explode, one
    # word-grain aggregate (count_distinct + count in the same job),
    # TakeOrdered top-20 with a full deterministic tie-break.
    bigrams = _doc_bigrams(t["documents"])  # doc_id pruned by Catalyst
    return (
        bigrams.groupBy(F.col("w2").alias("word"))
        .agg(
            F.count_distinct("w1").alias("continuation_count"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .orderBy(
            F.desc("continuation_count"), F.desc("n_occurrences"), "word"
        )
        .limit(20)
    )
