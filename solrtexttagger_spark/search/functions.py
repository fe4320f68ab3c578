"""Solr function queries on the ranking path — ``bf=`` (additive boost
function, dismax) and ``boost=`` (multiplicative, edismax).

Reference surface: Solr ranks with `score = bm25 + bf_value` under
dismax's ``bf=log(popularity)`` and `score = bm25 * boost_value` under
edismax's ``boost=...`` — the standard way a corpus signal
(popularity, recency, quality) joins textual relevance without
re-indexing. Function values come from document fields at query time.

Spark-first shape: the function is ONE Catalyst SQL expression over the
corpus columns (``F.expr`` — stays in whole-stage codegen, never a
Python UDF), computed only after the corpus projects down to
(doc_id, referenced columns); it joins the exploded scoring relation on
doc_id and folds into the score BEFORE the rank window, so pagination,
fq and tie-breaks behave exactly like the unboosted scorer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from solrtexttagger_spark.index.build import InvertedIndex, seg_of
from solrtexttagger_spark.plans import array_lit, local_frame
from solrtexttagger_spark.search.bm25 import (
    B,
    K1,
    analyze_query_terms,
    entry_scores,
    join_query_terms,
)


def boosted_topk(
    index: InvertedIndex,
    docs_df: DataFrame,
    queries,
    *,
    bf: str | None = None,
    boost: str | None = None,
    k: int = 10,
    k1: float = K1,
    b: float = B,
    start: int = 0,
    allowed_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    spark: SparkSession | None = None,
) -> DataFrame:
    """Top-k under Solr function-query boosting:

        final = (bm25 + bf_expr) * boost_expr

    ``bf`` is the additive function (Solr dismax ``bf=``; omitted = +0),
    ``boost`` the multiplicative one (edismax ``boost=``; omitted = x1) —
    both SQL expression strings over ``docs_df`` columns (e.g.
    ``"log(1 + views)"``, ``"recip(ms(NOW,date),...)"`` spelled in Spark
    SQL). A NULL function value coalesces to the identity (0 / 1) —
    Solr's missing-field behavior for numeric function sources.

    Returns (query_id, rank, doc_id, score, bm25) — ``score`` is the
    boosted value the rank window ordered by ((score desc, doc_id asc)
    deterministic tie-break, start/k pagination like bm25_topk);
    ``bm25`` carries the unboosted relevance for debugging/explain, as
    Solr's debugQuery shows both components. ``allowed_docs`` is fq."""
    if bf is None and boost is None:
        raise ValueError("boosted_topk needs bf= and/or boost= (else use "
                         "bm25_topk)")
    scores = entry_scores(index, queries, k1=k1, b=b, allowed_docs=allowed_docs)
    cols = [F.col(id_col).alias("doc_id")]
    if bf is not None:
        cols.append(F.expr(bf).cast("double").alias("__bf"))
    if boost is not None:
        cols.append(F.expr(boost).cast("double").alias("__boost"))
    funcs = docs_df.select(*cols)
    joined = scores.withColumnRenamed("score", "bm25").join(funcs, "doc_id")
    add = F.coalesce(F.col("__bf"), F.lit(0.0)) if bf is not None else F.lit(0.0)
    mul = (
        F.coalesce(F.col("__boost"), F.lit(1.0))
        if boost is not None
        else F.lit(1.0)
    )
    boosted = joined.withColumn("score", (F.col("bm25") + add) * mul)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        boosted.withColumn("rank", F.row_number().over(w).cast("long"))
        .where((F.col("rank") > start) & (F.col("rank") <= start + k))
        .select("query_id", "rank", "doc_id", "score", "bm25")
    )


def explain_scores(
    index: InvertedIndex,
    queries,
    doc_ids: list[int],
    *,
    k1: float = K1,
    b: float = B,
    spark: SparkSession | None = None,
) -> DataFrame:
    """Solr ``debugQuery=true`` explain: the per-term score breakdown of
    specific documents under specific queries. Returns one row per
    (query, doc, matched term):

      (query_id, doc_id, term, tf, df, idf, tf_norm, qtf, contribution)

    with ``contribution = idf * tf_norm * qtf`` and
    ``sum(contribution) over (query_id, doc_id)`` equal to the scorer's
    BM25 score bit-for-bit (same expressions as bm25.exploded_scores —
    one formula, two projections).

    Scale shape mirrors /tvrh (search/termvectors.py): the requested
    docs' segments are computed with the build's own hash and semi-join
    postings BEFORE the explode, so explaining k docs touches <= k
    segments of the index regardless of corpus size. df stays GLOBAL:
    bm25.global_df reads it over all of a term's segment rows, not the
    pruned ones."""
    spark = spark or index.postings.sparkSession
    n = float(index.doc_count)
    avgdl = float(index.avgdl) if index.avgdl else 1.0
    ids_df = local_frame(
        spark, [(int(i),) for i in sorted(set(doc_ids))], "doc_id long"
    ).withColumn("seg", seg_of(index.num_segments))
    pruned = index.postings.join(
        F.broadcast(ids_df.select("seg").distinct()), "seg", "left_semi"
    )
    qrows = [
        (t, int(qid), int(qtf))
        for qid, q in queries
        for t, qtf in sorted(analyze_query_terms(q).items())
    ]
    ex = (
        join_query_terms(
            index, pruned, qrows, "term string, query_id long, qtf int"
        )
        # array-literal prefilter BEFORE the Generate (same shape as
        # termvectors.term_vectors): explaining k docs generates O(k)
        # rows per shard, never O(segment)
        .withColumn(
            "postings",
            F.filter(
                "postings",
                lambda p: F.array_contains(
                    array_lit(sorted({int(i) for i in doc_ids})), p["doc_id"]
                ),
            ),
        )
        .where(F.size("postings") > 0)
        .select(
            "query_id", "term", "qtf",
            F.col("df").cast("double").alias("df"),
            F.explode("postings").alias("p"),
        )
    )
    tf = F.col("p.tf").cast("double")
    dl = F.col("p.dl").cast("double")
    idf = F.log(
        F.lit(1.0) + (F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_norm = (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
    return ex.select(
        "query_id",
        F.col("p.doc_id").alias("doc_id"),
        "term",
        F.col("p.tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        idf.alias("idf"),
        tf_norm.alias("tf_norm"),
        F.col("qtf").cast("double").alias("qtf"),
        (idf * tf_norm * F.col("qtf").cast("double")).alias("contribution"),
    )


def rerank_topk(
    ranked: DataFrame,
    docs_df: DataFrame,
    rq_expr: str,
    *,
    rerank_docs: int = 10,
    weight: float = 1.0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Solr ReRankQParser (``rq={!rerank reRankQuery=... reRankDocs=N
    reRankWeight=w}``): rescore only the TOP-N of a first-pass ranking
    with a second signal — the two-phase retrieval shape every
    LTR/cross-encoder stack uses (cheap recall pass, expensive precision
    pass over a bounded candidate set).

    ``ranked``: any (query_id, rank, doc_id, score) relation
    (bm25_topk / wand_topk / boolean_bm25_topk output). ``rq_expr``: a
    SQL expression over ``docs_df`` columns (the second-pass model
    score; NULL -> +0). Exactly Solr's combination: reranked docs score
    ``first + w * rq`` and re-sort AMONG THEMSELVES in the first N
    positions; docs beyond reRankDocs keep their first-pass order and
    positions. One join + one window over <= N rows per query — the
    corpus is never rescanned."""
    head = ranked.where(F.col("rank") <= rerank_docs)
    vals = docs_df.select(
        F.col(id_col).alias("doc_id"),
        F.expr(rq_expr).cast("double").alias("__rq"),
    )
    head = (
        # the semi-join's build side (candidate ids, <= N per query) is
        # hinted explicitly like the outer join — don't rely on AQE
        head.join(F.broadcast(vals.join(
            F.broadcast(head.select("doc_id").distinct()),
            "doc_id", "left_semi",
        )), "doc_id", "left")
        .withColumn(
            "score",
            F.col("score") + weight * F.coalesce(F.col("__rq"), F.lit(0.0)),
        )
        .drop("__rq")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    head = head.withColumn("rank", F.row_number().over(w2).cast("long"))
    tail = ranked.where(F.col("rank") > rerank_docs)
    return head.unionByName(tail).select(
        "query_id", "rank", "doc_id", "score"
    )
