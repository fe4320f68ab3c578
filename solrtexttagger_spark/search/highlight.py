"""Snippet highlighting — best token window around query-term hits for
top-k search results (the Lucene Highlighter feature of the reference's
delegated `/select` stack, SURVEY.md §2.4 D1/D4, re-expressed Spark-first).

Physical shape: the top-k result (q x k rows — tiny) broadcasts against
the corpus, so the big side is scanned once with no shuffle; the best
window is found with JVM higher-order array functions (filter/transform/
aggregate — whole-stage codegen, no Python):

  hits    = token positions whose word is a query term
  score(p)= number of hits inside [p, p+window)   for each hit p
  start   = the FIRST hit position attaining the max score
  snippet = words[start : start+window] joined

Deterministic (first-max tie-break), and mirrorable in SQL, so the driver
oracle checks it end-to-end. Works on whitespace-clean text (the same
contract as use_split index builds); markup-laden text should be offset-
corrected first (tagging/offsets)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from solrtexttagger_spark.index.build import InvertedIndex
from solrtexttagger_spark.plans import array_lit
from solrtexttagger_spark.search.bm25 import B, K1, analyze_query_terms, bm25_topk


def snippets(
    index: InvertedIndex,
    docs_df: DataFrame,
    queries: list[tuple[int, str]],
    *,
    k: int = 10,
    window: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
    spark: SparkSession | None = None,
    topk: DataFrame | None = None,
) -> DataFrame:
    """Top-k BM25 with a highlight snippet per hit. Returns
    (query_id, rank, doc_id, score, snippet_start, snippet) where
    snippet_start is the 0-based token offset of the chosen window.
    Pass ``topk`` to reuse an already-computed ranking (must carry
    query_id/rank/doc_id/score)."""
    spark = spark or docs_df.sparkSession
    if topk is None:
        topk = bm25_topk(index, queries, k=k, k1=k1, b=b, spark=spark)
    qmap = F.create_map(
        *[
            x
            for qid, q in queries
            for x in (
                F.lit(int(qid)),
                array_lit(sorted(analyze_query_terms(q)), "string"),
            )
        ]
    )
    joined = docs_df.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("w")
    ).join(F.broadcast(topk), "doc_id")
    qts = qmap[F.col("query_id")]
    # hit test is case-folded (query terms come out of analyze_query_terms
    # lowercased) so a doc matching only via case folding still highlights;
    # the rendered snippet keeps the original casing
    hits = F.filter(
        F.sequence(F.lit(0), F.size("w") - 1),
        lambda i: F.array_contains(qts, F.lower(F.element_at(F.col("w"), i + 1))),
    )
    with_hits = joined.withColumn("hits", hits)
    wscores = F.transform(
        F.col("hits"),
        lambda p: F.size(
            F.filter(F.col("hits"), lambda h: (h >= p) & (h < p + window))
        ),
    )
    start = F.element_at(
        F.col("hits"), F.array_position(wscores, F.array_max(wscores)).cast("int")
    )
    out = with_hits.withColumn("snippet_start", start.cast("long")).withColumn(
        "snippet",
        F.concat_ws(" ", F.slice(F.col("w"), F.col("snippet_start") + 1, window)),
    )
    return out.select(
        "query_id", "rank", "doc_id", "score", "snippet_start", "snippet"
    )
