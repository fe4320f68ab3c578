"""Solr /select components: StatsComponent (stats.field) and
QueryElevationComponent — two more features of the reference's delegated
SearchHandler (SURVEY.md §2.4 D1), re-expressed Spark-first over the
shared match-set / exploded-scoring relations.

- stats_field: `stats=true&stats.field=f` — numeric summary statistics
  over the FULL match set (not the page), fq-aware like faceting. One
  semi-join on the narrow distinct match ids + one aggregate; every
  stat is a built-in JVM aggregate (count/min/max/sum/avg/stddev_samp —
  Solr's stddev is the sample form too).
- elevated_topk: `elevateIds=` — editorially pinned documents take the
  head ranks in the order given (Solr's QueryElevationComponent includes
  elevated docs whether or not they match the query; a non-matching
  elevated doc carries score 0.0 here), the organic tail follows by
  (score desc, doc_id asc). One full-outer join of the tiny elevation
  relation into the scoring relation, then the ordinary rank window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from solrtexttagger_spark.index.build import InvertedIndex
from solrtexttagger_spark.plans import local_frame
from solrtexttagger_spark.search.bm25 import (
    B,
    K1,
    bag_match_set,
    entry_scores,
)


def stats_field(
    index: InvertedIndex,
    docs_df: DataFrame,
    query: str,
    col: str,
    *,
    id_col: str = "doc_id",
    allowed_docs: DataFrame | None = None,
    round_to: int = 4,
    spark: SparkSession | None = None,
) -> DataFrame:
    """Solr stats.field over the query's match set (>= 1 term, under
    fq): one row (n, missing, min_v, max_v, sum_v, mean_v, stddev_v).
    ``missing`` counts matched docs whose field is NULL (Solr's missing
    stat); stddev is the sample standard deviation (Solr semantics)."""
    spark = spark or docs_df.sparkSession
    matched = bag_match_set(
        index, query, allowed_docs=allowed_docs, id_col=id_col
    )
    schema = (
        "n long, missing long, min_v double, max_v double, sum_v double,"
        " mean_v double, stddev_v double"
    )
    if matched is None:
        return local_frame(spark, [], schema)
    v = F.col(col).cast("double")
    return docs_df.join(matched, id_col).agg(
        F.count(v).cast("long").alias("n"),
        (F.count("*") - F.count(v)).cast("long").alias("missing"),
        F.round(F.min(v), round_to).alias("min_v"),
        F.round(F.max(v), round_to).alias("max_v"),
        F.round(F.sum(v), round_to).alias("sum_v"),
        F.round(F.avg(v), round_to).alias("mean_v"),
        F.round(F.stddev_samp(v), round_to).alias("stddev_v"),
    )


def elevated_topk(
    index: InvertedIndex,
    queries,
    elevations: dict[int, list[int]],
    *,
    k: int = 10,
    k1: float = K1,
    b: float = B,
    allowed_docs: DataFrame | None = None,
    spark: SparkSession | None = None,
) -> DataFrame:
    """Query elevation: per query, the docs in ``elevations[qid]`` take
    ranks 1..m in the GIVEN order (included even when they do not match
    the query — score 0.0 then, Solr's include-regardless default); the
    organic results follow by (score desc, doc_id asc). An elevated doc
    that also matches keeps its true BM25 score at its pinned rank.
    Returns (query_id, rank, doc_id, score, elevated)."""
    spark = spark or index.postings.sparkSession
    scores = entry_scores(index, queries, k1=k1, b=b, allowed_docs=allowed_docs)
    rows = [
        (int(qid), int(d), pos)
        for qid, ids in elevations.items()
        for pos, d in enumerate(ids)
    ]
    elev = local_frame(spark, rows, "query_id long, doc_id long, pos int")
    joined = scores.join(elev, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        F.coalesce(F.col("score"), F.lit(0.0)).alias("score"),
        "pos",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.when(F.col("pos").isNotNull(), 0).otherwise(1).asc(),
        F.coalesce(F.col("pos"), F.lit(0)).asc(),
        F.col("score").desc(),
        F.col("doc_id").asc(),
    )
    return (
        joined.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "rank", "doc_id", "score",
            F.col("pos").isNotNull().alias("elevated"),
        )
    )
