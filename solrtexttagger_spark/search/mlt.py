"""More-Like-This — given source documents, find the most similar other
documents. The reference's stack exposes this as Solr's MoreLikeThis
handler (another delegated-to-Lucene black box, SURVEY.md §2.4); owned
natively here as a two-stage composition of existing operators:

  1. representative terms: each probe doc's top-``n_terms`` TF-IDF
     keywords — tf from the PROBE DOCS ONLY (the probe-id filter is pushed
     into the corpus scan, so Parquet prunes to ~|probes| rows), df/N from
     the inverted index's own statistics (``postings.df_seg`` summed per
     term / ``doc_count``). Like the reference's MLT handler, which reads
     the probes' term vectors and the index's docFreq, NO corpus-wide
     tokenize pass happens: the only corpus-scale touch is a postings scan
     pruned to the probes' vocabulary via a broadcast join.
     Score = tf * ln(N / df) rounded to 4 (the rounding both engines agree
     on), ties broken by term ascending — identical keyword choice to
     ops/textqa.tfidf_keywords run corpus-wide.
  2. retrieval: those terms form a per-probe query (qtf=1 per term,
     Lucene MLT's default boost-by-interestingness is intentionally
     simplified to unweighted terms for cross-engine determinism) scored
     with BM25 over the inverted index, excluding the probe itself.

Probe tokenization goes through index.build.doc_term_rows with the SAME
``lowercase``/``use_split`` flags as the index build, so probe terms are
normalized exactly like the indexed terms (a raw-split probe term like
'Boston,' against a tokenized+lowercased index would silently match
nothing). CONTRACT: ``docs_df`` must be the corpus the index was built
from with matching analysis flags — then every probe term exists in the
index and the df inner-join is lossless.

Probe term sets are tiny (|probes| x n_terms) and collected to the
driver — the retrieval stage then runs the standard broadcast-join BM25
plan, so corpus-side cost is identical to bm25_topk."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from solrtexttagger_spark.index.build import InvertedIndex, doc_term_rows
from solrtexttagger_spark.plans import local_frame
from solrtexttagger_spark.search.bm25 import _RANKED_SCHEMA, B, K1, bm25_topk


def mlt_probe_terms(
    index: InvertedIndex,
    docs_df: DataFrame,
    probe_doc_ids: list[int],
    *,
    n_terms: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
    use_split: bool = False,
) -> DataFrame:
    """-> (doc_id, rank, term): each probe's top-``n_terms`` TF-IDF terms.

    Exposed as a DataFrame (pre-collect) so tests can pin the physical
    plan: the probe-id filter must reach the documents scan (PushedFilters)
    and there must be no corpus-wide tokenize stage."""
    probes = [int(p) for p in probe_doc_ids]
    probe_docs = docs_df.where(F.col(id_col).isin(probes)).select(
        F.col(id_col).alias("doc_id"), F.col(text_col)
    )
    ptok = doc_term_rows(
        probe_docs,
        text_col=text_col,
        doc_id_col="doc_id",
        lowercase=lowercase,
        use_split=use_split,
    ).select("doc_id", "term", "tf")
    # df for exactly the probes' vocabulary: broadcast the tiny term set
    # into the postings scan (no full-vocabulary aggregate, no broadcast of
    # anything vocabulary-sized). Inner join is lossless under the contract
    # above (the probe doc itself is indexed, so df >= 1 for its terms).
    dfreq = (
        index.postings.join(F.broadcast(ptok.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.sum("df_seg").alias("df"))
    )
    n = float(index.doc_count)
    tfidf = F.round(
        F.col("tf").cast("double") * F.log(F.lit(n) / F.col("df").cast("double")),
        4,
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        ptok.join(dfreq, "term")
        .withColumn("tfidf", tfidf)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= n_terms)
        .select("doc_id", "rank", "term")
    )


def more_like_this(
    index: InvertedIndex,
    docs_df: DataFrame,
    probe_doc_ids: list[int],
    *,
    n_terms: int = 5,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
    lowercase: bool = True,
    use_split: bool = False,
    spark: SparkSession | None = None,
) -> DataFrame:
    """-> (query_id=probe doc_id, rank, doc_id, score) — the k most
    BM25-similar OTHER documents per probe, via the probe's top TF-IDF
    terms. ``lowercase``/``use_split`` must mirror the index build (see
    module docstring). Deterministic end to end."""
    spark = spark or docs_df.sparkSession
    probes = [int(p) for p in probe_doc_ids]
    if not probes:
        return local_frame(spark, [], _RANKED_SCHEMA)
    keywords = mlt_probe_terms(
        index,
        docs_df,
        probes,
        n_terms=n_terms,
        text_col=text_col,
        id_col=id_col,
        lowercase=lowercase,
        use_split=use_split,
    ).collect()
    qdf_rows = [(int(r["doc_id"]), r["term"], 1) for r in keywords]
    if not qdf_rows:
        return local_frame(spark, [], _RANKED_SCHEMA)
    qdf = local_frame(spark, qdf_rows, "query_id long, term string, qtf int")
    # rank one deeper, then drop self-matches and re-rank: the probe doc
    # almost always tops its own term query
    topk = bm25_topk(index, qdf, k=k + 1, k1=k1, b=b, spark=spark, strategy="exploded")
    others = topk.where(F.col("doc_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        others.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
