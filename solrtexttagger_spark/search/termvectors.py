"""Solr TermVectorComponent (/tvrh) — per-document term vectors served
from the inverted index itself.

Reference surface: Solr's /tvrh handler returns, for each requested
document, its terms with tf, positions, df and tf-idf (Lucene term
vectors are a stored per-doc mini-index; the reference's stack enables
them via schema.xml termVectors="true"). Here the SEGMENTED postings
already contain every (term, doc, tf, positions) fact, so term vectors
are a read path, not a second stored structure:

  ids -> seg = pmod(xxhash64(doc_id), S)   (the build's own hash,
         computed as a Catalyst expression on a literal ids frame — no
         driver-side hash reimplementation to drift)
      -> broadcast SEMI-join postings on seg   (prunes the scan to the
         |segs(ids)| / S fraction of the index — the dominant win: a
         /tvrh request for k docs touches <= k segments regardless of
         corpus size)
      -> prefilter each shard's postings ARRAY to the requested ids
         (one shared array literal, the maintenance.expunge trick) and
         drop shards whose filtered array is empty — the Generate
         (explode) then emits O(|ids|) rows per shard, never
         O(segment): at the 100 TB design point one segment is
         corpus/S, and exploding it to serve a 5-doc request is a
         serving-path scale-killer (round-7 verdict #1)
      -> explode the already-tiny filtered arrays
      -> optional broadcast join to term_stats for df / tf-idf.

Char OFFSETS are out of scope: postings store token ordinals
(positions), not char spans — the tagger path (tagging/offsets.py) owns
char-accurate spans. Solr's tf-idf here is TermVectorComponent's
literal tf/df ratio (not the BM25 idf — that lives in the scorers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from solrtexttagger_spark.index.build import InvertedIndex, seg_of
from solrtexttagger_spark.plans import array_lit, local_frame


def term_vectors(
    index: InvertedIndex,
    doc_ids: list[int],
    *,
    with_positions: bool = False,
    with_stats: bool = False,
    spark: SparkSession | None = None,
) -> DataFrame:
    """Term vectors for ``doc_ids`` (the /tvrh docs list — a bounded
    request list by contract, like Solr's). Returns
    (doc_id, term, tf [, positions array<int>] [, df long,
    tfidf double]) — tfidf is Solr TermVectorComponent's tf/df.

    One job, no shuffle: segment semi-join is broadcast-side, the doc-id
    filter is an array-literal prefilter BEFORE the explode, term_stats
    joins broadcast (tiny by contract)."""
    spark = spark or index.postings.sparkSession
    if not doc_ids:
        schema = "doc_id long, term string, tf long"
        if with_positions:
            schema += ", positions array<int>"
        if with_stats:
            schema += ", df long, tfidf double"
        return local_frame(spark, [], schema)
    ids_df = local_frame(
        spark, [(int(i),) for i in sorted(set(doc_ids))], "doc_id long"
    ).withColumn("seg", seg_of(index.num_segments))
    pruned = index.postings.join(
        F.broadcast(ids_df.select("seg").distinct()), "seg", "left_semi"
    )
    # ONE ArrayType literal shared by every shard (maintenance.py's
    # expunge trick): filter the postings ARRAY to the requested docs
    # BEFORE the Generate, drop empty shards — explode input is bounded
    # by the request's shard overlap, not segment size
    wanted = array_lit(sorted({int(i) for i in doc_ids}))
    pruned = pruned.withColumn(
        "postings",
        F.filter("postings", lambda p: F.array_contains(wanted, p["doc_id"])),
    ).where(F.size("postings") > 0)
    tv = (
        pruned.select("term", F.explode("postings").alias("p"))
        .select(
            F.col("p.doc_id").alias("doc_id"),
            "term",
            F.col("p.tf").cast("long").alias("tf"),
            *([F.col("p.positions").alias("positions")]
              if with_positions else []),
        )
    )
    if with_stats:
        tv = tv.join(
            F.broadcast(index.term_stats.select("term", "df")), "term"
        ).withColumn(
            "tfidf", F.col("tf").cast("double") / F.col("df").cast("double")
        )
        cols = ["doc_id", "term", "tf"]
        if with_positions:
            cols.append("positions")
        tv = tv.select(*cols, "df", "tfidf")
    return tv
