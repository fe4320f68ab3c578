"""Streaming document UPSERTS over the micro-batch segment layout —
Lucene's updateDocument semantics on a Structured Streaming source.

The batch-side ``index/maintenance.upsert_docs`` rewrites an in-memory
index; a stream cannot afford read-modify-write per micro-batch, and
Lucene doesn't either: an update is an APPEND of the new version plus a
tombstone that wins at read/merge time. Recast here:

- every micro-batch appends its doc-term rows as an immutable segment
  (``segment={batch_id}`` — exactly streaming/index_stream.py), and
- an OWNERS table (``owners/batch={batch_id}``: doc_id, batch_id)
  records which batch last wrote each document — including documents
  the batch DELETES (a row with NULL ``text`` writes ownership but no
  content, exactly Lucene's delete-is-an-update-with-no-doc).

``merge_upsert_segments`` resolves last-write-wins at compaction: per
doc, the max batch_id over owners selects the surviving rows; a deleted
doc's final batch has ownership but no rows, so it vanishes. The merge
is one join on doc_id + the same (term, seg) aggregation as
segments.merge_segments — the Lucene 'merge discards superseded and
tombstoned segments' step as a Spark job. Until compaction runs,
readers call the same function as a VIEW (the streaming analogue of
Solr's tombstone tier: correctness first, compaction amortized).

foreachBatch + ``batch={id}`` overwrite keeps both writes idempotent
under replay (exactly-once per batch id, the same contract as
streaming/chunking.py).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from solrtexttagger_spark.index.build import doc_term_rows, seg_of
from solrtexttagger_spark.index.compressed import _fs_read_text, _fs_write_text


def upsert_index_stream(
    stream_df: DataFrame,
    out_dir: str,
    *,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
    trigger_once: bool = True,
):
    """Start a streaming query applying document upserts: each incoming
    row REPLACES the document with its id (a plain add for new ids); a
    row with NULL ``text_col`` DELETES the id. Returns the started
    query; resolve the current index state with merge_upsert_segments.

    A single micro-batch must not carry two versions of one id (no
    defined order within a batch — same contract as upsert_docs);
    duplicate ids in one batch raise inside the batch write, failing
    the query rather than silently picking a winner."""
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_checkpoint")

    def write_batch(batch_df: DataFrame, batch_id: int):
        batch_df = batch_df.persist()
        try:
            n, d = batch_df.select(
                F.count("*").alias("n"),
                F.countDistinct(doc_id_col).alias("d"),
            ).collect()[0]
            if n != d:
                raise ValueError(
                    f"upsert batch {batch_id} carries duplicate doc ids "
                    f"({n} rows, {d} distinct) — no defined order within "
                    "a batch"
                )
            owners = batch_df.select(
                F.col(doc_id_col).cast("long").alias("doc_id"),
                F.lit(int(batch_id)).cast("long").alias("batch_id"),
            )
            owners.write.mode("overwrite").parquet(
                os.path.join(out_dir, "owners", f"batch={batch_id}")
            )
            content = batch_df.where(F.col(text_col).isNotNull())
            rows = doc_term_rows(
                content, text_col=text_col, doc_id_col=doc_id_col
            ).withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
            rows.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"segment={batch_id}")
            )
        finally:
            batch_df.unpersist()

    writer = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def merge_upsert_segments(
    spark: SparkSession, out_dir: str, *, num_segments: int = 8
) -> DataFrame:
    """Resolve the upsert stream's segments to the LIVE postings table:
    per doc, only the rows written by its latest owning batch survive
    (a delete's final batch owns the id but wrote no rows — the doc
    vanishes). Same output shape as segments.merge_segments:
    (term, seg, postings, df_seg, cf_seg).

    One doc_id-keyed join (owners are (doc_id, max batch) — tiny
    relative to doc-term rows) + the standard (term, seg) aggregation;
    superseded versions are FILTERED BEFORE the postings shuffle, so
    compaction cost tracks the live corpus, not the update history."""
    rows = spark.read.parquet(os.path.join(out_dir, "segment=*"))
    owners = spark.read.parquet(os.path.join(out_dir, "owners", "batch=*"))
    latest = owners.groupBy("doc_id").agg(F.max("batch_id").alias("batch_id"))
    live = rows.join(latest, ["doc_id", "batch_id"], "left_semi")
    return _aggregate_rows(live, num_segments)


def _aggregate_rows(rows: DataFrame, num_segments: int) -> DataFrame:
    """(doc_id, term, tf, dl, positions) rows -> the standard
    (term, seg, postings, df_seg, cf_seg) table (segments.merge_segments
    output shape)."""
    elem = F.struct("doc_id", "tf", "dl", "positions")
    return (
        rows.withColumn("seg", seg_of(num_segments))
        .groupBy("term", "seg")
        .agg(
            F.sort_array(F.collect_list(elem)).alias("postings"),
            F.count("*").alias("df_seg"),
            F.sum("tf").alias("cf_seg"),
        )
    )


def superseded_fraction(spark: SparkSession, out_dir: str) -> float:
    """The compaction scheduler's signal, computed from the OWNERS table
    alone (tiny — one row per write, never the doc-term rows): the
    fraction of ownership records a later batch has overridden,
    ``1 - distinct_docs / total_owner_rows``. 0.0 = append-only history
    (compaction buys nothing), 0.5 = every live doc rewritten once on
    average (readers merge twice the data they need)."""
    owners = spark.read.parquet(os.path.join(out_dir, "owners", "batch=*"))
    t, d = owners.select(
        F.count("*").alias("t"), F.countDistinct("doc_id").alias("d")
    ).collect()[0]
    return float(t - d) / float(t) if t else 0.0


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "compacted", "manifest.json")


def compact_upsert_segments(
    spark: SparkSession,
    out_dir: str,
    *,
    num_segments: int = 8,
    threshold: float = 0.2,
    force: bool = False,
) -> tuple[bool, float]:
    """Threshold-scheduled compaction (round-7 verdict #7 — Lucene's
    merge policy analogue: merges trigger on accumulated garbage, not
    per write): when ``superseded_fraction`` reaches ``threshold`` (or
    ``force``), materialize the last-write-wins merge into
    ``compacted/postings`` plus a manifest pinning the covered
    high-watermark batch id and segmentation; below threshold, return
    without touching data. Returns (compacted?, fraction).

    Idempotent and replay-safe: the write is mode=overwrite keyed only
    by out_dir, and the watermark comes from the owners table — a
    replayed micro-batch (same batch_id, idempotent ``batch={id}``
    overwrite upstream) re-derives the identical manifest. Readers use
    ``current_postings``, which serves compacted + post-watermark deltas
    and falls back to the full merge view when no compaction ran."""
    frac = superseded_fraction(spark, out_dir)
    if not force and frac < threshold:
        return False, frac
    owners = spark.read.parquet(os.path.join(out_dir, "owners", "batch=*"))
    watermark = owners.agg(F.max("batch_id")).collect()[0][0]
    merged = merge_upsert_segments(spark, out_dir, num_segments=num_segments)
    merged.write.mode("overwrite").parquet(
        os.path.join(out_dir, "compacted", "postings")
    )
    _fs_write_text(
        spark,
        _manifest_path(out_dir),
        json.dumps(
            {"watermark": int(watermark), "num_segments": int(num_segments)}
        ),
    )
    return True, frac


def current_postings(
    spark: SparkSession,
    out_dir: str,
    *,
    num_segments: int = 8,
    literal_threshold: int = 1_000,
) -> DataFrame:
    """The live postings view a reader should use: the compacted base
    (when a compaction manifest exists) merged with only the
    POST-WATERMARK delta batches — docs touched after the watermark are
    dropped from the base shards and replaced by their latest delta rows
    (deletes vanish: ownership after the watermark, no content rows).
    Without a manifest, the full merge view (correctness first,
    compaction amortized). Output shape = merge_upsert_segments.

    The merge is DELTA-DRIVEN (round-8; maintenance.upsert_docs' shard
    merge is the shape) when the touched-doc set is small — the normal
    state between compactions:

    1. touched docs are removed from the base by the map-only literal
       array rewrite (``filter_postings_literal`` — zero shuffles over
       the big compacted relation, only shards actually containing a
       touched doc pay a per-element pass);
    2. the delta rows aggregate into shards on their own (tiny), and
       only base shards whose (term, seg) key the delta touches
       re-aggregate — untouched shards pass through UNSHUFFLED
       (broadcast anti-join on the delta's key set).

    Past ``literal_threshold`` touched docs the honest cost is the full
    explode → anti-join → re-aggregate merge, same as a Lucene major
    merge."""
    try:
        man = json.loads(_fs_read_text(spark, _manifest_path(out_dir)))
    except Exception:
        return merge_upsert_segments(
            spark, out_dir, num_segments=num_segments
        )
    w, s = int(man["watermark"]), int(man["num_segments"])
    comp = spark.read.parquet(os.path.join(out_dir, "compacted", "postings"))
    owners = spark.read.parquet(os.path.join(out_dir, "owners", "batch=*"))
    new_owners = owners.where(F.col("batch_id") > w)
    touched_ids = [
        int(r["doc_id"])
        for r in new_owners.select("doc_id").distinct()
        .limit(literal_threshold + 1).collect()
    ]
    if not touched_ids:
        return comp
    rows = spark.read.parquet(os.path.join(out_dir, "segment=*"))
    # a delta batch beats anything at or below the watermark, so the
    # overall latest owner of a post-watermark doc is its latest DELTA
    latest_new = new_owners.groupBy("doc_id").agg(
        F.max("batch_id").alias("batch_id")
    )
    live_new = rows.where(F.col("batch_id") > w).join(
        latest_new, ["doc_id", "batch_id"], "left_semi"
    ).select("doc_id", "term", "tf", "dl", "positions")
    if len(touched_ids) > literal_threshold:
        # big post-watermark churn: the full merge shuffle is honest
        touched = new_owners.select("doc_id").distinct()
        base_rows = (
            comp.select("term", F.explode("postings").alias("p"))
            .select(
                F.col("p.doc_id").alias("doc_id"), "term",
                F.col("p.tf").alias("tf"), F.col("p.dl").alias("dl"),
                F.col("p.positions").alias("positions"),
            )
            .join(touched, "doc_id", "left_anti")
        )
        return _aggregate_rows(base_rows.unionByName(live_new), s)
    from solrtexttagger_spark.index.maintenance import (
        filter_postings_literal,
    )

    base = filter_postings_literal(comp, touched_ids)
    delta = _aggregate_rows(live_new, s)
    keys = delta.select("term", "seg")
    untouched = base.join(F.broadcast(keys), ["term", "seg"], "left_anti")
    overlap = base.join(F.broadcast(keys), ["term", "seg"], "left_semi")
    remerged = (
        overlap.unionByName(delta)
        .groupBy("term", "seg")
        .agg(
            F.array_sort(F.flatten(F.collect_list("postings"))).alias(
                "postings"
            ),
            F.sum("df_seg").alias("df_seg"),
            F.sum("cf_seg").alias("cf_seg"),
        )
    )
    return untouched.unionByName(remerged)
