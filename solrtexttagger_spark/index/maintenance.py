"""Index maintenance: document deletion with Lucene/Solr-faithful
semantics (reference stack: Solr deleteById/deleteByQuery + the segment
merge that expunges deletes).

Lucene deletes happen in two phases, and both exist here:

1. TOMBSTONES (deleteById before any merge): deleted docs stop matching
   but STILL count in corpus statistics (df, doc_count, avgdl) until a
   merge rewrites the segments. That phase needs no new operator — it is
   exactly ``bm25_topk(..., allowed_docs=live_docs)`` / ``wand_topk``'s
   fq plumbing: membership filtering with corpus-wide stats.
2. EXPUNGE (merge/optimize): postings physically rewritten, stats
   recomputed over the remaining corpus. That is ``expunge_docs`` below.

``upsert_docs`` composes the two into Lucene's updateDocument (Solr add
with overwrite=true): delete the replaced ids, index the batch with the
same segmentation, merge only the shards the delta touches.

Physical shape of expunge: the deleted-id set never explodes the big
postings relation when it is small — the ids become one shared literal
array and a JVM ``filter`` lambda rewrites each (term, seg) shard's
array in place (no shuffle at all; df_seg/cf_seg recomputed from the
filtered array). Past ``literal_threshold`` ids the honest cost is a
real merge: explode -> anti-join on doc_id -> re-aggregate — the same
shuffle a Lucene segment merge pays. Corpus stats (doc_count, avgdl)
are recomputed from the surviving postings in one aggregation job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from solrtexttagger_spark.index.build import InvertedIndex


def filter_postings_literal(postings: DataFrame, ids: list[int]) -> DataFrame:
    """Map-only rewrite of a (term, seg, postings, df_seg, cf_seg)
    relation dropping every posting whose doc_id is in ``ids`` (shards
    left empty vanish). The ids ship as ONE shared array literal and a
    JVM ``filter`` lambda rewrites each shard's array in place — zero
    shuffles, the scale path when the removed set is small relative to
    the postings relation (see expunge_docs for the measured crossover
    and the let-binding rationale). The result stays LAZY: persist for
    repeated serving, and never ``explode`` it unpersisted (Generate
    re-evaluates a lazily rewritten array per emitted element)."""
    # ONE ArrayType literal, not CreateArray(|ids| child literals) —
    # a thousand-child expression tree blows up codegen/analysis time
    # (measured: 237 s vs 2.4 s for the whole rewrite at 1k ids)
    gone = (
        F.lit(sorted(ids)).cast("array<long>")
        if ids
        else F.array().cast("array<long>")
    )
    # Per-shard cost is O(n + |ids|), not O(n * |ids|) (round-5
    # verdict #4): array_intersect(gone, doc_ids) hash-builds from the
    # ROW's own ids and probes the literal once, yielding the (almost
    # always empty) overlap. Only overlapping shards pay the
    # per-element rewrite, and they scan the tiny overlap, never the
    # full deleted-id literal. The overlap is LET-BOUND as a lambda
    # variable (a 1-element transform) — as a plain withColumn,
    # CollapseProject inlines the intersect into the filter lambda
    # and re-evaluates it per posting element (measured: 117 s vs
    # 0.9 s for the rewrite of a 100k-doc corpus at 1k deleted ids).
    doc_ids = F.transform("postings", lambda p: p["doc_id"])
    kept = F.element_at(
        F.transform(
            F.array(F.array_intersect(gone, doc_ids)),
            lambda ov: F.when(F.size(ov) == 0, F.col("postings")).otherwise(
                F.filter(
                    "postings",
                    lambda p: ~F.array_contains(ov, p["doc_id"]),
                )
            ),
        ),
        1,
    )
    return (
        postings.withColumn("postings", kept)
        .withColumn(
            "df_seg",
            F.size("postings").cast(postings.schema["df_seg"].dataType),
        )
        .withColumn(
            "cf_seg",
            F.aggregate(
                "postings", F.lit(0).cast("long"), lambda acc, p: acc + p["tf"]
            ).cast(postings.schema["cf_seg"].dataType),
        )
        .where(F.col("df_seg") > 0)
    )


def expunge_docs(
    index: InvertedIndex,
    deleted_docs: DataFrame,
    *,
    method: str = "auto",
    literal_threshold: int = 1_000,
) -> InvertedIndex:
    """Physically remove ``deleted_docs`` (a relation with a doc_id
    column) from the index and recompute every statistic over the
    remaining corpus — Solr deleteByQuery + expungeDeletes. Returns a NEW
    InvertedIndex; the input index (and any driver-side query caches on
    it) stays valid for its own contents.

    method='literal': deleted ids collected into one shared array
    literal, shards rewritten by a JVM filter lambda — zero shuffles.
    The returned postings stay LAZY (the rewrite re-runs per consuming
    job); persist() them for repeated query serving, and avoid
    `explode`-ing them unpersisted — Generate re-evaluates a lazily
    rewritten array per emitted element.
    method='merge': explode -> anti-join -> re-aggregate (the real merge
    shuffle; use when the deleted set is too big to ship as a literal).
    method='auto' picks by count against ``literal_threshold``.

    Crossover (measured, 100k-doc corpus, local[8]): literal 2.0 s /
    merge 0.9 s at 1k ids; literal 8 s / merge 0.8 s at 10k — at bench
    scale the in-memory merge shuffle is cheap and wins, so the default
    threshold is a conservative 1k. The literal path's value is at
    CLUSTER scale: it is map-only over the postings (no exchange),
    while merge shuffles the entire exploded postings relation — the
    right trade only when that shuffle is the bottleneck."""
    ids_df = deleted_docs.select(F.col("doc_id").cast("long").alias("doc_id")).distinct()
    if method == "auto":
        method = "literal" if ids_df.count() <= literal_threshold else "merge"
    if method == "literal":
        ids = sorted(int(r["doc_id"]) for r in ids_df.collect())
        new_postings = filter_postings_literal(index.postings, ids)
    elif method == "merge":
        ex = index.postings.select(
            "term", "seg", F.explode("postings").alias("p")
        ).select("term", "seg", F.col("p.doc_id").alias("doc_id"), "p")
        kept = ex.join(ids_df, "doc_id", "left_anti")
        new_postings = (
            kept.groupBy("term", "seg")
            .agg(
                F.array_sort(F.collect_list("p")).alias("postings"),
                F.count("*").alias("df_seg"),
                F.sum(F.col("p.tf")).alias("cf_seg"),
            )
        )
    else:
        raise ValueError(f"method must be auto|literal|merge, got {method}")
    term_stats = new_postings.groupBy("term").agg(
        F.sum("df_seg").alias("df"), F.sum("cf_seg").alias("cf")
    )
    # corpus stats over the SURVIVING docs: each doc carries its dl on
    # every posting, so distinct (doc_id, dl) pairs = one row per doc.
    # Computed from the ORIGINAL postings minus the deleted ids (an
    # anti-join), NEVER by exploding the rewritten arrays — exploding a
    # lazily-rewritten array column re-evaluates the rewrite expression
    # per emitted element (measured 123 s vs 1.1 s on a 100k-doc corpus);
    # a doc not in the deleted set keeps its dl unchanged, so the two
    # formulations are identical.
    stats = (
        index.postings.select(F.explode("postings").alias("p"))
        .select(F.col("p.doc_id").alias("doc_id"), F.col("p.dl").alias("dl"))
        .distinct()
        .join(ids_df, "doc_id", "left_anti")
        .agg(F.count("*").alias("n"), F.sum("dl").alias("total"))
        .collect()[0]
    )
    doc_count = int(stats["n"] or 0)
    avgdl = float(stats["total"]) / doc_count if doc_count else 0.0
    return InvertedIndex(
        postings=new_postings,
        term_stats=term_stats,
        doc_count=doc_count,
        num_segments=index.num_segments,
        _avgdl=avgdl,
    )


def upsert_docs(
    index: InvertedIndex,
    new_docs: DataFrame,
    *,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    method: str = "auto",
    literal_threshold: int = 1_000,
    **build_opts,
) -> InvertedIndex:
    """Lucene ``updateDocument`` / Solr add-with-overwrite: each row of
    ``new_docs`` REPLACES any existing document with the same id (a
    plain add if the id is new). Returns a NEW InvertedIndex; the input
    index stays valid.

    Semantics are Lucene's exactly: delete-by-id then add — there is no
    in-place posting mutation in either engine. Shape, scale-aware:

    1. ``expunge_docs`` removes the ids being replaced (no-op rows for
       genuinely new ids), on the literal map-only path for small
       batches.
    2. The batch is indexed on its own (``build_index`` with the SAME
       num_segments, so the doc-hash segmentation lines up; pass the
       original build's analyzer options through ``build_opts``).
    3. Shard merge is DELTA-DRIVEN, never a full re-aggregation: the
       delta's (term, seg) key set broadcasts; untouched shards of the
       big index pass through with NO shuffle, and only overlapping
       shards + the delta rows re-aggregate (flatten + array_sort —
       the doc-sorted postings invariant every reader relies on).
    4. term_stats merge by summing the two tiny stats relations;
       doc_count adds up (the expunge already recomputed the survivors'
       count) and avgdl derives lazily from the merged term_stats, as in
       ``build_index``.

    A batch with duplicate ids raises — Lucene applies updates in
    sequence, but a set-oriented batch has no defined order, so
    last-write-wins would be nondeterministic here."""
    from solrtexttagger_spark.index.build import build_index

    ids = new_docs.select(F.col(doc_id_col).cast("long").alias("doc_id"))
    n_rows, n_ids = (
        ids.agg(
            F.count("*").alias("n"), F.countDistinct("doc_id").alias("d")
        ).collect()[0]
    )
    if n_rows != n_ids:
        raise ValueError(
            f"upsert batch has duplicate doc ids ({n_rows} rows, "
            f"{n_ids} distinct) — split into ordered batches instead"
        )
    # the duplicate check already counted the ids: resolve 'auto' here so
    # expunge_docs does not count them again
    if method == "auto":
        method = "literal" if n_ids <= literal_threshold else "merge"
    cleaned = expunge_docs(index, ids, method=method)
    delta = build_index(
        new_docs,
        text_col=text_col,
        doc_id_col=doc_id_col,
        num_segments=index.num_segments,
        **build_opts,
    )
    keys = delta.postings.select("term", "seg")
    overlap = cleaned.postings.join(
        F.broadcast(keys), ["term", "seg"], "left_semi"
    )
    untouched = cleaned.postings.join(
        F.broadcast(keys), ["term", "seg"], "left_anti"
    )
    dt = cleaned.postings.schema
    remerged = (
        overlap.unionByName(delta.postings)
        .groupBy("term", "seg")
        .agg(
            F.array_sort(F.flatten(F.collect_list("postings"))).alias(
                "postings"
            ),
            F.sum("df_seg").cast(dt["df_seg"].dataType).alias("df_seg"),
            F.sum("cf_seg").cast(dt["cf_seg"].dataType).alias("cf_seg"),
        )
    )
    new_postings = untouched.unionByName(remerged)
    term_stats = (
        cleaned.term_stats.unionByName(delta.term_stats)
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
    )
    # avgdl stays lazy: derived from the merged term_stats on first use,
    # exactly as build_index derives it (reading delta.avgdl here would
    # re-run the delta's tokenize just for a scalar nobody asked for)
    return InvertedIndex(
        postings=new_postings,
        term_stats=term_stats,
        doc_count=cleaned.doc_count + delta.doc_count,
        num_segments=index.num_segments,
    )
