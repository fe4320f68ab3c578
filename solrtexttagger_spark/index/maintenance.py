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
shuffle a Lucene segment merge pays.

Corpus stats are metadata arithmetic, as in Lucene's updateDocument and
Delta Lake's MERGE: doc_count is the old count minus the deleted ids
that have postings (one map-side intersect on the literal path, one
semi-join count on the merge path), never a recount of the surviving
postings; avgdl derives lazily from term_stats, as ``build_index``
derives it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from solrtexttagger_spark.index.build import InvertedIndex
from solrtexttagger_spark.plans import array_lit


def _overlap(gone: Column) -> Column:
    """The ids of the literal ``gone`` that occur in a shard's postings
    (almost always empty): array_intersect hash-builds from the row's own
    ids and probes the literal once, O(n + |ids|) per shard."""
    return F.array_intersect(gone, F.transform("postings", lambda p: p["doc_id"]))


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
    gone = array_lit(sorted(ids))
    # Per-shard cost is O(n + |ids|), not O(n * |ids|): only shards
    # with a non-empty overlap pay the per-element rewrite, and they
    # scan the tiny overlap, never the full deleted-id literal. The
    # overlap is LET-BOUND as a lambda variable (a 1-element transform)
    # — as a plain withColumn, CollapseProject inlines the intersect
    # into the filter lambda and re-evaluates it per posting element
    # (measured: 117 s vs 0.9 s for the rewrite of a 100k-doc corpus at
    # 1k deleted ids).
    kept = F.element_at(
        F.transform(
            F.array(_overlap(gone)),
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


def _literal_ids(ids: DataFrame, method: str, literal_threshold: int) -> list[int] | None:
    """The ids for the literal path, or None for the merge path.
    'literal' collects every id; 'auto' collects at most
    ``literal_threshold + 1`` and takes the merge path when that many
    come back."""
    if method not in ("auto", "literal", "merge"):
        raise ValueError(f"method must be auto|literal|merge, got {method}")
    if method == "merge":
        return None
    got = [
        int(r[0])
        for r in (ids if method == "literal" else ids.limit(literal_threshold + 1)).collect()
    ]
    return None if method == "auto" and len(got) > literal_threshold else got


def _expunge(index: InvertedIndex, ids: list[int] | None, ids_df: DataFrame) -> InvertedIndex:
    """``index`` without the docs of ``ids_df``: on the literal path when
    the driver holds them as ``ids`` (distinct), else by the merge.

    doc_count is arithmetic, never a rescan: the old count minus the
    deleted ids that have postings. A deleted doc that had no terms (an
    empty or null text) has no posting to find, so it stays counted.
    avgdl derives lazily from term_stats, as in ``build_index``."""
    if ids is not None:
        new_postings = filter_postings_literal(index.postings, ids)
        # the deleted ids that have postings: the same map-side
        # intersect the rewrite uses, then a set of at most |ids| values
        present = (
            index.postings.select(F.explode(_overlap(array_lit(ids))).alias("d"))
            .agg(F.size(F.collect_set("d")))
            .collect()[0][0]
            if ids
            else 0
        )
    else:
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
        present = ex.select("doc_id").join(ids_df, "doc_id", "left_semi").distinct().count()
    term_stats = new_postings.groupBy("term").agg(
        F.sum("df_seg").alias("df"), F.sum("cf_seg").alias("cf")
    )
    return InvertedIndex(
        postings=new_postings,
        term_stats=term_stats,
        doc_count=index.doc_count - present,
        num_segments=index.num_segments,
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
    method='auto' collects at most ``literal_threshold + 1`` distinct ids
    and takes the literal path when no more come back.

    doc_count = old doc_count minus the deleted ids that have postings;
    a deleted doc that itself had no terms stays counted (no posting
    records it). avgdl derives lazily from the new term_stats.

    Crossover (measured, 100k-doc corpus, local[8]): literal 2.0 s /
    merge 0.9 s at 1k ids; literal 8 s / merge 0.8 s at 10k — at bench
    scale the in-memory merge shuffle is cheap and wins, so the default
    threshold is a conservative 1k. The literal path's value is at
    CLUSTER scale: it is map-only over the postings (no exchange),
    while merge shuffles the entire exploded postings relation — the
    right trade only when that shuffle is the bottleneck."""
    ids_df = deleted_docs.select(F.col("doc_id").cast("long").alias("doc_id")).distinct()
    return _expunge(index, _literal_ids(ids_df, method, literal_threshold), ids_df)


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

    1. One collect of at most ``literal_threshold + 1`` batch ids. When
       no more come back, the duplicate check runs on the driver and the
       replaced ids leave on the literal map-only path of
       ``expunge_docs``; otherwise one aggregate checks duplicates and
       the merge path removes them (no-op rows for genuinely new ids).
    2. The batch is indexed on its own (``build_index`` with the SAME
       num_segments, so the doc-hash segmentation lines up; pass the
       original build's analyzer options through ``build_opts``). Its
       row count comes from step 1, not from a second count.
    3. Shard merge is DELTA-DRIVEN, never a full re-aggregation: the
       delta's (term, seg) key set broadcasts; untouched shards of the
       big index pass through with NO shuffle, and only overlapping
       shards + the delta rows re-aggregate (flatten + array_sort —
       the doc-sorted postings invariant every reader relies on).
    4. term_stats merge by summing the two tiny stats relations;
       doc_count is arithmetic (old count, minus the replaced ids that
       have postings, plus the batch rows) and avgdl derives lazily from
       the merged term_stats, as in ``build_index``. A replaced doc that
       had no terms stays counted as well as re-added.

    A batch with duplicate ids raises — Lucene applies updates in
    sequence, but a set-oriented batch has no defined order, so
    last-write-wins would be nondeterministic here."""
    from solrtexttagger_spark.index.build import _build_index

    ids_df = new_docs.select(F.col(doc_id_col).cast("long").alias("doc_id"))
    ids = _literal_ids(ids_df, method, literal_threshold)
    if ids is not None:
        n_rows, n_ids = len(ids), len(set(ids))
    else:
        n_rows, n_ids = ids_df.agg(
            F.count("*").alias("n"), F.countDistinct("doc_id").alias("d")
        ).collect()[0]
    if n_rows != n_ids:
        raise ValueError(
            f"upsert batch has duplicate doc ids ({n_rows} rows, "
            f"{n_ids} distinct) — split into ordered batches instead"
        )
    cleaned = _expunge(index, ids, ids_df)
    delta = _build_index(
        new_docs,
        n_rows,
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
        doc_count=cleaned.doc_count + n_rows,
        num_segments=index.num_segments,
    )
