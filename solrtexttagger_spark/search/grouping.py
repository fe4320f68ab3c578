"""Solr /select result grouping, field-sorted pages, and facet.pivot —
three more features of the reference's delegated Solr SearchHandler
(SURVEY.md §2.4 D1/D4), re-expressed Spark-first.

All three ride the SAME exploded scoring relation as /select
(search/bm25.entry_scores: one broadcast join + one groupBy shuffle),
then differ only in the window/rollup applied on top:

- grouped_topk  — group=true&group.field=f: groups ranked by their best
  doc score, top docs within each group (field collapsing). Two windows
  over ONE partitioning family (query_id[, group]): no extra shuffle
  beyond the scoring groupBy and the final query_id exchange.
- select_sorted — sort=f asc|desc: the match set ordered by a stored
  field instead of relevance (score still computed and returned, as Solr
  does when fl includes score). WindowGroupLimit keeps the top-k per
  query from fully sorting (same plan shape test_plans pins for bm25).
- facet_pivot   — facet.pivot=f1,f2: hierarchical value-combination
  counts over the FULL match set, expressed as a Catalyst ROLLUP (one
  shuffle produces every pivot level plus the grand total; Solr's nested
  pivot response is the subtotal tree this relation flattens).

Determinism: score ties break on the group value / doc_id ascending; the
driver oracle entries round scores to 4 decimals BEFORE ranking on both
engines so the windows are ulp-stable cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from solrtexttagger_spark.index.build import InvertedIndex
from solrtexttagger_spark.plans import local_frame
from solrtexttagger_spark.search.bm25 import B, K1, bag_match_set, entry_scores


def grouped_topk(
    index: InvertedIndex,
    docs_df: DataFrame,
    queries,
    group_col: str,
    *,
    group_limit: int = 2,
    k_groups: int = 10,
    k1: float = K1,
    b: float = B,
    allowed_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    round_to: int | None = None,
    spark: SparkSession | None = None,
) -> DataFrame:
    """Solr result grouping (group=true&group.field=group_col&
    group.limit=group_limit&rows=k_groups): for each query, groups are
    ranked by their BEST document score (desc; ties on group value asc),
    the top ``k_groups`` groups return, each carrying its top
    ``group_limit`` docs (score desc, doc_id asc). Returns
    (query_id, group_value string, group_rank, rank_in_group, doc_id,
    score). ``allowed_docs`` = fq, restricting groups and members alike;
    ``round_to`` rounds scores BEFORE ranking (cross-engine-stable
    windows for the oracle)."""
    scores = entry_scores(
        index, queries, k1=k1, b=b, allowed_docs=allowed_docs
    )
    if round_to is not None:
        scores = scores.withColumn("score", F.round("score", round_to))
    joined = scores.join(
        docs_df.select(
            F.col(id_col).alias("doc_id"),
            F.col(group_col).cast("string").alias("group_value"),
        ),
        "doc_id",
    )
    w_in = Window.partitionBy("query_id", "group_value").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    w_best = Window.partitionBy("query_id", "group_value")
    ranked = joined.withColumn(
        "rank_in_group", F.row_number().over(w_in).cast("long")
    ).withColumn("grp_best", F.max("score").over(w_best))
    w_grp = Window.partitionBy("query_id").orderBy(
        F.col("grp_best").desc(), F.col("group_value").asc()
    )
    return (
        ranked.withColumn("group_rank", F.dense_rank().over(w_grp).cast("long"))
        .where(
            (F.col("group_rank") <= k_groups)
            & (F.col("rank_in_group") <= group_limit)
        )
        .select(
            "query_id", "group_value", "group_rank", "rank_in_group",
            "doc_id", "score",
        )
    )


def select_sorted(
    index: InvertedIndex,
    docs_df: DataFrame,
    queries,
    sort_col: str,
    *,
    ascending: bool = False,
    k: int = 10,
    start: int = 0,
    k1: float = K1,
    b: float = B,
    allowed_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    round_to: int | None = None,
    spark: SparkSession | None = None,
) -> DataFrame:
    """Solr `sort=<field> asc|desc`: the query's match set (>= 1 term,
    under fq) ordered by a STORED FIELD instead of relevance; doc_id asc
    breaks ties (Solr's stable secondary on the uniqueKey). BM25 score is
    still computed and returned (Solr keeps score available under any
    sort). Returns (query_id, rank, doc_id, sort_value, score) for
    start < rank <= start + k with absolute ranks.

    ``sort_col`` may also be a FUNCTION over stored fields — Solr's
    function sorting, ``sort=div(n_chars,1+n_lines) desc`` — any
    Catalyst SQL expression string (a bare column name is the trivial
    case); it stays JVM-side exactly like bf/boost
    (search/functions.py). NULLs follow Spark's default ordering (first
    asc / last desc)."""
    scores = entry_scores(
        index, queries, k1=k1, b=b, allowed_docs=allowed_docs
    )
    if round_to is not None:
        scores = scores.withColumn("score", F.round("score", round_to))
    joined = scores.join(
        docs_df.select(
            F.col(id_col).alias("doc_id"), F.expr(sort_col).alias("sort_value")
        ),
        "doc_id",
    )
    key = F.col("sort_value").asc() if ascending else F.col("sort_value").desc()
    w = Window.partitionBy("query_id").orderBy(key, F.col("doc_id").asc())
    return (
        joined.withColumn("rank", F.row_number().over(w).cast("long"))
        .where((F.col("rank") > start) & (F.col("rank") <= start + k))
        .select("query_id", "rank", "doc_id", "sort_value", "score")
    )


def facet_pivot(
    index: InvertedIndex,
    docs_df: DataFrame,
    query: str,
    pivot_cols: list[str],
    *,
    id_col: str = "doc_id",
    allowed_docs: DataFrame | None = None,
    spark: SparkSession | None = None,
) -> DataFrame:
    """Solr `facet.pivot=f1,f2,...` over the query's match set (OR
    semantics, fq-aware like facet_counts): hierarchical value-combination
    counts, expressed as a Catalyst ROLLUP — one shuffle yields every
    pivot level (leaf combinations, per-prefix subtotals, grand total;
    subtotal rows carry NULL in the rolled-up columns). Solr's nested
    pivot response is exactly this subtotal tree. Returns
    (*pivot_cols as strings, n long, level long) where ``level`` is the
    grouping bitmask (grouping(f1)*2^(k-1) + ... + grouping(fk); 0 =
    leaf row) — a SUBTOTAL's NULL is therefore distinguishable from a
    document whose pivot value is genuinely NULL (round-5 advice)."""
    spark = spark or docs_df.sparkSession
    matched = bag_match_set(
        index, query, allowed_docs=allowed_docs, id_col=id_col
    )
    if matched is None or not pivot_cols:
        schema = ", ".join(f"{c} string" for c in pivot_cols) or "n long"
        return local_frame(
            spark, [], f"{schema}, n long, level long" if pivot_cols else schema
        )
    joined = docs_df.join(matched, id_col).select(
        *[F.col(c).cast("string").alias(c) for c in pivot_cols]
    )
    level = sum(
        (F.grouping(c).cast("long") * (1 << (len(pivot_cols) - 1 - i)))
        for i, c in enumerate(pivot_cols)
    )
    return joined.rollup(*pivot_cols).agg(
        F.count("*").cast("long").alias("n"), level.alias("level")
    )


def collapse_topk(
    index: InvertedIndex,
    docs_df: DataFrame,
    queries,
    collapse_col: str,
    *,
    k: int = 10,
    k1: float = K1,
    b: float = B,
    null_policy: str = "ignore",
    allowed_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    round_to: int | None = None,
    spark: SparkSession | None = None,
) -> DataFrame:
    """Solr CollapsingQParser (``fq={!collapse field=f}``): the result
    list stays a FLAT ranked page (unlike group=true's grouped response)
    but only each group's best-scoring document survives into it —
    field-collapsed search results. Returns (query_id, rank, doc_id,
    group_value, score) with absolute ranks over the collapsed list
    (score desc, doc_id asc ties, exactly bm25_topk's ordering).

    ``null_policy`` is Solr's nullPolicy: 'ignore' (default — documents
    with a NULL collapse field drop from the results), 'expand' (each
    NULL doc passes through as its own group), 'collapse' (all NULL
    docs form one group). ``allowed_docs`` = fq."""
    if null_policy not in ("ignore", "expand", "collapse"):
        raise ValueError("null_policy must be ignore|expand|collapse")
    scores = entry_scores(
        index, queries, k1=k1, b=b, allowed_docs=allowed_docs
    )
    if round_to is not None:
        scores = scores.withColumn("score", F.round("score", round_to))
    joined = scores.join(
        docs_df.select(
            F.col(id_col).alias("doc_id"),
            F.col(collapse_col).cast("string").alias("group_value"),
        ),
        "doc_id",
    )
    if null_policy == "ignore":
        joined = joined.where(F.col("group_value").isNotNull())
        gkey = F.col("group_value")
    elif null_policy == "expand":
        # a NULL doc is its own group: key NULLs by their unique doc id
        gkey = F.coalesce(
            F.col("group_value"), F.concat(F.lit("\x00"), F.col("doc_id"))
        )
    else:  # collapse: one NULL group
        gkey = F.coalesce(F.col("group_value"), F.lit("\x00null"))
    # per-group head as ONE max_by aggregate, not a row_number window:
    # aggregates get map-side partial aggregation and stay skew-safe
    # when one group dominates (the "one giant domain" case at 100x) —
    # a window must first co-locate EVERY member of the giant group on
    # one task. The ordering struct mirrors the scorer's tie-break
    # (score desc, doc_id asc) via (score, -doc_id) maximization.
    heads = (
        joined.groupBy(F.col("query_id"), gkey.alias("__gkey"))
        .agg(
            F.max_by(
                F.struct("doc_id", "group_value", "score"),
                F.struct(F.col("score").alias("s"),
                         (-F.col("doc_id")).alias("d")),
            ).alias("__h")
        )
        .select(
            "query_id",
            F.col("__h.doc_id").alias("doc_id"),
            F.col("__h.group_value").alias("group_value"),
            F.col("__h.score").alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        heads.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "group_value", "score")
    )


def expand_collapsed(
    index: InvertedIndex,
    docs_df: DataFrame,
    queries,
    collapse_col: str,
    page: DataFrame,
    *,
    expand_rows: int = 5,
    k1: float = K1,
    b: float = B,
    allowed_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    round_to: int | None = None,
    spark: SparkSession | None = None,
) -> DataFrame:
    """Solr's ExpandComponent (``expand=true&expand.rows=N``): for each
    group whose head made the collapsed PAGE, the next ``expand_rows``
    members (the head excluded), ranked (score desc, doc_id asc) —
    Solr's expanded section keyed by group value. ``page`` is
    collapse_topk's output (its (query_id, group_value) pairs define
    which groups expand — only groups on the page, like Solr).
    Returns (query_id, group_value, member_rank, doc_id, score)."""
    scores = entry_scores(
        index, queries, k1=k1, b=b, allowed_docs=allowed_docs
    )
    if round_to is not None:
        scores = scores.withColumn("score", F.round("score", round_to))
    joined = scores.join(
        docs_df.select(
            F.col(id_col).alias("doc_id"),
            F.col(collapse_col).cast("string").alias("group_value"),
        ),
        "doc_id",
    ).where(F.col("group_value").isNotNull())
    keys = page.select("query_id", "group_value").where(
        F.col("group_value").isNotNull()
    ).distinct()
    members = joined.join(F.broadcast(keys), ["query_id", "group_value"])
    w_in = Window.partitionBy("query_id", "group_value").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        members.withColumn("__rn", F.row_number().over(w_in))
        # rank 1 is the page's head — the expanded section starts below it
        .where((F.col("__rn") > 1) & (F.col("__rn") <= expand_rows + 1))
        .withColumn("member_rank", (F.col("__rn") - 1).cast("long"))
        .select("query_id", "group_value", "member_rank", "doc_id", "score")
    )
