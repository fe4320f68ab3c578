"""Facet counts over a query's match set — the Solr `facet=true` feature
of the reference's delegated `/select` stack (SURVEY.md §2.4 D1/D4),
re-expressed Spark-first.

Solr facets count field values over ALL documents matching the query (not
just the returned page). Shape here:

  postings filtered to the query terms (broadcast join — no postings
  shuffle) -> explode doc ids -> distinct match set -> join the corpus on
  doc_id -> one groupBy per facet request (field, value) -> counts.

The join against the corpus is the honest cost of faceting (Lucene pays it
via docValues); the match set is distinct doc ids only (narrow), and the
groupBy aggregates map-side. Counts are exact, descending, with a
deterministic (count desc, value asc) order and per-field limit.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from solrtexttagger_spark.index.build import InvertedIndex
from solrtexttagger_spark.plans import local_frame
from solrtexttagger_spark.search.bm25 import bag_match_set


def facet_counts(
    index: InvertedIndex,
    docs_df: DataFrame,
    query: str,
    facet_cols: list[str],
    *,
    id_col: str = "doc_id",
    limit: int | None = None,
    offset: int = 0,
    mincount: int = 0,
    sort: str = "count",
    prefix: str | None = None,
    missing: bool = False,
    allowed_docs: DataFrame | None = None,
    spark: SparkSession | None = None,
) -> DataFrame:
    """Exact facet counts over the documents matching ``query`` (OR
    semantics — any query term present). Returns
    (field, value, n) with value cast to string (mixed-type facet fields
    union cleanly), ordered within each field by (n desc, value asc),
    optionally capped at ``limit`` values per field. ``allowed_docs`` is
    Solr's fq: it restricts the facet DOMAIN (Solr facets respect filter
    queries) via a semi-join on the match set.

    Solr facet.field request parameters (applied request-wide like the
    un-prefixed Solr params; per-field ``f.<field>.facet.*`` overrides
    are a caller-side loop if needed):

    - ``mincount``: drop values with n < mincount AFTER counting
      (facet.mincount; the default 0 keeps every observed value — values
      absent from the match set never appear, exactly Solr over a
      docValues field's observed domain).
    - ``sort``: ``"count"`` (n desc, value asc — Solr's default when
      limit > 0) or ``"index"`` (value asc — Solr's lexicographic
      index order).
    - ``offset``/``limit``: paginate WITHIN each field's sorted value
      list (facet.offset/facet.limit); offset without limit is honored.
    - ``prefix``: only values starting with the string (facet.prefix),
      applied BEFORE counting-order pagination like Solr's term-enum
      restriction; pushed below the aggregate so pruned values never
      shuffle.
    - ``missing``: facet.missing — append one row per field with
      value NULL counting matched docs that have NO value in the field
      (0 included, as Solr renders it). Identified by the NULL value,
      not by position; it never participates in mincount/limit/prefix,
      exactly like Solr renders it outside the value list. NULL-valued
      docs are EXCLUDED from the value rows either way (Solr counts
      only docs carrying the field — previously a null could surface
      as a value row, which no Solr writer emits)."""
    if sort not in ("count", "index"):
        raise ValueError(f"facet sort must be 'count' or 'index', got {sort!r}")
    spark = spark or docs_df.sparkSession
    matched = bag_match_set(
        index, query, allowed_docs=allowed_docs, id_col=id_col
    )
    if matched is None or not facet_cols:
        return local_frame(spark, [], "field string, value string, n long")
    joined = docs_df.join(matched, id_col)
    # one exploded (field, value) row per facet col per matched doc: a
    # single groupBy covers every requested field
    fv = joined.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("field"),
                        F.col(c).cast("string").alias("value"),
                    )
                    for c in facet_cols
                ]
            )
        ).alias("fv")
    ).select("fv.field", "fv.value")
    fv = fv.where(F.col("value").isNotNull())
    if prefix is not None:
        fv = fv.where(F.col("value").startswith(prefix))
    counts = fv.groupBy("field", "value").agg(F.count("*").alias("n"))
    if mincount > 0:
        counts = counts.where(F.col("n") >= mincount)
    order = (
        [F.col("n").desc(), F.col("value").asc()]
        if sort == "count"
        else [F.col("value").asc()]
    )
    if offset > 0 or limit is not None:
        w = Window.partitionBy("field").orderBy(*order)
        hi = offset + limit if limit is not None else None
        counts = counts.withColumn("__r", F.row_number().over(w)).where(
            (F.col("__r") > offset)
            & (F.col("__r") <= hi if hi is not None else F.lit(True))
        ).drop("__r")
    # materialize the requested ordering even when not paginating (the
    # docstring's ordering promise held only under limit/offset before —
    # round-7 advice); the post-aggregation relation is distinct facet
    # values, so the global sort is tiny
    out = counts.orderBy(F.col("field").asc(), *order).select(
        "field", "value", "n"
    )
    if missing:
        # one scan-wide aggregate: every field's null count in one row,
        # stacked to (field, NULL, n) — same one-pass discipline as the
        # value counts (joined is the matched domain, fq included).
        # The stack() below interpolates raw names into SQL text — fail
        # loudly on non-identifier field names (r9 ADVICE)
        import re as _re

        bad = [c for c in facet_cols if not _re.match(r"[A-Za-z_]\w*$", c)]
        if bad:
            raise ValueError(
                "facet.missing needs plain identifier field names, got "
                f"{bad} — rename/alias the columns first"
            )
        aggs = [
            # coalesce: an EMPTY matched domain must still render 0
            # (sum over no rows is NULL)
            F.coalesce(
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)),
                F.lit(0),
            ).cast("long").alias(f"__m_{c}")
            for c in facet_cols
        ]
        pairs = ", ".join(
            f"'{c}', CAST(NULL AS STRING), __m_{c}" for c in facet_cols
        )
        miss = joined.agg(*aggs).selectExpr(
            f"stack({len(facet_cols)}, {pairs}) AS (field, value, n)"
        )
        out = out.unionByName(miss)
    return out


def facet_ranges(
    index: InvertedIndex,
    docs_df: DataFrame,
    query: str,
    col: str,
    start: int,
    end: int,
    gap: int,
    *,
    id_col: str = "doc_id",
    allowed_docs: DataFrame | None = None,
    spark: SparkSession | None = None,
) -> DataFrame:
    """Solr `facet.range` over the query's match set (``allowed_docs`` =
    fq, restricting the facet domain like facet_counts): bucket counts for
    [start, start+gap), [start+gap, ...), up to ``end`` — EVERY bucket is
    returned, zero-filled (Solr's mincount=0 default), so the row count
    is deterministic: ceil((end-start)/gap). Values outside [start, end)
    are not counted (Solr's include default; no before/after rows).
    Returns (range_start long, n long) ordered by range_start.

    Shape: the distinct match set (narrow doc ids, postings broadcast
    join as facet_counts) joins the corpus once; the bucket key is pure
    arithmetic; a tiny literal bucket spine left-joins the counts to
    zero-fill — no shuffle beyond the one groupBy."""
    if gap <= 0 or end <= start:
        raise ValueError("need gap > 0 and end > start")
    spark = spark or docs_df.sparkSession
    matched = bag_match_set(
        index, query, allowed_docs=allowed_docs, id_col=id_col
    )
    if matched is None:
        return local_frame(spark, [], "range_start long, n long")
    c = F.col(col)
    bucket = (F.floor((c - start) / gap) * gap + start).cast("long")
    counts = (
        docs_df.join(matched, id_col)
        .where((c >= start) & (c < end))
        .groupBy(bucket.alias("range_start"))
        .agg(F.count("*").alias("n"))
    )
    spine = spark.range(start, end, gap).select(
        F.col("id").cast("long").alias("range_start")
    )
    return (
        spine.join(counts, "range_start", "left")
        .select(
            "range_start", F.coalesce("n", F.lit(0)).cast("long").alias("n")
        )
        .orderBy("range_start")
    )


def facet_query_matches(
    index: InvertedIndex,
    base_query: str,
    facet_queries: list[str],
    *,
    allowed_docs: DataFrame | None = None,
    field: str | None = None,
    synonyms: dict[str, list[str]] | None = None,
    spark: SparkSession | None = None,
) -> DataFrame:
    """Solr ``facet.query`` as a relation: for each sub-query, the count
    of documents in the BASE request's match domain (main ``q``
    bag-matched, ``fq`` applied; every ``fq`` doc when ``q`` has no
    terms) that ALSO satisfy the sub-query — the third Solr facet type
    next to facet.field and facet.range. Each facet.query is a full
    boolean-syntax query (clauses, markers, phrases, slop — the whole
    grammar boolean_bm25_topk accepts); Solr evaluates each against the
    request DocSet the same way.

    Returns (facet_query string, n long, query_id long) — one row per
    requested sub-query, ZERO-FILLED (a sub-query with no matches still
    appears, n=0, via a literal spine left-join — Solr always echoes
    every facet.query parameter)."""
    domain = bag_match_set(index, base_query, allowed_docs=allowed_docs)
    return _facet_query_matches(
        index, facet_queries,
        domain if domain is not None else allowed_docs,
        field=field, synonyms=synonyms, spark=spark,
    )


def _facet_query_matches(
    index: InvertedIndex,
    facet_queries: list[str],
    domain: DataFrame | None,
    *,
    field: str | None = None,
    synonyms: dict[str, list[str]] | None = None,
    spark: SparkSession | None = None,
) -> DataFrame:
    """facet_query_matches over a (doc_id) ``domain`` (None: every doc;
    the /select writers pass their match set): ONE boolean_matched_scores
    batch for all sub-queries, the domain a semi-join on the same plan,
    one count aggregate — never a job per facet.query."""
    from solrtexttagger_spark.search.boolean import boolean_matched_scores

    spark = spark or index.postings.sparkSession
    spine = local_frame(
        spark, list(enumerate(facet_queries)), "query_id long, facet_query string"
    )
    fq_matches = boolean_matched_scores(
        index,
        list(enumerate(facet_queries)),
        field=field,
        synonyms=synonyms,
        spark=spark,
    ).select("query_id", "doc_id")
    if domain is not None:
        fq_matches = fq_matches.join(domain.select("doc_id"), "doc_id", "left_semi")
    counts = fq_matches.groupBy("query_id").agg(F.count("*").alias("n"))
    return spine.join(counts, "query_id", "left").select(
        "facet_query",
        F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        "query_id",
    )


def facet_query_counts(
    index: InvertedIndex,
    base_query: str,
    facet_queries: list[str],
    *,
    allowed_docs: DataFrame | None = None,
    field: str | None = None,
    synonyms: dict[str, list[str]] | None = None,
    spark: SparkSession | None = None,
) -> dict[str, int]:
    """facet_query_matches collected: {facet_query_string: count} in
    input order, 0 for no matches — one collect."""
    if not facet_queries:
        return {}
    return _query_counts(facet_query_matches(
        index, base_query, facet_queries,
        allowed_docs=allowed_docs, field=field, synonyms=synonyms,
        spark=spark,
    ), facet_queries)


def _query_counts(matches: DataFrame, facet_queries: list[str]) -> dict[str, int]:
    by_id = {int(r["query_id"]): int(r["n"]) for r in matches.collect()}
    return {q: by_id.get(i, 0) for i, q in enumerate(facet_queries)}


_INTERVAL_RE = re.compile(
    r"^(?:\{!key=([^}]*)\})?([\[(])([^,]+),([^\])]+)([\])])$"
)


def parse_interval(s: str):
    """Solr facet.interval set syntax: ``[0,10)`` / ``(5,100]`` with
    ``[``/``]`` inclusive, ``(``/``)`` exclusive, ``*`` open endpoints,
    and an optional ``{!key=alias}`` output-name local param (the set
    string itself is the name otherwise, like Solr).

    -> (key, lo, hi, lo_inclusive, hi_inclusive); lo/hi are numbers or
    None for ``*``."""
    m = _INTERVAL_RE.match(s.strip())
    if not m:
        raise ValueError(
            f"bad facet.interval set {s!r} (expected [a,b) / (a,b] / "
            "{{!key=alias}}[a,b] with * for open endpoints)"
        )
    alias, lo_br, lo_s, hi_s, hi_br = m.groups()

    def num(x):
        x = x.strip()
        if x == "*":
            return None
        f = float(x)
        return int(f) if f.is_integer() and "." not in x else f

    key = alias if alias is not None else s.strip()
    return key, num(lo_s), num(hi_s), lo_br == "[", hi_br == "]"
