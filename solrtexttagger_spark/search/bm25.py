"""BM25 top-k keyword search — Spark-native replacement for the reference's
delegated Solr ``/select`` SearchHandler (SURVEY.md §2.4 D1; solrconfig.xml:52).

Physical shape, deliberately all JVM-side (whole-stage codegen, no Python in
the scoring path):

  postings (BIG)  JOIN  broadcast(query terms, tiny)   <- broadcast hash join,
    -> explode(postings)                                  no shuffle of postings
    -> per-(query,term,doc) contribution (built-in exprs)
    -> groupBy(query_id, doc_id).sum                    <- the one shuffle,
    -> row_number() window per query_id, <= k              partial agg map-side

Scoring: Lucene-classic BM25 (k1=1.2, b=0.75),
  idf  = ln(1 + (N - df + 0.5)/(df + 0.5))
  w    = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) * qtf
Deterministic tie-break (score desc, doc_id asc) for rank-identical output.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T

from solrtexttagger_spark.analysis.core import tokenize
from solrtexttagger_spark.index.build import InvertedIndex
from solrtexttagger_spark.plans import local_frame, term_in

K1 = 1.2
B = 0.75

# Global df per query term has ONE lookup, global_df (Lucene reads it
# from its term dictionary, SURVEY §1.1), and it never runs a Spark
# action: when the index's term dictionary (index/termdict.py) holds
# every term, df ships inside what the scorer already broadcasts;
# otherwise an in-DAG aggregate over the terms' rows is broadcast-joined
# into the scoring job itself, so a cold batch stays ONE action. Only
# warm_df_cache fills the dictionary here, called by top-level entries
# with the terms they just analyzed.

# every scorer's (query_id, doc_id, score) match set, and the ranked
# page rank_window makes of it
_RANKED_SCHEMA = "query_id long, rank long, doc_id long, score double"
_SCORE_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.DoubleType()),
    ]
)


def analyze_query_terms(query: str, lowercase: bool = True) -> dict[str, int]:
    """Query analysis chain (same tokenizer as the index chain) -> term bag."""
    words = [w for w in tokenize(query) if w is not None]
    return Counter((w.lower() if lowercase else w) for w, _s, _e in words)


def expand_synonyms(
    bag: dict[str, int], synonyms: dict[str, list[str]]
) -> dict[str, int]:
    """Query-time synonym expansion — Lucene SynonymGraphFilter's
    query-analyzer semantics flattened onto the BM25 bag model: every
    occurrence of a term also contributes each of its synonyms at the
    same weight, so the expanded clause scores like Solr's
    (term OR synonym) at equal boost. One-directional (map key ->
    expansions), index-side text untouched — exactly Solr's recommended
    query-time-only synonym deployment.

    MULTI-WORD expansions ("ny" -> "new york") are analyzed with the
    query tokenizer and contribute each constituent term at the clause
    weight — the classic flattened ("sausagized") SynonymFilter
    behavior. This helper is the LEGACY flatten; every scorer now routes
    through expand_synonyms_graph, which upgrades multi-word expansions
    to TRUE graph semantics (constituents score only where the words are
    contiguous — Lucene SynonymGraphFilter)."""
    out = dict(bag)
    for t, qtf in bag.items():
        for s in synonyms.get(t, ()):
            for w, _s, _e in (tok for tok in tokenize(s) if tok is not None):
                w = w.lower()
                out[w] = out.get(w, 0) + qtf
    return out


def expand_synonyms_graph(
    bag: dict[str, int], synonyms: dict[str, list[str]]
) -> tuple[dict[str, int], dict[tuple[str, ...], int]]:
    """Query-time synonym expansion with Lucene SynonymGraphFilter
    semantics on the bag model (round-6 verdict #5). Returns
    ``(expanded_bag, phrase_bags)``:

    - ``expanded_bag``: the original terms plus every SINGLE-word
      expansion at the source term's weight (identical to
      expand_synonyms when no mapping is multi-word);
    - ``phrase_bags``: {constituent-token tuple: weight} for each
      MULTI-word expansion — "ny" -> "new york" becomes the graph clause
      (ny OR "new york"): the phrase member contributes its
      constituents' BM25 scores ONLY for documents containing the words
      CONTIGUOUSLY and matches such documents even when no bag term
      does. The scorers hand such a query to the boolean seg kernel as
      ``BooleanPlan(bag, gated=phrase_bags)`` (boolean.bag_plan), whose
      phrase_docs is the one phrase matcher. Weights sum when several
      source occurrences expand to the same phrase."""
    out = dict(bag)
    phrases: dict[tuple[str, ...], int] = {}
    for t, qtf in bag.items():
        for s in synonyms.get(t, ()):
            toks = tuple(
                w.lower()
                for w, _s, _e in (tok for tok in tokenize(s) if tok is not None)
            )
            if not toks:
                continue
            if len(toks) == 1:
                out[toks[0]] = out.get(toks[0], 0) + qtf
            else:
                phrases[toks] = phrases.get(toks, 0) + qtf
    return out, phrases


def queries_to_df(
    spark: SparkSession,
    queries: list[tuple[int, str]],
    synonyms: dict[str, list[str]] | None = None,
) -> DataFrame:
    """(query_id, term, qtf) relation from analyzed query texts. A flat
    term relation cannot carry the contiguity structure multi-word
    synonym graph semantics need, so such a mapping raises here — pass
    ``synonyms=`` to bm25_topk/wand_topk instead (they resolve the
    phrase members through the positional index)."""
    rows = []
    for qid, q in queries:
        bag = analyze_query_terms(q)
        if synonyms:
            bag, phrases = expand_synonyms_graph(bag, synonyms)
            if phrases:
                raise ValueError(
                    "multi-word synonym expansions cannot be flattened "
                    f"into a term relation ({sorted(phrases)}); pass "
                    "synonyms= to the scorer instead"
                )
        for term, qtf in sorted(bag.items()):
            rows.append((int(qid), term, int(qtf)))
    return local_frame(spark, rows, "query_id long, term string, qtf int")


def query_bags(queries) -> dict[int, dict[str, int]]:
    """{query_id: {term: qtf}} from a list[(query_id, text)] (analyzed
    here) or a DataFrame(query_id, term, qtf) — collected, since the
    query table is tiny by contract."""
    if not isinstance(queries, DataFrame):
        return {int(qid): analyze_query_terms(q) for qid, q in queries}
    bags: dict[int, dict[str, int]] = {}
    for r in queries.collect():
        bags.setdefault(int(r["query_id"]), {})[r["term"]] = int(r["qtf"])
    return bags


def bag_terms(qbags: dict[int, dict[str, int]]) -> list[str]:
    return sorted({t for bag in qbags.values() for t in bag})


def _term_rows(index) -> DataFrame:
    """The rows a term filter reads: ``blocks`` of a CompressedIndex,
    ``postings`` of an InvertedIndex."""
    return index.blocks if hasattr(index, "blocks") else index.postings


def global_df(index, terms) -> "dict[str, float] | DataFrame":
    """The one global-df lookup for query terms the driver knows; runs
    no Spark action. On a hit (the index's term dictionary holds every
    term) returns {term: df}, absent terms left out, for the caller to
    fold into the relation or weights it already ships. On a miss
    returns the lazy (term, df double) aggregate over the terms' rows
    for the caller to broadcast-join."""
    terms = sorted(set(terms))
    info = index.termdict.cached(terms)
    if info is not None:
        return {t: float(e.df) for t, e in info.items() if e.df is not None}
    return (
        _term_rows(index).where(term_in(F.col("term"), terms))
        .groupBy("term")
        .agg(F.sum("df_seg").cast("double").alias("df"))
    )


def join_query_terms(
    index, rows: DataFrame, qrows: list[tuple], schema: str
) -> DataFrame:
    """``rows`` (the index's postings or blocks) inner-joined on term
    with the broadcast query-term relation built from ``qrows`` (tuples
    whose FIRST field is the term; ``schema`` names the fields), plus a
    global ``df double`` column from global_df: a literal column of that
    same relation on a hit, a second broadcast join on a miss."""
    spark = rows.sparkSession
    dfs = global_df(index, [r[0] for r in qrows])
    if isinstance(dfs, dict):
        qdf = local_frame(
            spark, [(*r, dfs[r[0]]) for r in qrows if r[0] in dfs], schema + ", df double"
        )
        return rows.join(F.broadcast(qdf), "term")
    qdf = local_frame(spark, qrows, schema)
    return rows.join(F.broadcast(qdf), "term").join(F.broadcast(dfs), "term")


def warm_df_cache(index, terms) -> dict[str, int | None]:
    """Fill the index's term dictionary for ``terms`` (one collect for
    the unseen ones; absent terms held as None) and return {term: df}.
    Top-level entries call it with the terms they just analyzed, so the
    scorers they build take global_df's hit path."""
    info = index.termdict.lookup(_term_rows(index), terms)
    return {t: e.df for t, e in info.items()}


def bm25_topk(
    index: InvertedIndex,
    queries,
    *,
    k: int = 10,
    k1: float = K1,
    b: float = B,
    spark: SparkSession | None = None,
    strategy: str = "segmented",
    allowed_docs: DataFrame | None = None,
    start: int = 0,
    synonyms: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Top-k BM25 per query. ``queries`` is a list[(query_id, text)] or a
    DataFrame(query_id, term, qtf). Returns
    (query_id, rank, doc_id, score double).

    strategy='segmented' (default): the boolean seg kernel
    (boolean.plan_scores) over ``BooleanPlan(bag)`` plans — one scan of
    the query terms' postings grouped by seg, evaluate_boolean per
    segment — under rank_window, whose row_number limit Catalyst splits
    into a Partial WindowGroupLimit ahead of the query_id exchange, so
    only O(k x partitions) rows reach the final window. Docs are
    hash-assigned to exactly one segment, so each segment's scores are
    whole.
    strategy='exploded': the pure-JVM whole-stage-codegen path — explode
    postings, one groupBy(query_id, doc_id) shuffle. Simple and entirely
    JVM-side, but the shuffle key set is near-unique (~one row per
    (query, matching doc)), which caps scaling on large corpora; prefer
    'segmented' for batch workloads at scale.

    ``allowed_docs`` (a relation with a doc_id column) is Solr's `fq`:
    results are restricted to the allowed set, but idf/avgdl stay
    CORPUS-WIDE (Solr filter queries never change scoring stats).
    Catalyst pushes whatever predicate produced ``allowed_docs`` into its
    own scan. In the segmented strategy the allowed ids are co-partitioned
    with the scoring segments (index.build.seg_of) and applied to each
    segment's scores inside the kernel — distributed, no broadcast; in
    the exploded strategy it is a post-aggregation semi-join before the
    rank window.

    ``start`` is Solr's result-page offset: rows with
    start < rank <= start + k are returned, rank staying the ABSOLUTE
    position (Solr start/rows pagination, rank_window's ``start``).

    ``synonyms`` ({term: [expansion, ...]}) applies query-time synonym
    expansion to every query's term bag before scoring, both strategies,
    with GRAPH semantics for multi-word expansions
    (expand_synonyms_graph): constituents of "ny" -> "new york" score
    only in documents containing the contiguous phrase, which also
    matches documents no bag term reaches. A batch with such an
    expansion runs as phrase-gated BooleanPlans in the boolean seg
    kernel (boolean.plan_scores), whatever the strategy.
    """
    from solrtexttagger_spark.search.boolean import bag_plan, plan_scores

    plans = {qid: bag_plan(bag, synonyms) for qid, bag in query_bags(queries).items()}
    # a multi-word expansion gates its constituents on the contiguous
    # phrase, so such a batch runs in the seg kernel whatever the strategy
    if strategy == "segmented" or any(p.gated for p in plans.values()):
        return rank_window(plan_scores(
            index, plans, k1=k1, b=b, allowed_docs=allowed_docs, spark=spark
        ), k, start)
    qbags = {qid: p.score_bag for qid, p in plans.items()}
    # top-level batch scorer: one tiny collect for unseen terms puts
    # exploded_scores on global_df's hit path; never done inside
    # exploded_scores, which other entries embed
    warm_df_cache(index, bag_terms(qbags))
    return rank_window(
        exploded_scores(index, qbags, k1=k1, b=b, allowed_docs=allowed_docs), k, start
    )


def rank_window(scores: DataFrame, k: int, start: int = 0) -> DataFrame:
    """(query_id, rank long, doc_id, score) of the rows ranked
    start < rank <= start + k per query of a (query_id, doc_id, score)
    relation: deterministic (score desc, doc_id asc), one schema for
    every scorer."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    keep = F.col("rank") <= start + k
    if start:
        keep = keep & (F.col("rank") > start)
    return (
        scores.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(keep)
        .select("query_id", "rank", "doc_id", "score")
    )


def exploded_scores(
    index: InvertedIndex,
    qbags: dict[int, dict[str, int]],
    *,
    k1: float = K1,
    b: float = B,
    allowed_docs: DataFrame | None = None,
) -> DataFrame:
    """Per-(query, matched doc) total BM25 score — the pure-JVM exploded
    scoring relation BEFORE any top-k filter: one broadcast hash join of
    the query terms + one groupBy(query_id, doc_id) shuffle, one row per
    doc matching >= 1 term (under fq). qbags: {query_id: {term: qtf}}
    (pre-analyzed); df comes from global_df, so building the relation
    runs no action."""
    n = float(index.doc_count)
    avgdl = float(index.avgdl) if index.avgdl else 1.0
    qrows = [
        (t, int(qid), int(qtf))
        for qid, bag in sorted(qbags.items())
        for t, qtf in sorted(bag.items())
    ]
    joined = join_query_terms(
        index, index.postings, qrows, "term string, query_id long, qtf int"
    )
    ex = joined.select(
        "query_id",
        "qtf",
        F.log(F.lit(1.0) + (F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5)).alias(
            "idf"
        ),
        F.explode("postings").alias("p"),
    )
    tf = F.col("p.tf").cast("double")
    dl = F.col("p.dl").cast("double")
    contrib = (
        F.col("idf")
        * (tf * (k1 + 1.0))
        / (tf + k1 * (1.0 - b + b * dl / avgdl))
        * F.col("qtf").cast("double")
    )
    scores = (
        ex.select("query_id", F.col("p.doc_id").alias("doc_id"), contrib.alias("c"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("c").alias("score"))
    )
    if allowed_docs is not None:
        scores = scores.join(
            allowed_docs.select("doc_id").distinct(), "doc_id", "left_semi"
        )
    return scores


def bag_match_set(
    index: InvertedIndex,
    query: str,
    *,
    allowed_docs: DataFrame | None = None,
    id_col: str = "doc_id",
) -> DataFrame | None:
    """The distinct (``id_col``) docs holding ANY analyzed term of
    ``query`` (bag model) under fq, JVM-side; None when the query has no
    terms: the facet/stats/pivot entries' domain."""
    terms = sorted(analyze_query_terms(query))
    if not terms:
        return None
    tdf = local_frame(index.postings.sparkSession, [(t,) for t in terms], "term string")
    matched = (
        index.postings.join(F.broadcast(tdf), "term")
        .select(F.explode("postings.doc_id").alias(id_col))
        .distinct()
    )
    if allowed_docs is not None:
        matched = matched.join(
            allowed_docs.select(F.col("doc_id").alias(id_col)).distinct(),
            id_col, "left_semi",
        )
    return matched


def entry_scores(
    index: InvertedIndex,
    queries,
    *,
    k1: float = K1,
    b: float = B,
    allowed_docs: DataFrame | None = None,
) -> DataFrame:
    """exploded_scores for a top-level entry (grouping, collapse,
    elevation, function boosts): ``queries`` (list or DataFrame) become
    bags, and the df cache is warmed with their terms first — one tiny
    collect for unseen terms — so the relation takes global_df's hit
    path."""
    qbags = query_bags(queries)
    warm_df_cache(index, bag_terms(qbags))
    return exploded_scores(index, qbags, k1=k1, b=b, allowed_docs=allowed_docs)
