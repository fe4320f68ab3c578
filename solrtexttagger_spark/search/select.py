"""/select result assembly — Solr returns STORED FIELDS with each hit
(`fl=` projection), not bare ids (reference delegated stack, SURVEY.md
§2.4 D1/D4; the tagger side's equivalent is matched_docs'
`fl` projection at tagging/operator.py).

Shape: the ranked top-k relation is tiny (k x |queries| rows) — it
broadcasts into a join against the corpus, and Catalyst prunes the docs
scan to exactly the requested `fl` columns (pinned by
test_plans.test_scan_pruning_column_projection for the tagger path; the
same projection applies here).

The golden writers (render_select_xml/json) match ``q`` ONCE per
request, as solr_select does (request.lucene_match_set), and every
section reads that one match set — Solr's shared-DocSet model
(TaggerRequestHandler.java:310-351): the page carries numFound/maxScore
as window aggregates over it (the rank-1 row always rides along, so
maxScore holds even when start pages past it); facet.field/range/
interval share ONE facet job (_facet_sections); facet.query and
json.facet take it as their base domain; hl broadcasts the
already-ranked page (_hl_section). With more than one reader it is
persisted for the request. Job budgets: test_response_format."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from solrtexttagger_spark.index.build import InvertedIndex
from solrtexttagger_spark.plans import local_frame
from solrtexttagger_spark.search.bm25 import _RANKED_SCHEMA, B, K1, bm25_topk
from solrtexttagger_spark.search.facets import (
    _facet_query_matches,
    _query_counts,
    parse_interval,
)
from solrtexttagger_spark.search.highlight import snippets
from solrtexttagger_spark.search.json_facet import _json_facet
from solrtexttagger_spark.search.request import _under_fq, fold_functions, lucene_match_set


def select_topk(
    index: InvertedIndex,
    docs_df: DataFrame,
    queries,
    *,
    fl: list[str],
    k: int = 10,
    k1: float = K1,
    b: float = B,
    start: int = 0,
    allowed_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    spark: SparkSession | None = None,
) -> DataFrame:
    """Top-k BM25 with stored-field retrieval: returns
    (query_id, rank, doc_id, score, *fl). `fl` columns come from
    ``docs_df``; the ranked set broadcasts into the corpus join. Supports
    the same fq (`allowed_docs`) and pagination (`start`) as bm25_topk."""
    # the id column is always emitted; listing it in fl too would produce
    # a duplicate/ambiguous column (round-5 advice)
    fl = [c for c in fl if c != id_col]
    ranked = bm25_topk(
        index, queries, k=k, k1=k1, b=b, spark=spark,
        start=start, allowed_docs=allowed_docs,
    )
    fields = docs_df.select(F.col(id_col).alias("doc_id"), *fl)
    return (
        fields.join(F.broadcast(ranked), "doc_id")
        .select("query_id", "rank", "doc_id", "score", *fl)
    )


def select_page(
    index: InvertedIndex,
    docs_df: DataFrame,
    query: str,
    *,
    fl: list[str],
    k: int = 10,
    k1: float = K1,
    b: float = B,
    start: int = 0,
    allowed_docs: DataFrame | None = None,
    bf: str | None = None,
    boost: str | None = None,
    id_col: str = "doc_id",
    spark: SparkSession | None = None,
) -> DataFrame:
    """One-request /select page: (query_id, rank, doc_id, score,
    num_found, max_score, *fl) for start < rank <= start + k, PLUS the
    rank-1 row (so an empty or offset page still carries
    numFound/maxScore). ``query`` is Lucene syntax, matched like
    solr_select's q (request.lucene_match_set). num_found / max_score
    are window aggregates over the partitioning the rank window shuffles
    on: no extra exchange, no extra job. ``bf``/``boost`` (SQL) fold in
    as (score + bf) * boost BEFORE the rank window
    (request.fold_functions), so numFound/maxScore/pagination all see
    the boosted ranking."""
    matched = lucene_match_set(
        index, docs_df, query, allowed_docs=allowed_docs, k1=k1, b=b,
        id_col=id_col, spark=spark,
    )
    return _page(
        matched, docs_df, fl=fl, k=k, start=start, bf=bf, boost=boost,
        id_col=id_col,
    )


def _page(matched, docs_df, *, fl, k, start, bf, boost, id_col="doc_id"):
    """select_page over a (query_id, doc_id, score) match set."""
    fl = [c for c in fl if c != id_col]
    scores = fold_functions(matched, docs_df, bf, boost, id_col=id_col)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    wall = Window.partitionBy("query_id")
    ranked = (
        scores.withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn("num_found", F.count("*").over(wall))
        .withColumn("max_score", F.max("score").over(wall))
        .where(
            (F.col("rank") == 1)
            | ((F.col("rank") > start) & (F.col("rank") <= start + k))
        )
    )
    fields = docs_df.select(F.col(id_col).alias("doc_id"), *fl)
    return fields.join(F.broadcast(ranked), "doc_id").select(
        "query_id", "rank", "doc_id", "score", "num_found", "max_score", *fl
    )


_XML_TYPE = {
    "bigint": "long", "int": "int", "smallint": "int", "tinyint": "int",
    "double": "double", "float": "float", "boolean": "bool",
}


def _xml_attr(name) -> str:
    """name="..." attribute escaping — facet VALUES become element names
    in Solr's XML shape, so '&', '<', '>' and '"' must escape here too
    (round-5 advice: unescaped names produced malformed XML)."""
    return (
        str(name)
        .replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
    )


def _xml_el(name: str, value, dtype: str) -> str:
    tag = _XML_TYPE.get(dtype, "str")
    sv = str(value)
    if tag == "str":
        sv = (
            sv.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        )
    return f'<{tag} name="{_xml_attr(name)}">{sv}</{tag}>'


def _request_sections(
    index, docs_df, query, *, fl, k, start, allowed_docs, facet_cols,
    facet_ranges, facet_queries, facet_intervals, bf, boost, hl, hl_window,
    text_col, spark, json_facet_spec=None, json_facet_allowed=None,
    json_facet_tags=None,
) -> dict:
    """{"rows", "dtypes", "num_found", "max_score"} of the page plus the
    requested "facets", "facet_queries", "json_facet" and "highlighting"
    sections, all over ONE match set of ``query``. Multi-select
    json.facet counts under the untagged fq only, so the match set is
    then taken fq-free and each reader semi-joins its own fq."""
    spark = spark or docs_df.sparkSession
    multi = bool(json_facet_spec) and (
        bool(json_facet_tags) or json_facet_allowed is not None
    )
    base = lucene_match_set(
        index, docs_df, query,
        allowed_docs=None if multi else allowed_docs, spark=spark,
    )

    def within(rel):
        return _under_fq(base, rel) if multi else base

    faceted = bool(facet_cols or facet_ranges or facet_queries or facet_intervals)
    shared = faceted or bool(json_facet_spec)
    if shared:  # more than one job reads it: compute it once
        base = base.persist()
    try:
        matched = within(allowed_docs)
        page = _page(
            matched, docs_df, fl=fl, k=k, start=start, bf=bf, boost=boost
        )
        rows = sorted(page.collect(), key=lambda r: r["rank"])
        out = {
            "rows": [r for r in rows if r["rank"] > start],
            "dtypes": dict(page.dtypes),
            "num_found": rows[0]["num_found"] if rows else 0,
            "max_score": rows[0]["max_score"] if rows else 0.0,
        }
        if faceted:
            out["facets"] = _facet_sections(
                docs_df, matched, facet_cols, facet_ranges,
                facet_intervals=facet_intervals,
            )
        if facet_queries:
            out["facet_queries"] = _query_counts(
                _facet_query_matches(
                    index, facet_queries, matched, spark=spark
                ),
                facet_queries,
            )
        if json_facet_spec:
            out["json_facet"] = _json_facet(
                index, docs_df, within(json_facet_allowed).select("doc_id"),
                json_facet_spec, tagged_filters=json_facet_tags, spark=spark,
            )
    finally:
        if shared:
            base.unpersist()
    if hl:
        out["highlighting"] = _hl_section(
            index, docs_df, query, out["rows"], hl_window, text_col, spark
        )
    return out


def _facet_sections(docs_df, matched, facet_cols, facet_ranges,
                    facet_intervals=None):
    """-> (field_counts: {col: [(value, n), ...] count-desc},
    range_counts: {key: (start, end, gap, [(range_start, n), ...])},
    interval_counts: {col: [(key, n), ...] request order, zero-filled}).
    All over ``matched`` — the request's FULL match set (a doc_id
    relation, fq applied), Solr facet semantics.

    ``facet_intervals`` entries are (col, [interval set strings]) —
    Solr's facet.interval: arbitrary, possibly OVERLAPPING intervals
    (``[0,10)`` / ``(5,*]`` / ``{!key=alias}[a,b]`` — see
    facets.parse_interval). A doc falling in k intervals counts k times
    across sets (one exploded arm per interval), which is exactly why
    interval facets exist next to facet.range. They ride the SAME single
    facet job — zero extra actions.

    ``facet_ranges`` entries are (col, start, end, gap) or
    (col, start, end, gap, key): ``key`` is the OUTPUT name — Solr's
    ``facet.range={!key=alias}col`` local param — defaulting to the
    column name. Every request aggregates independently (two requests on
    the same column never pool buckets), and a duplicate output key
    raises (Solr's NamedList would collide the same way; give the second
    request a distinct key).

    Field-facet NULL values count like any other value (documented
    deviation from Solr, which needs facet.missing=true); the
    count-desc sort is None-safe (NULL sorts after equal-count strings)
    and the writers render the bucket with an empty name.

    ONE Spark job for every facet section: the corpus joins the match
    set once, and every section aggregates in a single groupBy over an
    exploded (section, field, value) relation. Range buckets zero-fill
    driver-side against the literal bucket spine (request constants)."""
    facet_cols = list(facet_cols or [])
    franges = []
    seen_keys: set[str] = set()
    for fr in facet_ranges or []:
        col, lo, hi, gap = fr[:4]
        key = fr[4] if len(fr) > 4 else col
        if key in seen_keys:
            raise ValueError(
                f"duplicate facet.range output key {key!r}: give the "
                "second request on this column an explicit key "
                "((col, start, end, gap, key) — Solr's {!key=} local "
                "param)"
            )
        seen_keys.add(key)
        franges.append((col, lo, hi, gap, key))
    fintervals = []
    for col, sets in facet_intervals or []:
        if col in (c for c, _ in fintervals):
            raise ValueError(
                f"duplicate facet.interval field {col!r}: Solr takes one "
                "set list per field (f.<field>.facet.interval.set)"
            )
        parsed = [parse_interval(s) for s in sets]
        keys = [k for k, *_ in parsed]
        if len(keys) != len(set(keys)):
            raise ValueError(
                f"duplicate facet.interval output key in {col!r} sets: "
                "alias one with {{!key=...}}"
            )
        fintervals.append((col, parsed))
    fields: dict[str, list] = {}
    ranges: dict[str, tuple] = {}
    intervals: dict[str, list] = {}
    if not facet_cols and not franges and not fintervals:
        return fields, ranges, intervals
    joined = docs_df.join(matched.select("doc_id"), "doc_id")
    structs = [
        F.struct(
            F.lit("f").alias("sec"),
            F.lit(c).alias("field"),
            F.col(c).cast("string").alias("value"),
        )
        for c in facet_cols
    ]
    for i, (col, lo, hi, gap, _key) in enumerate(franges):
        if gap <= 0 or hi <= lo:
            raise ValueError("need gap > 0 and end > start")
        c = F.col(col)
        bucket = (F.floor((c - lo) / gap) * gap + lo).cast("long")
        structs.append(
            F.struct(
                F.lit("r").alias("sec"),
                # keyed by REQUEST ordinal, not column name: two range
                # requests on the same column must not pool their buckets
                F.lit(str(i)).alias("field"),
                F.when((c >= lo) & (c < hi), bucket.cast("string")).alias("value"),
            )
        )
    for i, (col, sets) in enumerate(fintervals):
        c = F.col(col)
        for key, lo, hi, lo_inc, hi_inc in sets:
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (c >= lo if lo_inc else c > lo)
            if hi is not None:
                cond = cond & (c <= hi if hi_inc else c < hi)
            # overlapping sets each get their own arm: a doc in k
            # intervals legitimately counts k times (Solr semantics)
            structs.append(
                F.struct(
                    F.lit("i").alias("sec"),
                    F.lit(f"{i}\x00{key}").alias("field"),
                    F.when(cond & c.isNotNull(), F.lit("1")).alias("value"),
                )
            )
    fv = (
        joined.select(F.explode(F.array(*structs)).alias("x"))
        .select("x.sec", "x.field", "x.value")
        # out-of-range rows carry a NULL bucket and don't count; field
        # facets keep NULL values (they count like any other value)
        .where((F.col("sec") == "f") | F.col("value").isNotNull())
    )
    rows = fv.groupBy("sec", "field", "value").agg(F.count("*").alias("n")).collect()
    for col in facet_cols:
        vals = [
            (r["value"], r["n"]) for r in rows if r["sec"] == "f" and r["field"] == col
        ]
        # Solr facet.sort=count default: count desc, then value asc —
        # None-safe (a NULL bucket tying a string on count sorts after
        # it; Python None vs str would TypeError otherwise)
        fields[col] = sorted(
            vals, key=lambda t: (-t[1], t[0] is None, t[0] or "")
        )
    for i, (_col, lo, hi, gap, key) in enumerate(franges):
        got = {
            int(r["value"]): r["n"]
            for r in rows
            if r["sec"] == "r" and r["field"] == str(i)
        }
        # keyed by the request's OUTPUT key (unique, validated above),
        # so two requests on the same column both reach the writers
        ranges[key] = (
            lo, hi, gap, [(b, got.get(b, 0)) for b in range(lo, hi, gap)]
        )
    for i, (col, sets) in enumerate(fintervals):
        got_i = {
            r["field"].split("\x00", 1)[1]: r["n"]
            for r in rows
            if r["sec"] == "i" and r["field"].startswith(f"{i}\x00")
        }
        # request order, every set present (zero-filled like Solr)
        intervals[col] = [(k, got_i.get(k, 0)) for k, *_ in sets]
    return fields, ranges, intervals


def _hl_section(index, docs_df, query, page_rows, hl_window, text_col, spark):
    """-> [(doc_id, snippet), ...] in rank order for the returned page —
    Solr's hl=true highlighting component. Reuses the ALREADY-RANKED page
    (round-5 verdict #2: no re-run of bm25_topk per request): the
    collected page rows become a tiny literal topk relation that
    search/highlight.snippets broadcasts against the corpus — one narrow
    job over k docs, fq/pagination-correct because the page itself was."""
    if not page_rows:
        return []
    ranked = local_frame(
        spark,
        [
            (0, int(r["rank"]), int(r["doc_id"]), float(r["score"]))
            for r in page_rows
        ],
        _RANKED_SCHEMA,
    )
    rows = snippets(
        index, docs_df, [(0, query)], window=hl_window, text_col=text_col,
        spark=spark, topk=ranked,
    ).collect()
    return [(r["doc_id"], r["snippet"]) for r in sorted(rows, key=lambda r: r["rank"])]


def render_select_xml(
    index: InvertedIndex,
    docs_df: DataFrame,
    query: str,
    *,
    fl: list[str],
    k: int = 10,
    start: int = 0,
    allowed_docs: DataFrame | None = None,
    facet_cols: list[str] | None = None,
    facet_ranges: list[tuple] | None = None,
    facet_queries: list[str] | None = None,
    facet_intervals: list[tuple] | None = None,
    bf: str | None = None,
    boost: str | None = None,
    hl: bool = False,
    hl_window: int = 8,
    text_col: str = "text",
    spark: SparkSession | None = None,
) -> str:
    """Solr /select XML writer (omitHeader=on, indent=off shape, like the
    tagger's golden writer at tagging/response.py). ``query`` is Lucene
    syntax matched as solr_select's q (``*:*`` matches every doc), once
    for every section. One result block with
    numFound = the TOTAL match cardinality, start = the page offset,
    maxScore = the rank-1 score (even when start pages past it), and one
    <doc> per hit carrying <float name="score"> plus the fl fields with
    Solr-typed elements (<long>/<int>/<double>/<str>).

    ``facet_cols`` / ``facet_ranges`` (list of (col, start, end, gap))
    append Solr's facet_counts block — <lst name="facet_fields"> with
    count-desc <int name="value">n</int> entries and
    <lst name="facet_ranges"> with the zero-filled bucket counts plus
    gap/start/end, mirroring Solr's facet.range response shape.

    ``facet_queries`` (list of boolean-syntax sub-queries) appends
    Solr's facet.query block first inside facet_counts (Solr's order):
    <lst name="facet_queries"> with one <int name="<query>"> count of
    matched documents satisfying each sub-query — all sub-queries in
    ONE boolean_matched_scores pass (+1 action when requested, same as
    Solr evaluating extra DocSets).

    ``facet_intervals`` (list of (col, [set strings])) appends Solr's
    facet_intervals block — arbitrary possibly-overlapping intervals
    ("[0,10)" / "(5,*]" / "{!key=alias}[a,b]"), zero extra actions
    (the sets ride the one combined facet job, see _facet_sections).

    ``hl=True`` appends Solr's highlighting block — one best-window
    snippet per returned doc (search/highlight.snippets; plain text, no
    <em> wrapping). One request's page renders driver-side by contract."""
    sec = _request_sections(
        index, docs_df, query, fl=fl, k=k, start=start,
        allowed_docs=allowed_docs, facet_cols=facet_cols,
        facet_ranges=facet_ranges, facet_queries=facet_queries,
        facet_intervals=facet_intervals, bf=bf, boost=boost, hl=hl,
        hl_window=hl_window, text_col=text_col, spark=spark,
    )
    rows, dtypes = sec["rows"], sec["dtypes"]
    num_found, max_score_v = sec["num_found"], sec["max_score"]
    out = ['<?xml version="1.0" encoding="UTF-8"?>\n<response>\n']
    max_score = f"{max_score_v:.4f}" if num_found else "0.0"
    out.append(
        f'<result name="response" numFound="{num_found}" start="{start}" '
        f'maxScore="{max_score}">'
    )
    for r in rows:
        out.append("<doc>")
        out.append(f'<float name="score">{r["score"]:.4f}</float>')
        out.append(_xml_el("id", r["doc_id"], "bigint"))
        for f_ in fl:
            out.append(_xml_el(f_, r[f_], dtypes.get(f_, "string")))
        out.append("</doc>")
    out.append("</result>\n")
    if "facets" in sec:
        fields, ranges, ivals = sec["facets"]
        out.append('<lst name="facet_counts">')
        if "facet_queries" in sec:
            out.append('<lst name="facet_queries">')
            for fq_q, n in sec["facet_queries"].items():
                out.append(_xml_el(fq_q, n, "int"))
            out.append("</lst>")
        out.append('<lst name="facet_fields">')
        for col, vals in fields.items():
            out.append(f'<lst name="{_xml_attr(col)}">')
            for value, n in vals:
                # NULL bucket renders with an empty name (the JSON writer
                # carries it as null) — see _facet_sections docstring
                out.append(_xml_el("" if value is None else value, n, "int"))
            out.append("</lst>")
        out.append('</lst><lst name="facet_ranges">')
        for col, (lo, hi, gap, buckets) in ranges.items():
            out.append(f'<lst name="{_xml_attr(col)}"><lst name="counts">')
            for rs, n in buckets:
                out.append(_xml_el(str(rs), n, "int"))
            out.append("</lst>")
            out.append(f'<int name="gap">{gap}</int>')
            out.append(f'<int name="start">{lo}</int>')
            out.append(f'<int name="end">{hi}</int></lst>')
        out.append("</lst>")
        if ivals:
            out.append('<lst name="facet_intervals">')
            for col, sets in ivals.items():
                out.append(f'<lst name="{_xml_attr(col)}">')
                for key_, n in sets:
                    out.append(_xml_el(key_, n, "int"))
                out.append("</lst>")
            out.append("</lst>")
        out.append("</lst>\n")
    if hl:
        out.append('<lst name="highlighting">')
        for doc_id, snip in sec["highlighting"]:
            esc = (
                str(snip).replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
            )
            out.append(
                f'<lst name="{_xml_attr(doc_id)}"><arr name="{_xml_attr(text_col)}">'
                f"<str>{esc}</str></arr></lst>"
            )
        out.append("</lst>\n")
    out.append("</response>\n")
    return "".join(out)


def render_select_json(
    index: InvertedIndex,
    docs_df: DataFrame,
    query: str,
    *,
    fl: list[str],
    k: int = 10,
    start: int = 0,
    allowed_docs: DataFrame | None = None,
    facet_cols: list[str] | None = None,
    facet_ranges: list[tuple] | None = None,
    facet_queries: list[str] | None = None,
    facet_intervals: list[tuple] | None = None,
    bf: str | None = None,
    boost: str | None = None,
    json_facet_spec: dict | None = None,
    json_facet_allowed: DataFrame | None = None,
    json_facet_tags: dict | None = None,
    hl: bool = False,
    hl_window: int = 8,
    text_col: str = "text",
    spark: SparkSession | None = None,
) -> str:
    """Solr /select JSON writer — ``query`` and the sections as in
    render_select_xml — shape: {"response": {"numFound", "start",
    "maxScore", "docs": [{"id", "score", ...fl}]}} plus, with
    ``facet_cols``/``facet_ranges``, Solr's default flat-array facet
    block: {"facet_counts": {"facet_fields": {col: [v1, n1, v2, n2, ...]},
    "facet_ranges": {col: {"counts": [...], "gap", "start", "end"}}}},
    with ``facet_queries`` Solr's facet.query map
    {"facet_queries": {"<query>": n}} (see render_select_xml), with
    ``json_facet_spec`` the modern JSON Facet API response under the
    top-level "facets" key exactly as Solr renders json.facet
    (search/json_facet.json_facet — one grouping-sets action for the
    whole tree, +1 if the spec has query facets; ``json_facet_allowed``
    and ``json_facet_tags`` are the multi-select split of the fq into
    its untagged arms and its {tag: arm relation}s — the json.facet
    domain is then q under the untagged arms, and a node's excludeTags
    drops a tagged arm), and with ``hl=True``
    Solr's highlighting map
    {"highlighting": {"<id>": {text_col: [snippet]}}}."""
    import json

    sec = _request_sections(
        index, docs_df, query, fl=fl, k=k, start=start,
        allowed_docs=allowed_docs, facet_cols=facet_cols,
        facet_ranges=facet_ranges, facet_queries=facet_queries,
        facet_intervals=facet_intervals, bf=bf, boost=boost, hl=hl,
        hl_window=hl_window, text_col=text_col, spark=spark,
        json_facet_spec=json_facet_spec,
        json_facet_allowed=json_facet_allowed,
        json_facet_tags=json_facet_tags,
    )
    num_found = sec["num_found"]
    fl = [c for c in fl if c != "doc_id"]
    docs = [
        {"id": r["doc_id"], "score": round(r["score"], 4),
         **{f_: r[f_] for f_ in fl}}
        for r in sec["rows"]
    ]
    payload = {
        "response": {
            "numFound": num_found,
            "start": start,
            "maxScore": round(sec["max_score"], 4) if num_found else 0.0,
            "docs": docs,
        }
    }
    if "facets" in sec:
        fields, ranges, ivals = sec["facets"]
        payload["facet_counts"] = {
            "facet_fields": {
                col: [x for v, n in vals for x in (v, n)]
                for col, vals in fields.items()
            },
            "facet_ranges": {
                col: {
                    "counts": [x for rs, n in buckets for x in (str(rs), n)],
                    "gap": gap, "start": lo, "end": hi,
                }
                for col, (lo, hi, gap, buckets) in ranges.items()
            },
        }
        if ivals:
            payload["facet_counts"]["facet_intervals"] = {
                col: dict(sets) for col, sets in ivals.items()
            }
        if "facet_queries" in sec:
            payload["facet_counts"]["facet_queries"] = sec["facet_queries"]
    if "json_facet" in sec:
        payload["facets"] = sec["json_facet"]
    if hl:
        payload["highlighting"] = {
            str(doc_id): {text_col: [snip]}
            for doc_id, snip in sec["highlighting"]
        }
    return json.dumps(payload, separators=(",", ":"))
