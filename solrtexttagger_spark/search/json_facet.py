"""Solr JSON Facet API (the modern facet module) — nested facets with
per-bucket statistics, re-expressed Spark-first.

Reference surface: Solr's ``json.facet`` request parameter (the engine
behind faceting in the reference's delegated /select stack — see
SURVEY.md §2.4 D1; the classic facet.field/facet.range/facet.query
params in search/facets.py are its legacy twins). Supported subset:

  {"langs": {"type": "terms", "field": "lang", "limit": 5,
             "sort": "count",            # count | index | "<stat> desc"
             "mincount": 1, "offset": 0, "prefix": "e",
             "missing": True,            # NULL bucket, Solr missing:true
             "numBuckets": True,         # pre-limit bucket cardinality
             "facet": {"avg_n": "avg(n_chars)",       # per-bucket stats
                        "srcs": {"type": "terms", ...}}},  # sub-facet
   "hist":  {"type": "range", "field": "n_chars",
             "start": 0, "end": 400, "gap": 50,       # zero-filled
             "facet": {...}},
   "special": {"type": "query", "q": "+merge -sort",  # boolean syntax
               "facet": {"tot": "sum(n_chars)"}},     # stats only
   "total_chars": "sum(n_chars)"}                     # root-level stat

Domain changes (round 8 — the multi-select faceting pattern every
faceted UI hits; reference analogue: the per-request fq DocSet
machinery, TaggerRequestHandler.java:310-351):

  json_facet(..., allowed_docs=...,              # untagged fq: always on
             tagged_filters={"COLOR": color_ids, "SIZE": size_ids})
  {"colors": {"type": "terms", "field": "color",
              "domain": {"excludeTags": "COLOR"}},   # fq arm removed
   "small_hist": {"type": "range", ...,
                  "domain": {"filter": "n_chars < 200"}}}  # extra filter

``tagged_filters`` are Solr's ``fq={!tag=COLOR}...`` arms: doc-id
relations ANDed into the base domain like ``allowed_docs``, but
removable per node via ``domain: {excludeTags: "COLOR"}`` (string,
comma-list, or list). ``domain: {filter: <expr>}`` narrows the node's
domain with a Catalyst SQL expression over the corpus columns. Domain
changes INHERIT down the tree (a child facet operates on its parent's
bucket domain, Solr's model); the root ``count`` and root stats always
use the unmodified base domain.

Stats: sum / avg / min / max / unique (exact distinct) / hll
(HyperLogLog++ approximate distinct — Solr's hll stat) / percentile
(Solr's percentiles stat, ``percentile(field, 50)`` scalar or
``percentile(field, 25, 50, 99.9)`` list; Solr sketches these with
t-digest, this engine computes them EXACTLY — one array-returning
`percentile` aggregate per stat, k cut points never k passes).
``allBuckets: true`` on a terms node emits Solr's
``{"allBuckets": {"count": N, <stat>: x}}`` — the combined bucket
across ALL buckets pre-limit/pre-mincount (missing/NULL docs excluded;
``prefix`` restricts the term domain first, both like Solr). A
count-only node pays zero extra passes (one more window aggregate over
the already-aggregated bucket rows); a node with STATS (round 8) adds
one grouping set — (ancestors..., field IS NOT NULL) — to the SAME
aggregate, so every stat (avg/unique/hll included) is EXACT, not a
lossy re-aggregation of per-bucket finals, still without a second pass
over data. Sub-facets under allBuckets are not computed (Solr's
behavior). Range nodes take Solr's ``other: before|after|between|all``
(string or list) the same way — one extra grouping set per node whose
rows are the out-of-range/combined buckets, stats included, emitted as
the response's sibling ``before``/``after``/``between`` keys. QUERY facets
take full terms/range SUB-facet trees (round 8): a query ancestor
contributes no grouping column — its match set becomes part of the
child's DOMAIN key, so query-subtree children ride the same
per-domain grouping-sets aggregates as every other node, and the one
batched boolean pass is shared between the query facets' own counts
and their children's domains. Out of scope (documented): sorting by a
SUB-facet's stat, sub-facets under ``missing`` buckets, query facets
nested under other facets, and query facets under query facets.
QUERY facets accept the same
``domain`` changes as terms/range nodes (top-level only — their
excludeTags/filter re-derive the domain their one batched boolean pass
is intersected with).

Execution shape (the point of this module):

- The ENTIRE terms/range tree — every nesting level, every per-bucket
  stat — is ONE ``groupingSets`` aggregate PER DISTINCT DOMAIN (one
  aggregate total without domain changes; nodes sharing a domain share
  an aggregate; an excluded tag costs one fewer semi-join on that
  domain's match set, a domain filter one extra predicate) over the
  match-set join:
  each tree node contributes the grouping set (ancestor cols..., own
  col); ``grouping_id()`` tags which node a result row belongs to; a
  range node's grouping column is its bucket arithmetic. Catalyst
  expands the sets in a single Aggregate — one shuffle for the whole
  tree, not one job per facet like Solr's per-field accumulators.
- Per-node ordering/limits run as window functions over the already
  AGGREGATED relation (rows = buckets, not documents), partitioned by
  the ancestor columns — no second pass over data.
- All ``query`` facets batch through ONE boolean_matched_scores pass
  (shared postings scan), then one count/stats aggregate.
- The driver collects only the post-limit bucket rows (bounded by the
  product of per-level limits plus range spines), then assembles the
  nested response dict — exactly the rows Solr would serialize.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from solrtexttagger_spark.index.build import InvertedIndex
from solrtexttagger_spark.search.bm25 import bag_match_set

_STAT_RE = re.compile(r"^(sum|avg|min|max|unique|hll)\((\w+)\)$")
# Solr percentiles stat: percentile(field, 50) / percentile(field, 25,
# 50, 99.9). Solr computes these with a t-digest sketch; Spark's
# built-in `percentile` aggregate is EXACT (linear interpolation, the
# same definition DuckDB's quantile_cont mirrors) — strictly tighter
# than the reference, at the cost Catalyst already knows how to pay
# (a per-group sorted buffer inside the one groupingSets aggregate).
_PCT_RE = re.compile(r"^percentile\((\w+)((?:\s*,\s*\d+(?:\.\d+)?)+)\)$")
_STAT_FN = {
    "sum": lambda c: F.sum(c).cast("double"),
    "avg": lambda c: F.avg(c).cast("double"),
    "min": lambda c: F.min(c).cast("double"),
    "max": lambda c: F.max(c).cast("double"),
    "unique": lambda c: F.countDistinct(c).cast("long"),
    # Solr's hll stat: approximate distinct — HyperLogLog++ here, which
    # unlike countDistinct needs no distinct-expand, the petabyte choice
    "hll": lambda c: F.approx_count_distinct(c).cast("long"),
}


def _stat_expr(fn: str, col: str):
    """The Catalyst aggregate for one stat. Percentiles encode their
    cut points in the fn key (``percentile:50,99``) and aggregate as
    ONE array-returning `percentile` — k cut points never cost k
    passes."""
    if fn.startswith("percentile:"):
        fr = ", ".join(
            repr(float(p) / 100.0) for p in fn.split(":", 1)[1].split(",")
        )
        return F.expr(f"percentile({col}, array({fr}))")
    return _STAT_FN[fn](col)


def _stat_value(fn: str, raw):
    """Row value -> response value. Solr emits a scalar for a single
    percentile cut, a list for several; everything else passes
    through."""
    if fn.startswith("percentile:") and raw is not None:
        vals = list(raw)
        return vals[0] if len(vals) == 1 else vals
    return raw


class _Node:
    """One facet node of the spec tree (terms | range | query)."""

    def __init__(self, name, spec, path, idx):
        self.name, self.path, self.idx = name, path, idx
        self.type = spec["type"]
        self.spec = spec
        self.children: list[_Node] = []
        self.stats: dict[str, tuple[str, str]] = {}  # name -> (fn, col)
        self.gcol = f"__g{idx}"  # this node's grouping column alias
        self.abcol = f"__b{idx}"  # allBuckets-stats grouping column
        self.ocol = f"__o{idx}"  # range "other" grouping column

    @property
    def other(self) -> tuple[str, ...]:
        """Solr range-facet ``other``: which of before/after/between to
        emit (string, list, or 'all'/'none'). Empty when unset."""
        o = self.spec.get("other")
        if not o:
            return ()
        vals = [o] if isinstance(o, str) else list(o)
        if "none" in vals:
            return ()
        if "all" in vals:
            return ("before", "after", "between")
        bad = set(vals) - {"before", "after", "between"}
        if bad:
            raise ValueError(
                f"range facet {self.name!r}: unsupported other values "
                f"{sorted(bad)} (before/after/between/all/none)"
            )
        return tuple(v for v in ("before", "after", "between") if v in vals)

    @property
    def limit(self):
        return self.spec.get("limit", 10)

    @property
    def mincount(self):
        # Solr JSON API defaults: terms mincount=1, range mincount=0
        return self.spec.get("mincount", 1 if self.type == "terms" else 0)


def _parse_tree(spec: dict, path: tuple, counter: list) -> tuple[list, dict]:
    """-> (child nodes, stats at this level). Validates the subset."""
    nodes, stats = [], {}
    for name, val in spec.items():
        if isinstance(val, str):
            m = _STAT_RE.match(val)
            if m:
                stats[name] = (m.group(1), m.group(2))
                continue
            p = _PCT_RE.match(val)
            if p:
                cuts = [c.strip() for c in p.group(2).lstrip(" ,").split(",")]
                if any(not 0 <= float(c) <= 100 for c in cuts):
                    raise ValueError(
                        f"percentile cuts must be in [0, 100]: {val!r}"
                    )
                stats[name] = ("percentile:" + ",".join(cuts), p.group(1))
                continue
            raise ValueError(
                f"unsupported stat {val!r} "
                "(sum/avg/min/max/unique/hll/percentile)"
            )
        if not isinstance(val, dict) or "type" not in val:
            raise ValueError(f"facet {name!r}: need a stat string or a "
                             "dict with 'type'")
        if val["type"] not in ("terms", "range", "query"):
            raise ValueError(f"facet {name!r}: unsupported type {val['type']!r}")
        node = _Node(name, val, path, counter[0])
        counter[0] += 1
        sub = val.get("facet", {})
        node.children, node.stats = _parse_tree(sub, path + (name,), counter)
        if node.type == "query" and any(
            c.type == "query" for c in node.children
        ):
            raise ValueError(
                f"query facet {name!r}: a query facet under a query facet "
                "is out of scope (terms/range sub-facets are supported)"
            )
        nodes.append(node)
    return nodes, stats


def _empty_bucket(node, val) -> dict:
    """A zero-filled range bucket with the SAME shape as a populated one
    (Solr emits the stat and sub-facet entries for zero buckets too):
    count-like stats (sum/unique/hll) default to 0, value stats
    (avg/min/max) to None, each sub-facet to an empty bucket list."""
    b = {"val": val, "count": 0}
    for sname, (fn, _col) in node.stats.items():
        b[sname] = 0 if fn in ("sum", "unique", "hll") else None
    for ch in node.children:
        b[ch.name] = {"buckets": []}
    return b


def _walk(nodes):
    for n in nodes:
        yield n
        yield from _walk(n.children)


def _sort_exprs(node, cnt_col, stat_cols):
    """Window ordering for a node per its Solr sort spec."""
    srt = node.spec.get("sort", "count")
    if isinstance(srt, dict):  # {"statname": "desc"}
        (key, direction), = srt.items()
    else:
        parts = str(srt).split()
        key = parts[0]
        direction = parts[1] if len(parts) > 1 else (
            "asc" if key == "index" else "desc"
        )
    val = F.col(node.gcol)
    if key == "count":
        lead = F.col(cnt_col)
    elif key == "index":
        lead = val
    elif key in node.stats:
        lead = F.col(stat_cols[(node.idx, key)])
    else:
        raise ValueError(
            f"facet {node.name!r}: sort key {key!r} is not count/index/"
            "a stat of this node (sorting by a sub-facet stat is out of "
            "scope)"
        )
    lead = lead.desc() if direction == "desc" else lead.asc()
    # value asc tie-break keeps every ordering total and deterministic
    return [lead, val.asc()]


def _domain_change(node) -> tuple[frozenset, tuple]:
    """Parse ``spec["domain"]`` -> (excluded tags, filter exprs). Unknown
    domain keys raise (excludeTags + filter are the supported subset);
    excludeTags accepts a string, a comma list, or a list."""
    d = node.spec.get("domain") or {}
    unknown = set(d) - {"excludeTags", "filter"}
    if unknown:
        raise ValueError(
            f"facet {node.name!r}: unsupported domain keys {sorted(unknown)}"
            " (excludeTags/filter are the supported subset)"
        )
    excl = d.get("excludeTags", [])
    if isinstance(excl, str):
        excl = [t.strip() for t in excl.split(",") if t.strip()]
    filt = d.get("filter")
    return frozenset(excl), (filt,) if filt else ()


def json_facet(
    index: InvertedIndex,
    docs_df: DataFrame,
    query: str,
    spec: dict,
    *,
    id_col: str = "doc_id",
    allowed_docs: DataFrame | None = None,
    tagged_filters: dict[str, DataFrame] | None = None,
    field: str | None = None,
    spark: SparkSession | None = None,
) -> dict:
    """Evaluate a Solr ``json.facet`` spec over the documents matching
    ``query`` (bag semantics, like search/facets.facet_counts;
    ``allowed_docs`` = untagged fq restricting the domain;
    ``tagged_filters`` = Solr's ``fq={!tag=...}`` arms, removable per
    node via ``domain: {excludeTags: ...}`` — see module docstring).
    Returns the nested Solr response shape: ``{"count": N, <facet name>:
    {"buckets": [{"val": v, "count": n, <stat>: x, <subfacet>: {...}},
    ...], ["numBuckets": m,] ["missing": {"count": n}]}, <stat name>:
    x}``.

    One grouping-sets aggregate per DISTINCT DOMAIN for the terms/range
    tree (exactly one without domain changes) + one batched boolean pass
    for all query facets, all under ONE collect — see module
    docstring."""
    matched = bag_match_set(
        index, query, allowed_docs=allowed_docs, id_col=id_col
    )
    if matched is None:
        raise ValueError("json_facet needs a non-empty base query")
    return _json_facet(
        index, docs_df, matched, spec, id_col=id_col,
        tagged_filters=tagged_filters, field=field, spark=spark,
    )


def _json_facet(
    index: InvertedIndex,
    docs_df: DataFrame,
    matched: DataFrame,
    spec: dict,
    *,
    id_col: str = "doc_id",
    tagged_filters: dict[str, DataFrame] | None = None,
    field: str | None = None,
    spark: SparkSession | None = None,
) -> dict:
    """json_facet over a given base domain ``matched`` — an (``id_col``)
    relation with the untagged fq already applied. The /select writers
    pass their request's match set."""
    spark = spark or docs_df.sparkSession
    tagged_filters = tagged_filters or {}
    counter = [0]
    roots, root_stats = _parse_tree(spec, (), counter)
    tree_nodes = [n for n in _walk(roots) if n.type != "query"]
    query_nodes = [n for n in _walk(roots) if n.type == "query"]
    for n in query_nodes:
        if n.path:  # nested under another facet: domain would differ
            raise ValueError(
                f"query facet {n.name!r}: only top-level query facets are "
                "supported (nested query domains are out of scope)"
            )
    # the batched boolean pass for ALL query facets runs ONCE and serves
    # both the query facets' own counts/stats AND (round 8) the domains
    # of their terms/range SUB-facets, which ride the per-domain
    # grouping-sets aggregates like any other node
    qm_base = None
    if query_nodes:
        from solrtexttagger_spark.search.boolean import boolean_matched_scores

        qlist = [(i, n.spec["q"]) for i, n in enumerate(query_nodes)]
        qm_base = boolean_matched_scores(
            index, qlist, field=field, spark=spark
        ).select("query_id", F.col("doc_id").alias(id_col)).persist()
    # persist-leak guard (round 9): qm_base must unpersist even if
    # a tree aggregate / collect raises mid-flight
    try:
        qidx_of = {id(n): i for i, n in enumerate(query_nodes)}

        # Per-node EFFECTIVE domain: own change merged with the ancestors'
        # (a child operates on its parent's bucket domain — Solr's model).
        # Unknown excludeTags are ignored like Solr ignores unknown tags.
        node_key: dict[int, tuple] = {}
        by_name = {n.path + (n.name,): n for n in _walk(roots)}
        for n in tree_nodes:
            excl: frozenset = frozenset()
            filts: tuple = ()
            qchain: tuple = ()
            chain = [by_name[n.path[:i]] for i in range(1, len(n.path) + 1)
                     if n.path[:i] in by_name] + [n]
            for a in chain:
                e, f = _domain_change(a)
                excl, filts = excl | e, filts + f
                if a.type == "query":
                    # a query-facet ancestor narrows the domain to its
                    # match set (its "bucket" IS the domain)
                    qchain = qchain + (qidx_of[id(a)],)
            node_key[n.idx] = (excl & set(tagged_filters), filts, qchain)

        base_key = (frozenset(), (), ())
        keys = [base_key] + sorted(
            {k for k in node_key.values() if k != base_key},
            key=lambda k: (sorted(k[0]), k[1], k[2]),
        )

        def _dom_for(key) -> DataFrame:
            excl, filts, qchain = key
            m = matched
            for tag in sorted(tagged_filters):
                if tag in excl:
                    continue
                m = m.join(
                    tagged_filters[tag]
                    .select(F.col("doc_id").alias(id_col)).distinct(),
                    id_col, "left_semi",
                )
            for qi in qchain:
                m = m.join(
                    qm_base.where(F.col("query_id") == qi).select(id_col),
                    id_col, "left_semi",
                )
            d = docs_df.join(m, id_col)
            for f in filts:
                d = d.where(F.expr(f))
            return d

        # --- grouping columns: field per terms node, bucket arithmetic per
        # range node (computed BEFORE the aggregate so it can be grouped) ---
        def _project(dom: DataFrame) -> DataFrame:
            proj = dom
            for n in tree_nodes:
                if n.type == "terms":
                    proj = proj.withColumn(n.gcol, F.col(n.spec["field"]))
                else:  # range
                    c = F.col(n.spec["field"])
                    lo, hi, gap = n.spec["start"], n.spec["end"], n.spec["gap"]
                    if gap <= 0 or hi <= lo:
                        raise ValueError(f"range facet {n.name!r}: need gap > 0 "
                                         "and end > start")
                    # float start/end/gap keep a DOUBLE bucket key (Solr range
                    # facets take float gaps); the driver-side zero-fill spine
                    # mirrors the same lo + k*gap arithmetic bit-for-bit
                    key = F.floor((c - lo) / gap) * gap + lo
                    key = (
                        key.cast("double")
                        if any(isinstance(x, float) for x in (lo, hi, gap))
                        else key.cast("long")
                    )
                    proj = proj.withColumn(
                        n.gcol, F.when((c >= lo) & (c < hi), key)
                    )
            for n in ab_nodes:
                # allBuckets-with-stats grouping column: the combined bucket
                # is "field present" (prefix restricts the term domain first,
                # like Solr) — one extra grouping set in the SAME aggregate
                cond = F.col(n.gcol).isNotNull()
                if n.spec.get("prefix") is not None:
                    cond = cond & F.col(n.gcol).cast("string").startswith(
                        n.spec["prefix"]
                    )
                proj = proj.withColumn(n.abcol, cond)
            for n in o_nodes:
                # Solr range "other": before/after/between land in one extra
                # grouping set of the same aggregate — stats ride along free
                c = F.col(n.spec["field"])
                lo, hi = n.spec["start"], n.spec["end"]
                proj = proj.withColumn(
                    n.ocol,
                    F.when(c < lo, F.lit("before"))
                    .when(c >= hi, F.lit("after"))
                    .when(c.isNotNull(), F.lit("between")),
                )
            return proj

        ab_nodes = [
            n for n in tree_nodes
            if n.type == "terms" and n.spec.get("allBuckets") and n.stats
        ]
        o_nodes = [n for n in tree_nodes if n.type == "range" and n.other]
        gcols = (
            [n.gcol for n in tree_nodes]
            + [n.abcol for n in ab_nodes]
            + [n.ocol for n in o_nodes]
        )
        # stats: every node's stats plus root stats, all in the per-domain
        # aggregates (identical agg lists keep the union schema-aligned;
        # each node's stat is only ever READ from its own domain's rows)
        stat_cols: dict[tuple[int, str], str] = {}
        aggs = [F.count("*").alias("__cnt")]
        for n in tree_nodes:
            for sname, (fn, col) in n.stats.items():
                alias = f"__s{n.idx}_{sname}"
                stat_cols[(n.idx, sname)] = alias
                aggs.append(_stat_expr(fn, col).alias(alias))
        for sname, (fn, col) in root_stats.items():
            alias = f"__sroot_{sname}"
            stat_cols[(-1, sname)] = alias
            aggs.append(_stat_expr(fn, col).alias(alias))

        # ONE groupingSets aggregate per distinct domain: the base domain's
        # carries the root set () (root count/stats always use the
        # unmodified domain) plus the sets of base-domain nodes; each
        # changed domain's carries only its own nodes' sets. grouping_id is
        # computed over the SAME global gcols everywhere, so node masks stay
        # comparable across aggregates.
        agg_by_key: dict[tuple, DataFrame] = {}
        for key in keys:
            proj = _project(_dom_for(key))
            key_sets = ([tuple()] if key == base_key else []) + [
                tuple(a.gcol for a in _ancestors(n, tree_nodes)) + (n.gcol,)
                for n in tree_nodes
                if node_key[n.idx] == key
            ] + [
                tuple(a.gcol for a in _ancestors(n, tree_nodes)) + (n.abcol,)
                for n in ab_nodes
                if node_key[n.idx] == key
            ] + [
                tuple(a.gcol for a in _ancestors(n, tree_nodes)) + (n.ocol,)
                for n in o_nodes
                if node_key[n.idx] == key
            ]
            if not key_sets:
                continue  # base key with every node re-domained: root only
            if gcols:
                a = proj.groupingSets(
                    [tuple(s) for s in key_sets], *[F.col(c) for c in gcols]
                ).agg(
                    *aggs,
                    F.grouping_id(*[F.col(c) for c in gcols]).alias("__gid"),
                )
            else:
                a = proj.agg(*aggs, F.lit(0).alias("__gid"))
            # PERSIST the aggregated relation (rows = buckets, tiny) before
            # the per-node slices: each node's filter+window+union branch
            # would otherwise re-execute the whole corpus-join + Expand +
            # aggregate subtree — the union's N branches all read this one
            # cached computation instead (verified in the executed plan: one
            # Expand under InMemoryRelation vs one per branch uncached)
            agg_by_key[key] = a.persist()
        agg = agg_by_key[base_key]

        # gid for a node: bits of the EXCLUDED grouping columns set to 1
        def _mask(included: set[str]) -> int:
            m = 0
            for i, c in enumerate(gcols):
                if c not in included:
                    m |= 1 << (len(gcols) - 1 - i)
            return m

        pieces = []
        root_mask = _mask(set())
        pieces.append(agg.where(F.col("__gid") == F.lit(root_mask)))
        for n in tree_nodes:
            anc = [a.gcol for a in _ancestors(n, tree_nodes)]
            mask = _mask(set(anc) | {n.gcol})
            rows = agg_by_key[node_key[n.idx]].where(
                F.col("__gid") == F.lit(mask)
            )
            # drop buckets under a NULL ancestor (sub-facets under missing
            # buckets are out of scope, documented)
            for a in anc:
                rows = rows.where(F.col(a).isNotNull())
            keep_null = bool(n.spec.get("missing")) if n.type == "terms" else False
            nn = rows.where(F.col(n.gcol).isNotNull())
            if n.type == "terms":
                if n.spec.get("prefix") is not None:
                    nn = nn.where(
                        F.col(n.gcol).cast("string").startswith(n.spec["prefix"])
                    )
                # window over the AGGREGATED relation: rows are buckets, so a
                # top-level node's empty partitionBy single-partitions its
                # bucket list (field cardinality), never the documents —
                # same bounded shape as terms_component's rank window
                w = Window.partitionBy(*[F.col(a) for a in anc]) if anc else (
                    Window.partitionBy()
                )
                # Solr allBuckets: docs across all buckets PRE-limit and
                # PRE-mincount (NULL-field docs excluded — this window sees
                # only the isNotNull rows; prefix restricts the term domain
                # first, both like Solr), one aggregate in the same window.
                # Both __ab and __nb are computed ONLY when the node asks
                # for them (allBuckets-sans-stats / numBuckets): the extra
                # window aggregates cost codegen + eval on every call, and
                # a default q2l-shaped tree requests neither (round-8
                # verdict #2: the unconditional columns were the new cost
                # on the domain-free path).
                want_ab = bool(n.spec.get("allBuckets")) and not n.stats
                ab_col = (
                    F.sum("__cnt").over(w) if want_ab
                    else F.lit(None).cast("long")
                )
                nn = nn.withColumn("__ab", ab_col)
                if n.mincount > 0:
                    nn = nn.where(F.col("__cnt") >= n.mincount)
                order = _sort_exprs(n, "__cnt", stat_cols)
                wo = w.orderBy(*order)
                nb_col = (
                    F.count("*").over(w) if n.spec.get("numBuckets")
                    else F.lit(None).cast("long")
                )
                nn = nn.withColumn("__rn", F.row_number().over(wo)).withColumn(
                    "__nb", nb_col
                )
                off = n.spec.get("offset", 0)
                if n.limit is not None and n.limit >= 0:
                    nn = nn.where(
                        (F.col("__rn") > off) & (F.col("__rn") <= off + n.limit)
                    )
                elif off:
                    nn = nn.where(F.col("__rn") > off)
                nn = nn.drop("__rn")
            else:  # range: mincount filter only; zero-fill happens driver-side
                if n.mincount > 0:
                    nn = nn.where(F.col("__cnt") >= n.mincount)
                nn = nn.withColumn("__nb", F.lit(None).cast("long")).withColumn(
                    "__ab", F.lit(None).cast("long")
                )
            if keep_null:
                miss = rows.where(F.col(n.gcol).isNull()).withColumn(
                    "__nb", F.lit(None).cast("long")
                ).withColumn("__ab", F.lit(None).cast("long"))
                nn = nn.unionByName(miss)
            pieces.append(nn)
        for n, col, keep in [(n, n.abcol, F.col(n.abcol)) for n in ab_nodes] + [
            (n, n.ocol, F.col(n.ocol).isNotNull()) for n in o_nodes
        ]:
            # the allBuckets / range-"other" rows: their grouping set
            # aggregated the node's whole combined domain (field present /
            # before-after-between respectively), so every stat is exact
            anc = [a.gcol for a in _ancestors(n, tree_nodes)]
            mask = _mask(set(anc) | {col})
            rows = agg_by_key[node_key[n.idx]].where(
                F.col("__gid") == F.lit(mask)
            ).where(keep)
            for a in anc:
                rows = rows.where(F.col(a).isNotNull())
            pieces.append(
                rows.withColumn("__nb", F.lit(None).cast("long")).withColumn(
                    "__ab", F.lit(None).cast("long")
                )
            )

        uni = pieces[0].withColumn("__nb", F.lit(None).cast("long")).withColumn(
            "__ab", F.lit(None).cast("long")
        )
        for p in pieces[1:]:
            uni = uni.unionByName(p)
        try:
            collected = uni.collect()  # ONE action for the whole tree
        finally:
            for a in agg_by_key.values():
                a.unpersist()

        by_mask: dict[int, list] = {}
        for r in collected:
            by_mask.setdefault(r["__gid"], []).append(r)

        # --- query facets: the hoisted boolean pass + one stats agg ---
        query_results: dict[str, dict] = {}
        if query_nodes:
            qm = qm_base
            # per-node domain (round 8): excludeTags/filter re-derive the
            # domain each query facet's match set intersects with — nodes
            # sharing a domain (the common case: all base) share one
            # semi-join; everything still lands in ONE aggregate + collect
            qkey = {
                i: (lambda e_f: (e_f[0] & set(tagged_filters), e_f[1], ()))(
                    _domain_change(n)
                )
                for i, n in enumerate(query_nodes)
            }
            parts = []
            for key in sorted(
                set(qkey.values()), key=lambda k: (sorted(k[0]), k[1], k[2])
            ):
                ids = [i for i, k in qkey.items() if k == key]
                part = qm if len(qkey) == len(ids) else qm.where(
                    F.col("query_id").isin(ids)
                )
                parts.append(
                    part.join(_dom_for(key).select(id_col), id_col, "left_semi")
                )
            qm = parts[0]
            for p in parts[1:]:
                qm = qm.unionByName(p)
            q_aggs = [F.count("*").alias("__cnt")]
            for i, n in enumerate(query_nodes):
                for sname, (fn, col) in n.stats.items():
                    q_aggs.append(_stat_expr(fn, col).alias(f"__q{i}_{sname}"))
            q_rows = (
                qm.join(docs_df, id_col)
                .groupBy("query_id")
                .agg(*q_aggs)
                .collect()
            )
            got = {int(r["query_id"]): r for r in q_rows}
            for i, n in enumerate(query_nodes):
                r = got.get(i)
                res = {"count": int(r["__cnt"]) if r else 0}
                for sname, (fn, _c) in n.stats.items():
                    res[sname] = (
                        _stat_value(fn, r[f"__q{i}_{sname}"]) if r else None
                    )
                query_results[n.name] = res

        # --- assemble the nested response ---
        def _assemble(node, parent_filter):
            mask = _mask(
                {a.gcol for a in _ancestors(node, tree_nodes)} | {node.gcol}
            )
            rows = [
                r for r in by_mask.get(mask, [])
                if all(r[a] == v for a, v in parent_filter.items())
            ]
            regular = [r for r in rows if r[node.gcol] is not None]
            if node.type == "terms":
                # window already ordered/limited; re-sort locally for output
                # order by re-deriving the sort key from the row
                regular = _resort(node, regular)
            buckets = []
            for r in regular:
                b = {"val": r[node.gcol], "count": int(r["__cnt"])}
                for sname, (fn, _c) in node.stats.items():
                    b[sname] = _stat_value(fn, r[stat_cols[(node.idx, sname)]])
                for ch in node.children:
                    b[ch.name] = _assemble(
                        ch, {**parent_filter, node.gcol: r[node.gcol]}
                    )
                buckets.append(b)
            if node.type == "range":
                lo, hi, gap = (
                    node.spec["start"], node.spec["end"], node.spec["gap"]
                )
                have = {b["val"]: b for b in buckets}
                if node.mincount <= 0:
                    # arithmetic spine (not range(): float gaps are legal) —
                    # lo + i*gap is the SAME expression the bucket-key column
                    # computes (floor * gap + lo), so float vals line up
                    spine, i = [], 0
                    while lo + i * gap < hi:
                        spine.append(lo + i * gap)
                        i += 1
                    buckets = [
                        have.get(v, _empty_bucket(node, v)) for v in spine
                    ]
                else:
                    buckets = [b for _, b in sorted(have.items())]
            out = {"buckets": buckets}
            if node.type == "range" and node.other:
                omask = _mask(
                    {a.gcol for a in _ancestors(node, tree_nodes)} | {node.ocol}
                )
                orows = {
                    r[node.ocol]: r
                    for r in by_mask.get(omask, [])
                    if r[node.ocol] is not None
                    and all(r[a] == v for a, v in parent_filter.items())
                }
                for kind in node.other:
                    r = orows.get(kind)
                    d = {"count": int(r["__cnt"]) if r else 0}
                    for sname, (fn, _c) in node.stats.items():
                        d[sname] = (
                            _stat_value(fn, r[stat_cols[(node.idx, sname)]])
                            if r
                            else (0 if fn in ("sum", "unique", "hll") else None)
                        )
                    out[kind] = d
            if node.type == "terms" and node.spec.get("numBuckets"):
                out["numBuckets"] = int(regular[0]["__nb"]) if regular else 0
            if node.type == "terms" and node.spec.get("allBuckets"):
                if node.stats:
                    amask = _mask(
                        {a.gcol for a in _ancestors(node, tree_nodes)}
                        | {node.abcol}
                    )
                    arows = [
                        r for r in by_mask.get(amask, [])
                        if r[node.abcol]
                        and all(r[a] == v for a, v in parent_filter.items())
                    ]
                    ab = {"count": int(arows[0]["__cnt"]) if arows else 0}
                    for sname, (fn, _c) in node.stats.items():
                        ab[sname] = (
                            _stat_value(fn, arows[0][stat_cols[(node.idx, sname)]])
                            if arows
                            else (0 if fn in ("sum", "unique", "hll") else None)
                        )
                    out["allBuckets"] = ab
                else:
                    out["allBuckets"] = {
                        "count": int(regular[0]["__ab"]) if regular else 0
                    }
            if node.type == "terms" and node.spec.get("missing"):
                miss = [r for r in rows if r[node.gcol] is None]
                m = {"count": int(miss[0]["__cnt"]) if miss else 0}
                out["missing"] = m
            return out

        def _resort(node, rows):
            srt = node.spec.get("sort", "count")
            if isinstance(srt, dict):
                (key, direction), = srt.items()
            else:
                parts = str(srt).split()
                key = parts[0]
                direction = parts[1] if len(parts) > 1 else (
                    "asc" if key == "index" else "desc"
                )
            rev = direction == "desc"

            def kf(r):
                if key == "count":
                    lead = r["__cnt"]
                elif key == "index":
                    lead = r[node.gcol]
                else:
                    lead = r[stat_cols[(node.idx, key)]]
                    if lead is None:  # all-NULL stat bucket: sorts last
                        lead = float("-inf") if rev else float("inf")
                return lead

            # two-pass stable sort: value asc tie-break, then lead key
            rows = sorted(rows, key=lambda r: (r[node.gcol] is None, r[node.gcol]))
            return sorted(rows, key=kf, reverse=rev)

        root_rows = by_mask.get(root_mask, [])
        out: dict = {"count": int(root_rows[0]["__cnt"]) if root_rows else 0}
        for sname, (fn, _c) in root_stats.items():
            out[sname] = (
                _stat_value(fn, root_rows[0][stat_cols[(-1, sname)]])
                if root_rows
                else None
            )
        for n in roots:
            if n.type == "query":
                res = query_results[n.name]
                # round 8: terms/range sub-facets under a query facet rode
                # the per-domain aggregates (domain = base ∩ query match);
                # the query node contributes no grouping column, so its
                # children assemble with an empty parent filter
                for ch in n.children:
                    res[ch.name] = _assemble(ch, {})
                out[n.name] = res
            else:
                out[n.name] = _assemble(n, {})
        return out
    finally:
        if qm_base is not None:
            qm_base.unpersist()


def _ancestors(node, tree_nodes):
    """Terms/range ancestors of ``node`` along its spec path."""
    by_path = {n.path + (n.name,): n for n in tree_nodes}
    out = []
    for i in range(1, len(node.path) + 1):
        a = by_path.get(node.path[:i])
        if a is not None:
            out.append(a)
    return out
