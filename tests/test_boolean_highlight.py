"""Boolean query semantics (+must -must_not should, Lucene BooleanQuery
recast) and snippet highlighting (best-window selection, first-max
tie-break)."""

import pytest
from pyspark.sql import functions as F

from solrtexttagger_spark.index.build import build_index
from solrtexttagger_spark.search.bm25 import bm25_topk
from solrtexttagger_spark.search.boolean import boolean_bm25_topk, parse_boolean_query
from solrtexttagger_spark.search.highlight import snippets

DOCS = [
    (0, "alpha beta gamma"),
    (1, "alpha beta delta"),
    (2, "alpha gamma gamma"),
    (3, "beta delta epsilon"),
    (4, "zeta eta theta"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


@pytest.fixture(scope="module")
def index(docs_df):
    idx = build_index(docs_df, num_segments=4)
    idx.postings.persist().count()
    return idx


def test_parse_boolean_query():
    must, should, must_not, mp, np_ = parse_boolean_query("+Alpha beta -Gamma beta")
    assert must == {"alpha": 1}
    assert should == {"beta": 2}
    assert must_not == {"gamma"}
    assert mp == [] and np_ == []
    # a term both bare and +required collapses into MUST with combined qtf
    m2, s2, _, _, _ = parse_boolean_query("+x x")
    assert m2 == {"x": 2} and s2 == {}
    with pytest.raises(ValueError):
        parse_boolean_query("+a -a")


@pytest.fixture(scope="module")
def handler(index):
    from solrtexttagger_spark.index.compressed import compress_index
    from solrtexttagger_spark.search.request import LocalRequestHandler
    from solrtexttagger_spark.search.wand import LocalSearcher

    return LocalRequestHandler(LocalSearcher(compress_index(index)))


@pytest.mark.parametrize("q", [
    "NOT alpha", "alpha AND beta", "alpha OR beta", "alpha && beta",
    "alpha || beta", "alpha *:*", "*:*",
])
def test_unsupported_query_syntax_raises(index, docs_df, handler, q):
    """Lucene syntax the parser cannot honour raises instead of silently
    changing the match set: the keyword operators (uppercase; lowercase
    and/or/not stay terms), &&/|| and a *:* clause. Every entry shares
    the parse: the kernel, the router (which routes a whole-q *:* as
    match-all) and the warm LocalRequestHandler."""
    from solrtexttagger_spark.search.boolean import boolean_matched_scores
    from solrtexttagger_spark.search.request import solr_select

    with pytest.raises(ValueError):
        parse_boolean_query(q)
    with pytest.raises(ValueError):
        boolean_matched_scores(index, [(0, q)])
    if q != "*:*":
        with pytest.raises(ValueError):
            solr_select(index, docs_df, {"q": q})
    with pytest.raises(ValueError):
        handler.select({"q": q})
    _m, should, _n, _mp, _np = parse_boolean_query("alpha and beta or not")
    assert set(should) == {"alpha", "and", "beta", "or", "not"}


def test_parse_fielded_clauses():
    """`q=name:Boston` — the reference's trivial /select case
    (EmbeddedSolrNoSerializeTest.java:112-115): the single-field prefix is
    validated and stripped, NOT tokenized into two SHOULD terms."""
    must, should, must_not, mp, np_ = parse_boolean_query("name:Boston")
    assert (must, should, must_not) == ({}, {"boston": 1}, set())
    m2, s2, n2, _, _ = parse_boolean_query("+name:Boston -name:york")
    assert m2 == {"boston": 1} and s2 == {} and n2 == {"york"}
    # with field given, the prefix is validated against it
    m3, s3, _, _, _ = parse_boolean_query("name:Boston", field="name")
    assert s3 == {"boston": 1}
    with pytest.raises(ValueError):
        parse_boolean_query("other:Boston", field="name")


def test_parse_phrase_clauses():
    """Quoted phrases: +"a b" is a MUST contiguity filter whose constituent
    terms also join the MUST scoring terms; -"a b" only filters; a bare
    phrase promotes to MUST."""
    must, should, must_not, mp, np_ = parse_boolean_query('+"alpha beta" gamma')
    assert must == {"alpha": 1, "beta": 1}
    assert should == {"gamma": 1}
    assert mp == [(("alpha", "beta"), 0)] and np_ == []
    m2, s2, n2, mp2, np2 = parse_boolean_query('gamma -"alpha beta"')
    assert m2 == {} and s2 == {"gamma": 1} and n2 == set()
    assert mp2 == [] and np2 == [(("alpha", "beta"), 0)]
    # bare phrase -> MUST
    m3, _, _, mp3, _ = parse_boolean_query('"alpha beta"')
    assert m3 == {"alpha": 1, "beta": 1} and mp3 == [(("alpha", "beta"), 0)]
    # fielded phrase
    m4, _, _, mp4, _ = parse_boolean_query('+name:"alpha beta"', field="name")
    assert m4 == {"alpha": 1, "beta": 1} and mp4 == [(("alpha", "beta"), 0)]
    # Lucene slop syntax: "a b"~2 carries its window width
    m5, _, _, mp5, np5 = parse_boolean_query('+"alpha beta"~2 -"x y"~1')
    assert mp5 == [(("alpha", "beta"), 2)] and np5 == [(("x", "y"), 1)]
    # phrase constituent prohibited elsewhere -> conflict raises
    with pytest.raises(ValueError):
        parse_boolean_query('+"alpha beta" -alpha')


def _ids(df, qid):
    return [r["doc_id"] for r in df.collect() if r["query_id"] == qid]


def test_boolean_must_and_not(spark, index):
    out = boolean_bm25_topk(
        index,
        [
            (0, "+alpha gamma"),        # must alpha -> docs 0,1,2
            (1, "+alpha -gamma"),       # alpha but not gamma -> doc 1
            (2, "+alpha +beta"),        # both -> docs 0,1
            (3, "delta epsilon"),       # pure SHOULD -> docs 1,3
            (4, "+missingterm alpha"),  # impossible MUST -> empty
        ],
        k=10,
        spark=spark,
    )
    assert set(_ids(out, 0)) == {0, 1, 2}
    assert _ids(out, 1) == [1]
    assert set(_ids(out, 2)) == {0, 1}
    assert set(_ids(out, 3)) == {1, 3}
    assert _ids(out, 4) == []


def test_boolean_phrase_clauses(spark, index):
    out = boolean_bm25_topk(
        index,
        [
            (0, '+"alpha beta" gamma'),   # contiguous "alpha beta" -> 0,1
            (1, '+alpha -"beta gamma"'),  # alpha docs minus doc 0 -> 1,2
            (2, '+"beta delta"'),         # phrase-only query -> 1,3
            (3, '+"beta alpha"'),         # reversed order never contiguous
        ],
        k=10,
        spark=spark,
    )
    assert set(_ids(out, 0)) == {0, 1}
    assert set(_ids(out, 1)) == {1, 2}
    assert set(_ids(out, 2)) == {1, 3}
    assert _ids(out, 3) == []


def test_boolean_fielded_query(spark, index):
    """`text:alpha` scores identically to `alpha` (single-field engine)."""
    a = boolean_bm25_topk(index, [(0, "text:alpha")], k=10, field="text", spark=spark)
    b = boolean_bm25_topk(index, [(0, "alpha")], k=10, spark=spark)
    norm = lambda df: sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in df.collect()
    )
    assert norm(a) == norm(b) and len(norm(a)) > 0


def test_boolean_pure_should_rank_identical_to_bm25(spark, index):
    q = [(0, "alpha gamma"), (1, "beta delta")]
    a = boolean_bm25_topk(index, q, k=10, spark=spark).collect()
    b = bm25_topk(index, q, k=10, spark=spark).collect()
    norm = lambda rows: sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9)) for r in rows
    )
    assert norm(a) == norm(b)


def test_snippets_best_window_and_tiebreak(spark):
    docs = spark.createDataFrame(
        [
            # hits at 0 and then a DENSER cluster later: window must move
            (0, "alpha x x x x x x x x x alpha y alpha z z z"),
            # tie between two equal windows -> FIRST hit wins
            (1, "alpha q q q q q q q q q alpha r r r r r"),
        ],
        "doc_id long, text string",
    )
    idx = build_index(docs, num_segments=2)
    idx.postings.persist().count()
    out = {
        r["doc_id"]: r
        for r in snippets(idx, docs, [(0, "alpha")], k=10, window=4, spark=spark).collect()
    }
    # doc 0: window [10, 14) covers hits 10 and 12 (2 hits) vs 1 at pos 0
    assert out[0]["snippet_start"] == 10
    assert out[0]["snippet"] == "alpha y alpha z"
    # doc 1: both windows have 1 hit -> first hit (0) wins
    assert out[1]["snippet_start"] == 0
    assert out[1]["snippet"] == "alpha q q q"


def test_snippets_case_folded_hits(spark):
    """A doc that matches only via case folding (index lowercases 'Alpha'
    -> 'alpha') must still get a snippet: the hit test folds the doc token,
    while the rendered snippet keeps the original casing."""
    docs = spark.createDataFrame(
        [(0, "x x Alpha y y y y y y y")], "doc_id long, text string"
    )
    idx = build_index(docs, num_segments=2)
    idx.postings.persist().count()
    rows = snippets(idx, docs, [(0, "alpha")], k=5, window=3, spark=spark).collect()
    assert len(rows) == 1
    assert rows[0]["snippet_start"] == 2
    assert rows[0]["snippet"] == "Alpha y y"


def test_facet_counts(spark, docs_df, index):
    from solrtexttagger_spark.search.facets import facet_counts

    docs = docs_df.withColumn(
        "lang", F.when(F.col("doc_id") < 2, "en").otherwise("de")
    )
    out = facet_counts(index, docs, "alpha", ["lang"], spark=spark)
    got = {(r["field"], r["value"]): r["n"] for r in out.collect()}
    # alpha matches docs 0,1,2 -> en: docs 0,1; de: doc 2
    assert got == {("lang", "en"): 2, ("lang", "de"): 1}
    # limit keeps the top value per field (count desc, value asc tie-break)
    top1 = facet_counts(index, docs, "alpha", ["lang"], limit=1, spark=spark).collect()
    assert [(r["field"], r["value"], r["n"]) for r in top1] == [("lang", "en", 2)]
    # empty query / no facet fields -> empty frame with the right schema
    assert facet_counts(index, docs, "", ["lang"], spark=spark).count() == 0
    assert facet_counts(index, docs, "alpha", [], spark=spark).count() == 0
    # ordering promise holds WITHOUT limit/offset too (round-7 advice:
    # sort= used to apply only inside the pagination branch)
    assert [(r["value"], r["n"]) for r in out.collect()] == [
        ("en", 2), ("de", 1)
    ]
    idx_sorted = facet_counts(
        index, docs, "alpha", ["lang"], sort="index", spark=spark
    ).collect()
    assert [(r["value"], r["n"]) for r in idx_sorted] == [
        ("de", 1), ("en", 2)
    ]


def test_more_like_this(spark, docs_df, index):
    """MLT: a probe's nearest neighbor shares its rarest terms; the probe
    itself never appears; output deterministic."""
    from solrtexttagger_spark.search.mlt import more_like_this

    out = more_like_this(index, docs_df, [0, 4], n_terms=3, k=3, spark=spark)
    rows = out.collect()
    by_q = {}
    for r in rows:
        assert r["doc_id"] != r["query_id"]  # self excluded
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"]))
    # doc 0 = "alpha beta gamma": most similar are docs sharing 2 terms (1, 2)
    top2 = {d for rk, d in sorted(by_q[0])[:2]}
    assert top2 == {1, 2}
    # doc 4 = "zeta eta theta": no other doc shares any term -> no results
    assert 4 not in by_q
    # deterministic across invocations
    again = more_like_this(index, docs_df, [0, 4], n_terms=3, k=3, spark=spark).collect()
    norm = lambda rs: sorted((r["query_id"], r["rank"], r["doc_id"]) for r in rs)
    assert norm(rows) == norm(again)


def test_facet_ranges_zero_filled(spark, docs_df, index):
    """facet.range: every bucket in [start, end) present (mincount=0),
    out-of-range values not counted, bucket arithmetic exact."""
    from solrtexttagger_spark.search.facets import facet_ranges

    attrs = docs_df.withColumn("nc", F.length("text"))
    out = facet_ranges(
        index, attrs, "alpha", "nc", 0, 40, 10, spark=spark
    ).collect()
    assert [r["range_start"] for r in out] == [0, 10, 20, 30]
    assert sum(r["n"] for r in out) > 0
    # cross-check each bucket against a direct count of matched docs
    matched = {
        r["doc_id"]: r["nc"]
        for r in attrs.join(
            docs_df.where(F.col("text").contains("alpha")).select("doc_id"),
            "doc_id",
        ).collect()
    }
    for r in out:
        lo = r["range_start"]
        want = sum(1 for v in matched.values() if lo <= v < lo + 10 and v < 40)
        assert r["n"] == want, (lo, r["n"], want)


def test_facets_respect_fq(spark, docs_df, index):
    """Solr fq restricts the facet domain: counts shrink to the allowed
    match set in both value and range facets."""
    from solrtexttagger_spark.search.facets import facet_counts, facet_ranges

    attrs = docs_df.withColumn("nc", F.length("text")).withColumn(
        "parity", (F.col("doc_id") % 2).cast("string")
    )
    full = {
        (r["field"], r["value"]): r["n"]
        for r in facet_counts(index, attrs, "alpha", ["parity"], spark=spark).collect()
    }
    allowed = docs_df.where("doc_id % 2 = 0").select("doc_id")
    fq = {
        (r["field"], r["value"]): r["n"]
        for r in facet_counts(
            index, attrs, "alpha", ["parity"], allowed_docs=allowed, spark=spark
        ).collect()
    }
    assert ("parity", "1") not in fq  # odd docs filtered out of the domain
    assert fq.get(("parity", "0")) == full.get(("parity", "0"))
    r_full = facet_ranges(index, attrs, "alpha", "nc", 0, 40, 10, spark=spark).collect()
    r_fq = facet_ranges(
        index, attrs, "alpha", "nc", 0, 40, 10, allowed_docs=allowed, spark=spark
    ).collect()
    assert sum(r["n"] for r in r_fq) <= sum(r["n"] for r in r_full)
    assert [r["range_start"] for r in r_fq] == [0, 10, 20, 30]  # spine intact


class TestFuzzyPrefixClauses:
    """Lucene FuzzyQuery / PrefixQuery clause rewrites (round 6): markers
    expand against the live vocabulary into synonym-style groups."""

    DOCS = [
        (0, "scan scan scatter merge"),
        (1, "scan sort merge merge"),
        (2, "scatter shuffle sort"),
        (3, "merge join fast"),
        (4, "join join fast scan"),
    ]

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        from solrtexttagger_spark.index.build import build_index

        df = spark.createDataFrame(self.DOCS, "doc_id long, text string")
        idx = build_index(df, num_segments=2)
        idx.postings.persist().count()
        yield df, idx
        idx.postings.unpersist()

    def test_parse_markers(self):
        from solrtexttagger_spark.search.boolean import (
            parse_boolean_query,
            parse_marker,
        )

        must, should, must_not, _m, _n = parse_boolean_query("+scann~1 sor* -jon~")
        assert "scann~1" in must and "sor*" in should and "jon~2" in must_not
        assert parse_marker("scann~1") == ("fuzzy", "scann", 1)
        assert parse_marker("jon~2") == ("fuzzy", "jon", 2)
        assert parse_marker("sor*") == ("prefix", "sor", None)
        assert parse_marker("plain") is None

    def test_fuzzy_must_matches_expansion_group(self, spark, corpus):
        from solrtexttagger_spark.search.boolean import boolean_bm25_topk

        _, idx = corpus
        # scann~1 -> {scan}; docs with scan: 0, 1, 4
        got = boolean_bm25_topk(idx, [(0, "+scann~1")], k=10, spark=spark)
        assert {r["doc_id"] for r in got.collect()} == {0, 1, 4}
        # equivalent explicit query is score-identical
        key = lambda r: (r["rank"], r["doc_id"], round(r["score"], 9))  # noqa: E731
        want = sorted(map(key, boolean_bm25_topk(
            idx, [(0, "+scan")], k=10, spark=spark).collect()))
        assert sorted(map(key, boolean_bm25_topk(
            idx, [(0, "+scann~1")], k=10, spark=spark).collect())) == want
        # distance widens the group: jorn~1 -> {join} (docs 3, 4);
        # jorn~2 adds sort (dist 2) -> docs 1, 2 join the match set
        got1 = boolean_bm25_topk(idx, [(0, "+jorn~1")], k=10, spark=spark)
        assert {r["doc_id"] for r in got1.collect()} == {3, 4}
        got2 = boolean_bm25_topk(idx, [(0, "+jorn~2")], k=10, spark=spark)
        assert {r["doc_id"] for r in got2.collect()} == {1, 2, 3, 4}
        # no vocabulary match under MUST -> empty, like Lucene's rewrite
        assert boolean_bm25_topk(
            idx, [(0, "+zzzzzzz~1")], k=10, spark=spark
        ).count() == 0

    def test_prefix_clause_and_prohibition(self, spark, corpus):
        from solrtexttagger_spark.search.boolean import boolean_bm25_topk

        _, idx = corpus
        # sc* -> {scan, scatter}: +sc* matches docs 0, 1, 2, 4
        got = boolean_bm25_topk(idx, [(0, "+sc*")], k=10, spark=spark)
        assert {r["doc_id"] for r in got.collect()} == {0, 1, 2, 4}
        # -sc* prohibits every member: only doc 3 has merge w/o scan|scatter
        got2 = boolean_bm25_topk(idx, [(1, "+merge -sc*")], k=10, spark=spark)
        assert {r["doc_id"] for r in got2.collect()} == {3}

    def test_serving_path_parity_and_guard(self, spark, corpus):
        from solrtexttagger_spark.index.compressed import compress_index
        from solrtexttagger_spark.search.boolean import boolean_bm25_topk
        from solrtexttagger_spark.search.terms import LocalSpeller
        from solrtexttagger_spark.search.wand import LocalSearcher

        _, idx = corpus
        cix = compress_index(idx)
        ls = LocalSearcher(cix)
        sp = LocalSpeller(idx, max_dist=2)
        for q in ("+scann~1", "+scann~2", "+sc*", "+merge -sc*", "sor* join"):
            dist = sorted(
                (r["rank"], r["doc_id"], round(r["score"], 9))
                for r in boolean_bm25_topk(idx, [(0, q)], k=10, spark=spark).collect()
            )
            local = [
                (r, d, round(sc, 9))
                for r, d, sc in ls.search_boolean(q, k=10, speller=sp)
            ]
            assert [(r, d) for r, d, _ in local] == [(r, d) for r, d, _ in dist], q
        with pytest.raises(NotImplementedError):
            ls.search_boolean("+scann~1", k=10)


class TestMarkerRewriteScaleShape:
    """Round-6 verdict #1: the fuzzy/prefix clause rewrite must be
    JVM-side with a bounded driver collect — never a vocabulary-scale
    length-band slice with Python levenshtein on the driver."""

    @pytest.fixture(scope="class")
    def wide_corpus(self, spark):
        from solrtexttagger_spark.index.build import build_index

        # 80 distinct terms of the form aaXY, ALL within levenshtein 2 of
        # 'aa99' (<=2 digit substitutions) and ALL sharing prefix 'aa' —
        # both marker kinds see a candidate band far above the old cap
        docs = [(i, f"aa{i:02d} filler") for i in range(80)]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        idx = build_index(df, num_segments=2)
        idx.postings.persist().count()
        yield df, idx
        idx.postings.unpersist()

    def test_fuzzy_collect_bounded_by_cap_not_vocabulary(self, spark, wide_corpus):
        from solrtexttagger_spark.search.boolean import (
            expand_vocab_markers,
            marker_candidates,
        )
        from solrtexttagger_spark.plans import plan_string

        _, idx = wide_corpus
        specs = [("aa99~2", "fuzzy", "aa99", 2)]
        cand = marker_candidates(idx, specs, max_expansions=50)
        # 80 vocabulary terms sit inside the distance band; at most
        # max_expansions rows may exist in the collected relation
        assert cand.count() == 50
        # and the per-marker top-k is a TakeOrdered, not a global sort
        assert "TakeOrderedAndProject" in plan_string(cand)
        # ranking parity: df ties broken term-asc, so the cap keeps
        # aa00..aa49 (filler df=80 is not in the band)
        got = expand_vocab_markers(idx, ["aa99~2"], max_expansions=50)
        assert got["aa99~2"] == [f"aa{i:02d}" for i in range(50)]

    def test_prefix_matches_all_expansions_uncapped(self, spark, wide_corpus):
        """Lucene PrefixQuery uses a constant-score rewrite that matches
        ALL expansions — the TopTerms-50 cap is FuzzyQuery's (round-6
        advice #2); past the maxBooleanClauses-style guard it raises
        instead of silently dropping matches."""
        from solrtexttagger_spark.search.boolean import (
            boolean_bm25_topk,
            expand_vocab_markers,
        )

        _, idx = wide_corpus
        got = expand_vocab_markers(idx, ["aa*"])
        assert len(got["aa*"]) == 80  # every member, > the old 50 cap
        # end-to-end: +aa* matches every doc
        assert boolean_bm25_topk(
            idx, [(0, "+aa*")], k=100, spark=spark
        ).count() == 80
        with pytest.raises(ValueError, match="maxBooleanClauses|expands"):
            expand_vocab_markers(idx, ["aa*"], max_prefix_expansions=60)

    def test_local_speller_prefix_parity(self, spark, wide_corpus):
        from solrtexttagger_spark.search.boolean import expand_vocab_markers
        from solrtexttagger_spark.search.terms import LocalSpeller

        _, idx = wide_corpus
        sp = LocalSpeller(idx, max_dist=2)
        for mk in ["aa99~2", "aa*", "aa1*"]:
            assert sp.expand_marker(mk) == expand_vocab_markers(idx, [mk])[mk], mk
        from solrtexttagger_spark.search.terms import _marker_members_local

        with pytest.raises(ValueError, match="maxBooleanClauses|expands"):
            _marker_members_local(sp.df, "aa*", max_prefix_expansions=60)


def test_facet_field_params(spark):
    """Solr facet.field request params (round 7): mincount drops
    under-threshold values after counting, sort=index is lexicographic
    (vs the count-desc default), offset/limit paginate within each
    field's sorted list, prefix restricts values before the aggregate."""
    from solrtexttagger_spark.search.facets import facet_counts

    rows = [
        (0, "alpha", "aa"), (1, "alpha", "aa"), (2, "alpha", "aa"),
        (3, "alpha", "ab"), (4, "alpha", "ab"), (5, "alpha", "ba"),
        (6, "alpha", "bb"), (7, "beta", "zz"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, cat string")
    idx = build_index(docs.select("doc_id", "text"), num_segments=2)

    def vals(**kw):
        out = facet_counts(idx, docs, "alpha", ["cat"], spark=spark, **kw)
        r = [(x["value"], x["n"]) for x in out.collect()]
        # count-sorted presentation for assertion stability
        return sorted(r, key=lambda t: (-t[1], t[0]))

    assert vals() == [("aa", 3), ("ab", 2), ("ba", 1), ("bb", 1)]
    assert vals(mincount=2) == [("aa", 3), ("ab", 2)]
    assert vals(prefix="a") == [("aa", 3), ("ab", 2)]
    # offset pages past the top value in count order
    assert vals(offset=1, limit=2) == [("ab", 2), ("ba", 1)]
    # index order: lexicographic regardless of counts
    assert vals(sort="index", offset=2, limit=2) == [("ba", 1), ("bb", 1)]
    # offset without limit
    assert vals(sort="index", offset=3) == [("bb", 1)]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="count.*index|index.*count"):
        vals(sort="nope")


def test_facet_missing(spark, docs_df, index):
    """facet.missing: per-field NULL-doc count appended as a NULL-valued
    row; null docs are EXCLUDED from the value rows (Solr counts only
    docs carrying the field)."""
    from solrtexttagger_spark.search.facets import facet_counts

    docs = docs_df.withColumn(
        "lang",
        F.when(F.col("doc_id") == 0, "en")
        .when(F.col("doc_id") == 1, F.lit(None))
        .otherwise("de"),
    )
    # alpha matches docs 0,1,2: values en(0), de(2); missing doc 1
    out = facet_counts(
        index, docs, "alpha", ["lang"], missing=True, spark=spark
    ).collect()
    got = {(r["field"], r["value"]): r["n"] for r in out}
    assert got == {
        ("lang", "en"): 1, ("lang", "de"): 1, ("lang", None): 1,
    }
    # without missing=: the null row vanishes AND never counts as value
    plain = facet_counts(index, docs, "alpha", ["lang"], spark=spark)
    assert {(r["value"]): r["n"] for r in plain.collect()} == {
        "en": 1, "de": 1,
    }
    # zero missing still renders (Solr emits 0)
    full = docs.withColumn("lang", F.coalesce("lang", F.lit("xx")))
    z = facet_counts(
        index, full, "alpha", ["lang"], missing=True, spark=spark
    ).collect()
    assert {(r["value"]): r["n"] for r in z}[None] == 0
    # empty matched domain: missing still renders 0, never NULL
    empty = docs.sparkSession.createDataFrame(
        [], "doc_id long").selectExpr("doc_id")
    e = facet_counts(
        index, docs, "alpha", ["lang"], missing=True,
        allowed_docs=empty, spark=spark,
    ).collect()
    assert [(r["value"], r["n"]) for r in e] == [(None, 0)]
