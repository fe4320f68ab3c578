"""solr_select request router: one Solr param dict in, the composed
page out.

Two oracle disciplines, matching how the routed components are pinned:

- filter-parser / sort / fl / pagination paths (no BM25) compare against
  hand-written DuckDB SQL over the same documents parquet;
- scored paths (plain q, bf/boost, rq, {!join}) pin ROW-IDENTITY against
  the standalone operators they route to (boolean_bm25_topk,
  boosted_topk, rerank_topk, join_topk) — each of which carries its own
  DuckDB/driver oracle — so the router adds no semantics of its own.
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from solrtexttagger_spark.search.request import (
    parse_fl, parse_sort, solr_select,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def oracle(sf_dir):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')")
    return con


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    """A small indexed corpus for the scored paths (same build the
    boolean-path tests use)."""
    from solrtexttagger_spark.index.build import build_index

    df = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .where(F.col("doc_id") < 400)  # deterministic subset, DuckDB-mirrorable
    )
    df = df.persist()
    df.count()
    idx = build_index(df.select("doc_id", "text"), num_segments=4)
    idx.postings.persist().count()
    yield df, idx
    idx.postings.unpersist()
    df.unpersist()


class TestParsers:
    def test_parse_sort(self):
        assert parse_sort("score desc") == [("score", False)]
        assert parse_sort("n_chars asc, score desc") == [
            ("n_chars", True), ("score", False)]
        assert parse_sort("div(n_chars, sum(n_lines, 1)) desc") == [
            ("(n_chars / (n_lines + 1))", False)]

    def test_parse_sort_requires_direction(self):
        with pytest.raises(ValueError, match="asc|desc"):
            parse_sort("n_chars")

    def test_parse_fl(self):
        assert parse_fl(None) == [("*", "*")]
        assert parse_fl("lang,score") == [("lang", "lang"),
                                          ("score", "score")]
        assert parse_fl("ratio:div(n_chars, 100)") == [
            ("ratio", "(n_chars / 100)")]
        assert parse_fl("alias:lang") == [("alias", "lang")]

    def test_parse_fl_computed_needs_alias(self):
        with pytest.raises(ValueError, match="alias"):
            parse_fl("div(a, b)")


class TestFilterPaths:
    """q is a filter parser -> constant score, DuckDB row mirrors."""

    def test_term_q_sorted_paged(self, docs, oracle):
        got = solr_select(None, docs, {
            "q": "{!term f=lang}en",
            "sort": "n_chars desc",
            "fl": "lang,n_chars",
            "rows": "5",
            "start": "2",
        }).collect()
        want = oracle.sql(
            "SELECT doc_id, lang, n_chars FROM documents WHERE lang='en' "
            "ORDER BY n_chars DESC, doc_id LIMIT 5 OFFSET 2"
        ).fetchall()
        got_sorted = sorted(got, key=lambda r: r["rank"])
        assert [(r["doc_id"], r["lang"], r["n_chars"])
                for r in got_sorted] == want
        assert [r["rank"] for r in got_sorted] == [3, 4, 5, 6, 7]
        assert all(r["score"] == 1.0 for r in got)

    def test_lucene_fq_and_function_sort(self, docs, oracle):
        got = solr_select(None, docs, {
            "q": "{!bool must='n_chars:[100 TO *]'}",
            "fq": ["lang:(en fr)"],
            "q.op": "OR",
            "sort": "div(n_chars, sum(doc_id, 1)) asc",
            "fl": "n_chars",
            "rows": "8",
        }).collect()
        want = oracle.sql(
            "SELECT doc_id FROM documents WHERE n_chars >= 100 AND lang "
            "IN ('en','fr') ORDER BY n_chars * 1.0 / (doc_id + 1), doc_id "
            "LIMIT 8"
        ).fetchall()
        assert [r["doc_id"] for r in
                sorted(got, key=lambda r: r["rank"])] == [
            w[0] for w in want]

    def test_frange_q_with_ref(self, docs, oracle):
        got = solr_select(None, docs, {
            "q": "{!frange l=$lo}field(n_chars)",
            "lo": 350,
            "sort": "n_chars asc",
            "rows": "4",
        }).collect()
        want = oracle.sql(
            "SELECT doc_id FROM documents WHERE n_chars >= 350 "
            "ORDER BY n_chars, doc_id LIMIT 4"
        ).fetchall()
        assert [r["doc_id"] for r in
                sorted(got, key=lambda r: r["rank"])] == [
            w[0] for w in want]

    def test_fl_pseudo_field(self, docs, oracle):
        got = solr_select(None, docs, {
            "q": "{!term f=source}src3",
            "sort": "doc_id asc",
            "fl": "ratio:div(n_chars, sum(doc_id, 1)),lang",
            "rows": "6",
        }).collect()
        want = oracle.sql(
            "SELECT doc_id, n_chars * 1.0 / (doc_id + 1), lang FROM "
            "documents WHERE source='src3' ORDER BY doc_id LIMIT 6"
        ).fetchall()
        by_id = {r["doc_id"]: r for r in got}
        assert sorted(by_id) == [w[0] for w in want]
        for w in want:
            assert by_id[w[0]]["ratio"] == pytest.approx(float(w[1]))
            assert by_id[w[0]]["lang"] == w[2]

    def test_fl_star(self, docs):
        got = solr_select(None, docs, {
            "q": "{!term f=lang}de", "rows": "1", "sort": "doc_id asc",
        })
        # every stored field rides along exactly once
        assert got.columns[:4] == ["query_id", "rank", "doc_id", "score"]
        assert set(docs.columns) - {"doc_id"} <= set(got.columns)

    def test_graph_q_routes(self, docs, oracle):
        # self-referential toy graph via the md5 trick is already pinned
        # in test_graph_query; here just pin the ROUTING: depth-0 roots
        # with maxDepth=0 equal the root filter
        got = solr_select(None, docs, {
            "q": "{!graph from=source to=source maxDepth=0}"
                 "{!term f=lang}zh",
            "sort": "doc_id asc",
            "rows": "1000",
        }).collect()
        want = oracle.sql(
            "SELECT doc_id FROM documents WHERE lang='zh' ORDER BY doc_id"
        ).fetchall()
        assert sorted(r["doc_id"] for r in got) == [w[0] for w in want]
        assert got  # non-vacuous

    def test_graph_q_broadcast_opt_out_routes_through(self, docs):
        """{!graph ... broadcast=false} must reach
        graph_traverse(broadcast_frontier=False) — the same
        request-level opt-out the {!join} route honors (r9 verdict #1:
        a hub-heavy frontier under the binding hint dies at the 8 GB
        broadcast cap with no escape from the router). The hop-level
        BroadcastExchange release itself is plan-pinned in
        test_graph_query.test_broadcast_frontier_opt_out_releases_hint;
        here we pin the routing AND that results are flag-invariant."""
        import solrtexttagger_spark.search.request as req_mod
        from solrtexttagger_spark.search import graph_qp

        seen = {}
        real = graph_qp.graph_traverse

        def spy(*a, **kw):
            seen["broadcast_frontier"] = kw.get("broadcast_frontier")
            return real(*a, **kw)

        graph_qp.graph_traverse = spy
        try:
            params = {
                "q": "{!graph from=source to=source maxDepth=1 "
                     "broadcast=false}{!term f=lang}zh",
                "sort": "doc_id asc",
                "rows": "1000",
            }
            off = {r["doc_id"] for r in solr_select(None, docs, params).collect()}
            assert seen["broadcast_frontier"] is False
            params["q"] = params["q"].replace(" broadcast=false", "")
            on = {r["doc_id"] for r in solr_select(None, docs, params).collect()}
            assert seen["broadcast_frontier"] is True
        finally:
            graph_qp.graph_traverse = real
        assert off == on and off  # flag-invariant, non-vacuous

    def test_match_all(self, docs, oracle):
        got = solr_select(None, docs, {
            "q": "*:*", "fq": "lang:es", "sort": "doc_id asc",
            "rows": "100000",
        }).collect()
        want = oracle.sql(
            "SELECT doc_id FROM documents WHERE lang='es' ORDER BY doc_id"
        ).fetchall()
        assert [r["doc_id"] for r in
                sorted(got, key=lambda r: r["rank"])] == [
            w[0] for w in want]
        assert got and all(r["score"] == 1.0 for r in got)

    def test_match_all_response(self, docs, oracle):
        """The /select writers match q=*:* exactly like the router:
        every fq doc at score 1.0, numFound and facets over all of
        them."""
        import json

        from solrtexttagger_spark.search.request import solr_query_response

        want = [w[0] for w in oracle.sql(
            "SELECT doc_id FROM documents WHERE lang='es' ORDER BY doc_id"
        ).fetchall()]
        got = json.loads(solr_query_response(None, docs, {
            "q": "*:*", "fq": "lang:es", "rows": "100000", "fl": "lang",
            "facet": "true", "facet.field": "lang",
        }))
        assert got["response"]["numFound"] == len(want)
        assert [d["id"] for d in got["response"]["docs"]] == want
        assert want and all(d["score"] == 1.0 for d in got["response"]["docs"])
        assert got["facet_counts"]["facet_fields"]["lang"] == ["es", len(want)]

    def test_match_all_inside_bool_fq(self, docs, oracle):
        from solrtexttagger_spark.search.localparams import apply_solr_fq

        got = sorted(r["doc_id"] for r in apply_solr_fq(
            docs, "*:* AND lang:zh").select("doc_id").collect())
        want = [w[0] for w in oracle.sql(
            "SELECT doc_id FROM documents WHERE lang='zh' ORDER BY doc_id"
        ).fetchall()]
        assert got == want
        assert got  # non-vacuous

    def test_parent_raises_with_pointer(self, docs):
        with pytest.raises(ValueError, match="blockjoin"):
            solr_select(None, docs, {"q": "{!parent which=x:1}y:2"})

    def test_scored_q_without_index_raises(self, docs):
        with pytest.raises(ValueError, match="InvertedIndex"):
            solr_select(None, docs, {"q": "hello world"})


class TestScoredPaths:
    """Plain q / bf / boost / rq route byte-identically onto the
    standalone operators (which carry the DuckDB/driver oracles)."""

    def test_plain_q_matches_boolean_topk(self, spark, corpus):
        from solrtexttagger_spark.search.boolean import boolean_bm25_topk

        df, idx = corpus
        q = "+merge scan"
        got = solr_select(idx, df, {"q": q, "rows": "10", "fl": "lang"},
                          spark=spark).collect()
        want = boolean_bm25_topk(idx, [(0, q)], k=10, spark=spark).collect()
        assert {(r["rank"], r["doc_id"], round(r["score"], 9))
                for r in got} == {
            (r["rank"], r["doc_id"], round(r["score"], 9)) for r in want}
        # fl joined correctly
        langs = dict(df.select("doc_id", "lang").collect())
        assert all(r["lang"] == langs[r["doc_id"]] for r in got)

    def test_fq_on_scored_path(self, spark, corpus):
        from solrtexttagger_spark.search.boolean import boolean_bm25_topk

        df, idx = corpus
        allowed = df.where(F.col("lang") == "en").select("doc_id")
        got = solr_select(
            idx, df, {"q": "merge", "fq": "lang:en", "rows": "10"},
            spark=spark).collect()
        want = boolean_bm25_topk(
            idx, [(0, "merge")], k=10, allowed_docs=allowed, spark=spark,
        ).collect()
        assert {(r["rank"], r["doc_id"]) for r in got} == {
            (r["rank"], r["doc_id"]) for r in want}
        assert got  # non-vacuous

    def test_bf_boost_solr_dialect(self, spark, corpus):
        from solrtexttagger_spark.search.functions import boosted_topk

        df, idx = corpus
        got = solr_select(idx, df, {
            "q": "merge",
            "bf": "log(sum(n_chars, 1))",     # Solr log = base 10
            "boost": "sqrt(n_chars)",
            "rows": "10",
        }, spark=spark).collect()
        want = boosted_topk(
            idx, df, [(0, "merge")],
            bf="log10(n_chars + 1)", boost="sqrt(n_chars)",
            k=10, spark=spark,
        ).collect()
        assert {(r["rank"], r["doc_id"], round(r["score"], 9))
                for r in got} == {
            (r["rank"], r["doc_id"], round(r["score"], 9)) for r in want}

    def test_rq_rerank_with_ref(self, spark, corpus):
        from solrtexttagger_spark.search.boolean import boolean_bm25_topk
        from solrtexttagger_spark.search.functions import rerank_topk

        df, idx = corpus
        got = solr_select(idx, df, {
            "q": "merge",
            "rq": "{!rerank reRankQuery=$rqq reRankDocs=5 reRankWeight=3}",
            "rqq": "{!func}div(n_chars, 100)",
            "rows": "10",
        }, spark=spark).collect()
        base = boolean_bm25_topk(idx, [(0, "merge")], k=10**6, spark=spark)
        want = rerank_topk(
            base, df, "n_chars / 100", rerank_docs=5, weight=3.0,
        ).where(F.col("rank") <= 10).collect()
        assert {(r["rank"], r["doc_id"], round(r["score"], 9))
                for r in got} == {
            (r["rank"], r["doc_id"], round(r["score"], 9)) for r in want}

    def test_join_q_score_mode(self, spark, corpus):
        from solrtexttagger_spark.search.boolean import (
            boolean_matched_scores,
        )
        from solrtexttagger_spark.search.join_qp import join_topk

        df, idx = corpus
        got = solr_select(idx, df, {
            "q": "{!join from=source to=source score=max}merge",
            "rows": "10",
        }, spark=spark).collect()
        inner = boolean_matched_scores(idx, [(0, "merge")], spark=spark)
        want = join_topk(
            inner, df, df, from_col="source", to_col="source",
            score="max", k=10,
        ).collect()
        assert {(r["rank"], r["doc_id"], round(r["score"], 9))
                for r in got} == {
            (r["rank"], r["doc_id"], round(r["score"], 9)) for r in want}

    def test_join_q_filter_mode(self, spark, corpus, sf_dir):
        """score=none join over a filter inner query — full DuckDB
        mirror (no BM25 involved)."""
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{sf_dir}/documents.parquet')")
        df, idx = corpus
        got = solr_select(idx, df, {
            "q": "{!join from=source to=source score=none}"
                 "{!term f=lang}fr",
            "sort": "doc_id asc",
            "rows": "100000",
        }, spark=spark).collect()
        want = con.sql(
            "WITH sub AS (SELECT * FROM documents WHERE doc_id < 400) "
            "SELECT doc_id FROM sub WHERE source IN "
            "(SELECT source FROM sub WHERE lang='fr') ORDER BY doc_id"
        ).fetchall()
        assert sorted(r["doc_id"] for r in got) == [w[0] for w in want]
        assert got


class TestPlanShape:
    def test_filter_path_pushes_to_scan(self, spark, sf_dir):
        df = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = solr_select(None, df, {
            "q": "{!term f=lang}en", "fq": "source:src2",
            "sort": "doc_id asc", "fl": "lang",
        })._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan
        assert "EqualTo(lang,en)" in plan


class TestQueryResponse:
    """solr_query_response: param dict -> rendered Solr response.
    Parity-pinned against the golden writers called directly with the
    same resolved arguments (the writers carry their own golden tests
    in test_response_format.py)."""

    def test_json_parity_with_writer(self, spark, corpus):
        import json

        from solrtexttagger_spark.search.request import solr_query_response
        from solrtexttagger_spark.search.select import render_select_json

        df, idx = corpus
        allowed = df.where(F.col("lang") == "en").select("doc_id")
        got = solr_query_response(idx, df, {
            "q": "merge scan",
            "fq": "lang:en",
            "fl": "lang,n_chars",
            "rows": "5",
            "bf": "log(sum(n_chars, 1))",
            "facet": "true",
            "facet.field": "source",
        }, spark=spark)
        want = render_select_json(
            idx, df, "merge scan", fl=["lang", "n_chars"], k=5,
            allowed_docs=allowed, bf="log10(n_chars + 1)",
            facet_cols=["source"], spark=spark,
        )
        assert json.loads(got) == json.loads(want)
        body = json.loads(got)
        assert body["response"]["docs"]
        assert body["facet_counts"]["facet_fields"]["source"]

    def test_xml_and_range_facets(self, spark, corpus):
        from solrtexttagger_spark.search.request import solr_query_response
        from solrtexttagger_spark.search.select import render_select_xml

        df, idx = corpus
        got = solr_query_response(idx, df, {
            "q": "merge",
            "wt": "xml",
            "fl": "lang",
            "rows": "3",
            "facet": "true",
            "facet.range": "n_chars",
            "facet.range.start": 0,
            "facet.range.end": 1000,
            "facet.range.gap": 250,
        }, spark=spark)
        want = render_select_xml(
            idx, df, "merge", fl=["lang"], k=3,
            facet_ranges=[("n_chars", 0, 1000, 250)], spark=spark,
        )
        assert got == want
        assert 'facet_ranges' in got

    def test_json_facet_param(self, spark, corpus):
        import json

        from solrtexttagger_spark.search.request import solr_query_response

        df, idx = corpus
        got = solr_query_response(idx, df, {
            "q": "merge",
            "fl": "lang",
            "rows": "2",
            "json.facet": json.dumps(
                {"langs": {"type": "terms", "field": "lang", "limit": 3}}
            ),
        }, spark=spark)
        body = json.loads(got)
        assert body["facets"]["langs"]["buckets"]

    def test_sort_and_routed_q_raise(self, spark, corpus):
        from solrtexttagger_spark.search.request import solr_query_response

        df, idx = corpus
        with pytest.raises(ValueError, match="sort"):
            solr_query_response(idx, df, {"q": "merge",
                                          "sort": "n_chars asc"})
        with pytest.raises(ValueError, match="solr_select"):
            solr_query_response(idx, df, {"q": "{!term f=lang}en"})
        with pytest.raises(ValueError, match="solr_select"):
            solr_query_response(idx, df, {"q": "merge",
                                          "fl": "x:div(n_chars, 2)"})

    def test_fl_star_default(self, spark, corpus):
        import json

        from solrtexttagger_spark.search.request import solr_query_response

        df, idx = corpus
        body = json.loads(solr_query_response(
            idx, df, {"q": "merge", "rows": "1"}, spark=spark))
        doc = body["response"]["docs"][0]
        # every stored field rendered (Solr default fl=*), score included
        assert {"lang", "source", "n_chars", "text", "score", "id"} <= set(doc)


class TestCollapseFq:
    def test_collapse_fq_matches_collapse_topk(self, spark, corpus):
        from solrtexttagger_spark.search.grouping import collapse_topk

        df, idx = corpus
        got = solr_select(idx, df, {
            "q": "merge",
            "fq": "{!collapse field=source}",
            "rows": "10",
        }, spark=spark).collect()
        want = collapse_topk(
            idx, df, [(0, "merge")], "source", k=10, spark=spark,
        ).collect()
        assert {(r["rank"], r["doc_id"], round(r["score"], 9))
                for r in got} == {
            (r["rank"], r["doc_id"], round(r["score"], 9)) for r in want}
        assert got
        # collapsed page: one doc per source value
        srcs = dict(df.select("doc_id", "source").collect())
        assert len({srcs[r["doc_id"]] for r in got}) == len(got)

    def test_collapse_composes_with_predicate_fq(self, spark, corpus):
        from solrtexttagger_spark.search.grouping import collapse_topk

        df, idx = corpus
        allowed = df.where(F.col("lang") == "en").select("doc_id")
        got = solr_select(idx, df, {
            "q": "merge",
            "fq": ["lang:en", "{!collapse field=source}"],
            "rows": "10",
        }, spark=spark).collect()
        want = collapse_topk(
            idx, df, [(0, "merge")], "source", k=10,
            allowed_docs=allowed, spark=spark,
        ).collect()
        assert {(r["rank"], r["doc_id"], round(r["score"], 9))
                for r in got} == {
            (r["rank"], r["doc_id"], round(r["score"], 9)) for r in want}
        assert got

    def test_bad_null_policy_raises(self, spark, corpus):
        df, idx = corpus
        with pytest.raises(ValueError, match="nullPolicy"):
            solr_select(idx, df, {
                "q": "merge",
                "fq": "{!collapse field=source nullPolicy=bogus}",
            }, spark=spark).collect()


class TestRoutedQTypes:
    def test_func_q(self, docs, oracle):
        got = solr_select(None, docs, {
            "q": "{!func}div(n_chars, 100)",
            "fq": "lang:de",
            "rows": "5",
        }).collect()
        want = oracle.sql(
            "SELECT doc_id, n_chars / 100.0 FROM documents WHERE "
            "lang='de' ORDER BY n_chars / 100.0 DESC, doc_id LIMIT 5"
        ).fetchall()
        got_sorted = sorted(got, key=lambda r: r["rank"])
        assert [r["doc_id"] for r in got_sorted] == [w[0] for w in want]
        for r, w in zip(got_sorted, want):
            assert r["score"] == pytest.approx(float(w[1]))
        assert got

    def test_boost_q_matches_boosted_topk(self, spark, corpus):
        from solrtexttagger_spark.search.functions import boosted_topk

        df, idx = corpus
        got = solr_select(idx, df, {
            "q": "{!boost b=sqrt(n_chars)}merge scan",
            "rows": "10",
        }, spark=spark).collect()
        want = boosted_topk(
            idx, df, [(0, "merge scan")], boost="sqrt(n_chars)",
            k=10, spark=spark,
        ).collect()
        assert {(r["rank"], r["doc_id"], round(r["score"], 9))
                for r in got} == {
            (r["rank"], r["doc_id"], round(r["score"], 9)) for r in want}
        assert got

    def test_mlt_q_matches_operator(self, spark, corpus):
        from solrtexttagger_spark.search.mlt import more_like_this

        df, idx = corpus
        got = solr_select(idx, df, {
            "q": "{!mlt}7", "rows": "10",
        }, spark=spark).collect()
        want = more_like_this(idx, df, [7], k=10, spark=spark).collect()
        assert {(r["rank"], r["doc_id"], round(r["score"], 9))
                for r in got} == {
            (r["rank"], r["doc_id"], round(r["score"], 9)) for r in want}
        assert got
        assert all(r["doc_id"] != 7 for r in got)  # self excluded


class TestLocalRequestHandler:
    @pytest.fixture(scope="class")
    def handler(self, spark, corpus):
        from solrtexttagger_spark.index.compressed import compress_index
        from solrtexttagger_spark.search.request import LocalRequestHandler
        from solrtexttagger_spark.search.wand import LocalSearcher

        df, idx = corpus
        c = compress_index(idx)
        h = LocalRequestHandler(LocalSearcher(c))
        h.prepare_fq(df, "lang:en")
        h.prepare_fq(df, "{!frange l=200}field(n_chars)")
        h.prepare_functions(df, bf="log(sum(n_chars, 1))")
        return df, idx, h

    def test_select_matches_router(self, spark, handler):
        df, idx, h = handler
        params = {"q": "+merge scan", "fq": "lang:en", "rows": "10"}
        warm = h.select(params)
        dist = solr_select(idx, df, params, spark=spark).collect()
        assert [(r, d, round(s, 6)) for r, d, s in warm] == [
            (r["rank"], r["doc_id"], round(r["score"], 6))
            for r in sorted(dist, key=lambda r: r["rank"])]
        assert warm

    def test_multi_fq_intersection(self, spark, handler):
        df, idx, h = handler
        params = {"q": "merge",
                  "fq": ["lang:en", "{!frange l=200}field(n_chars)"],
                  "rows": "10"}
        warm = h.select(params)
        dist = solr_select(idx, df, params, spark=spark).collect()
        assert [(r, d, round(s, 6)) for r, d, s in warm] == [
            (r["rank"], r["doc_id"], round(r["score"], 6))
            for r in sorted(dist, key=lambda r: r["rank"])]
        assert warm

    def test_boost_fold_matches_router(self, spark, handler):
        df, idx, h = handler
        params = {"q": "merge scan", "fq": "lang:en",
                  "bf": "log(sum(n_chars, 1))", "rows": "10"}
        warm = h.select(params)
        dist = solr_select(idx, df, params, spark=spark).collect()
        assert [(r, d, round(s, 6)) for r, d, s in warm] == [
            (r["rank"], r["doc_id"], round(r["score"], 6))
            for r in sorted(dist, key=lambda r: r["rank"])]
        assert warm

    def test_unprepared_raises(self, handler):
        df, idx, h = handler
        with pytest.raises(ValueError, match="not prepared"):
            h.select({"q": "merge", "fq": "lang:fr"})
        with pytest.raises(ValueError, match="not prepared"):
            h.select({"q": "merge", "boost": "sqrt(n_chars)"})

    def test_clause_q_with_boost_raises(self, handler):
        df, idx, h = handler
        with pytest.raises(ValueError, match="distributed"):
            h.select({"q": "+merge -scan",
                      "bf": "log(sum(n_chars, 1))"})


class TestMultiSelectFacets:
    """fq={!tag=T} + facet.field={!ex=T}: the classic multi-select
    idiom, DuckDB-mirrored (padded-LIKE text-match oracle, the engine's
    standard single-term mirror over the space-separated corpus)."""

    @pytest.fixture(scope="class")
    def con(self, sf_dir):
        c = duckdb.connect()
        c.sql(f"CREATE VIEW sub AS SELECT * FROM read_parquet("
              f"'{sf_dir}/documents.parquet') WHERE doc_id < 400")
        return c

    def _facet_dict(self, flat):
        return dict(zip(flat[::2], flat[1::2]))

    def test_excluded_facet_recounts(self, spark, corpus, con):
        import json

        from solrtexttagger_spark.search.request import solr_query_response

        df, idx = corpus
        body = json.loads(solr_query_response(idx, df, {
            "q": "merge",
            "fq": ["{!tag=L}lang:en", "n_chars:[100 TO *]"],
            "facet": "true",
            "facet.field": ["source", "{!ex=L key=langs}lang"],
            "rows": "2",
        }, spark=spark))
        ff = body["facet_counts"]["facet_fields"]
        # langs: the lang filter REMOVED, the untagged n_chars filter kept
        want_langs = dict(con.sql(
            "SELECT lang, count(*) FROM sub WHERE ' ' || text || ' ' "
            "LIKE '% merge %' AND n_chars >= 100 GROUP BY lang"
        ).fetchall())
        assert self._facet_dict(ff["langs"]) == want_langs
        assert len(want_langs) > 1  # non-vacuous: more than the selected lang
        # source: the CLASSIC path, every fq arm applied
        want_src = dict(con.sql(
            "SELECT source, count(*) FROM sub WHERE ' ' || text || ' ' "
            "LIKE '% merge %' AND n_chars >= 100 AND lang = 'en' "
            "GROUP BY source"
        ).fetchall())
        assert self._facet_dict(ff["source"]) == want_src
        # no leftover internal nodes
        assert "facets" not in body

    def test_key_rename_without_ex(self, spark, corpus):
        import json

        from solrtexttagger_spark.search.request import solr_query_response

        df, idx = corpus
        body = json.loads(solr_query_response(idx, df, {
            "q": "merge",
            "facet": "true",
            "facet.field": "{!key=ll}lang",
            "rows": "1",
        }, spark=spark))
        assert "ll" in body["facet_counts"]["facet_fields"]

    def test_user_json_facet_rides_alongside(self, spark, corpus):
        import json

        from solrtexttagger_spark.search.request import solr_query_response

        df, idx = corpus
        body = json.loads(solr_query_response(idx, df, {
            "q": "merge",
            "fq": "{!tag=L}lang:en",
            "facet": "true",
            "facet.field": "{!ex=L}lang",
            "json.facet": json.dumps({
                "all_langs": {"type": "terms", "field": "lang",
                              "domain": {"excludeTags": "L"}}
            }),
            "rows": "1",
        }, spark=spark))
        # user's own json.facet stays under "facets"; the internal
        # __cf_ node moved to facet_fields
        assert body["facets"]["all_langs"]["buckets"]
        assert "lang" in body["facet_counts"]["facet_fields"]
        assert not any(k.startswith("__cf_") for k in body["facets"])
        # both recounts agree (same domain, two surfaces)
        jd = {b["val"]: b["count"]
              for b in body["facets"]["all_langs"]["buckets"]}
        cd = self._facet_dict(body["facet_counts"]["facet_fields"]["lang"])
        assert jd == cd

    def test_unknown_ex_tag_raises(self, spark, corpus):
        from solrtexttagger_spark.search.request import solr_query_response

        df, idx = corpus
        with pytest.raises(ValueError, match="unknown tag"):
            solr_query_response(idx, df, {
                "q": "merge", "facet": "true",
                "facet.field": "{!ex=NOPE}lang",
            }, spark=spark)


class TestScaleShape:
    def test_scored_page_is_take_ordered(self, spark, corpus):
        """The single-request rank window must NOT sort the full match
        set on one task: the sorted page bound compiles to
        TakeOrderedAndProject (distributed partial top-k), and the
        window only numbers its <= start+rows survivors."""
        df, idx = corpus
        plan = solr_select(idx, df, {
            "q": "merge scan", "fq": "lang:en", "rows": "10",
        }, spark=spark)._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan

    def test_filter_page_is_take_ordered(self, spark, docs):
        plan = solr_select(None, docs, {
            "q": "{!term f=lang}en", "sort": "n_chars desc",
            "rows": "10", "start": "20",
        })._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject(limit=30" in plan
