"""Solr JSON Facet API subset (search/json_facet.py): nested
terms/range/query facets with per-bucket stats, executed as ONE
grouping-sets aggregate for the whole tree (+ one batched boolean pass
for query facets). Reference: Solr's json.facet request parameter — the
modern facet module behind the classic facet.field/range/query params.
"""

import pytest

from tests.conftest import _build_jobs


ROWS = [
    (0, "alpha beta", "en", "web", 10),
    (1, "alpha gamma", "en", "book", 20),
    (2, "alpha delta", "en", "web", 30),
    (3, "alpha beta", "de", "web", 40),
    (4, "alpha", None, "book", 50),
    (5, "zeta", "fr", "web", 60),  # outside the 'alpha' domain
]


@pytest.fixture(scope="module")
def corpus(spark):
    from solrtexttagger_spark.index.build import build_index

    df = spark.createDataFrame(
        ROWS, "doc_id long, text string, lang string, src string, n long"
    )
    idx = build_index(df.select("doc_id", "text"), num_segments=2)
    idx.postings.persist().count()
    yield df, idx
    idx.postings.unpersist()


def _facet(spark, corpus, spec, **kw):
    from solrtexttagger_spark.search.json_facet import json_facet

    df, idx = corpus
    return json_facet(idx, df, "alpha", spec, spark=spark, **kw)


class TestTree:
    def test_percentile_stat(self, spark, corpus):
        """Solr percentiles: scalar for one cut, list for several; a
        root-level percentile, a per-bucket percentile, and the DuckDB
        quantile_cont mirror (linear interpolation — the same exact
        definition Spark's percentile uses)."""
        import duckdb

        out = _facet(spark, corpus, {
            "median_n": "percentile(n, 50)",
            "spread_n": "percentile(n, 25, 50, 75)",
            "langs": {"type": "terms", "field": "lang", "limit": 10,
                      "facet": {"p90": "percentile(n, 90)"}},
        })
        con = duckdb.connect()
        con.sql(
            "CREATE TABLE t AS SELECT * FROM (VALUES "
            "(0,'en',10),(1,'en',20),(2,'en',30),(3,'de',40),(4,NULL,50)"
            ") v(doc_id, lang, n)"
        )
        med, q1, q3 = con.sql(
            "SELECT quantile_cont(n, 0.5), quantile_cont(n, 0.25), "
            "quantile_cont(n, 0.75) FROM t"
        ).fetchone()
        assert out["median_n"] == pytest.approx(med)
        assert out["spread_n"] == pytest.approx([q1, med, q3])
        p90 = dict(con.sql(
            "SELECT lang, quantile_cont(n, 0.9) FROM t "
            "WHERE lang IS NOT NULL GROUP BY lang"
        ).fetchall())
        got = {b["val"]: b["p90"] for b in out["langs"]["buckets"]}
        assert got == pytest.approx(p90)
        with pytest.raises(ValueError, match="in \\[0, 100\\]"):
            _facet(spark, corpus, {"bad": "percentile(n, 101)"})

    def test_nested_terms_with_stats(self, spark, corpus):
        out = _facet(spark, corpus, {
            "langs": {
                "type": "terms", "field": "lang", "limit": 2,
                "missing": True, "numBuckets": True,
                "facet": {
                    "avg_n": "avg(n)",
                    "srcs": {"type": "terms", "field": "src", "limit": 1},
                },
            },
            "total_n": "sum(n)",
        })
        assert out["count"] == 5 and out["total_n"] == 150.0
        langs = out["langs"]
        assert [b["val"] for b in langs["buckets"]] == ["en", "de"]
        en, de = langs["buckets"]
        assert en["count"] == 3 and en["avg_n"] == pytest.approx(20.0)
        assert de["count"] == 1 and de["avg_n"] == pytest.approx(40.0)
        # sub-facet under each parent bucket, independently limited
        assert en["srcs"]["buckets"] == [{"val": "web", "count": 2}]
        assert de["srcs"]["buckets"] == [{"val": "web", "count": 1}]
        # Solr missing:true = the NULL bucket; numBuckets is pre-limit
        assert langs["missing"] == {"count": 1}
        assert langs["numBuckets"] == 2

    def test_sort_variants_and_pagination(self, spark, corpus):
        # index order
        out = _facet(spark, corpus, {
            "langs": {"type": "terms", "field": "lang", "sort": "index"},
        })
        assert [b["val"] for b in out["langs"]["buckets"]] == ["de", "en"]
        # sort by a stat of the same node
        out2 = _facet(spark, corpus, {
            "langs": {"type": "terms", "field": "lang",
                      "sort": {"m": "desc"}, "facet": {"m": "max(n)"}},
        })
        assert [b["val"] for b in out2["langs"]["buckets"]] == ["de", "en"]
        out3 = _facet(spark, corpus, {
            "langs": {"type": "terms", "field": "lang",
                      "sort": "m asc", "facet": {"m": "max(n)"}},
        })
        assert [b["val"] for b in out3["langs"]["buckets"]] == ["en", "de"]
        # offset pages past the head bucket (count order: en then de)
        out4 = _facet(spark, corpus, {
            "langs": {"type": "terms", "field": "lang", "offset": 1,
                      "limit": 5},
        })
        assert [b["val"] for b in out4["langs"]["buckets"]] == ["de"]
        # limit -1 = unlimited (Solr)
        out5 = _facet(spark, corpus, {
            "srcs": {"type": "terms", "field": "src", "limit": -1},
        })
        assert len(out5["srcs"]["buckets"]) == 2

    def test_all_buckets(self, spark, corpus):
        """Solr allBuckets:true — doc count across ALL buckets pre-limit
        (NULL-field docs excluded), one extra window aggregate."""
        out = _facet(spark, corpus, {
            "langs": {"type": "terms", "field": "lang", "limit": 1,
                      "allBuckets": True, "missing": True},
        })
        # alpha domain = docs 0-4; doc 4 has NULL lang -> 4 in buckets
        assert out["langs"]["allBuckets"] == {"count": 4}
        assert len(out["langs"]["buckets"]) == 1  # limit still applies
        assert out["langs"]["missing"] == {"count": 1}

    def test_mincount_and_prefix(self, spark, corpus):
        out = _facet(spark, corpus, {
            "langs": {"type": "terms", "field": "lang", "mincount": 2},
        })
        assert [b["val"] for b in out["langs"]["buckets"]] == ["en"]
        out2 = _facet(spark, corpus, {
            "srcs": {"type": "terms", "field": "src", "prefix": "b"},
        })
        assert [b["val"] for b in out2["srcs"]["buckets"]] == ["book"]

    def test_range_nested_and_zero_fill(self, spark, corpus):
        out = _facet(spark, corpus, {
            "hist": {"type": "range", "field": "n",
                     "start": 0, "end": 80, "gap": 20,
                     "facet": {"langs": {"type": "terms", "field": "lang"}}},
        })
        b = out["hist"]["buckets"]
        # zero-filled spine: [60, 80) has no alpha docs
        assert [(x["val"], x["count"]) for x in b] == [
            (0, 1), (20, 2), (40, 2), (60, 0)
        ]
        # nested terms under a range bucket
        assert b[1]["langs"]["buckets"] == [{"val": "en", "count": 2}]
        # empty spine bucket keeps the SAME shape as populated ones
        # (Solr emits stat/sub-facet entries for zero buckets too —
        # round-7 advice): sub-facet present with an empty bucket list
        assert b[3]["langs"] == {"buckets": []}
        # mincount drops empty buckets instead of zero-filling
        out2 = _facet(spark, corpus, {
            "hist": {"type": "range", "field": "n",
                     "start": 0, "end": 80, "gap": 20, "mincount": 2},
        })
        assert [(x["val"], x["count"]) for x in out2["hist"]["buckets"]] == [
            (20, 2), (40, 2)
        ]

    def test_range_other_buckets(self, spark, corpus):
        """Solr range ``other``: before/after/between as sibling keys of
        buckets, stats riding the same aggregate (round 8 — one extra
        grouping set, exact stats)."""
        out = _facet(spark, corpus, {
            "hist": {"type": "range", "field": "n",
                     "start": 20, "end": 50, "gap": 10, "other": "all",
                     "facet": {"s": "sum(n)"}},
        })
        # alpha domain docs 0-4 with n = 10,20,30,40,50
        assert out["hist"]["before"] == {"count": 1, "s": 10.0}
        assert out["hist"]["after"] == {"count": 1, "s": 50.0}
        assert out["hist"]["between"] == {"count": 3, "s": 90.0}
        assert [(b["val"], b["count"]) for b in out["hist"]["buckets"]] == [
            (20, 1), (30, 1), (40, 1)
        ]
        # subset list + no stats; empty 'before' still emitted as 0
        out2 = _facet(spark, corpus, {
            "hist": {"type": "range", "field": "n",
                     "start": 0, "end": 100, "gap": 50,
                     "other": ["before", "after"]},
        })
        assert out2["hist"]["before"] == {"count": 0}
        assert out2["hist"]["after"] == {"count": 0}
        assert "between" not in out2["hist"]
        with pytest.raises(ValueError, match="unsupported other"):
            _facet(spark, corpus, {
                "hist": {"type": "range", "field": "n", "start": 0,
                         "end": 10, "gap": 5, "other": "outer"},
            })

    def test_zero_bucket_shape_and_float_gap(self, spark, corpus):
        """Round-7 advice: zero-filled buckets carry the node's stat keys
        (sum/unique -> 0, avg/min/max -> None) and sub-facet keys; float
        start/end/gap is legal (the spine is arithmetic, not range())."""
        out = _facet(spark, corpus, {
            "hist": {"type": "range", "field": "n",
                     "start": 0, "end": 80, "gap": 20,
                     "facet": {"s": "sum(n)", "a": "avg(n)",
                               "u": "unique(lang)"}},
        })
        empty = out["hist"]["buckets"][3]  # [60, 80): no alpha docs
        assert empty == {"val": 60, "count": 0, "s": 0, "a": None, "u": 0}
        full = out["hist"]["buckets"][1]  # [20, 40): docs 1, 2
        assert full["count"] == 2 and full["s"] == 50.0 and full["u"] == 1

        # float gap: buckets at 0.0, 17.5, 35.0, 52.5, 70.0 (end 87.5)
        outf = _facet(spark, corpus, {
            "hist": {"type": "range", "field": "n",
                     "start": 0.0, "end": 87.5, "gap": 17.5},
        })
        got = [(x["val"], x["count"]) for x in outf["hist"]["buckets"]]
        # n values in the alpha domain: 10,20,30,40,50
        assert got == [
            (0.0, 1), (17.5, 2), (35.0, 2), (52.5, 0), (70.0, 0)
        ]

    def test_query_facet_and_fq_domain(self, spark, corpus):
        df, _idx = corpus
        out = _facet(spark, corpus, {
            "special": {"type": "query", "q": "+beta",
                        "facet": {"tot": "sum(n)"}},
            "none": {"type": "query", "q": "+zzznope"},
        })
        assert out["special"] == {"count": 2, "tot": 50.0}
        assert out["none"] == {"count": 0, "tot": None} or out["none"] == {
            "count": 0
        }
        # fq restricts every facet's domain
        web = df.where("src = 'web'").select("doc_id")
        out2 = _facet(spark, corpus, {
            "langs": {"type": "terms", "field": "lang"},
            "special": {"type": "query", "q": "+beta"},
        }, allowed_docs=web)
        assert {(b["val"], b["count"]) for b in out2["langs"]["buckets"]} == {
            ("en", 2), ("de", 1)
        }
        assert out2["special"]["count"] == 2
        assert out2["count"] == 3

    def test_unique_stat(self, spark, corpus):
        out = _facet(spark, corpus, {
            "u_src": "unique(src)",
            "h_src": "hll(src)",
            "langs": {"type": "terms", "field": "lang", "limit": 1,
                      "facet": {"u": "unique(src)"}},
        })
        assert out["u_src"] == 2
        assert out["h_src"] == 2  # Solr hll stat: HLL++ approx distinct
        assert out["langs"]["buckets"][0]["u"] == 2  # en: web+book

    def test_single_action_for_tree(self, spark, corpus):
        """The whole terms/range tree (3 nodes, stats, missing) is ONE
        collect; query facets add exactly one more."""
        df, idx = corpus
        # warm the query facets' terms: the counts below are warm requests'
        _facet(spark, corpus, {
            "langs": {"type": "terms", "field": "lang"},
            "q1": {"type": "query", "q": "+beta"},
            "q2": {"type": "query", "q": "+gamma"},
        })

        _, n_tree = _build_jobs(spark, lambda: _facet(spark, corpus, {
            "langs": {"type": "terms", "field": "lang", "missing": True,
                      "facet": {"m": "avg(n)",
                                "srcs": {"type": "terms",
                                         "field": "src"}}},
            "hist": {"type": "range", "field": "n",
                     "start": 0, "end": 80, "gap": 20},
            "t": "sum(n)",
        }))
        _, n_with_q = _build_jobs(spark, lambda: _facet(spark, corpus, {
            "langs": {"type": "terms", "field": "lang"},
            "q1": {"type": "query", "q": "+beta"},
            "q2": {"type": "query", "q": "+gamma"},
        }))
        assert n_tree == 20
        assert n_with_q == 21


class TestValidation:
    def test_errors(self, spark, corpus):
        with pytest.raises(ValueError, match="unsupported stat"):
            _facet(spark, corpus, {"x": "median(n)"})
        with pytest.raises(ValueError, match="unsupported type"):
            _facet(spark, corpus, {"x": {"type": "heatmap"}})
        with pytest.raises(ValueError, match="only top-level query"):
            _facet(spark, corpus, {
                "langs": {"type": "terms", "field": "lang",
                          "facet": {"q": {"type": "query", "q": "beta"}}},
            })
        with pytest.raises(ValueError, match="sort key"):
            _facet(spark, corpus, {
                "langs": {"type": "terms", "field": "lang",
                          "sort": "nope desc"},
            })
        with pytest.raises(ValueError, match="gap"):
            _facet(spark, corpus, {
                "hist": {"type": "range", "field": "n",
                         "start": 0, "end": 0, "gap": 10},
            })
        from solrtexttagger_spark.search.json_facet import json_facet

        df, idx = corpus
        with pytest.raises(ValueError, match="non-empty base query"):
            json_facet(idx, df, "", {"x": "sum(n)"}, spark=spark)


def test_select_json_facet_block(spark, corpus):
    """json.facet on the /select JSON writer: the nested response lands
    under the top-level "facets" key exactly as Solr renders it, domain
    restricted by the request's q + fq."""
    import json

    from solrtexttagger_spark.search.select import render_select_json

    df, idx = corpus
    js = json.loads(render_select_json(
        idx, df, "alpha", fl=["lang"], k=2,
        json_facet_spec={
            "langs": {"type": "terms", "field": "lang", "limit": 2},
            "t": "sum(n)",
        },
        spark=spark,
    ))
    assert js["response"]["numFound"] == 5
    assert js["facets"]["count"] == 5
    assert js["facets"]["t"] == 150.0
    assert [b["val"] for b in js["facets"]["langs"]["buckets"]] == ["en", "de"]


def test_empty_domain(spark, corpus):
    """A base query matching nothing: count 0, empty terms buckets,
    zero-filled range spine, query facets 0 — no errors anywhere."""
    from solrtexttagger_spark.search.json_facet import json_facet

    df, idx = corpus
    out = json_facet(idx, df, "zzznope", {
        "langs": {"type": "terms", "field": "lang", "numBuckets": True},
        "hist": {"type": "range", "field": "n", "start": 0, "end": 40,
                 "gap": 20},
        "q1": {"type": "query", "q": "+beta"},
        "t": "sum(n)",
    }, spark=spark)
    assert out["count"] == 0 and out["t"] is None
    assert out["langs"] == {"buckets": [], "numBuckets": 0}
    assert [(b["val"], b["count"]) for b in out["hist"]["buckets"]] == [
        (0, 0), (20, 0)
    ]
    assert out["q1"]["count"] == 0


def test_sort_by_all_null_stat_bucket(spark, corpus):
    """A bucket whose sort-stat aggregates over only NULLs must sort
    (last), not crash the driver-side resort with None-vs-float."""
    from solrtexttagger_spark.index.build import build_index
    from solrtexttagger_spark.search.json_facet import json_facet

    rows = [
        (0, "alpha", "en", 10),
        (1, "alpha", "de", None),  # de bucket: sum(n) over NULLs -> None
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, n long")
    idx = build_index(df.select("doc_id", "text"), num_segments=2)
    out = json_facet(idx, df, "alpha", {
        "langs": {"type": "terms", "field": "lang",
                  "sort": {"t": "desc"}, "facet": {"t": "sum(n)"}},
    }, spark=spark)
    assert [b["val"] for b in out["langs"]["buckets"]] == ["en", "de"]
    assert out["langs"]["buckets"][1]["t"] is None


class TestDomainChanges:
    """Round-7 verdict #3: domain changes — excludeTags (multi-select
    faceting: each facet recounts with its OWN fq arm removed) and
    domain:{filter}. Reference analogue: the per-request fq DocSet
    machinery (TaggerRequestHandler.java:310-351)."""

    def _tagged(self, spark, corpus):
        df, idx = corpus
        return {
            "SRC": df.where("src = 'web'").select("doc_id"),
            "LANG": df.where("lang = 'en'").select("doc_id"),
        }

    def test_exclude_tags_multiselect(self, spark, corpus):
        df, idx = corpus
        out = _facet(spark, corpus, {
            # own arm removed -> counts over base & LANG = docs {0,1,2}
            "srcs": {"type": "terms", "field": "src",
                     "domain": {"excludeTags": "SRC"}},
            # own arm removed -> counts over base & SRC = docs {0,2,3}
            "langs": {"type": "terms", "field": "lang",
                      "domain": {"excludeTags": ["LANG"]}},
            # no domain change -> full fq'd domain {0,2}
            "both": {"type": "terms", "field": "src"},
        }, tagged_filters=self._tagged(spark, corpus))
        # root count always uses the unmodified base domain
        assert out["count"] == 2
        assert {(b["val"], b["count"]) for b in out["srcs"]["buckets"]} == {
            ("web", 2), ("book", 1)
        }
        assert {(b["val"], b["count"]) for b in out["langs"]["buckets"]} == {
            ("en", 2), ("de", 1)
        }
        assert [(b["val"], b["count"]) for b in out["both"]["buckets"]] == [
            ("web", 2)
        ]
        # DuckDB mirror of the multi-select arithmetic
        import duckdb
        con = duckdb.connect()
        con.sql("CREATE TABLE t AS SELECT * FROM (VALUES "
                "(0,'en','web',10),(1,'en','book',20),(2,'en','web',30),"
                "(3,'de','web',40),(4,NULL,'book',50),(5,'fr','web',60)"
                ") v(doc_id, lang, src, n)")
        base = "doc_id IN (0,1,2,3,4)"  # alpha matches
        mirror = {
            tuple(r) for r in con.sql(
                f"SELECT src, count(*) FROM t WHERE {base} AND lang = 'en' "
                "GROUP BY src"
            ).fetchall()
        }
        assert {(b["val"], b["count"]) for b in out["srcs"]["buckets"]} == mirror

    def test_domain_filter_and_inheritance(self, spark, corpus):
        out = _facet(spark, corpus, {
            # extra predicate on the full fq'd domain {0,2} -> n<25: doc 0
            "small": {"type": "terms", "field": "src",
                      "domain": {"filter": "n < 25"}},
            # a child inherits its parent's changed domain (Solr model):
            # langs over base & SRC = {0,2,3}; en bucket = {0,2} -> web 2
            "langs": {"type": "terms", "field": "lang",
                      "domain": {"excludeTags": "LANG"},
                      "facet": {"srcs": {"type": "terms", "field": "src"}}},
        }, tagged_filters=self._tagged(spark, corpus))
        assert [(b["val"], b["count"]) for b in out["small"]["buckets"]] == [
            ("web", 1)
        ]
        en = [b for b in out["langs"]["buckets"] if b["val"] == "en"][0]
        assert en["count"] == 2
        assert [(b["val"], b["count"]) for b in en["srcs"]["buckets"]] == [
            ("web", 2)
        ]

    def test_no_cache_leak_and_errors(self, spark, corpus):
        df, idx = corpus
        before = len(spark.sparkContext._jsc.getPersistentRDDs())
        _facet(spark, corpus, {
            "srcs": {"type": "terms", "field": "src",
                     "domain": {"excludeTags": "SRC"}},
        }, tagged_filters=self._tagged(spark, corpus))
        assert len(spark.sparkContext._jsc.getPersistentRDDs()) == before
        # unknown domain keys raise; unknown TAGS are ignored like Solr
        with pytest.raises(ValueError, match="domain"):
            _facet(spark, corpus, {
                "srcs": {"type": "terms", "field": "src",
                         "domain": {"query": "x"}},
            })
        out = _facet(spark, corpus, {
            "srcs": {"type": "terms", "field": "src",
                     "domain": {"excludeTags": "NOPE"}},
        }, tagged_filters=self._tagged(spark, corpus))
        assert {(b["val"], b["count"]) for b in out["srcs"]["buckets"]} == {
            ("web", 2)
        }

    def test_query_facet_domain_changes(self, spark, corpus):
        """Round-8: query facets accept the same domain changes as
        terms/range nodes — excludeTags widens the domain their match
        set intersects with, domain:{filter} narrows it; base-domain
        query facets share one semi-join."""
        out = _facet(spark, corpus, {
            # base domain under both fq arms: docs {0,2}; beta -> doc 0
            "plain": {"type": "query", "q": "beta"},
            # SRC arm removed: domain {0,1,2}; beta matches {0} -> 1
            # (doc 3 'alpha beta' is de, excluded by the LANG arm)
            "nosrc": {"type": "query", "q": "beta",
                      "domain": {"excludeTags": "SRC"}},
            # both arms removed + filter: {0..4} & n>=30 -> beta hits {3}
            "filt": {"type": "query", "q": "beta",
                     "domain": {"excludeTags": "SRC,LANG",
                                "filter": "n >= 30"},
                     "facet": {"tot": "sum(n)"}},
        }, tagged_filters=self._tagged(spark, corpus))
        assert out["plain"]["count"] == 1
        assert out["nosrc"]["count"] == 1
        assert out["filt"] == {"count": 1, "tot": 40.0}
        # DuckDB mirror of the excludeTags+filter arithmetic
        import duckdb
        con = duckdb.connect()
        con.sql("CREATE TABLE t AS SELECT * FROM (VALUES "
                "(0,'en','web',10,TRUE),(1,'en','book',20,FALSE),"
                "(2,'en','web',30,FALSE),(3,'de','web',40,TRUE),"
                "(4,NULL,'book',50,FALSE),(5,'fr','web',60,FALSE)"
                ") v(doc_id, lang, src, n, has_beta)")
        cnt, tot = con.sql(
            "SELECT count(*), sum(n) FROM t WHERE doc_id IN (0,1,2,3,4) "
            "AND n >= 30 AND has_beta"
        ).fetchone()
        assert out["filt"] == {"count": cnt, "tot": float(tot)}

    def test_query_facet_subfacets(self, spark, corpus):
        """Round-8: terms/range sub-facets under a query facet — the
        query match set becomes the child's domain (base ∩ match),
        children ride the per-domain groupingSets aggregate; the
        query facet's own count/stats are unchanged. DuckDB mirror for
        the arithmetic."""
        import duckdb

        out = _facet(spark, corpus, {
            "has_beta": {
                "type": "query", "q": "beta",
                "facet": {
                    "tot": "sum(n)",
                    "langs": {"type": "terms", "field": "lang",
                              "limit": 10, "facet": {"s": "sum(n)"}},
                    "hist": {"type": "range", "field": "n",
                             "start": 0, "end": 60, "gap": 30},
                },
            },
        })
        # alpha domain docs 0-4; beta matches docs {0, 3}
        node = out["has_beta"]
        assert node["count"] == 2 and node["tot"] == 50.0
        assert {(b["val"], b["count"], b["s"])
                for b in node["langs"]["buckets"]} == {
            ("en", 1, 10.0), ("de", 1, 40.0)
        }
        assert [(b["val"], b["count"]) for b in node["hist"]["buckets"]] == [
            (0, 1), (30, 1)
        ]
        con = duckdb.connect()
        con.sql("CREATE TABLE t AS SELECT * FROM (VALUES "
                "(0,'en',10,TRUE),(3,'de',40,TRUE)) v(doc_id, lang, n, b)")
        assert dict(con.sql(
            "SELECT lang, sum(n) FROM t GROUP BY lang"
        ).fetchall()) == {b["val"]: b["s"] for b in node["langs"]["buckets"]}
        # a query facet under a query facet stays out of scope
        with pytest.raises(ValueError, match="query facet under a query"):
            _facet(spark, corpus, {
                "q1": {"type": "query", "q": "beta",
                       "facet": {"q2": {"type": "query", "q": "alpha"}}},
            })

    def test_all_buckets_stats(self, spark, corpus):
        """Round-8: allBuckets on a node WITH stats gets the combined
        bucket from one extra grouping set in the same aggregate —
        exact for every stat (avg over non-null values, exact unique),
        never a re-aggregation of per-bucket finals; composes with a
        changed domain and with prefix (which restricts the term domain
        first, like Solr)."""
        out = _facet(spark, corpus, {
            "langs": {"type": "terms", "field": "lang", "limit": 1,
                      "allBuckets": True,
                      "facet": {"a": "avg(n)", "u": "unique(src)",
                                "mx": "max(n)"}},
        })
        # alpha domain docs 0-4; lang non-null: {0,1,2,3} -> avg 25
        ab = out["langs"]["allBuckets"]
        assert ab == {"count": 4, "a": pytest.approx(25.0), "u": 2,
                      "mx": 40.0}
        assert len(out["langs"]["buckets"]) == 1  # limit still applies
        # with an excludeTags domain: docs {0,2,3} (SRC arm kept),
        # lang non-null all three -> avg (10+30+40)/3
        out2 = _facet(spark, corpus, {
            "langs": {"type": "terms", "field": "lang",
                      "allBuckets": True,
                      "domain": {"excludeTags": "LANG"},
                      "facet": {"a": "avg(n)"}},
        }, tagged_filters=self._tagged(spark, corpus))
        assert out2["langs"]["allBuckets"] == {
            "count": 3, "a": pytest.approx(80.0 / 3)
        }
        # prefix restricts the combined bucket too
        out3 = _facet(spark, corpus, {
            "srcs": {"type": "terms", "field": "src", "prefix": "b",
                     "allBuckets": True, "facet": {"s": "sum(n)"}},
        })
        assert out3["srcs"]["allBuckets"] == {"count": 2, "s": 70.0}
        # empty field domain: zero-count combined bucket, defaulted stats
        out4 = _facet(spark, corpus, {
            "srcs": {"type": "terms", "field": "src", "prefix": "zzz",
                     "allBuckets": True,
                     "facet": {"s": "sum(n)", "a": "avg(n)"}},
        })
        assert out4["srcs"]["allBuckets"] == {"count": 0, "s": 0, "a": None}
