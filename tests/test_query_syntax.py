"""Lucene query-syntax completion (round 7): WildcardQuery (``te?m`` /
``t*m``), TermRangeQuery (``[lo TO hi]`` / ``{lo TO hi}``), query-time
boosts (``term^2.5``) and sloppy phrases (``"a b"~2``) on both boolean
paths (distributed boolean_bm25_topk + LocalSearcher.search_boolean).

Reference semantics:
- WildcardQuery / TermRangeQuery use constant-score rewrites that match
  ALL expansions (no TopTerms-50 cap — that is FuzzyQuery's), guarded by
  the Solr maxBooleanClauses analogue; Solr's default
  allowLeadingWildcard=false rejects ``*erm``.
- Boosts multiply the clause's score contribution (the qtf channel) and
  are ignored on prohibited clauses (Lucene never scores them).
- Sloppy phrases: SloppyPhraseMatcher matches when the offset-shifted
  positions fit a window of width <= slop; for two-term phrases the
  window span equals Lucene's move count exactly ("a b"~1 matches
  "a x b"; the reversed "b a" needs ~2).
"""

import pytest


DOCS = [
    (0, "hash join fast scan"),
    (1, "hash probe join merge"),
    (2, "hash probe probe join"),
    (3, "join hash scatter"),
    (4, "scan sort merge shuffle"),
]


@pytest.fixture(scope="module")
def corpus(spark):
    from solrtexttagger_spark.index.build import build_index

    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    idx = build_index(df, num_segments=2)
    idx.postings.persist().count()
    yield df, idx
    idx.postings.unpersist()


def _docs(df, qid=0):
    return {r["doc_id"] for r in df.collect() if r["query_id"] == qid}


def _raw(df):
    return sorted((r["rank"], r["doc_id"], r["score"]) for r in df.collect())


class TestParse:
    def test_wildcard_markers(self):
        from solrtexttagger_spark.search.boolean import (
            parse_boolean_query,
            parse_marker,
        )

        must, should, must_not, _mp, _np = parse_boolean_query(
            "+s?an h*sh -pro?e"
        )
        assert "s?an" in must and "h*sh" in should and "pro?e" in must_not
        assert parse_marker("s?an") == ("wildcard", "s?an", None)
        assert parse_marker("h*sh") == ("wildcard", "h*sh", None)
        # trailing-star stays the cheaper PREFIX kind
        assert parse_marker("sc*")[0] == "prefix"

    def test_leading_wildcard_rejected(self):
        from solrtexttagger_spark.search.boolean import parse_boolean_query

        for q in ("+*can", "+?can"):
            with pytest.raises(ValueError, match="allowLeadingWildcard"):
                parse_boolean_query(q)

    def test_range_markers(self):
        from solrtexttagger_spark.search.boolean import (
            parse_boolean_query,
            parse_marker,
        )

        must, should, _n, _mp, _np = parse_boolean_query(
            "+[Merge TO Scan] {a TO b}"
        )
        assert must == {"[merge TO scan]": 1}
        assert should == {"{a TO b}": 1}
        assert parse_marker("[merge TO scan]") == (
            "range", ("merge", "scan", True, True), None,
        )
        assert parse_marker("{merge TO scan}") == (
            "range", ("merge", "scan", False, False), None,
        )
        assert parse_marker("[merge TO *]") == (
            "range", ("merge", "*", True, True), None,
        )

    def test_boost_parse(self):
        from solrtexttagger_spark.search.boolean import parse_boolean_query

        must, should, must_not, _mp, _np = parse_boolean_query(
            "+scan^2 merge^0.5 -join^3"
        )
        assert must == {"scan": 2.0}
        assert should == {"merge": 0.5}
        # boosts on prohibited clauses are ignored (never scored)
        assert must_not == {"join"}
        # boost composes with markers
        m2, _s, _n, _mp2, _np2 = parse_boolean_query("+sc*^2 +jorn~1^3")
        assert m2 == {"sc*": 2.0, "jorn~1": 3.0}


class TestWildcardRange:
    def test_wildcard_must(self, spark, corpus):
        from solrtexttagger_spark.search.boolean import boolean_bm25_topk

        _, idx = corpus
        got = boolean_bm25_topk(idx, [(0, "+s?an")], k=10, spark=spark)
        assert _docs(got) == {0, 4}  # scan docs
        got2 = boolean_bm25_topk(idx, [(0, "+h*sh")], k=10, spark=spark)
        assert _docs(got2) == {0, 1, 2, 3}  # hash docs
        # inner-star with a literal tail: s*t -> sort
        got3 = boolean_bm25_topk(idx, [(0, "+s*t")], k=10, spark=spark)
        assert _docs(got3) == {4}

    def test_wildcard_prohibition(self, spark, corpus):
        from solrtexttagger_spark.search.boolean import boolean_bm25_topk

        _, idx = corpus
        got = boolean_bm25_topk(idx, [(0, "+hash -pro?e")], k=10, spark=spark)
        assert _docs(got) == {0, 3}

    def test_range_must(self, spark, corpus):
        from solrtexttagger_spark.search.boolean import boolean_bm25_topk

        _, idx = corpus
        # vocabulary: fast hash join merge probe scan scatter shuffle sort
        got = boolean_bm25_topk(
            idx, [(0, "+[merge TO scan]")], k=10, spark=spark
        )
        # merge, probe, scan
        assert _docs(got) == {0, 1, 2, 4}
        # exclusive endpoints drop merge and scan -> probe only
        got2 = boolean_bm25_topk(
            idx, [(0, "+{merge TO scan}")], k=10, spark=spark
        )
        assert _docs(got2) == {1, 2}
        # open upper endpoint
        got3 = boolean_bm25_topk(
            idx, [(0, "+[shuffle TO *]")], k=10, spark=spark
        )
        assert _docs(got3) == {4}  # shuffle, sort

    def test_range_expansion_and_guard(self, spark, corpus):
        from solrtexttagger_spark.search.boolean import expand_vocab_markers

        _, idx = corpus
        got = expand_vocab_markers(idx, ["[merge TO scan]"])
        assert sorted(got["[merge TO scan]"]) == ["merge", "probe", "scan"]
        with pytest.raises(ValueError, match="maxBooleanClauses|expands"):
            expand_vocab_markers(idx, ["[a TO z]"], max_prefix_expansions=3)

    def test_wildcard_expansion_and_guard(self, spark, corpus):
        from solrtexttagger_spark.search.boolean import expand_vocab_markers

        _, idx = corpus
        assert expand_vocab_markers(idx, ["s?an"])["s?an"] == ["scan"]
        # 'pre*fix'-style inner star: sc*er -> scatter
        assert expand_vocab_markers(idx, ["sc*er"])["sc*er"] == ["scatter"]
        with pytest.raises(ValueError, match="maxBooleanClauses|expands"):
            expand_vocab_markers(idx, ["s?*"], max_prefix_expansions=1)

    def test_local_speller_parity(self, spark, corpus):
        from solrtexttagger_spark.search.boolean import expand_vocab_markers
        from solrtexttagger_spark.search.terms import LocalSpeller

        _, idx = corpus
        sp = LocalSpeller(idx, max_dist=2)
        for mk in ("s?an", "h*sh", "s*t", "[merge TO scan]",
                   "{merge TO scan}", "[shuffle TO *]"):
            assert sp.expand_marker(mk) == expand_vocab_markers(idx, [mk])[mk], mk


class TestBoost:
    def test_boost_scales_scores(self, spark, corpus):
        from solrtexttagger_spark.search.boolean import boolean_bm25_topk

        _, idx = corpus
        base = _raw(boolean_bm25_topk(idx, [(0, "+scan")], k=10, spark=spark))
        boosted = _raw(
            boolean_bm25_topk(idx, [(0, "+scan^2")], k=10, spark=spark)
        )
        assert [(r, d) for r, d, _ in boosted] == [(r, d) for r, d, _ in base]
        for (_r1, _d1, s1), (_r2, _d2, s2) in zip(base, boosted):
            assert s2 == pytest.approx(2.0 * s1, rel=1e-9)

    def test_fractional_boost_reorders(self, spark, corpus):
        """hash^0.25 join: down-weighting hash lets the join-heavy score
        dominate — the boost channel must actually reach the math, not
        just parse."""
        from solrtexttagger_spark.search.boolean import boolean_bm25_topk

        _, idx = corpus
        plain = {
            d: s for _r, d, s in _raw(
                boolean_bm25_topk(idx, [(0, "hash join")], k=10, spark=spark)
            )
        }
        down = {
            d: s for _r, d, s in _raw(
                boolean_bm25_topk(
                    idx, [(0, "hash^0.25 join")], k=10, spark=spark
                )
            )
        }
        assert set(down) == set(plain)
        for d in down:
            assert down[d] < plain[d]  # every doc has hash; all shrink


class TestSloppyPhrases:
    def test_slop_window(self, spark, corpus):
        from solrtexttagger_spark.search.boolean import boolean_bm25_topk

        _, idx = corpus
        # exact: only doc 0 has "hash join" adjacent
        got0 = boolean_bm25_topk(idx, [(0, '+"hash join"')], k=10, spark=spark)
        assert _docs(got0) == {0}
        # slop 1: adds doc 1 ("hash probe join")
        got1 = boolean_bm25_topk(
            idx, [(0, '+"hash join"~1')], k=10, spark=spark
        )
        assert _docs(got1) == {0, 1}
        # slop 2: adds doc 2 ("hash probe probe join") AND the reversed
        # doc 3 ("join hash" — Lucene charges 2 moves for a swap)
        got2 = boolean_bm25_topk(
            idx, [(0, '+"hash join"~2')], k=10, spark=spark
        )
        assert _docs(got2) == {0, 1, 2, 3}

    def test_slop_prohibition(self, spark, corpus):
        from solrtexttagger_spark.search.boolean import boolean_bm25_topk

        _, idx = corpus
        got = boolean_bm25_topk(
            idx, [(0, 'hash -"hash join"~1')], k=10, spark=spark
        )
        assert _docs(got) == {2, 3}

    def test_slop_scoring_matches_unquoted(self, spark, corpus):
        """Like exact phrases, the quotes only ADD the proximity filter:
        constituents score as MUST terms, so scores equal the unquoted
        parse on the surviving docs."""
        from solrtexttagger_spark.search.boolean import boolean_bm25_topk

        _, idx = corpus
        bag = {
            d: s for _r, d, s in _raw(
                boolean_bm25_topk(idx, [(0, "+hash +join")], k=10, spark=spark)
            )
        }
        sloppy = {
            d: s for _r, d, s in _raw(
                boolean_bm25_topk(
                    idx, [(0, '+"hash join"~1')], k=10, spark=spark
                )
            )
        }
        for d, s in sloppy.items():
            assert s == pytest.approx(bag[d], rel=1e-9)

    def test_multi_phrase_match_slops(self, spark, corpus):
        from solrtexttagger_spark.search.boolean import phrase_relation

        _, idx = corpus
        out = phrase_relation(
            idx, [("hash", "join")] * 3, slops=[0, 1, 2]
        ).collect()
        by_pid = {}
        for r in out:
            by_pid.setdefault(r["phrase_id"], set()).add(r["doc_id"])
        assert by_pid[0] == {0}
        assert by_pid[1] == {0, 1}
        assert by_pid[2] == {0, 1, 2, 3}

    def test_three_term_span_criterion(self, spark):
        """Documented contract for 3+ terms: the span (end - start)
        criterion. "hash probe join"~1 matches doc 0 below (each term
        one step from its slot fits a width-1 window? no — span 2) —
        pin the exact windows."""
        from solrtexttagger_spark.index.build import build_index
        from solrtexttagger_spark.search.boolean import phrase_relation

        docs = [
            (0, "hash x probe join end"),   # shifted: 0, 1, 1 -> span 1
            (1, "probe hash join"),          # shifted: 1, -1, 1 -> span 2
            (2, "hash probe join"),          # exact
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        idx = build_index(df, num_segments=1)
        got = {
            s: {
                r["doc_id"]
                for r in phrase_relation(
                    idx, [("hash", "probe", "join")], slops=[s]
                ).collect()
            }
            for s in (0, 1, 2)
        }
        assert got[0] == {2}
        assert got[1] == {0, 2}
        assert got[2] == {0, 1, 2}

    def test_slop_adds_no_shuffle(self, spark, corpus):
        """The window-anchor expansion happens inside the seg kernel
        (phrase_docs), so a sloppy phrase keeps the exact phrase's plan:
        the term list pushed into the postings scan and one pandas group
        stage."""
        import re

        from solrtexttagger_spark.plans import plan_string
        from solrtexttagger_spark.search.boolean import phrase_relation

        _, idx = corpus

        def nodes(plan, name):
            return len(re.findall(rf"^\(\d+\) {name}", plan, re.M))

        p0 = plan_string(phrase_relation(idx, [("hash", "join")]))
        p2 = plan_string(phrase_relation(idx, [("hash", "join")], slops=[2]))
        assert nodes(p2, "Exchange") == nodes(p0, "Exchange")
        for plan in (p0, p2):
            assert "IN (hash,join)" in plan, plan
            assert nodes(plan, "FlatMapGroupsInPandas") == 1, plan

    def test_wildcard_scan_has_prefix_prefilter(self, spark, corpus):
        """The wildcard rewrite pushes BOTH the anchored regex and the
        literal-prefix StartsWith into the term_stats scan (the
        automaton seek-prefix analogue), and the result is a bounded
        TakeOrdered — never a vocabulary-sized driver collect."""
        from solrtexttagger_spark.plans import plan_string
        from solrtexttagger_spark.search.boolean import marker_candidates

        _, idx = corpus
        plan = plan_string(
            marker_candidates(idx, [("ha?h", "wildcard", "ha?h", None)])
        )
        assert "StartsWith" in plan or "startswith" in plan.lower(), plan
        assert "RLIKE" in plan or "rlike" in plan.lower(), plan
        assert "TakeOrderedAndProject" in plan

    def test_serving_parity_all_new_syntax(self, spark, corpus):
        from solrtexttagger_spark.index.compressed import compress_index
        from solrtexttagger_spark.search.boolean import boolean_bm25_topk
        from solrtexttagger_spark.search.terms import LocalSpeller
        from solrtexttagger_spark.search.wand import LocalSearcher

        _, idx = corpus
        cix = compress_index(idx, with_positions=True)
        ls = LocalSearcher(cix, positions=True)
        sp = LocalSpeller(idx, max_dist=2)
        queries = (
            "+s?an merge",
            "+h*sh -pro?e",
            "+[merge TO scan]",
            "+scan^2 merge",
            '+"hash join"~1',
            '+"hash join"~2 -probe',
            'hash -"hash join"~1',
            '+"hash join"^2 scan',
            '+"hash probe"~1^3',
        )
        for q in queries:
            dist = sorted(
                (r["rank"], r["doc_id"], round(r["score"], 9))
                for r in boolean_bm25_topk(
                    idx, [(0, q)], k=10, spark=spark
                ).collect()
            )
            local = [
                (r, d, round(sc, 9))
                for r, d, sc in ls.search_boolean(q, k=10, speller=sp)
            ]
            assert local == dist, q


class TestPhraseBoost:
    def test_phrase_boost_parse(self):
        """"a b"^2 (optionally after slop) scales every constituent's
        qtf — the phrase scores through its constituents gated by the
        contiguity filter, so the qtf channel is the phrase's boost
        channel exactly as for terms; prohibited-phrase boosts are
        ignored (Lucene never scores them)."""
        from solrtexttagger_spark.search.boolean import parse_boolean_query

        must, should, must_not, mp, np_ = parse_boolean_query(
            '+"hash join"^2 -"sort merge"^3 "scan sort"~1^0.5'
        )
        assert mp == [(("hash", "join"), 0), (("scan", "sort"), 1)]
        assert np_ == [(("sort", "merge"), 0)]
        assert must == {"hash": 2.0, "join": 2.0, "scan": 0.5, "sort": 0.5}
        assert should == {} and must_not == set()

    def test_phrase_boost_scales_scores(self, spark, corpus):
        from solrtexttagger_spark.search.boolean import boolean_bm25_topk

        _, idx = corpus
        base = _raw(
            boolean_bm25_topk(idx, [(0, '+"hash join"')], k=10, spark=spark)
        )
        boosted = _raw(
            boolean_bm25_topk(idx, [(0, '+"hash join"^2')], k=10, spark=spark)
        )
        assert base  # the phrase matches (docs 0, 1)
        assert [(r, d) for r, d, _ in boosted] == [(r, d) for r, d, _ in base]
        for (_r1, _d1, s1), (_r2, _d2, s2) in zip(base, boosted):
            assert s2 == pytest.approx(2.0 * s1, rel=1e-9)
        # slop + boost compose; the gate itself is unchanged by boost
        sloppy = _raw(
            boolean_bm25_topk(
                idx, [(0, '+"hash join"~2^2')], k=10, spark=spark
            )
        )
        # docs 0,1 adjacent; 2 has one gap (~1); 3 is reversed ("join
        # hash" — the two-term move count is exactly 2)
        assert {d for _r, d, _s in sloppy} == {0, 1, 2, 3}


class TestRangeBoostParse:
    def test_range_boost_folds_into_weight(self):
        """Round-7 advice: '[lo TO hi]^2' folds into the clause weight —
        previously the regex shed the dangling '^2' into a bare SHOULD
        term '2', corrupting matching and scoring."""
        from solrtexttagger_spark.search.boolean import parse_boolean_query

        must, should, _n, _mp, _np = parse_boolean_query(
            "+[query TO sort]^2 scan"
        )
        assert must == {"[query TO sort]": 2.0}
        assert should == {"scan": 1.0}  # no phantom '2' term

        m2, s2, _n2, _mp2, _np2 = parse_boolean_query("{a TO b}^0.5 merge")
        assert s2 == {"{a TO b}": 0.5, "merge": 1.0} and m2 == {}

    def test_range_boost_ignored_on_prohibited(self):
        from solrtexttagger_spark.search.boolean import parse_boolean_query

        _m, s, n, _mp, _np = parse_boolean_query("-[a TO b]^3 scan")
        assert n == {"[a TO b]"} and s == {"scan": 1.0}

    def test_range_boost_scales_scores(self, spark, corpus):
        from solrtexttagger_spark.search.boolean import boolean_bm25_topk

        _, idx = corpus
        base = _raw(
            boolean_bm25_topk(idx, [(0, "+[merge TO merge]")], k=10,
                              spark=spark)
        )
        boosted = _raw(
            boolean_bm25_topk(idx, [(0, "+[merge TO merge]^2")], k=10,
                              spark=spark)
        )
        assert base
        for (_r1, d1, s1), (_r2, d2, s2) in zip(base, boosted):
            assert d1 == d2 and s2 == pytest.approx(2.0 * s1, rel=1e-9)


class TestSlopGuard:
    """Round-7 advice: slop is query input — each position expands to
    slop+1 window anchors (O(slop * positions) rows/memory), so values
    above MAX_SLOP raise instead of OOMing executors or the serving
    driver (same contract as MAX_PREFIX_EXPANSIONS)."""

    def test_distributed_raises(self, spark, corpus):
        from solrtexttagger_spark.search.boolean import (
            boolean_bm25_topk,
            phrase_relation,
        )
        from solrtexttagger_spark.search.phrase import MAX_SLOP

        _, idx = corpus
        with pytest.raises(ValueError, match="slop"):
            phrase_relation(idx, [("hash", "join")], slops=[MAX_SLOP + 1])
        with pytest.raises(ValueError, match="slop"):
            boolean_bm25_topk(
                idx, [(0, '+"hash join"~1000000')], k=10, spark=spark
            )
        # the ceiling itself is legal
        assert phrase_relation(
            idx, [("hash", "join")], slops=[MAX_SLOP]
        ).count() > 0

    def test_serving_raises(self, spark, corpus):
        from solrtexttagger_spark.index.compressed import compress_index
        from solrtexttagger_spark.search.wand import LocalSearcher

        _, idx = corpus
        ls = LocalSearcher(compress_index(idx, with_positions=True),
                           positions=True)
        with pytest.raises(ValueError, match="slop"):
            ls.search_boolean('+"hash join"~1000000', k=10)


class TestRepeatedTermPhrases:
    """Round-7 advice: under slop > 0 the window-anchor expansion alone
    lets '"a a"~1' match a doc with a single 'a'; Lucene's
    SloppyPhraseMatcher repeats-handling maps each slot to a DISTINCT
    position. The engine now enforces the distinct-position necessary
    condition (doc holds >= multiplicity positions of a repeated term);
    the remaining within-window relaxation is documented."""

    DOCS = [
        (0, "alpha beta gamma"),        # single alpha
        (1, "alpha alpha beta"),        # consecutive pair
        (2, "alpha beta alpha"),        # pair one apart
        (3, "beta gamma delta"),        # no alpha
    ]

    @pytest.fixture(scope="class")
    def rep_corpus(self, spark):
        from solrtexttagger_spark.index.build import build_index

        df = spark.createDataFrame(self.DOCS, "doc_id long, text string")
        idx = build_index(df, num_segments=2)
        idx.postings.persist().count()
        yield df, idx
        idx.postings.unpersist()

    def test_distributed(self, spark, rep_corpus):
        from solrtexttagger_spark.search.boolean import phrase_relation

        _, idx = rep_corpus
        by_pid = {}
        out = phrase_relation(
            idx, [("alpha", "alpha")] * 2, slops=[0, 1]
        ).collect()
        for r in out:
            by_pid.setdefault(r["phrase_id"], set()).add(r["doc_id"])
        # exact: only the consecutive pair
        assert by_pid.get(0, set()) == {1}
        # slop 1: doc 2 ("alpha beta alpha", one move) joins; the
        # single-alpha doc 0 must NOT match (the pre-fix bug)
        assert by_pid.get(1, set()) == {1, 2}

    def test_serving_parity(self, spark, rep_corpus):
        from solrtexttagger_spark.index.compressed import compress_index
        from solrtexttagger_spark.search.boolean import boolean_bm25_topk
        from solrtexttagger_spark.search.wand import LocalSearcher

        _, idx = rep_corpus
        ls = LocalSearcher(compress_index(idx, with_positions=True),
                           positions=True)
        for q in ('+"alpha alpha"', '+"alpha alpha"~1',
                  'beta -"alpha alpha"~1'):
            dist = sorted(
                (r["rank"], r["doc_id"], round(r["score"], 9))
                for r in boolean_bm25_topk(
                    idx, [(0, q)], k=10, spark=spark
                ).collect()
            )
            local = [
                (r, d, round(sc, 9))
                for r, d, sc in ls.search_boolean(q, k=10)
            ]
            assert local == dist, q
