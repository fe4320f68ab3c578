"""Inverted-index build + BM25 oracles.

Postings equality vs a pure-pandas reference build, and BM25 rank-identity
(docIDs and float64 scores within 1e-9) vs an independent pure-Python scorer
with Lucene parameters k1=1.2, b=0.75 (FIXTURES.md §4)."""

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from solrtexttagger_spark.analysis.core import tokenize
from solrtexttagger_spark.index.build import build_index, with_doc_ids
from solrtexttagger_spark.search.bm25 import analyze_query_terms, bm25_topk
from tests.conftest import _build_jobs

DOCS = [
    (0, "the fast key order sort table scan merge"),
    (1, "spark group query row data slow small filter the the"),
    (2, "join a filter window row join stream data group sort merge fast"),
    (3, "fast column table row filter key fast agg query order join small"),
    (4, "agg line group hash vector fast column order line"),
    (5, "fast fast fast"),
    (6, "key value"),
]
QUERIES = [(0, "fast filter"), (1, "the key order"), (2, "vector hash"), (3, "zzz")]


def py_tokenize(text):
    return [w.lower() for w, _s, _e in tokenize(text) if w is not None]


def py_index(docs):
    postings = {}
    dls = {}
    for doc_id, text in docs:
        toks = py_tokenize(text)
        if not toks:
            continue
        dls[doc_id] = len(toks)
        for pos, t in enumerate(toks):
            postings.setdefault(t, {}).setdefault(doc_id, []).append(pos)
    n = len(docs)  # corpus count (engine semantics: N = corpus rows)
    avgdl = sum(dls.values()) / n
    return postings, dls, n, avgdl


def py_bm25(docs, queries, k=10, k1=1.2, b=0.75):
    postings, dls, n, avgdl = py_index(docs)
    out = {}
    for qid, q in queries:
        scores = Counter()
        for term, qtf in analyze_query_terms(q).items():
            if term not in postings:
                continue
            df = len(postings[term])
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            for doc_id, poss in postings[term].items():
                tf = float(len(poss))
                dl = float(dls[doc_id])
                scores[doc_id] += (
                    idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl)) * qtf
                )
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        out[qid] = [(r + 1, doc_id, s) for r, (doc_id, s) in enumerate(ranked)]
    return out


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


@pytest.fixture(scope="module", params=[False, True], ids=["udf", "split"])
def index(request, docs_df):
    return build_index(docs_df, use_split=request.param)


def test_postings_vs_pandas_reference(index):
    postings_ref, dls, n, avgdl = py_index(DOCS)
    assert index.doc_count == n
    assert index.avgdl == pytest.approx(avgdl)
    got = {
        r["term"]: (
            r["df"],
            r["cf"],
            [(p["doc_id"], p["tf"], p["dl"], list(p["positions"])) for p in r["postings"]],
        )
        for r in index.merged_postings().collect()
    }
    assert set(got) == set(postings_ref)
    for term, by_doc in postings_ref.items():
        df, cf, plist = got[term]
        assert df == len(by_doc)
        assert cf == sum(len(v) for v in by_doc.values())
        expected = sorted(
            (doc_id, len(poss), dls[doc_id], poss) for doc_id, poss in by_doc.items()
        )
        assert plist == expected


def test_segment_count_invariant(docs_df, index):
    # the merged view must be identical regardless of segmentation level
    other = build_index(docs_df, num_segments=3)
    assert other.num_segments == 3
    def merged(ix):
        return {
            (r["term"], r["df"], r["cf"],
             tuple((p["doc_id"], p["tf"]) for p in r["postings"]))
            for r in ix.merged_postings().collect()
        }
    assert merged(index) == merged(other)
    # every shard is bounded by its segment's doc population
    seg_rows = other.postings.collect()
    assert all(r["seg"] in (0, 1, 2) for r in seg_rows)
    # BM25 results must also be segmentation-invariant
    a = bm25_topk(index, QUERIES, k=10).collect()
    b = bm25_topk(other, QUERIES, k=10).collect()
    key = lambda r: (r["query_id"], r["rank"], r["doc_id"])
    assert sorted(map(key, a)) == sorted(map(key, b))


def test_bm25_rank_identical(index):
    expected = py_bm25(DOCS, QUERIES)
    got = {}
    for r in bm25_topk(index, QUERIES, k=10).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid in got:
        got[qid].sort()
    assert set(got) | {3} == set(expected) | {3}  # qid 3 matches nothing
    for qid, exp in expected.items():
        act = got.get(qid, [])
        assert [(r, d) for r, d, _ in act] == [(r, d) for r, d, _ in exp], f"q{qid}"
        for (_, _, s_act), (_, _, s_exp) in zip(act, exp):
            assert s_act == pytest.approx(s_exp, abs=1e-9)


def test_with_doc_ids_deterministic(spark):
    df = spark.createDataFrame(
        [("r1", "a.py", "c1"), ("r2", "b.py", "c2")], "repo string, path string, commit string"
    )
    a = {r["doc_id"] for r in with_doc_ids(df, ["repo", "path", "commit"]).collect()}
    b = {
        r["doc_id"]
        for r in with_doc_ids(df.repartition(7), ["repo", "path", "commit"]).collect()
    }
    assert a == b and len(a) == 2
    assert all(x >= 0 for x in a)


def test_bm25_edge_cases(spark, index):
    # query with no matching terms -> empty result
    out = bm25_topk(index, [(0, "zzz qqq")], k=5).collect()
    assert out == []
    # empty query list -> empty result frame with correct schema
    out2 = bm25_topk(index, [], k=5, spark=spark)
    assert out2.count() == 0
    # k larger than corpus
    out3 = bm25_topk(index, [(0, "fast")], k=10_000).collect()
    assert 0 < len(out3) <= len(DOCS)


def test_wand_edge_cases(spark, index):
    from solrtexttagger_spark.index.compressed import compress_index
    from solrtexttagger_spark.search.wand import wand_topk

    c = compress_index(index)
    assert wand_topk(c, [(0, "zzz")], k=5, spark=spark).count() == 0
    assert wand_topk(c, [], k=5, spark=spark).count() == 0


def test_bm25_fq_solr_semantics(spark, docs_df, index):
    """Solr fq: restricts the RESULT set but never the scoring stats — a
    doc surviving the filter keeps the exact score it had unfiltered, and
    ranks are recomputed within the allowed set."""
    from solrtexttagger_spark.search.bm25 import bm25_topk

    q = [(0, "fast filter")]
    full = {
        r["doc_id"]: r["score"]
        for r in bm25_topk(index, q, k=100, spark=spark).collect()
    }
    allowed = docs_df.where("doc_id % 2 = 0").select("doc_id")
    results = {}
    for strategy in ("segmented", "exploded"):
        out = bm25_topk(
            index, q, k=100, spark=spark, allowed_docs=allowed, strategy=strategy
        ).collect()
        assert out, "fq result should be non-empty"
        assert all(r["doc_id"] % 2 == 0 for r in out)
        for r in out:
            assert r["score"] == pytest.approx(full[r["doc_id"]], abs=1e-12)
        # ranks are dense 1..n within the filtered set
        assert sorted(r["rank"] for r in out) == list(range(1, len(out) + 1))
        results[strategy] = sorted(
            (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
            for r in out
        )
    # the cogrouped segmented kernel and the semi-join exploded path agree
    assert results["segmented"] == results["exploded"]


def test_bm25_start_pagination(spark, index):
    """Solr start/rows: page 2 continues exactly where page 1 ended, with
    ABSOLUTE ranks, in both strategies."""
    from solrtexttagger_spark.search.bm25 import bm25_topk

    q = [(0, "fast filter key")]
    for strategy in ("segmented", "exploded"):
        full = sorted(
            (r["rank"], r["doc_id"], r["score"])
            for r in bm25_topk(index, q, k=6, spark=spark, strategy=strategy).collect()
        )
        p1 = sorted(
            (r["rank"], r["doc_id"], r["score"])
            for r in bm25_topk(index, q, k=3, spark=spark, strategy=strategy).collect()
        )
        p2 = sorted(
            (r["rank"], r["doc_id"], r["score"])
            for r in bm25_topk(
                index, q, k=3, start=3, spark=spark, strategy=strategy
            ).collect()
        )
        assert p1 + p2 == full, strategy
        assert [r for r, _, _ in p2] == [4, 5, 6]


def test_select_topk_stored_fields(spark, docs_df, index):
    """/select fl projection: ranked set identical to bm25_topk, each hit
    carrying the requested stored fields from the corpus."""
    from solrtexttagger_spark.search.select import select_topk

    attrs = docs_df.withColumn("nc", F.length("text"))
    q = [(0, "fast filter"), (1, "key value")]
    base = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in bm25_topk(index, q, k=5, spark=spark).collect()
    }
    out = select_topk(index, attrs, q, fl=["nc"], k=5, spark=spark).collect()
    assert {(r["query_id"], r["rank"]): (r["doc_id"], r["score"]) for r in out} == base
    lens = {r["doc_id"]: r["nc"] for r in attrs.collect()}
    for r in out:
        assert r["nc"] == lens[r["doc_id"]]


def test_bm25_df_cache_and_reset(spark, docs_df, index, monkeypatch):
    """Round-6 df protocol (r5 verdict #5): a COLD batch runs as ONE
    action — df broadcast-joins inside the scoring job and the index's
    term dictionary stays empty; ``warm_df_cache`` fills it explicitly
    (absent terms included) and fully-held batches then skip the df
    stage. Results identical cold, warm, after a bound-triggered reset,
    and after reset_query_caches."""
    import solrtexttagger_spark.index.termdict as tdmod
    from solrtexttagger_spark.search.bm25 import warm_df_cache
    from solrtexttagger_spark.search.wand import reset_query_caches

    reset_query_caches(index)
    q = [(0, "fast join"), (1, "filter zzz")]
    key = lambda r: (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
    cold = sorted(map(key, bm25_topk(index, q, k=5, spark=spark).collect()))
    # cold batches never collect df driver-side
    assert index.termdict.nbytes == 0
    got = warm_df_cache(index, ["fast", "join", "filter", "zzz"])
    assert got["zzz"] is None and got["fast"]  # absent term held as None
    assert index.termdict.cached(["zzz"])["zzz"].df is None
    warm = sorted(map(key, bm25_topk(index, q, k=5, spark=spark).collect()))
    assert warm == cold and cold  # non-empty: real vocabulary
    # the dictionary hit drops "zzz" (held as absent) on the exploded path too
    assert warm == sorted(map(key, bm25_topk(
        index, q, k=5, spark=spark, strategy="exploded").collect()))
    # a reset at the bound inside warm_df_cache keeps the in-flight terms
    monkeypatch.setattr(tdmod, "MAX_BYTES", 3 * tdmod.ENTRY_BYTES)
    warm_df_cache(index, ["fast", "row", "merge", "sort"])
    assert index.termdict.cached(["join"]) is None  # the reset happened
    assert index.termdict.cached(["fast", "row", "merge", "sort"])
    over = sorted(map(key, bm25_topk(
        index, [(2, "fast row merge sort")], k=5, spark=spark).collect()))
    exp = sorted(map(key, bm25_topk(
        index, [(2, "fast row merge sort")], k=5, spark=spark, strategy="exploded"
    ).collect()))
    assert over and over == exp
    reset_query_caches(index)
    assert index.termdict.nbytes == 0 and index.termdict.cached(["fast"]) is None
    again = sorted(map(key, bm25_topk(index, q, k=5, spark=spark).collect()))
    assert again == cold


# "fast" is shared by two queries of one batch: a df lookup that sees a
# (term, seg) row once per query would inflate its df
LOOKUP_QUERIES = [(0, "fast filter"), (1, "fast key order"), (2, "vector hash")]
LOOKUP_SYNONYMS = {"filter": ["fast column", "row filter"], "order": ["key order"]}
ABSENT = "zzz"


def _lookup_consumers(spark, index):
    """consumer -> build(absent) of the relation it scores with; with
    ``absent`` one query (or an extra multi-word synonym) also carries
    ABSENT, which must change no row."""
    from solrtexttagger_spark.search.bm25 import exploded_scores, query_bags
    from solrtexttagger_spark.search.boolean import boolean_matched_scores
    from solrtexttagger_spark.search.functions import explain_scores

    def qs(absent):
        if not absent:
            return LOOKUP_QUERIES
        (qid, text), *rest = LOOKUP_QUERIES
        return [(qid, f"{text} {ABSENT}"), *rest]

    return {
        "bm25_segmented": lambda a: bm25_topk(index, qs(a), k=5, spark=spark),
        "exploded_scores": lambda a: exploded_scores(index, query_bags(qs(a))),
        "boolean": lambda a: boolean_matched_scores(
            index,
            [(0, '+fast filter "key order"'), (1, "+row -fast"),
             (2, "hash vector" + (f" {ABSENT}" if a else ""))],
            spark=spark,
        ),
        "synonym_phrases": lambda a: bm25_topk(
            index, qs(a), k=5, spark=spark,
            synonyms={**LOOKUP_SYNONYMS, **({"hash": [f"fast {ABSENT}"]} if a else {})},
        ),
        "explain": lambda a: explain_scores(index, qs(a), [0, 2, 3, 5], spark=spark),
    }


def _set_cache(index, state):
    from solrtexttagger_spark.search.bm25 import warm_df_cache
    from solrtexttagger_spark.search.wand import reset_query_caches

    reset_query_caches(index)
    if state != "empty":
        vocab = {t for _d, text in DOCS for t in py_tokenize(text)}
        warm_df_cache(index, vocab | ({ABSENT} if state == "absent" else set()))


def test_global_df_lookup_consumers(spark, docs_df):
    """Every scorer reads global df through bm25.global_df: building its
    relation runs NO Spark job on an empty cache, and its rows are
    identical (ids exact, scores to 1e-9) whether the cache is empty,
    fully warm, or also holds a term absent from the corpus — and equal
    the pure-Python oracle where one applies (a term shared by two
    queries keeps its true df)."""
    index = build_index(docs_df)
    _ = (index.doc_count, index.avgdl)  # one-time per-index stats
    consumers = _lookup_consumers(spark, index)
    states = [("empty", False), ("empty", True), ("warm", False), ("absent", True)]
    got = {}
    for state, absent in states:
        _set_cache(index, state)
        for name, build in consumers.items():
            rel, jobs = _build_jobs(spark, lambda: build(absent))
            if state == "empty":
                assert jobs == 0, (name, absent, jobs)
            got[(name, state, absent)] = sorted(tuple(r) for r in rel.collect())
    for name in consumers:
        ref = got[(name, "empty", False)]
        assert ref, name
        for key in [(name, s, a) for s, a in states]:
            rows = got[key]
            assert len(rows) == len(ref), key
            for g, e in zip(rows, ref):
                assert len(g) == len(e), key
                for x, y in zip(g, e):
                    if isinstance(x, float):
                        assert x == pytest.approx(y, abs=1e-9), key
                    else:
                        assert x == y, key
    # oracles: the batch scorers rank like py_bm25 (shared "fast"
    # included), and explain reports each term's true corpus df
    expected = py_bm25(DOCS, LOOKUP_QUERIES, k=5)
    seg = got[("bm25_segmented", "empty", False)]
    assert [(q, rk, d) for q, rk, d, _s in seg] == [
        (q, rk, d) for q, rows in sorted(expected.items()) for rk, d, _s in rows
    ]
    postings, *_ = py_index(DOCS)
    explain = consumers["explain"](False).collect()
    assert explain and all(r["df"] == len(postings[r["term"]]) for r in explain)


def test_global_df_exploded_entry_warms_then_hits(spark, docs_df):
    """bm25_topk(strategy="exploded") is a cache-filling entry: on an
    empty cache building it runs only the warm collect; once the cache
    holds its terms it runs no job. List and DataFrame queries rank
    identically to the pure-Python oracle."""
    from solrtexttagger_spark.search.bm25 import queries_to_df

    index = build_index(docs_df)
    _ = (index.doc_count, index.avgdl)
    _set_cache(index, "empty")
    cold, cold_jobs = _build_jobs(spark, lambda: bm25_topk(
        index, LOOKUP_QUERIES, k=5, spark=spark, strategy="exploded"))
    warm, warm_jobs = _build_jobs(spark, lambda: bm25_topk(
        index, LOOKUP_QUERIES, k=5, spark=spark, strategy="exploded"))
    assert cold_jobs >= 1 and warm_jobs == 0, (cold_jobs, warm_jobs)
    _set_cache(index, "empty")
    via_df = bm25_topk(
        index, queries_to_df(spark, LOOKUP_QUERIES), k=5, spark=spark,
        strategy="exploded",
    )
    expected = sorted(
        (q, rk, d, s) for q, rows in py_bm25(DOCS, LOOKUP_QUERIES, k=5).items()
        for rk, d, s in rows
    )
    for rel in (cold, warm, via_df):
        rows = sorted((r["query_id"], r["rank"], r["doc_id"], r["score"])
                      for r in rel.collect())
        assert [r[:3] for r in rows] == [e[:3] for e in expected]
        assert all(abs(r[3] - e[3]) <= 1e-9 for r, e in zip(rows, expected))
