"""Solr /terms handler, spellcheck, and query-time synonym expansion."""

import pytest

from solrtexttagger_spark.index.build import build_index
from solrtexttagger_spark.search.bm25 import bm25_topk, expand_synonyms
from solrtexttagger_spark.search.terms import spellcheck_terms, terms_component

DOCS = [
    (0, "scan scan scatter merge"),
    (1, "scan sort merge merge"),
    (2, "scatter shuffle sort"),
    (3, "merge join fast"),
    (4, "join join fast scan"),
]


@pytest.fixture(scope="module")
def corpus(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    idx = build_index(df, num_segments=2)
    idx.postings.persist().count()
    return df, idx


def test_terms_component_prefix_topk(spark, corpus):
    _, idx = corpus
    rows = sorted(
        (r["rank"], r["term"], r["df"], r["cf"])
        for r in terms_component(idx, "s", k=3).collect()
    )
    # df: scan=3, sort=2, scatter=2, shuffle=1 -> top3 with term-asc tie
    assert rows == [(1, "scan", 3, 4), (2, "scatter", 2, 2), (3, "sort", 2, 2)]
    assert terms_component(idx, "zz", k=3).count() == 0
    # empty prefix = whole vocabulary, still top-k only
    assert terms_component(idx, "", k=2).count() == 2


def test_spellcheck_live_vocabulary(spark, corpus):
    _, idx = corpus
    rows = [
        (r["rank"], r["term"], r["dist"])
        for r in sorted(
            spellcheck_terms(idx, "scann", max_dist=2, k=5).collect(),
            key=lambda r: r["rank"],
        )
    ]
    # dist asc first (scan=1), then df desc among dist-2 candidates
    assert rows[0] == (1, "scan", 1)
    assert all(d <= 2 for _, _, d in rows)
    # the word itself is excluded even when in the vocabulary
    assert "scan" not in [t for _, t, _ in spellcheck_terms(idx, "scan", k=5).collect()]
    with pytest.raises(ValueError):
        spellcheck_terms(idx, "scan", max_dist=0)


def test_bm25_synonym_expansion(spark, corpus):
    _, idx = corpus
    syn = {"speedy": ["fast"], "blend": ["merge", "sort"]}
    # bag semantics: repeated source term multiplies the expansion weight
    assert expand_synonyms({"speedy": 2, "scan": 1}, syn) == {
        "speedy": 2, "fast": 2, "scan": 1
    }
    q = [(0, "speedy scan"), (1, "blend blend")]
    key = lambda r: (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
    got = sorted(map(key, bm25_topk(idx, q, k=5, spark=spark, synonyms=syn).collect()))
    # equivalent hand-expanded queries (fast has qtf1, blend's pair qtf2)
    manual = [(0, "fast scan"), (1, "merge merge sort sort")]
    want = sorted(map(key, bm25_topk(idx, manual, k=5, spark=spark).collect()))
    assert got and got == want
    # both strategies expand identically
    got_ex = sorted(map(key, bm25_topk(
        idx, q, k=5, spark=spark, synonyms=syn, strategy="exploded").collect()))
    assert [(a, b, c) for a, b, c, _ in got_ex] == [(a, b, c) for a, b, c, _ in got]
    # 'speedy' alone (no index hits) matches only via the expansion
    hits = bm25_topk(idx, [(9, "speedy")], k=5, spark=spark, synonyms=syn).collect()
    assert {r["doc_id"] for r in hits} == {3, 4}


def test_synonyms_wand_and_serving_parity(spark, corpus):
    """Solr applies the query analyzer chain regardless of scorer: the
    WAND path and the warm serving layer expand synonyms identically to
    the exhaustive scorers."""
    from solrtexttagger_spark.index.compressed import compress_index
    from solrtexttagger_spark.search.wand import LocalSearcher, wand_topk

    _, idx = corpus
    syn = {"speedy": ["fast"], "blend": ["merge", "sort"]}
    q = [(0, "speedy scan"), (1, "blend blend")]
    key = lambda r: (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
    want = sorted(map(key, bm25_topk(idx, q, k=5, spark=spark, synonyms=syn).collect()))
    c = compress_index(idx)
    c.blocks.persist().count()
    for thr in (0, 100_000):
        got = sorted(map(key, wand_topk(
            c, q, k=5, spark=spark, synonyms=syn, local_threshold_postings=thr
        ).collect()))
        assert got == want, f"thr={thr}"
    s = LocalSearcher(c)
    for qid, text in q:
        got_local = s.search(text, k=5, synonyms=syn)
        ref = sorted((r, d, sc) for qq, r, d, sc in want if qq == qid)
        assert [(r, d) for r, d, _ in got_local] == [(r, d) for r, d, _ in ref]


def test_boolean_synonym_groups(spark, corpus):
    """An expanded MUST is a GROUP satisfied by ANY member (+(term OR
    syn)), members all score; MUST_NOT prohibits every member; the warm
    serving path matches the distributed operator exactly."""
    from solrtexttagger_spark.index.compressed import compress_index
    from solrtexttagger_spark.search.boolean import boolean_bm25_topk
    from solrtexttagger_spark.search.wand import LocalSearcher

    _, idx = corpus
    # corpus: 0 "scan scan scatter merge", 1 "scan sort merge merge",
    # 2 "scatter shuffle sort", 3 "merge join fast", 4 "join join fast scan"
    syn = {"blend": ["merge", "sort"], "fast": ["scan"]}
    # +blend alone matches nothing literally; via the group it matches
    # any doc containing merge OR sort (docs 0,1,2,3)
    got = boolean_bm25_topk(idx, [(0, "+blend")], k=10, synonyms=syn, spark=spark)
    assert {r["doc_id"] for r in got.collect()} == {0, 1, 2, 3}
    # -fast prohibits fast AND its synonym scan
    got2 = boolean_bm25_topk(
        idx, [(1, "+merge -fast")], k=10, synonyms=syn, spark=spark
    ).collect()
    assert got2 == []  # every merge doc also has fast|scan
    # group + ordinary MUST combine: +blend +join -> docs with (merge|sort) AND join
    got3 = boolean_bm25_topk(
        idx, [(2, "+blend +join")], k=10, synonyms=syn, spark=spark
    ).collect()
    assert {r["doc_id"] for r in got3} == {3}
    # serving-path identity on all three queries
    c = compress_index(idx)
    s = LocalSearcher(c)
    for qid, q in ((0, "+blend"), (1, "+merge -fast"), (2, "+blend +join"), (3, "blend scatter")):
        dist = sorted(
            (r["rank"], r["doc_id"], round(r["score"], 9))
            for r in boolean_bm25_topk(idx, [(qid, q)], k=10, synonyms=syn, spark=spark).collect()
        )
        local = [(r, d, round(sc, 9)) for r, d, sc in s.search_boolean(q, k=10, synonyms=syn)]
        assert [(r, d) for r, d, _ in local] == [(r, d) for r, d, _ in dist], q
        for (_, _, a), (_, _, b) in zip(local, dist):
            assert a == pytest.approx(b, abs=1e-9)
    # without synonyms: behavior identical to before (distinct-term count)
    plain = boolean_bm25_topk(idx, [(0, "+merge -join")], k=10, spark=spark).collect()
    assert {r["doc_id"] for r in plain} == {0, 1}


# --- SymSpell deletion-neighborhood + collate (round 6) ---


def test_deletion_neighborhood_parity_and_pruning(spark, corpus):
    """The SymSpell path must return EXACTLY the scan path's output
    (completeness theorem), and its candidate set must be a strict
    subset of the vocabulary (the point of the prefilter)."""
    from solrtexttagger_spark.search.terms import (
        _deletion_set,
        deletion_neighborhood,
    )
    from pyspark.sql import functions as F

    _, idx = corpus
    nb = deletion_neighborhood(idx, max_dist=2)
    nb.persist().count()
    try:
        for word in ["scann", "jion", "merg", "shuffl", "zzz", "sort"]:
            scan = [tuple(r) for r in spellcheck_terms(
                idx, word, max_dist=2, k=5).collect()]
            sym = [tuple(r) for r in spellcheck_terms(
                idx, word, max_dist=2, k=5, neighborhood=nb).collect()]
            assert sym == scan, word
        # pruning: candidates reached via delkey collisions < vocabulary
        keys = _deletion_set("scann", 2)
        cands = (
            nb.where(F.col("delkey").isin(keys)).select("term").distinct().count()
        )
        vocab = idx.term_stats.count()
        assert 0 < cands < vocab
    finally:
        nb.unpersist()


def test_deletion_neighborhood_contents(spark, corpus):
    """delkeys of a term = the term plus every <=d-deletion variant,
    JVM fan-out identical to the Python reference implementation."""
    from solrtexttagger_spark.search.terms import (
        _deletion_set,
        deletion_neighborhood,
    )
    from pyspark.sql import functions as F

    _, idx = corpus
    nb = deletion_neighborhood(idx, max_dist=2)
    got = sorted(
        r["delkey"] for r in nb.where(F.col("term") == "scan").collect()
    )
    assert got == _deletion_set("scan", 2)
    nb1 = deletion_neighborhood(idx, max_dist=1)
    got1 = sorted(
        r["delkey"] for r in nb1.where(F.col("term") == "join").collect()
    )
    assert got1 == _deletion_set("join", 1)


def test_spellcheck_collate(spark, corpus):
    """Collations substitute the out-of-vocabulary term, carry
    conjunctive hit counts, and drop 0-hit rewrites."""
    from solrtexttagger_spark.search.terms import spellcheck_collate

    _, idx = corpus
    # "jion" -> join (dist 2); docs with BOTH fast and join: 3, 4 -> hits 2
    rows = [
        (r["rank"], r["collation"], r["hits"])
        for r in spellcheck_collate(idx, "fast jion", max_dist=2, k=5).collect()
    ]
    assert rows and rows[0][1] == "fast join" and rows[0][2] == 2
    ranks = [r[0] for r in rows]
    assert ranks == list(range(1, len(rows) + 1))
    # every reported collation verifies: hits > 0
    assert all(h > 0 for _, _, h in rows)
    # fully in-vocabulary query -> no collations
    assert spellcheck_collate(idx, "fast join", max_dist=2).count() == 0
    # only the misspelled term alone: hits = docs containing the suggestion
    solo = [
        (r["collation"], r["hits"])
        for r in spellcheck_collate(idx, "jion", max_dist=2, k=5).collect()
    ]
    assert ("join", 2) in solo
    with pytest.raises(ValueError):
        spellcheck_collate(idx, "jion scann zzz", max_dist=2)
    with pytest.raises(ValueError):
        spellcheck_collate(idx, "", max_dist=2)


# --- multi-word (phrase) synonym expansion (round 6, r5 verdict #6) ---


def test_bag_multiword_synonym_graph_semantics(spark, corpus):
    """bm25_topk's bag model gives multi-word expansions GRAPH semantics
    (round-6 verdict #5): expand_synonyms_graph splits the phrase out of
    the flat bag, constituents score ONLY where the words are contiguous
    — this module's corpus has no contiguous "merge sort", so the
    expansion contributes nothing and "mergesort scan" ranks exactly
    like plain "scan". The DataFrame-queries + synonyms combination
    works identically on BOTH strategies (round-5 advice)."""
    from solrtexttagger_spark.search.bm25 import (
        expand_synonyms_graph,
        queries_to_df,
    )

    _, idx = corpus
    syn = {"mergesort": ["merge sort"]}
    assert expand_synonyms_graph({"mergesort": 2}, syn) == (
        {"mergesort": 2}, {("merge", "sort"): 2},
    )
    q = [(0, "mergesort scan")]
    key0 = lambda r: (r["rank"], r["doc_id"], round(r["score"], 9))  # noqa: E731
    gated = sorted(map(key0, bm25_topk(
        idx, q, k=5, spark=spark, synonyms=syn).collect()))
    plain = sorted(map(key0, bm25_topk(idx, [(0, "scan")], k=5, spark=spark).collect()))
    assert gated == plain and gated
    # flattening into a term relation is refused (it would silently
    # drop the contiguity gate)
    with pytest.raises(ValueError):
        queries_to_df(spark, q, synonyms=syn)
    key = lambda r: (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
    seg = sorted(map(key, bm25_topk(idx, q, k=5, spark=spark, synonyms=syn).collect()))
    expl = sorted(map(key, bm25_topk(
        idx, q, k=5, spark=spark, synonyms=syn, strategy="exploded").collect()))
    assert seg == expl and seg
    # DataFrame queries + synonyms: both strategies accept and agree
    qdf = queries_to_df(spark, q)
    seg_df = sorted(map(key, bm25_topk(
        idx, qdf, k=5, spark=spark, synonyms=syn).collect()))
    expl_df = sorted(map(key, bm25_topk(
        idx, qdf, k=5, spark=spark, synonyms=syn, strategy="exploded").collect()))
    assert seg_df == seg and expl_df == seg


def test_boolean_multiword_synonym_graph_semantics(spark, corpus):
    """The boolean path gives multi-word expansions TRUE graph
    semantics: +term with synonym "a b" is satisfied only by the term
    itself or by "a b" CONTIGUOUS; docs with the words apart fail."""
    from solrtexttagger_spark.index.build import build_index
    from solrtexttagger_spark.search.boolean import boolean_bm25_topk

    docs = [
        (0, "sort merge runs fast"),      # contiguous "sort merge": NO ("merge sort" needed)
        (1, "merge sort wins always"),    # contiguous "merge sort": satisfies
        (2, "merge the sort columns"),    # words apart: fails the group
        (3, "mergesort is classic"),      # the term itself: satisfies
        (4, "nothing relevant here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    idx = build_index(df, num_segments=2)
    syn = {"mergesort": ["merge sort"]}
    hits = {
        r["doc_id"]
        for r in boolean_bm25_topk(
            idx, [(0, "+mergesort")], k=10, spark=spark, synonyms=syn
        ).collect()
    }
    assert hits == {1, 3}
    # MUST_NOT with a multi-word synonym prohibits the contiguous phrase
    hits2 = {
        r["doc_id"]
        for r in boolean_bm25_topk(
            idx, [(0, "merge -mergesort")], k=10, spark=spark, synonyms=syn
        ).collect()
    }
    # docs containing "merge": 0,1,2; doc 3 has the term mergesort ->
    # prohibited; doc 1 has contiguous "merge sort" -> prohibited
    assert hits2 == {0, 2}


def test_local_searcher_multiword_synonym_parity(spark, corpus):
    """LocalSearcher.search_boolean matches the distributed path under a
    multi-word synonym (positional warm-up), and raises without it."""
    from solrtexttagger_spark.index.build import build_index
    from solrtexttagger_spark.search.boolean import boolean_bm25_topk
    from solrtexttagger_spark.index.compressed import compress_index
    from solrtexttagger_spark.search.wand import LocalSearcher

    docs = [
        (0, "sort merge runs fast"),
        (1, "merge sort wins always"),
        (2, "merge the sort columns"),
        (3, "mergesort is classic"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    idx = build_index(df, num_segments=2)
    syn = {"mergesort": ["merge sort"]}
    q = "+mergesort merge"
    dist = [
        (r["rank"], r["doc_id"], round(r["score"], 9))
        for r in boolean_bm25_topk(
            idx, [(0, q)], k=10, spark=spark, synonyms=syn
        ).collect()
    ]
    cix = compress_index(idx, with_positions=True)
    ls = LocalSearcher(
        cix, ["mergesort", "merge", "sort"], positional_index=idx
    )
    local = [
        (rank, doc, round(score, 9))
        for rank, doc, score in ls.search_boolean(q, k=10, synonyms=syn)
    ]
    assert local == sorted(dist)
    ls2 = LocalSearcher(cix, ["mergesort", "merge", "sort"])
    with pytest.raises(NotImplementedError):
        ls2.search_boolean(q, k=10, synonyms=syn)


def test_local_speller_parity(spark, corpus):
    """LocalSpeller (driver-resident SymSpell) suggest/collate match the
    distributed spellcheck_terms/spellcheck_collate exactly."""
    from solrtexttagger_spark.index.build import build_index
    from solrtexttagger_spark.index.compressed import compress_index
    from solrtexttagger_spark.search.terms import (
        LocalSpeller,
        spellcheck_collate,
        spellcheck_terms,
    )
    from solrtexttagger_spark.search.wand import LocalSearcher

    _, idx = corpus
    sp = LocalSpeller(idx, max_dist=2)
    for word in ["scann", "jion", "merg", "zzz", "sort"]:
        dist = [tuple(r) for r in spellcheck_terms(idx, word, max_dist=2, k=5).collect()]
        assert sp.suggest(word, k=5) == dist, word
    # collate parity via a warmed LocalSearcher
    cix = compress_index(idx)
    ls = LocalSearcher(cix, ["fast", "join", "scan", "sort", "merge", "shuffle", "scatter"])
    for q in ["fast jion", "jion", "join jion"]:  # last: suggestion == keep term
        dist = [tuple(r) for r in spellcheck_collate(idx, q, max_dist=2, k=5).collect()]
        assert sp.collate(q, ls, k=5) == dist, q
    assert sp.collate("fast join", ls) == []  # fully in-vocabulary
    import pytest as _pytest
    with _pytest.raises(ValueError):
        sp.collate("jion scann zzz", ls)


def test_neighborhood_persistence_and_pushdown(spark, corpus, tmp_path):
    """Persisted SymSpell index: save/load round-trip is output-identical,
    and the request's delkey IN-list reaches the parquet scan as a
    pushed filter (the sub-linear-IO contract at big vocabularies)."""
    from solrtexttagger_spark.search.terms import (
        deletion_neighborhood,
        load_neighborhood,
        save_neighborhood,
    )

    _, idx = corpus
    nb = deletion_neighborhood(idx, max_dist=2)
    path = str(tmp_path / "nb")
    save_neighborhood(nb, path)
    loaded = load_neighborhood(spark, path)
    for word in ["scann", "jion", "zzz"]:
        scan = [tuple(r) for r in spellcheck_terms(idx, word, max_dist=2, k=5).collect()]
        via = [tuple(r) for r in spellcheck_terms(
            idx, word, max_dist=2, k=5, neighborhood=loaded).collect()]
        assert via == scan, word
    plan = spellcheck_terms(
        idx, "scann", max_dist=2, k=5, neighborhood=loaded
    )._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(delkey" in plan


def test_chunk_documents_streaming(spark, tmp_path):
    """chunk_documents is a stateless narrow projection, so it runs
    unchanged under Structured Streaming (the streaming chunking step of
    an ingest pipeline)."""
    import os

    from solrtexttagger_spark.ops.chunking import chunk_documents

    src = str(tmp_path / "src")
    os.makedirs(src)
    batch = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(25))), (2, "a b c")],
        "doc_id long, text string",
    )
    batch.write.parquet(src, mode="overwrite")
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    out = chunk_documents(stream, chunk_tokens=10, overlap=3)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("chunks")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["doc_id"], r["chunk_idx"]): r["chunk_text"]
        for r in spark.sql("SELECT * FROM chunks").collect()
    }
    exp = {
        (r["doc_id"], r["chunk_idx"]): r["chunk_text"]
        for r in chunk_documents(batch, chunk_tokens=10, overlap=3).collect()
    }
    assert got == exp and len(got) == 5


def test_collate_suggestion_coincides_with_query_term(spark, corpus):
    """A suggestion equal to an in-vocabulary query term collapses the
    conjunction (|keep ∪ {sugg}| distinct terms, not |keep| + 1) —
    "join jion" suggesting "join" must report docs containing join."""
    from solrtexttagger_spark.search.terms import spellcheck_collate

    _, idx = corpus
    rows = {
        r["collation"]: r["hits"]
        for r in spellcheck_collate(idx, "join jion", max_dist=2, k=5).collect()
    }
    # docs containing join: 3, 4 -> the self-collation reports 2 hits
    assert rows.get("join join") == 2


def test_multiword_synonyms_wand_parity(spark, corpus):
    """wand_topk applies the SAME graph semantics as the bag model
    (expand_synonyms_graph: phrase-gated constituents merged with the
    pruned base top-k), so the two scorers stay rank/score-identical
    under a multi-word mapping — and a positionless compressed index
    raises instead of silently flattening."""
    from solrtexttagger_spark.index.compressed import compress_index
    from solrtexttagger_spark.search.wand import wand_topk

    _, idx = corpus
    syn = {"mergesort": ["merge sort"], "speedy": ["fast"]}
    q = [(0, "mergesort scan"), (1, "speedy mergesort")]
    key = lambda r: (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
    want = sorted(map(key, bm25_topk(idx, q, k=5, spark=spark, synonyms=syn).collect()))
    c = compress_index(idx, with_positions=True)
    for thr in (0, 100_000):
        got = sorted(map(key, wand_topk(
            c, q, k=5, spark=spark, synonyms=syn, local_threshold_postings=thr
        ).collect()))
        assert got == want and got, f"thr={thr}"
    with pytest.raises(NotImplementedError):
        wand_topk(compress_index(idx), q, k=5, spark=spark, synonyms=syn)


# ---------------------------------------------------------------- round 7


def test_neighborhood_compat_validation(spark, corpus, tmp_path):
    """A neighborhood built shallower (max_dist) or sparser (min_df) than
    the request needs would WRONG-DROP suggestions silently; the build
    parameters now travel with the relation (and its saved manifest) and
    incompatible requests raise (round-6 advice: wand.py:485 family)."""
    from solrtexttagger_spark.search.terms import (
        deletion_neighborhood,
        load_neighborhood,
        save_neighborhood,
        spellcheck_terms,
    )

    _, idx = corpus
    shallow = deletion_neighborhood(idx, max_dist=1)
    with pytest.raises(ValueError, match="max_dist"):
        spellcheck_terms(idx, "scann", max_dist=2, neighborhood=shallow)
    sparse = deletion_neighborhood(idx, max_dist=2, min_df=3)
    with pytest.raises(ValueError, match="min_df"):
        spellcheck_terms(idx, "scann", max_dist=2, min_df=1, neighborhood=sparse)
    # compatible: deeper/denser than requested is fine, and the manifest
    # round-trips the tag through save/load
    nb = deletion_neighborhood(idx, max_dist=2, min_df=1)
    path = str(tmp_path / "nb_tagged")
    save_neighborhood(nb, path)
    loaded = load_neighborhood(spark, path)
    assert loaded._symspell_meta == {"max_dist": 2, "min_df": 1}
    got = [tuple(r) for r in spellcheck_terms(
        idx, "scann", max_dist=1, neighborhood=loaded).collect()]
    want = [tuple(r) for r in spellcheck_terms(idx, "scann", max_dist=1).collect()]
    assert got == want and got
    with pytest.raises(ValueError, match="min_df"):
        spellcheck_terms(idx, "scann", max_dist=2, min_df=0, neighborhood=loaded)


def test_local_speller_from_neighborhood(spark, corpus, tmp_path):
    """LocalSpeller.from_neighborhood warms a serving process from the
    persisted parquet (deletion fan-out computed once, JVM-side, at
    build time — no Python deletion-set generation over the vocabulary)
    and is output-identical to a fresh term_stats build (round-6 verdict
    next-round #2: the pq_save/pq_load deployment story)."""
    from solrtexttagger_spark.search.terms import (
        LocalSpeller,
        deletion_neighborhood,
        save_neighborhood,
    )

    _, idx = corpus
    path = str(tmp_path / "nb_warm")
    save_neighborhood(deletion_neighborhood(idx, max_dist=2), path)
    warm = LocalSpeller.from_neighborhood(spark, path)
    fresh = LocalSpeller(idx, max_dist=2)
    assert warm.max_dist == 2 and warm.full_vocab
    assert warm.df == fresh.df
    assert warm.neighborhood == fresh.neighborhood
    for word in ["scann", "jion", "merg", "zzz"]:
        assert warm.suggest(word, k=5) == fresh.suggest(word, k=5), word
    # a deeper request than the persisted build raises, like the
    # distributed path
    with pytest.raises(ValueError, match="max_dist"):
        LocalSpeller.from_neighborhood(spark, path, max_dist=3)
    # min_df restriction applies at load
    dense = LocalSpeller.from_neighborhood(spark, path, min_df=3)
    assert set(dense.df) == {t for t, d in fresh.df.items() if d >= 3}
    # an unmanifested directory cannot prove compatibility -> raise
    import pyspark.sql.functions as _F
    bare = str(tmp_path / "nb_bare")
    deletion_neighborhood(idx, max_dist=2).write.parquet(bare)
    with pytest.raises(ValueError, match="manifest"):
        LocalSpeller.from_neighborhood(spark, bare)


def test_subset_speller_marker_expansion_raises(spark, corpus):
    """A LocalSpeller built with terms= (a warmed subset) must not serve
    fuzzy/prefix marker rewrites — it would silently drop vocabulary
    members the distributed rewrite matches (round-6 advice,
    wand.py:485). suggest() over the subset stays allowed (its contract
    is explicit)."""
    from solrtexttagger_spark.search.terms import LocalSpeller

    _, idx = corpus
    sub = LocalSpeller(idx, max_dist=2, terms=["scan", "scatter"])
    assert not sub.full_vocab
    with pytest.raises(ValueError, match="full-vocabulary"):
        sub.expand_marker("sc*")
    full = LocalSpeller(idx, max_dist=2)
    assert full.expand_marker("sc*") == ["scan", "scatter"]


# ------------------------------------------------------- round 7: graph bag


GRAPH_DOCS = [
    (0, "sort merge runs fast"),    # reversed order: NOT contiguous "merge sort"
    (1, "merge sort wins always"),  # contiguous: phrase member matches
    (2, "merge the sort columns"),  # words apart: no phrase contribution
    (3, "mergesort is classic"),    # the source term itself
    (4, "nothing relevant here"),
]


@pytest.fixture(scope="module")
def graph_corpus(spark):
    from solrtexttagger_spark.index.build import build_index

    df = spark.createDataFrame(GRAPH_DOCS, "doc_id long, text string")
    idx = build_index(df, num_segments=2)
    idx.postings.persist().count()
    return idx


def test_bag_multiword_graph_contiguity(spark, graph_corpus):
    """Round-6 verdict #5: the bag scorers gate multi-word synonym
    constituents on CONTIGUITY. q='mergesort' with mergesort->"merge
    sort" matches doc 3 (the term) and doc 1 (contiguous phrase — a doc
    no bag term reaches), NEVER docs 0/2 (words reversed/apart); both
    strategies agree row-for-row."""
    idx = graph_corpus
    syn = {"mergesort": ["merge sort"]}
    key = lambda r: (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))  # noqa: E731
    seg = sorted(map(key, bm25_topk(
        idx, [(0, "mergesort")], k=10, spark=spark, synonyms=syn).collect()))
    assert {d for _, _, d, _ in seg} == {1, 3}
    expl = sorted(map(key, bm25_topk(
        idx, [(0, "mergesort")], k=10, spark=spark, synonyms=syn,
        strategy="exploded").collect()))
    assert seg == expl
    # the phrase doc outscores nothing unfairly: doc 1's score is the sum
    # of its constituents' full BM25 contributions at the clause weight —
    # what the exact phrase clause scores, in the docs it matches
    from solrtexttagger_spark.search.boolean import boolean_matched_scores

    bonus = {
        (r["query_id"], r["doc_id"]): r["score"]
        for r in boolean_matched_scores(
            idx, [(0, '+"merge sort"')], spark=spark
        ).collect()
    }
    assert set(bonus) == {(0, 1)} and bonus[(0, 1)] > 0
    d1 = [s for _, _, d, s in seg if d == 1]
    assert d1 and abs(d1[0] - round(bonus[(0, 1)], 9)) < 1e-8


def test_bag_multiword_graph_fq_and_paging(spark, graph_corpus):
    """The phrase bonus rides the SAME cogroup as the fq ids: under fq
    the phrase-matched doc is kept/dropped by membership exactly like
    any other, and start= pages over the merged ranking."""
    idx = graph_corpus
    syn = {"mergesort": ["merge sort"]}
    allowed = spark.createDataFrame([(1,), (4,)], "doc_id long")
    rows = bm25_topk(
        idx, [(0, "mergesort")], k=10, spark=spark, synonyms=syn,
        allowed_docs=allowed,
    ).collect()
    assert {r["doc_id"] for r in rows} == {1}  # doc 3 fq-filtered, 1 kept
    allowed2 = spark.createDataFrame([(3,), (4,)], "doc_id long")
    rows2 = bm25_topk(
        idx, [(0, "mergesort")], k=10, spark=spark, synonyms=syn,
        allowed_docs=allowed2,
    ).collect()
    assert {r["doc_id"] for r in rows2} == {3}  # phrase doc 1 fq-filtered
    # absolute-rank paging over the merged (base + phrase) ranking
    full = bm25_topk(idx, [(0, "mergesort")], k=10, spark=spark, synonyms=syn)
    page = bm25_topk(
        idx, [(0, "mergesort")], k=1, start=1, spark=spark, synonyms=syn
    ).collect()
    want = [r for r in full.collect() if r["rank"] == 2]
    assert [(r["rank"], r["doc_id"]) for r in page] == [
        (r["rank"], r["doc_id"]) for r in want
    ]


def test_local_search_bag_multiword_parity(spark, graph_corpus):
    """LocalSearcher.search matches the distributed bag scorer under a
    multi-word mapping (positional warm-up) and raises without one."""
    from solrtexttagger_spark.index.compressed import compress_index
    from solrtexttagger_spark.search.wand import LocalSearcher

    idx = graph_corpus
    syn = {"mergesort": ["merge sort"]}
    q = [(0, "mergesort columns")]
    want = sorted(
        (r["rank"], r["doc_id"], round(r["score"], 9))
        for r in bm25_topk(idx, q, k=5, spark=spark, synonyms=syn).collect()
    )
    cix = compress_index(idx, with_positions=True)
    ls = LocalSearcher(cix, positions=True)
    got = [(r, d, round(s, 9)) for r, d, s in ls.search(q[0][1], k=5, synonyms=syn)]
    assert got == want and got
    ls2 = LocalSearcher(compress_index(idx))
    with pytest.raises(NotImplementedError):
        ls2.search(q[0][1], k=5, synonyms=syn)


def test_boolean_should_multiword_gated(spark, graph_corpus):
    """Graph semantics now hold on EVERY path: a SHOULD multi-word
    synonym contributes constituent scores only to contiguous docs, so
    the boolean scorer stays rank/score-identical to bm25_topk on
    pure-SHOULD queries even under multi-word mappings."""
    from solrtexttagger_spark.search.boolean import boolean_bm25_topk

    idx = graph_corpus
    syn = {"mergesort": ["merge sort"]}
    q = [(0, "mergesort columns"), (1, "mergesort")]
    key = lambda r: (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))  # noqa: E731
    want = sorted(map(key, bm25_topk(idx, q, k=10, spark=spark, synonyms=syn).collect()))
    got = sorted(map(key, boolean_bm25_topk(
        idx, q, k=10, spark=spark, synonyms=syn).collect()))
    assert got == want and got
    # and the MUST variant still scores the phrase doc through the gate:
    # +mergesort -> docs {1, 3}; doc 1's score comes from the gated
    # constituents, not an unconditional constituent bag
    must = {
        r["doc_id"]: round(r["score"], 9)
        for r in boolean_bm25_topk(
            idx, [(0, "+mergesort")], k=10, spark=spark, synonyms=syn
        ).collect()
    }
    bag = {
        r["doc_id"]: round(r["score"], 9)
        for r in bm25_topk(
            idx, [(0, "mergesort")], k=10, spark=spark, synonyms=syn
        ).collect()
    }
    assert must == bag and set(must) == {1, 3}


def test_terms_regex_and_count_bounds(spark, sf_dir):
    """Solr terms.regex (anchored full-match) + terms.mincount/maxcount
    compose with the prefix before the top-k."""
    from solrtexttagger_spark.index.build import build_index
    from solrtexttagger_spark.search.terms import terms_component

    docs = spark.createDataFrame(
        [(0, "scan sort scanner"), (1, "scan sort"), (2, "sort scala")],
        "doc_id long, text string",
    )
    idx = build_index(docs, num_segments=2)
    got = [r["term"] for r in terms_component(idx, "s", k=10).collect()]
    assert got == ["sort", "scan", "scala", "scanner"]
    # regex full-match: 4-letter s-words only
    rx = [r["term"]
          for r in terms_component(idx, "s", k=10, regex="s[a-z]{3}").collect()]
    assert rx == ["sort", "scan"]
    # df bounds
    mc = [r["term"]
          for r in terms_component(idx, "s", k=10, min_count=2).collect()]
    assert mc == ["sort", "scan"]
    xc = [r["term"]
          for r in terms_component(idx, "s", k=10, max_count=1).collect()]
    assert xc == ["scala", "scanner"]
