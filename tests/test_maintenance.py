"""Index maintenance: expunge_docs literal/merge equivalence, stats
recompute, and the Lucene two-phase delete semantics (tombstone = fq
with corpus-wide stats vs expunge = recomputed stats)."""

import pytest
from pyspark.sql import functions as F

from solrtexttagger_spark.index.build import build_index
from solrtexttagger_spark.index.maintenance import expunge_docs
from solrtexttagger_spark.search.bm25 import bm25_topk

DOCS = [(i, " ".join(f"w{(i * j) % 11}" for j in range(1, 8 + i % 5))) for i in range(60)]


@pytest.fixture(scope="module")
def corpus(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    idx = build_index(df, num_segments=4)
    idx.postings.persist().count()
    return df, idx


def _norm(idx):
    rows = {}
    for r in idx.postings.collect():
        rows[(r["term"], r["seg"])] = (
            r["df_seg"], r["cf_seg"],
            [(p["doc_id"], p["tf"], p["dl"]) for p in r["postings"]],
        )
    return rows


def test_expunge_literal_merge_identical(spark, corpus):
    df, idx = corpus
    deleted = spark.createDataFrame([(i,) for i in range(0, 60, 4)], "doc_id long")
    a = expunge_docs(idx, deleted, method="literal")
    b = expunge_docs(idx, deleted, method="merge")
    assert _norm(a) == _norm(b)
    assert a.doc_count == b.doc_count == 45
    assert a.avgdl == pytest.approx(b.avgdl)
    # no deleted doc survives anywhere; per-shard stats match the arrays
    for (term, seg), (df_seg, cf_seg, plist) in _norm(a).items():
        assert df_seg == len(plist) and cf_seg == sum(tf for _, tf, _ in plist)
        assert all(d % 4 != 0 for d, _, _ in plist)
    # term_stats re-aggregates the shards
    ts = {r["term"]: (r["df"], r["cf"]) for r in a.term_stats.collect()}
    agg = {}
    for (term, _), (df_seg, cf_seg, _) in _norm(a).items():
        d0, c0 = agg.get(term, (0, 0))
        agg[term] = (d0 + df_seg, c0 + cf_seg)
    assert ts == agg


def test_tombstone_vs_expunge_scoring(spark, corpus):
    """Phase 1 (tombstone): deleted docs stop matching but stats stay
    corpus-wide == bm25_topk(allowed_docs=live). Phase 2 (expunge):
    stats recomputed, so scores CHANGE even for surviving docs."""
    df, idx = corpus
    deleted = df.where("doc_id % 3 = 0").select("doc_id")
    live = df.where("doc_id % 3 != 0").select("doc_id")
    q = [(0, "w1 w2"), (1, "w3 w5 w7")]
    tomb = bm25_topk(idx, q, k=10, spark=spark, allowed_docs=live).collect()
    ex_idx = expunge_docs(idx, deleted)
    exp = bm25_topk(ex_idx, q, k=10, spark=spark).collect()
    t = {(r["query_id"], r["doc_id"]): r["score"] for r in tomb}
    e = {(r["query_id"], r["doc_id"]): r["score"] for r in exp}
    # same matched docs (no deleted doc in either), different stats
    assert set(t) == set(e)
    assert all(d % 3 != 0 for _, d in t)
    assert any(abs(t[k] - e[k]) > 1e-9 for k in t)  # df/avgdl really moved
    # expunged index equals a fresh build over the surviving corpus
    fresh = build_index(
        df.where("doc_id % 3 != 0"), num_segments=idx.num_segments
    )
    want = bm25_topk(fresh, q, k=10, spark=spark).collect()
    w = {(r["query_id"], r["doc_id"]): r["score"] for r in want}
    assert set(e) == set(w)
    for k in e:
        assert e[k] == pytest.approx(w[k], abs=1e-9)


def test_expunge_empty_and_errors(spark, corpus):
    df, idx = corpus
    none_deleted = spark.createDataFrame([], "doc_id long")
    same = expunge_docs(idx, none_deleted)
    assert same.doc_count == idx.doc_count
    assert _norm(same) == _norm(idx)
    with pytest.raises(ValueError):
        expunge_docs(idx, none_deleted, method="bogus")


def test_expunge_literal_larger_idset(spark, corpus):
    """Round-6 (r5 verdict #4): the literal path at a few hundred ids —
    the regime the O(n + |ids|) let-bound intersect rewrite targets —
    stays output-identical to merge, including every recomputed stat."""
    from pyspark.sql import functions as F

    docs, idx = corpus
    deleted = docs.select("doc_id").where(F.col("doc_id") % 3 == 0)
    a = expunge_docs(idx, deleted, method="literal")
    b = expunge_docs(idx, deleted, method="merge")
    key = lambda r: (r["term"], r["seg"])  # noqa: E731
    pa = {key(r): [tuple(p) for p in r["postings"]] for r in a.postings.collect()}
    pb = {key(r): [tuple(p) for p in r["postings"]] for r in b.postings.collect()}
    assert pa == pb
    assert a.doc_count == b.doc_count and abs(a.avgdl - b.avgdl) < 1e-12
    sa = sorted(tuple(r) for r in a.term_stats.collect())
    sb = sorted(tuple(r) for r in b.term_stats.collect())
    assert sa == sb
    # no deleted doc survives anywhere in the rewritten postings
    gone = {r["doc_id"] for r in deleted.collect()}
    assert not gone & {p[0] for ps in pa.values() for p in ps}


class TestUpsert:
    """upsert_docs = Lucene updateDocument: delete-by-id + add, with a
    delta-driven shard merge (untouched shards pass through unshuffled)."""

    def _full_state(self, idx):
        post = sorted(
            (r["term"], int(r["p"]["doc_id"]), int(r["p"]["tf"]),
             list(r["p"]["positions"]))
            for r in idx.postings.select(
                "term", F.explode("postings").alias("p")
            ).collect()
        )
        stats = sorted(
            (r["term"], int(r["df"]), int(r["cf"]))
            for r in idx.term_stats.collect()
        )
        return post, stats

    def test_upsert_equals_fresh_build(self, spark):
        from solrtexttagger_spark.index.build import build_index
        from solrtexttagger_spark.index.maintenance import upsert_docs

        base = spark.createDataFrame(
            [(0, "hash join scan"), (1, "merge sort"), (2, "hash probe")],
            "doc_id long, text string",
        )
        idx = build_index(base, num_segments=4)
        batch = spark.createDataFrame(
            [(1, "stream window window"),  # replaces doc 1 entirely
             (9, "hash stream")],          # brand-new doc
            "doc_id long, text string",
        )
        up = upsert_docs(idx, batch)
        updated_corpus = spark.createDataFrame(
            [(0, "hash join scan"), (1, "stream window window"),
             (2, "hash probe"), (9, "hash stream")],
            "doc_id long, text string",
        )
        ref = build_index(updated_corpus, num_segments=4)
        assert self._full_state(up) == self._full_state(ref)
        assert up.doc_count == ref.doc_count == 4
        assert up.avgdl == ref.avgdl
        # old content of doc 1 is really gone
        terms = {r["term"] for r in up.term_stats.collect()}
        assert "merge" not in terms and "sort" not in terms

    def test_upsert_duplicate_ids_raise(self, spark):
        from solrtexttagger_spark.index.build import build_index
        from solrtexttagger_spark.index.maintenance import upsert_docs

        idx = build_index(
            spark.createDataFrame([(0, "a b")], "doc_id long, text string"),
            num_segments=2,
        )
        dup = spark.createDataFrame(
            [(5, "x"), (5, "y")], "doc_id long, text string"
        )
        with pytest.raises(ValueError, match="duplicate doc ids"):
            upsert_docs(idx, dup)

    def test_upsert_merge_is_delta_driven(self, spark):
        """The big index's untouched shards must bypass the re-aggregation:
        the plan carries broadcast LeftSemi/LeftAnti splits on the delta's
        key set, not one global groupBy over all postings."""
        from solrtexttagger_spark.index.build import build_index
        from solrtexttagger_spark.index.maintenance import upsert_docs

        idx = build_index(
            spark.createDataFrame(
                [(0, "hash join"), (1, "merge sort")],
                "doc_id long, text string",
            ),
            num_segments=2,
        )
        batch = spark.createDataFrame(
            [(7, "hash stream")], "doc_id long, text string"
        )
        up = upsert_docs(idx, batch)
        plan = up.postings._jdf.queryExecution().executedPlan().toString()
        assert "LeftAnti" in plan and "LeftSemi" in plan
        assert "Broadcast" in plan
