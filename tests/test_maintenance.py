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


def _state(idx):
    """Everything a scorer reads: postings with positions, term_stats,
    doc_count and avgdl."""
    post = sorted(
        (r["term"], r["seg"], r["df_seg"], r["cf_seg"],
         [(p["doc_id"], p["tf"], p["dl"], list(p["positions"])) for p in r["postings"]])
        for r in idx.postings.collect()
    )
    stats = sorted(tuple(r) for r in idx.term_stats.select("term", "df", "cf").collect())
    return post, stats, idx.doc_count, idx.avgdl


class TestUpsert:
    """upsert_docs = Lucene updateDocument: delete-by-id + add, with a
    delta-driven shard merge (untouched shards pass through unshuffled)."""

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
        # the literal path, the merge path and a fresh build agree
        merged = upsert_docs(idx, batch, literal_threshold=1)
        assert _state(up) == _state(merged) == _state(ref)
        assert up.doc_count == ref.doc_count == 4
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
        # on every path; the pair (5, 5) at rows 0 and 5 lies beyond the
        # literal_threshold + 1 = 3 rows the bounded collect reads
        rows = [(5, "a"), (6, "b"), (7, "c"), (8, "d"), (9, "e"), (5, "f")]
        far = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
        for opts in ({}, {"literal_threshold": 2}, {"method": "merge"}, {"method": "literal"}):
            with pytest.raises(ValueError, match="duplicate doc ids"):
                upsert_docs(idx, far, **opts)

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


# 5 terms over 4 docs, two of them without any term
TERMLESS = [(0, "hash join"), (1, "merge sort scan"), (2, ""), (3, None)]


def test_doc_count_keeps_docs_without_terms(spark):
    """build_index counts every row, as the oracles' ``count(*)`` does;
    expunge and upsert keep those rows counted (doc_count is arithmetic,
    not a recount of the docs that have postings)."""
    from solrtexttagger_spark.index.maintenance import upsert_docs

    schema = "doc_id long, text string"
    idx = build_index(spark.createDataFrame(TERMLESS, schema), num_segments=2)
    assert (idx.doc_count, idx.avgdl) == (4, 1.25)
    none = expunge_docs(idx, spark.createDataFrame([], "doc_id long"))
    assert (none.doc_count, none.avgdl) == (4, 1.25)
    one = expunge_docs(idx, spark.createDataFrame([(1,)], "doc_id long"))
    assert (one.doc_count, one.avgdl) == (3, 2 / 3)
    batch = [(1, "stream window")]
    up = upsert_docs(idx, spark.createDataFrame(batch, schema))
    fresh = build_index(
        spark.createDataFrame([TERMLESS[0], *batch, *TERMLESS[2:]], schema), num_segments=2
    )
    assert _state(up) == _state(fresh)
    assert up.doc_count == 4
    # the one case arithmetic cannot see: a deleted doc that had no
    # terms leaves no posting to find, so it stays counted
    assert expunge_docs(idx, spark.createDataFrame([(2,)], "doc_id long")).doc_count == 4


def test_upsert_job_budget(spark, tmp_path):
    """A literal-path upsert plus the caller's persist().count() runs at
    most 9 Spark jobs: one bounded id collect, the replaced-id count and
    the materialization; no duplicate-check aggregate, no recount of the
    batch, no whole-index explode. The batch is one Parquet file, as a
    small upsert batch is written (Spark's bounded take reads a
    many-file batch in more than one job)."""
    from solrtexttagger_spark.index.maintenance import upsert_docs
    from tests.conftest import _build_jobs

    idx = build_index(spark.createDataFrame(DOCS, "doc_id long, text string"), num_segments=4)
    idx.postings.persist().count()
    rows = [(i, f"w{i % 7} fresh{i} w3") for i in (3, 17, 40, 100, 101)]
    path = str(tmp_path / "batch.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(path)
    batch = spark.read.parquet(path)

    def run():
        new = upsert_docs(idx, batch)
        new.postings.persist().count()
        return new

    new, jobs = _build_jobs(spark, run)
    assert new.doc_count == len(DOCS) + 2
    new.postings.unpersist()
    idx.postings.unpersist()
    assert jobs <= 9
