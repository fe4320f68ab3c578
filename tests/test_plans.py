"""Physical-plan shape regression tests: the properties that make the
operators scale must stay visible in the plan — broadcast joins stay
broadcast, scans stay pruned, per-row paths stay shuffle-free, top-k stays
group-limited."""

import pytest

from solrtexttagger_spark.index.build import build_index
from solrtexttagger_spark.search.bm25 import bm25_topk
from solrtexttagger_spark.search.phrase import phrase_match

DOCS = [(i, f"w{i % 5} w{(i * 3) % 7} common") for i in range(50)]


def plan_str(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


@pytest.fixture(scope="module")
def index(docs_df):
    idx = build_index(docs_df, num_segments=4)
    idx.postings.persist().count()
    return idx


def n_exchanges(plan: str) -> int:
    import re

    return len(re.findall(r"^\(\d+\) Exchange", plan, re.M))


def test_tag_plan_has_no_shuffle(spark, docs_df):
    from solrtexttagger_spark.tagging.dictionary import build_tag_dictionary
    from solrtexttagger_spark.tagging.operator import tag

    d = build_tag_dictionary(
        spark.createDataFrame([("0", "common")], "id string, name string")
    )
    plan = plan_str(tag(docs_df, d, id_col="doc_id"))
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan or "MapInArrow" in plan


def test_bm25_plan_broadcasts_queries_and_group_limits(spark, index):
    # exploded strategy: pure-JVM — broadcast query terms, window top-k
    plan = plan_str(
        bm25_topk(index, [(0, "common w1")], k=5, spark=spark, strategy="exploded")
    )
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan  # top-k pushed below the final sort
    # the persisted postings feed the plan — no rebuild from the raw corpus
    assert "InMemoryTableScan" in plan


def test_bm25_segmented_plan_shape(spark, index):
    """Default (segmented) strategy: ONE exchange (groupBy seg into the
    pandas scorer); postings filtered before the shuffle; no exploded
    per-(query, doc) aggregation exchange."""
    plan = plan_str(bm25_topk(index, [(0, "common w1")], k=5, spark=spark))
    assert "FlatMapGroupsInPandas" in plan
    assert "WindowGroupLimit" in plan
    # the query-term filter is pushed into the cached postings scan —
    # only matching shards ever reach the seg shuffle
    assert "IN (common,w1)" in plan
    # the scorer's input shuffle partitions on seg (not on (query, doc))
    assert "hashpartitioning(seg" in plan


def test_phrase_plan_broadcasts_terms(spark, index):
    plan = plan_str(phrase_match(index, "common w1"))
    assert "BroadcastHashJoin" in plan


def test_scan_pruning_column_projection(spark, tmp_path):
    """A narrow operator over a wide parquet table must scan only its
    columns (ReadSchema pruning)."""
    from solrtexttagger_spark.ops.textqa import token_stats

    wide = spark.createDataFrame(
        [(i, f"text {i}", "pad", i * 1.0, "extra") for i in range(10)],
        "doc_id long, text string, pad string, value double, extra string",
    )
    p = str(tmp_path / "wide")
    wide.write.parquet(p)
    df = token_stats(spark.read.parquet(p))
    plan = plan_str(df)
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "doc_id" in scan and "text" in scan
    assert "pad" not in scan and "extra" not in scan, scan


def test_dedup_exact_single_shuffle(spark, docs_df):
    from solrtexttagger_spark.ops.dedup import exact_dedup

    plan = plan_str(exact_dedup(docs_df))
    assert n_exchanges(plan) == 1, plan  # the one groupBy


def test_cosine_plan_broadcasts_probes(spark):
    from solrtexttagger_spark.ops.similarity import cosine_topk

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 2.0]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    plan = plan_str(cosine_topk(emb, [0, 1], k=3))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_facades_and_plan_summary(spark, docs_df):
    """operators/functions facades import cleanly; plans.plan_summary and
    assert_plan report the pinned shapes."""
    import solrtexttagger_spark.functions as fns
    import solrtexttagger_spark.operators as ops
    from solrtexttagger_spark.plans import assert_plan, plan_summary

    assert callable(ops.tag) and callable(fns.tokenize)

    s = plan_summary(ops.exact_dedup(docs_df))
    assert s["exchanges"] == 1 and s["python_stages"] == 0
    assert_plan(ops.exact_dedup(docs_df), exchanges=1)
    with pytest.raises(AssertionError):
        assert_plan(ops.exact_dedup(docs_df), exchanges=0)



def test_compress_plan_one_arrow_pass(spark, index):
    """compress_index adds exactly ONE python stage (a MapInArrow batch
    encode) and one exchange (the seg repartition) on top of the
    persisted postings' plan."""
    import re

    from solrtexttagger_spark.index.compressed import compress_index
    from solrtexttagger_spark.plans import plan_summary

    base = plan_summary(index.postings)
    for kw in ({}, {"with_positions": True, "max_block_postings": 3}):
        blocks = compress_index(index, **kw).blocks
        assert len(re.findall(r"^\(\d+\) MapInArrow", plan_str(blocks), re.M)) == 1
        s = plan_summary(blocks)
        assert s["python_stages"] == base["python_stages"] + 1, (s, base)
        assert s["exchanges"] == base["exchanges"] + 1, (s, base)

def test_mlt_probe_filter_pushed_to_scan(spark, tmp_path):
    """More-Like-This keyword extraction must NOT run a corpus-wide
    TF-IDF pass: the probe-id filter reaches the documents parquet scan
    (PushedFilters) and df comes from the index postings via a broadcast
    of the tiny probe vocabulary (round-3 verdict item #1)."""
    from solrtexttagger_spark.search.mlt import mlt_probe_terms

    docs = spark.createDataFrame(
        [(i, f"w{i % 5} w{(i * 3) % 7} common filler{i}") for i in range(50)],
        "doc_id long, text string",
    )
    p = str(tmp_path / "docs")
    docs.write.parquet(p)
    pq = spark.read.parquet(p)
    idx = build_index(pq, num_segments=4, use_split=True)
    kw = mlt_probe_terms(idx, pq, [0, 1, 2], n_terms=3, use_split=True)
    plan = plan_str(kw)
    # the probe filter is pushed into the parquet scan of documents
    assert "PushedFilters: [In(doc_id" in plan, plan
    # the probes' term set broadcasts into the postings side (no
    # vocabulary-sized shuffle or broadcast)
    assert "BroadcastHashJoin" in plan
    # and the result matches the corpus-wide tfidf_keywords choice
    from solrtexttagger_spark.ops.textqa import tfidf_keywords

    corpus_kw = {
        (r["doc_id"], r["rank"], r["term"])
        for r in tfidf_keywords(pq, top_k=3).collect()
        if r["doc_id"] in (0, 1, 2)
    }
    got = {(r["doc_id"], r["rank"], r["term"]) for r in kw.collect()}
    assert got == corpus_kw


def test_cosine_dup_pairs_no_nested_loop(spark):
    """The shipped near-dup operator must be LSH-bucketed: no all-pairs
    theta-join (BroadcastNestedLoopJoin/Cartesian) anywhere in the plan."""
    from solrtexttagger_spark.ops.similarity import cosine_dup_pairs
    from solrtexttagger_spark.plans import plan_string

    emb = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, -0.5, float(i)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    lsh = cosine_dup_pairs(emb, threshold=0.9, dim=4, bands=4, band_planes=4)
    p = plan_string(lsh)
    assert "BroadcastNestedLoopJoin" not in p and "Cartesian" not in p

    # the exact method IS the theta-join baseline — and must stay available
    exact = cosine_dup_pairs(emb, threshold=0.9, method="exact")
    pe = plan_string(exact)
    assert "BroadcastNestedLoopJoin" in pe or "Cartesian" in pe

    # LSH output is a subset of exact (candidates only drop, never invent)
    got = {(r["a_vec_id"], r["b_vec_id"], r["cos"]) for r in lsh.collect()}
    want = {(r["a_vec_id"], r["b_vec_id"], r["cos"]) for r in exact.collect()}
    assert got <= want and len(want) > 0


def test_remove_dup_spans_plan_jvm_three_exchanges(spark, docs_df):
    """Exact-substring trim stays JVM-only (no Python stages) and its
    shuffles stay at exactly three: window rows -> Exchange(g) for the
    row_number canonical pick, dup starts -> Exchange(doc_id), and the
    base join back on doc_id. A groupBy+join canonical pick would add a
    fourth; a Python fallback would add ArrowEvalPython."""
    from solrtexttagger_spark.ops.dedup import remove_dup_spans

    plan = plan_str(remove_dup_spans(docs_df, span=2))
    # ("applySchemaToPythonRDD" in the fixture's source line is the test
    # harness's local relation, not an execution stage)
    for py_stage in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                     "FlatMapGroupsInPandas"):
        assert py_stage not in plan, plan
    assert n_exchanges(plan) == 3, plan


def test_grouping_plans(spark, docs_df, index):
    """The new /select surface ops keep their scale properties visible:
    select_sorted is WindowGroupLimit-ed (top-k never fully sorts),
    grouped_topk runs its two windows with no cartesian/nested-loop join,
    facet_pivot's rollup is a single Expand+aggregate (one shuffle after
    the match semi-join), and select_page carries numFound/maxScore in
    the SAME window stage as the rank (no second aggregation exchange)."""
    from solrtexttagger_spark.search.grouping import (
        facet_pivot,
        grouped_topk,
        select_sorted,
    )
    from solrtexttagger_spark.search.select import select_page

    attrs = docs_df.withColumn("grp", (docs_df.doc_id % 3).cast("string"))
    p_sort = plan_str(
        select_sorted(index, attrs, [(0, "common w1")], "doc_id", k=3, spark=spark)
    )
    assert "WindowGroupLimit" in p_sort
    assert "CartesianProduct" not in p_sort

    p_grp = plan_str(
        grouped_topk(index, attrs, [(0, "common w1")], "grp", spark=spark)
    )
    assert "BroadcastNestedLoopJoin" not in p_grp
    assert "CartesianProduct" not in p_grp

    p_piv = plan_str(facet_pivot(index, attrs, "common w1", ["grp"], spark=spark))
    assert "Expand" in p_piv  # rollup levels from ONE pass
    assert "CartesianProduct" not in p_piv

    p_page = plan_str(
        select_page(index, attrs, "common w1", fl=["grp"], k=3, spark=spark)
    )
    # the rank window and the numFound/maxScore aggregates share the
    # query_id partitioning: Window nodes, no extra HashAggregate after
    # the scoring aggregation for the counts
    assert p_page.count("Exchange") <= plan_str(
        bm25_topk(index, [(0, "common w1")], k=3, spark=spark, strategy="exploded")
    ).count("Exchange") + 2  # + corpus-fields join side


def test_cold_bm25_builder_runs_no_driver_action(spark, index):
    """Round-6 (r5 verdict #5): BUILDING a cold-vocabulary segmented
    bm25 plan performs ZERO driver actions — the per-term df arrives as
    a broadcast-joined column inside the scoring job, not via a
    collect wave ahead of it. The plan carries the df join; results
    stay rank-identical to the exploded strategy."""
    from pyspark.sql.classic.dataframe import DataFrame

    from solrtexttagger_spark.search.wand import reset_query_caches

    reset_query_caches(index)
    _ = index.avgdl  # one-time per-INDEX stat, not a per-batch wave
    calls = []
    orig = DataFrame.collect

    def counting(self):
        calls.append(1)
        return orig(self)

    try:
        DataFrame.collect = counting
        out = bm25_topk(index, [(0, "common w1")], k=5, spark=spark)
    finally:
        DataFrame.collect = orig
    assert calls == []  # plan construction is action-free when cold
    plan = plan_str(out)
    assert "FlatMapGroupsInPandas" in plan
    assert "sum(df_seg" in plan  # in-DAG global df aggregation
    assert "BroadcastHashJoin" in plan  # ...broadcast-joined, never collected
    key = lambda r: (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
    cold = sorted(map(key, out.collect()))
    exp = sorted(map(key, bm25_topk(
        index, [(0, "common w1")], k=5, spark=spark, strategy="exploded"
    ).collect()))
    assert cold == exp and cold


def test_facet_sections_single_aggregation(spark, docs_df, index):
    """Round-6 (r5 verdict #2): the writer-side facet assembly computes
    field facets and EVERY facet.range column in one aggregation over
    one match set — a single groupBy(sec, field, value), no per-range
    re-scan."""
    from solrtexttagger_spark.search.select import _facet_sections

    from pyspark.sql.classic.dataframe import DataFrame

    calls = []
    orig = DataFrame.collect

    def counting(self):
        calls.append(1)
        return orig(self)

    docs = docs_df.withColumn("n", (docs_df.doc_id * 7) % 40)
    try:
        DataFrame.collect = counting
        fields, ranges, _iv = _facet_sections(
            index, docs, "common w1", ["lang"] if "lang" in docs.columns else [],
            # same column twice: independent buckets, distinct output
            # keys (Solr's {!key=} local param)
            [("n", 0, 40, 20), ("n", 0, 40, 10, "n_fine")], None, spark,
        )
    finally:
        DataFrame.collect = orig
    assert len(calls) == 1  # one job for every facet section
    assert set(ranges) == {"n", "n_fine"}  # both same-col requests appear
    for _col, (lo, hi, gap, buckets) in ranges.items():
        assert [b for b, _n in buckets] == list(range(lo, hi, gap))


def test_bm25_synonym_graph_plan_action_free_and_cogrouped(spark, index):
    """Round-7 (r6 verdict #5): a multi-word synonym mapping on the
    segmented bag scorer adds NO driver action — the phrase-gated bonus
    relation (multi_phrase_match_scored -> synonym_phrase_bonus) is
    built lazily and meets the segment kernel through the SAME cogroup
    as the fq ids, co-partitioned on the index's seg hash, merged
    BEFORE per-segment truncation. The whole cold batch stays one
    action."""
    from pyspark.sql.classic.dataframe import DataFrame

    from solrtexttagger_spark.search.wand import reset_query_caches

    reset_query_caches(index)
    _ = index.avgdl
    syn = {"w1": ["common w2"]}  # multi-word expansion into the fixture corpus
    calls = []
    orig = DataFrame.collect

    def counting(self):
        calls.append(1)
        return orig(self)

    try:
        DataFrame.collect = counting
        out = bm25_topk(index, [(0, "w1 common")], k=5, spark=spark, synonyms=syn)
    finally:
        DataFrame.collect = orig
    assert calls == []  # bonus relation never collected driver-side
    plan = plan_str(out)
    # the bonus meets the scoring kernel through the cogroup variant
    assert "FlatMapCoGroupsInPandas" in plan
    # contiguity fold + gated constituents stay JVM/Arrow-side: the
    # phrase terms broadcast into the postings scan like query terms
    assert "BroadcastHashJoin" in plan
    rows = out.collect()
    assert rows  # and it actually matches (w1 docs at least)
