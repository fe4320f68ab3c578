"""Differential fuzz of the bag scorers against a pure-Python BM25
oracle, in every state of the index's term dictionary.

Segmented and exploded ``bm25_topk``, ``wand_topk`` on its driver-local
and distributed paths (over single-block shards and over
``max_block_postings=3``) and ``LocalSearcher.search`` must all equal
the oracle, which counts df, tf and dl from the raw token lists of a
seeded corpus: doc ids and ranks exact, scores to 1e-9. The scorers
that sum in Python (segmented ``bm25_topk``, both ``wand_topk`` paths
and ``LocalSearcher.search``) all run ``boolean.evaluate_boolean``, so
they must also equal each other bit for bit; the exploded strategy sums
in the JVM's row order. Each batch runs with the dictionary cold, warm,
just after ``reset_query_caches`` and with a byte bound so small that
every lookup resets it mid-query."""

import contextlib
import functools
import math
import random
from collections import Counter
from unittest import mock

import pytest
from hypothesis import HealthCheck, given, seed, settings, strategies as st
from pyspark.sql import DataFrame, functions as F

import solrtexttagger_spark.index.termdict as tdmod
from solrtexttagger_spark.index.build import build_index
from solrtexttagger_spark.index.compressed import compress_index
from solrtexttagger_spark.index.termdict import TermDictionary
from solrtexttagger_spark.search.bm25 import bm25_topk, warm_df_cache
from solrtexttagger_spark.search.wand import LocalSearcher, reset_query_caches, wand_topk

K1, B = 1.2, 0.75
K = 4
VOCAB = [f"w{i}" for i in range(12)]
HEAD = "w0"  # in most documents
ABSENT = "zz"


def _corpus():
    rng = random.Random(11)
    weights = [14, 7, 5, 4, 3, 3, 2, 2, 1, 1, 1, 1]
    docs = []
    for d in range(64):
        toks = rng.choices(VOCAB, weights=weights, k=rng.randint(3, 14))
        docs.append((d, " ".join(toks), "x" if d % 3 else "y"))
    return docs


DOCS = _corpus()
TOKENS = {d: text.split() for d, text, _l in DOCS}
FQ_IDS = {d for d, _t, lang in DOCS if lang == "x"}


def oracle(bag, allowed=None):
    """{doc_id: BM25 score} of every doc matching a term of ``bag``."""
    n = len(DOCS)
    dls = {d: len(t) for d, t in TOKENS.items()}
    avgdl = sum(dls.values()) / n
    out = {}
    for t, qtf in bag.items():
        docs = [d for d, toks in TOKENS.items() if t in toks]
        if not docs:
            continue
        idf = math.log(1.0 + (n - len(docs) + 0.5) / (len(docs) + 0.5))
        for d in docs:
            tf = TOKENS[d].count(t)
            out[d] = out.get(d, 0.0) + qtf * idf * tf * (K1 + 1.0) / (
                tf + K1 * (1.0 - B + B * dls[d] / avgdl)
            )
    return {d: s for d, s in out.items() if allowed is None or d in allowed}


def _page(scores, start):
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return [(start + 1 + i, d, s) for i, (d, s) in enumerate(ranked[start : start + K])]


def _same(got, want, label):
    """[(rank, doc, score)] lists: ranks and ids exact, scores to 1e-9."""
    got = sorted(got)
    assert [g[:2] for g in got] == [w[:2] for w in want], label
    for g, w in zip(got, want):
        assert g[2] == pytest.approx(w[2], abs=1e-9), label


@pytest.fixture(scope="module")
def engines(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string, lang string").persist()
    # the JVM split analyzer: the scorers are under test, and it starts no
    # Python worker for tokenizing
    idx = build_index(docs.select("doc_id", "text"), num_segments=4, use_split=True)
    idx.postings.persist().count()
    _ = (idx.doc_count, idx.avgdl)
    one_block = compress_index(idx)  # shares idx's dictionary
    multi_block = compress_index(idx, max_block_postings=3)  # a fresh dictionary
    for c in (one_block, multi_block):
        c.blocks.persist().count()
    searcher = LocalSearcher(one_block)
    yield docs, idx, one_block, multi_block, searcher
    for c in (one_block, multi_block):
        c.blocks.unpersist()
    idx.postings.unpersist()
    docs.unpersist()


def _scored(idx, one_block, multi_block, queries, fq, start):
    """{scorer name: [(query_id, rank, doc, score)]}: every relation is
    built first (the builds read the dictionary), then one collect
    evaluates their union."""
    rels = {
        "segmented": bm25_topk(idx, queries, k=K, start=start, allowed_docs=fq),
        "exploded": bm25_topk(
            idx, queries, k=K, start=start, allowed_docs=fq, strategy="exploded"
        ),
    }
    # under fq the local path is bypassed: run the distributed one only
    paths = {"dist": 0} if fq is not None else {"local": 10**9, "dist": 0}
    for layout, c in (("one_block", one_block), ("mb3", multi_block)):
        for path, threshold in paths.items():
            rels[f"wand_{layout}_{path}"] = wand_topk(
                c, queries, k=K, start=start, allowed_docs=fq, local_threshold_postings=threshold
            )
    union = functools.reduce(DataFrame.unionByName, (
        rel.select(F.lit(name).alias("scorer"), "query_id", "rank", "doc_id", "score")
        for name, rel in rels.items()
    ))
    out = {name: [] for name in rels}
    for r in union.collect():
        out[r["scorer"]].append(tuple(r)[1:])
    return out


def _set_state(state, idx, one_block, multi_block, terms):
    if state == "cold":  # never-queried dictionaries
        idx.termdict = one_block.termdict = TermDictionary()
        multi_block.termdict = TermDictionary()
    if state in ("reset", "cap"):
        reset_query_caches(one_block)
        reset_query_caches(multi_block)
    if state == "cap":  # half the batch's terms held, the bound below any lookup
        half = terms[: len(terms) // 2]
        warm_df_cache(idx, half)
        multi_block.termdict.lookup(multi_block.blocks, half)
        return mock.patch.object(tdmod, "MAX_BYTES", 1)
    return contextlib.nullcontext()


# query i draws from the vocabulary rotated by 2i, so even hypothesis's
# first, minimal batch asks six different terms (the head term first)
batch_of_bags = st.tuples(*(
    st.lists(st.sampled_from(VOCAB[2 * i:] + VOCAB[:2 * i] + [HEAD, ABSENT]),
             min_size=1, max_size=5)
    for i in range(6)
))


# two examples keep the test near 40 s: hypothesis's first, minimal one
# takes the first value of each draw (no fq, start 2), and the seed makes
# the second one draw fq and start 0
@seed(0)
@settings(
    max_examples=2, deadline=None, derandomize=True, database=None,
    suppress_health_check=list(HealthCheck),
)
@given(
    batch=batch_of_bags,
    use_fq=st.sampled_from([False, True]),
    start=st.sampled_from([2, 0]),
)
def test_bag_scorers_equal_oracle(spark, engines, batch, use_fq, start):
    docs, idx, one_block, multi_block, searcher = engines
    allowed = FQ_IDS if use_fq else None
    fq = docs.where("lang = 'x'").select("doc_id") if use_fq else None
    fq_ids = LocalSearcher.prepare_filter(FQ_IDS) if use_fq else None
    queries = [(qid, " ".join(toks)) for qid, toks in enumerate(batch)]
    want = {qid: _page(oracle(Counter(toks), allowed), start) for qid, toks in enumerate(batch)}
    local = {}
    for qid, q in queries:
        local[qid] = searcher.search(q, k=K, allowed_docs=fq_ids, start=start)
        _same(local[qid], want[qid], ("local_searcher", q))
    terms = sorted({t for toks in batch for t in toks})
    for state in ("cold", "warm", "reset", "cap"):
        with _set_state(state, idx, one_block, multi_block, terms):
            scored = _scored(idx, one_block, multi_block, queries, fq, start)
            for name, rows in scored.items():
                for qid, q in queries:
                    got = [(rk, d, s) for q_, rk, d, s in rows if q_ == qid]
                    _same(got, want[qid], (state, name, q))
                    if name != "exploded":  # the one Python BM25 sum
                        assert sorted(got) == local[qid], (state, name, q)
