"""Boolean query semantics against an independent brute-force oracle,
plus the job budgets of the seg-aligned boolean kernel.

LocalSearcher.search_boolean and the distributed boolean paths share one
evaluator (search/boolean.evaluate_boolean), so their parity tests no
longer check the semantics on their own. The oracle here does: it works
from the raw token lists of a seeded corpus (positions, tf, dl, df all
counted here) and from the STRUCTURED clauses the generator draws, not
from the query string, so the engine's parser, expansion and evaluator
are all under test. Every engine entry must equal it: doc ids exact,
scores to 1e-9."""

import json
import math
import random

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from solrtexttagger_spark.index.build import build_index
from solrtexttagger_spark.index.compressed import compress_index
from solrtexttagger_spark.search.boolean import (
    boolean_bm25_topk,
    boolean_matched_scores,
    phrase_relation,
)
from solrtexttagger_spark.search.bm25 import bm25_topk
from solrtexttagger_spark.search.phrase import phrase_match
from solrtexttagger_spark.search.request import solr_query_response, solr_select
from solrtexttagger_spark.search.wand import LocalSearcher, wand_topk
from tests.conftest import _build_jobs

K1, B = 1.2, 0.75
K = 5
VOCAB = [f"w{i}" for i in range(8)]
ABSENT = "zz"
SYNONYM_POOL = {
    "w0": ["w6"],
    "w1": ["w2 w3"],
    "w4": ["w5 w5"],
    "w7": ["w0 w1", "w3"],
}
MULTI_WORD = sorted(t for t, syns in SYNONYM_POOL.items() if any(" " in x for x in syns))


def _corpus():
    rng = random.Random(7)
    weights = [8, 6, 5, 4, 3, 2, 2, 1]
    docs = []
    for d in range(48):
        toks = rng.choices(VOCAB, weights=weights, k=rng.randint(3, 12))
        docs.append((d, " ".join(toks), "x" if d % 3 else "y"))
    return docs


DOCS = _corpus()
TOKENS = {d: text.split() for d, text, _l in DOCS}
FQ_IDS = {d for d, _t, lang in DOCS if lang == "x"}


# --------------------------------------------------------------- oracle


def _phrase_in(toks_doc, toks, slop):
    """Some anchor v with, for every phrase slot i, a position p of
    toks[i] such that v <= p - i <= v + slop; under slop a token
    repeated m times in the phrase needs >= m occurrences in the doc."""
    if slop:
        for t in set(toks):
            if toks_doc.count(t) < toks.count(t):
                return False
    shifted = [
        {p - i for p, w in enumerate(toks_doc) if w == t}
        for i, t in enumerate(toks)
    ]
    lo = -len(toks) - slop
    return any(
        all(any(v <= x <= v + slop for x in s) for s in shifted)
        for v in range(lo, len(toks_doc) + 1)
    )


def _phrase_count(toks_doc, toks):
    """Occurrences of the exact token sequence, overlapping ones apart."""
    n = len(toks)
    return sum(
        1 for p in range(len(toks_doc) - n + 1) if tuple(toks_doc[p:p + n]) == toks
    )


def oracle(clauses, synonyms, allowed=None):
    """{doc_id: score} of the full match set, or ValueError for a query
    the engine must reject (a term both scored and prohibited).
    clauses: [(role, tokens, slop, boost, is_phrase)], role in + - ''."""
    n = len(DOCS)
    dls = {d: len(t) for d, t in TOKENS.items()}
    avgdl = sum(dls.values()) / n

    def df(t):
        return sum(1 for toks in TOKENS.values() if t in toks)

    def contrib(t, d):
        tf = TOKENS[d].count(t)
        if not tf:
            return 0.0
        dft = df(t)
        idf = math.log(1.0 + (n - dft + 0.5) / (dft + 0.5))
        return idf * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dls[d] / avgdl))

    must, should, nots = {}, {}, set()
    must_phrases, not_phrases = [], []
    for role, toks, slop, boost, is_phrase in clauses:
        if not is_phrase:
            if role == "-":
                nots.add(toks[0])
            else:
                d_ = must if role == "+" else should
                d_[toks[0]] = d_.get(toks[0], 0) + boost
        elif role == "-":
            not_phrases.append((toks, slop))
        else:  # bare phrases are MUST; constituents join the MUST terms
            must_phrases.append((toks, slop))
            for t in toks:
                must[t] = must.get(t, 0) + boost
    for t in list(should):
        if t in must:
            must[t] += should.pop(t)
    scored = {**must, **should}
    if set(scored) & nots:
        return ValueError
    bag, gated = dict(scored), {}
    groups = []  # per MUST term: (member terms, member phrases)
    for t, w in scored.items():
        for s in synonyms.get(t, ()):
            st_ = tuple(s.split())
            if len(st_) == 1:
                bag[st_[0]] = bag.get(st_[0], 0) + w
            else:
                gated[st_] = gated.get(st_, 0) + w
    for t in must:
        syns = [tuple(s.split()) for s in synonyms.get(t, ())]
        groups.append((
            {t} | {s[0] for s in syns if len(s) == 1},
            [s for s in syns if len(s) > 1],
        ))
    prohibited = set(nots)
    for t in nots:
        for s in synonyms.get(t, ()):
            st_ = tuple(s.split())
            if len(st_) == 1:
                prohibited.add(st_[0])
            else:
                not_phrases.append((st_, 0))
    if set(bag) & prohibited:
        return ValueError
    out = {}
    for d, toks_doc in TOKENS.items():
        score = sum(w * contrib(t, d) for t, w in bag.items())
        hit = any(t in toks_doc for t in bag)
        for ph, w in gated.items():
            if _phrase_in(toks_doc, ph, 0):
                hit = True
                score += w * sum(contrib(t, d) for t in ph)
        if not hit:
            continue
        if not all(
            any(t in toks_doc for t in terms)
            or any(_phrase_in(toks_doc, ph, 0) for ph in phrases)
            for terms, phrases in groups
        ):
            continue
        if any(t in toks_doc for t in prohibited):
            continue
        if not all(_phrase_in(toks_doc, ph, s) for ph, s in must_phrases):
            continue
        if any(_phrase_in(toks_doc, ph, s) for ph, s in not_phrases):
            continue
        if allowed is not None and d not in allowed:
            continue
        out[d] = score
    return out


def _page(scores, k=K):
    ranked = sorted(scores.items(), key=lambda kv: (-round(kv[1], 9), kv[0]))
    return ranked[:k]


def _same(got, want):
    """[(doc, score)] lists: ids exact, scores to 1e-9."""
    got = sorted(got, key=lambda kv: (-round(kv[1], 9), kv[0]))
    assert [d for d, _s in got] == [d for d, _s in want]
    for (_d, g), (_e, w) in zip(got, want):
        assert g == pytest.approx(w, abs=1e-9)


# ------------------------------------------------------------ generator


def _render(role, toks, slop, boost, is_phrase):
    body = f'"{" ".join(toks)}"' if is_phrase else toks[0]
    if is_phrase and slop:
        body += f"~{slop}"
    if boost != 1:
        body += f"^{boost:g}"
    return role + body


word = st.sampled_from(VOCAB + [ABSENT])
term_clause = st.tuples(
    st.sampled_from(["+", "-", ""]), st.tuples(word), st.just(0),
    st.sampled_from([1, 1, 2, 0.5]), st.just(False),
)
phrase_clause = st.tuples(
    st.sampled_from(["+", "-", ""]),
    st.lists(st.sampled_from(VOCAB[:5]), min_size=2, max_size=3).map(tuple),
    st.integers(0, 2), st.sampled_from([1, 1, 2]), st.just(True),
)
query = st.lists(
    st.one_of(term_clause, term_clause, phrase_clause), min_size=1, max_size=4
)


bag_query = st.lists(
    st.tuples(st.just(""), st.tuples(word), st.just(0), st.just(1), st.just(False)),
    min_size=1, max_size=4,
)


@pytest.fixture(scope="module")
def engines(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string, lang string")
    docs = docs.persist()
    idx = build_index(docs.select("doc_id", "text"), num_segments=4)
    idx.postings.persist().count()
    searcher = LocalSearcher(compress_index(idx, with_positions=True), positions=True)
    yield docs, idx, searcher
    idx.postings.unpersist()
    docs.unpersist()


@pytest.fixture(scope="module")
def positional_blocks(engines):
    """{max_block_postings: compress_index(with_positions=True)}: one
    block per (term, seg) shard, and at most two postings per block."""
    _docs, idx, _s = engines
    return {
        mbp: compress_index(idx, max_block_postings=mbp, with_positions=True)
        for mbp in (None, 2)
    }


@settings(
    max_examples=4, deadline=None, derandomize=True, database=None,
    suppress_health_check=list(HealthCheck),
)
@given(
    batch=st.lists(query, min_size=6, max_size=6),
    syn_keys=st.sets(st.sampled_from(sorted(SYNONYM_POOL))),
    use_fq=st.booleans(),
)
def test_boolean_paths_equal_oracle(engines, batch, syn_keys, use_fq):
    docs, idx, searcher = engines
    synonyms = {t: SYNONYM_POOL[t] for t in sorted(syn_keys)}
    allowed = FQ_IDS if use_fq else None
    fq_docs = docs.where("lang = 'x'").select("doc_id") if use_fq else None
    fq_ids = LocalSearcher.prepare_filter(FQ_IDS) if use_fq else None
    good = []
    for clauses in batch:
        q = " ".join(_render(*c) for c in clauses)
        want = oracle(clauses, synonyms, allowed)
        if want is ValueError:
            with pytest.raises(ValueError):
                searcher.search_boolean(q, k=K, synonyms=synonyms)
            with pytest.raises(ValueError):
                boolean_matched_scores(idx, [(0, q)], synonyms=synonyms)
            continue
        good.append((len(good), q, want))
        got = searcher.search_boolean(
            q, k=K, synonyms=synonyms, allowed_docs=fq_ids
        )
        _same([(d, s) for _r, d, s in got], _page(want))
    if not good:
        return
    queries = [(qid, q) for qid, q, _w in good]
    full = {}
    for r in boolean_matched_scores(
        idx, queries, synonyms=synonyms, allowed_docs=fq_docs
    ).collect():
        full.setdefault(r["query_id"], {})[r["doc_id"]] = r["score"]
    pages = {}
    for r in boolean_bm25_topk(
        idx, queries, k=K, synonyms=synonyms, allowed_docs=fq_docs
    ).collect():
        pages.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q, want in good:
        got = full.get(qid, {})
        assert sorted(got) == sorted(want), q
        for d, s in want.items():
            assert got[d] == pytest.approx(s, abs=1e-9), (q, d)
        _same(pages.get(qid, []), _page(want))
    # the request router, for two queries of the batch, and (the writers
    # take no synonyms) the /select response writer over the same q
    for _qid, q, want in good[:2]:
        params = {"q": q, "rows": K}
        if use_fq:
            params["fq"] = "lang:x"
        rows = solr_select(idx, docs, params, synonyms=synonyms).collect()
        _same([(r["doc_id"], r["score"]) for r in rows], _page(want))
        if synonyms:
            continue
        resp = json.loads(solr_query_response(idx, docs, {**params, "fl": "lang"}))
        assert resp["response"]["numFound"] == len(want), q
        assert [(d["id"], d["score"]) for d in resp["response"]["docs"]] == [
            (d, round(s, 4)) for d, s in _page(want)
        ], q


@settings(
    max_examples=3, deadline=None, derandomize=True, database=None,
    suppress_health_check=list(HealthCheck),
)
@given(
    batch=st.lists(bag_query, min_size=3, max_size=3),
    multi=st.sampled_from(MULTI_WORD),
    syn_keys=st.sets(st.sampled_from(sorted(SYNONYM_POOL))),
    use_fq=st.booleans(),
)
def test_bag_scorers_multiword_synonyms_equal_oracle(
    engines, positional_blocks, batch, multi, syn_keys, use_fq
):
    """The bag scorers run a batch with a multi-word synonym expansion
    as phrase-gated plans in the boolean seg kernel: bm25_topk (both
    strategies) and wand_topk (driver-local and distributed thresholds,
    over one-block and two-postings-per-block positional blocks) all
    equal the oracle, and WAND reports every segment scored. phrase_match
    counts each expansion's occurrences like the oracle, and so does the
    phrase relation over both block layouts."""
    docs, idx, _s = engines
    synonyms = {t: SYNONYM_POOL[t] for t in sorted(syn_keys | {multi})}
    allowed = FQ_IDS if use_fq else None
    fq_docs = docs.where("lang = 'x'").select("doc_id") if use_fq else None
    batch = batch + [[("", (multi,), 0, 1, False)]]  # reaches the expansion
    queries = [
        (qid, " ".join(_render(*c) for c in clauses))
        for qid, clauses in enumerate(batch)
    ]
    want = {qid: _page(oracle(c, synonyms, allowed)) for qid, c in enumerate(batch)}

    def check(rel):
        pages = {}
        for r in rel.collect():
            pages.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        for qid, _q in queries:
            _same(pages.get(qid, []), want[qid])

    for strategy in ("segmented", "exploded"):
        check(bm25_topk(
            idx, queries, k=K, synonyms=synonyms, allowed_docs=fq_docs,
            strategy=strategy,
        ))
    for mbp, cix in positional_blocks.items():
        for thr in (100_000, 0):
            stats = {}
            check(wand_topk(
                cix, queries, k=K, synonyms=synonyms, allowed_docs=fq_docs,
                local_threshold_postings=thr, prune_stats=stats,
            ))
            assert stats["segments_scored"] == stats["segments_total"] > 0, (mbp, thr)
    phrases = sorted({tuple(x.split()) for t in synonyms for x in synonyms[t] if " " in x})
    want_occ = {
        (pid, d): _phrase_count(t, toks)
        for pid, toks in enumerate(phrases) for d, t in TOKENS.items()
        if _phrase_count(t, toks)
    }
    got_occ = {
        (pid, r["doc_id"]): r["n_occurrences"]
        for pid, toks in enumerate(phrases)
        for r in phrase_match(idx, " ".join(toks)).collect()
    }
    assert got_occ == want_occ
    for mbp, cix in positional_blocks.items():  # the same matcher over blocks
        got_occ = {
            (r["phrase_id"], r["doc_id"]): r["n_occurrences"]
            for r in phrase_relation(cix, phrases).collect()
        }
        assert got_occ == want_occ, mbp


def test_oracle_phrase_semantics():
    """The oracle's phrase rule on hand-checked cases."""
    assert _phrase_in(["a", "b"], ("a", "b"), 0)
    assert not _phrase_in(["b", "a"], ("a", "b"), 1)
    assert _phrase_in(["b", "a"], ("a", "b"), 2)
    assert _phrase_in(["a", "x", "b"], ("a", "b"), 1)
    assert not _phrase_in(["a"], ("a", "a"), 1)
    assert _phrase_in(["a", "a"], ("a", "a"), 0)


# ---------------------------------------------------------- job budgets


def test_building_runs_no_job(spark, engines):
    """Building the relation runs no Spark job on a cold df cache, even
    with several phrase clauses (required, prohibited, synonym-gated)."""
    from solrtexttagger_spark.search.wand import reset_query_caches

    _docs, idx, _s = engines
    reset_query_caches(idx)
    rel, jobs = _build_jobs(spark, lambda: boolean_matched_scores(
        idx, [(0, '+"w0 w1" w2 -"w3 w4"~1'), (1, 'w7 -w5')],
        synonyms={"w7": ["w0 w1"]}, warm_df=False,
    ))
    assert jobs == 0
    assert rel.collect()


def test_warm_select_job_budget(spark, engines):
    """A warm solr_select of the benchmark's request shape (required
    phrase, optional and prohibited term, fq) runs at most 6 Spark jobs,
    and its plan evaluates every clause in one seg-aligned cogroup."""
    docs, idx, _s = engines
    params = {"q": '+"w0 w1" w2 -w5', "fq": "lang:x", "rows": K}
    solr_select(idx, docs, params).collect()  # fills the df cache
    rows, jobs = _build_jobs(spark, lambda: solr_select(idx, docs, params).collect())
    assert jobs <= 6, jobs
    want = oracle(
        [("+", ("w0", "w1"), 0, 1, True), ("", ("w2",), 0, 1, False),
         ("-", ("w5",), 0, 1, False)],
        {}, FQ_IDS,
    )
    _same([(r["doc_id"], r["score"]) for r in rows], _page(want, K))
    plan = boolean_matched_scores(
        idx, [(0, params["q"])], allowed_docs=docs.where("lang = 'x'")
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapCoGroupsInPandas") == 1
    assert "LeftAnti" not in plan
