"""{!complexphrase}: wildcard/prefix/fuzzy/range slots inside phrases,
vs a brute-force oracle that mirrors the documented window-anchor
semantics (the same oracle discipline as test_phrase)."""

import random
import re

import pytest
from pyspark.sql import functions as F

from solrtexttagger_spark.index.build import build_index
from solrtexttagger_spark.search.complexphrase import (
    complex_phrase_match,
    parse_complex_phrase,
)

VOCAB = ["alpha", "alps", "alto", "beta", "bets", "bet0", "gamma", "w0", "w1"]


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def tok_match(tok: str, slot) -> bool:
    if isinstance(slot, list):
        return any(tok_match(tok, m) for m in slot)
    m = re.match(r"^(\w+)~([12])$", slot)
    if m:
        return _lev(tok, m.group(1)) <= int(m.group(2))
    m = re.match(r"^([\[{])(\S+) TO (\S+)([\]}])$", slot)
    if m:
        lo_ok = tok >= m.group(2) if m.group(1) == "[" else tok > m.group(2)
        hi_ok = tok <= m.group(3) if m.group(4) == "]" else tok < m.group(3)
        return lo_ok and hi_ok
    if "*" in slot or "?" in slot:
        rx = "^" + "".join(
            ".*" if c == "*" else "." if c == "?" else re.escape(c)
            for c in slot
        ) + "$"
        return re.match(rx, tok) is not None
    return tok == slot


def brute(tokens: list[str], phrase: str, slop: int = 0) -> int:
    slots = parse_complex_phrase(phrase)
    if slop:  # a literal repeated m times needs m positions in the doc
        for lit in {s for s in slots if isinstance(s, str)}:
            if tokens.count(lit) < slots.count(lit) and slots.count(lit) > 1:
                return 0
    sets = []
    for i, slot in enumerate(slots):
        s = {p - i for p, t in enumerate(tokens) if tok_match(t, slot)}
        if not s:
            return 0
        sets.append({v for p in s for v in range(p - slop, p + 1)})
    return len(set.intersection(*sets))


@pytest.fixture(scope="module")
def corpus(spark):
    rng = random.Random(11)
    docs = [
        (i, " ".join(rng.choice(VOCAB) for _ in range(rng.randint(3, 30))))
        for i in range(150)
    ]
    docs.append((900, "alpha w0 alps w0 alto gamma"))
    docs.append((901, "beta bets bet0 beta"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    idx = build_index(df, num_segments=4)
    idx.postings.persist().count()
    yield docs, idx
    idx.postings.unpersist()


class TestParse:
    def test_slots(self):
        assert parse_complex_phrase("alp* (w0 w1) beta") == [
            "alp*", ["w0", "w1"], "beta"]
        assert parse_complex_phrase("[alpha TO alto] w0") == [
            "[alpha TO alto]", "w0"]

    def test_unbalanced_raises(self):
        with pytest.raises(ValueError, match="unbalanced"):
            parse_complex_phrase("(w0 w1")

    def test_empty_raises(self):
        with pytest.raises(ValueError, match="empty"):
            parse_complex_phrase("   ")
        with pytest.raises(ValueError, match="empty"):
            parse_complex_phrase("() w0")


PHRASES = [
    "alp* w0",
    "(w0 w1) beta",
    "al?? gamma",
    "beta~1 beta",
    "[alpha TO alto] w0",
    "alpha alps",
]


class TestMatch:
    def test_vs_brute_force(self, corpus):
        docs, idx = corpus
        got = {
            (r["phrase_id"], r["doc_id"]): r["n_occurrences"]
            for r in complex_phrase_match(idx, PHRASES).collect()
        }
        exp = {}
        for pid, ph in enumerate(PHRASES):
            for d, t in docs:
                n = brute(t.split(), ph)
                if n:
                    exp[(pid, d)] = n
        assert got == exp

    def test_slop_vs_brute_force(self, corpus):
        docs, idx = corpus
        phrases = ["alp* gamma", "(alpha alto) w0"]
        slops = [2, 1]
        got = {
            (r["phrase_id"], r["doc_id"]): r["n_occurrences"]
            for r in complex_phrase_match(
                idx, phrases, slops=slops).collect()
        }
        exp = {}
        for pid, (ph, sl) in enumerate(zip(phrases, slops)):
            for d, t in docs:
                n = brute(t.split(), ph, sl)
                if n:
                    exp[(pid, d)] = n
        assert got == exp

    def test_dead_slot_matches_nothing(self, corpus):
        _, idx = corpus
        out = complex_phrase_match(idx, ["zz* w0", "alpha alps"]).collect()
        assert {r["phrase_id"] for r in out} == {1}

    def test_pure_literal_agrees_with_multi_phrase(self, corpus):
        """No markers at all: complex path == phrase_match row for row,
        phrase by phrase (they share the phrase relation — this pins the
        slot preamble)."""
        from solrtexttagger_spark.search.phrase import phrase_match

        _, idx = corpus
        phrases = ["alpha alps", "w0 w1"]
        a = sorted(
            tuple(r) for r in complex_phrase_match(idx, phrases).collect()
        )
        b = sorted(
            (pid, r["doc_id"], r["n_occurrences"])
            for pid, ph in enumerate(phrases)
            for r in phrase_match(idx, ph).collect()
        )
        assert a == b and a

    def test_literal_repeat_equals_boolean_phrase(self, spark, corpus):
        """A literal repeated in a sloppy phrase takes the boolean
        clause's repeats check: {!complexphrase}"w0 w0"~1 matches the
        docs +"w0 w0"~1 matches, never a doc holding one w0."""
        from solrtexttagger_spark.search.boolean import boolean_bm25_topk

        docs, idx = corpus
        got = {
            r["doc_id"]
            for r in complex_phrase_match(idx, ["w0 w0"], slops=[1]).collect()
        }
        want = {
            r["doc_id"]
            for r in boolean_bm25_topk(
                idx, [(0, '+"w0 w0"~1')], k=len(docs), spark=spark
            ).collect()
        }
        assert got == want and got
        assert all(dict(docs)[d].split().count("w0") >= 2 for d in got)

    def test_overflow_guard(self, corpus):
        _, idx = corpus
        with pytest.raises(ValueError, match="maxBooleanClauses"):
            complex_phrase_match(
                idx, ["a* w0"], max_prefix_expansions=1)

    def test_one_seg_kernel_pass(self, corpus):
        """Scale pin: every slot member's term is pushed into ONE postings
        scan, and one pandas group stage (per segment) matches all
        phrases — no join, however many members the slots expanded to."""
        from solrtexttagger_spark.plans import plan_string

        _, idx = corpus
        plan = plan_string(complex_phrase_match(idx, PHRASES))
        assert len(re.findall(r"^\(\d+\) FlatMapGroupsInPandas", plan, re.M)) == 1
        assert "Join" not in plan
        assert "IN (alpha,alps," in plan, plan


class TestRouter:
    def test_routed_complexphrase(self, spark, sf_dir):
        """{!complexphrase} through solr_select: constant-score match
        set == complex_phrase_match doc ids, fq applies."""
        from solrtexttagger_spark.search.request import solr_select

        docs = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .where(F.col("doc_id") < 300)
        )
        idx = build_index(docs.select("doc_id", "text"), num_segments=4)
        want = {
            r["doc_id"]
            for r in complex_phrase_match(idx, ["merge sc*"]).collect()
        }
        assert want, "fixture phrase must match something"
        page = solr_select(idx, docs, {
            "q": '{!complexphrase}"merge sc*"',
            "sort": "doc_id asc", "rows": str(len(want) + 10),
        }, spark=spark)
        got = {r["doc_id"] for r in page.collect()}
        assert got == want

        fq_page = solr_select(idx, docs, {
            "q": '{!complexphrase}"merge sc*"', "fq": "lang:en",
            "sort": "doc_id asc", "rows": "500",
        }, spark=spark)
        en = {
            r["doc_id"]
            for r in docs.where("lang = 'en'").select("doc_id").collect()
        }
        assert {r["doc_id"] for r in fq_page.collect()} == want & en

    def test_in_order_false_raises(self, spark, sf_dir):
        from solrtexttagger_spark.search.request import solr_select

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        idx = build_index(
            docs.select("doc_id", "text").limit(50), num_segments=2)
        with pytest.raises(ValueError, match="inOrder"):
            solr_select(idx, docs, {
                "q": '{!complexphrase inOrder=false}"a b"'})


class TestGroupMarkers:
    def test_markers_inside_groups_expand(self, corpus):
        """(w0 alp*) gamma: the group's wildcard member rewrites
        against the vocabulary (Lucene expands group members too) —
        docs with 'alps gamma' must match."""
        docs, idx = corpus
        got = {
            (r["phrase_id"], r["doc_id"]): r["n_occurrences"]
            for r in complex_phrase_match(
                idx, ["(w0 alp*) gamma", "(zz* w1) beta"]).collect()
        }
        exp = {}
        for pid, ph in enumerate(["(w0 alp*) gamma", "(zz* w1) beta"]):
            for d, t in docs:
                n = brute(t.split(), ph)
                if n:
                    exp[(pid, d)] = n
        assert got == exp
        # sanity: the group phrase matched something, and the marker
        # arm can only ADD over the literal-only group
        assert any(p == 0 for (p, d) in got)
        literal_only = {
            r["doc_id"]
            for r in complex_phrase_match(idx, ["(w0) gamma"]).collect()
        }
        assert literal_only <= {d for (p, d) in got if p == 0}

    def test_group_of_only_dead_markers_kills_phrase(self, corpus):
        _, idx = corpus
        out = complex_phrase_match(
            idx, ["(zz* qq*) gamma", "alpha alps"]).collect()
        assert {r["phrase_id"] for r in out} == {1}


def test_group_with_suffix_raises():
    """'(john jon)~1' must raise, not fall through to the literal branch
    and silently match a nonexistent term (r10, from r9 ADVICE)."""
    import pytest

    with pytest.raises(ValueError, match="group syntax"):
        parse_complex_phrase('"(john jon)~1 smith"'[1:-1])
