"""Phrase matching via positional postings vs a brute-force text oracle."""

import random

import pytest

from solrtexttagger_spark.index.build import build_index
from solrtexttagger_spark.search.phrase import phrase_match, phrase_terms


def brute_count(text: str, phrase: str) -> int:
    padded = " " + text + " "
    needle = " " + phrase + " "
    n, off = 0, 0
    while True:
        i = padded.find(needle, off)
        if i < 0:
            return n
        n += 1
        off = i + 1


@pytest.fixture(scope="module")
def corpus(spark):
    rng = random.Random(5)
    words = [f"w{i}" for i in range(8)]
    docs = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(3, 40))))
        for i in range(120)
    ]
    docs.append((999, "w0 w1 w0 w1 w0"))  # overlapping occurrences
    df = spark.createDataFrame(docs, "doc_id long, text string")
    idx = build_index(df, num_segments=4)
    idx.postings.persist().count()
    return docs, idx


@pytest.mark.parametrize("phrase", ["w0 w1", "w1 w0 w1", "w3", "w0 w0"])
def test_phrase_match_vs_brute_force(spark, corpus, phrase):
    docs, idx = corpus
    got = {r["doc_id"]: r["n_occurrences"] for r in phrase_match(idx, phrase).collect()}
    exp = {d: brute_count(t, phrase) for d, t in docs if brute_count(t, phrase) > 0}
    assert got == exp


def test_phrase_terms_analysis():
    assert phrase_terms("Hash  JOIN!") == ["hash", "join"]


def test_use_split_drops_empty_tokens(spark):
    """The pure-JVM split path builds the tokenizer path's postings: the
    empty strings a doubled, leading or trailing space splits off count
    toward neither positions nor dl, so the phrase still matches."""
    docs = spark.createDataFrame(
        [(0, "a  b"), (1, "a c"), (2, " b a  c ")], "doc_id long, text string"
    )

    def rows(idx):
        return sorted(
            (r["term"], p["doc_id"], p["tf"], p["dl"], tuple(p["positions"]))
            for r in idx.postings.collect()
            for p in r["postings"]
        )

    split = build_index(docs, num_segments=2, use_split=True)
    tokenized = build_index(docs, num_segments=2)
    assert rows(split) == rows(tokenized)
    assert ("b", 0, 1, 2, (1,)) in rows(split)
    for idx in (split, tokenized):
        got = {r["doc_id"]: r["n_occurrences"] for r in phrase_match(idx, "a b").collect()}
        assert got == {0: 1}


def test_no_array_intersect_in_search():
    """boolean.phrase_docs is the one phrase matcher: no module under
    search/ intersects position arrays on the JVM."""
    import ast
    from pathlib import Path

    search = Path(__file__).resolve().parent.parent / "solrtexttagger_spark" / "search"
    offenders = []
    for path in sorted(search.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if (
                (isinstance(node, ast.Attribute) and node.attr == "array_intersect")
                or (isinstance(node, ast.Name) and node.id == "array_intersect")
                or (isinstance(node, ast.Constant) and isinstance(node.value, str)
                    and "array_intersect(" in node.value)
            ):
                offenders.append(f"{path.name}:{node.lineno}")
    assert not offenders, offenders


def test_phrase_match_job_budget(spark, corpus):
    """Collecting phrase_match runs at most 3 Spark jobs — what the
    broadcast-join contiguity fold it replaced ran (measured on the
    driver's sf0.1 index): the seg exchange and the kernel's result."""
    from tests.conftest import _build_jobs

    _docs, idx = corpus
    phrase_match(idx, "w0 w1").collect()
    rows, jobs = _build_jobs(spark, lambda: phrase_match(idx, "w0 w1").collect())
    assert rows and jobs <= 3, jobs
