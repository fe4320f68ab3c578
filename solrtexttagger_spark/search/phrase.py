"""Exact phrase matching over positional postings — the consumer that
justifies storing positions in the index (north star: postings carry
(docID, tf, positions); the reference's tag field omits them,
schema.xml:52-53, because Lucene handles phrases elsewhere).

This module holds the phrase analysis, the slop contract and
phrase_match. The matcher itself is boolean.phrase_docs, the one
implementation every phrase consumer runs: boolean clauses and
multi-word synonyms inside the seg kernel's evaluate_boolean, and
phrase_match / {!complexphrase} through boolean.phrase_relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from solrtexttagger_spark.analysis.core import tokenize
from solrtexttagger_spark.index.build import InvertedIndex


def phrase_terms(phrase: str, lowercase: bool = True) -> list[str]:
    return [
        (w.lower() if lowercase else w)
        for w, _s, _e in [t for t in tokenize(phrase) if t is not None]
    ]


# Slop expands every shifted position into slop+1 window anchors —
# O(slop * positions) rows/memory — so unbounded query input is an OOM
# vector (a careless '"a b"~1000000'); real Solr requests rarely exceed
# ~100. Same contract as MAX_PREFIX_EXPANSIONS: raise, don't silently
# clamp.
MAX_SLOP = 512


def phrase_slops(phrases: list, slops: list[int] | None) -> list[int]:
    """The per-phrase slops of a batch, checked on the driver before any
    plan ships: one per phrase (default all 0), each in [0, MAX_SLOP]."""
    if slops is None:
        return [0] * len(phrases)
    if len(slops) != len(phrases):
        raise ValueError(
            f"slops has {len(slops)} entries for {len(phrases)} phrases"
        )
    for s in slops:
        if int(s) < 0 or int(s) > MAX_SLOP:
            raise ValueError(
                f"slop {s} outside [0, {MAX_SLOP}]: each position "
                "expands to slop+1 window anchors, so unbounded slop is "
                "an executor-memory vector"
            )
    return [int(s) for s in slops]


def phrase_match(index: InvertedIndex, phrase: str) -> DataFrame:
    """Documents containing the exact token phrase.
    Returns (doc_id, n_occurrences), n_occurrences >= 1 (overlapping
    occurrences count apart)."""
    from solrtexttagger_spark.search.boolean import phrase_relation

    toks = tuple(phrase_terms(phrase))
    if not toks:
        raise ValueError("empty phrase")
    return phrase_relation(index, [toks]).select("doc_id", "n_occurrences")
