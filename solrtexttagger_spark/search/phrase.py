"""Exact phrase matching over positional postings — the consumer that
justifies storing positions in the index (north star: postings carry
(docID, tf, positions); the reference's tag field omits them,
schema.xml:52-53, because Lucene handles phrases elsewhere).

All JVM-side, ONE pass over the postings for ANY number of phrases:
the (phrase_id, term_idx, term) rows broadcast into the postings scan
(same shape as BM25 query terms), positions are shifted by the term's
offset in its phrase so adjacency becomes set intersection, and one
groupBy(phrase_id, doc_id) folds the intersection with higher-order
array functions:

  occ_positions(t0..tk, doc) = positions(t0) ∩ (positions(t1) - 1)
                                             ∩ ... ∩ (positions(tk) - k)

A document matches iff every term_idx is present AND the fold is
non-empty; n_occurrences = its size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from solrtexttagger_spark.analysis.core import tokenize
from solrtexttagger_spark.index.build import InvertedIndex
from solrtexttagger_spark.plans import local_frame
from solrtexttagger_spark.search.bm25 import join_query_terms


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


def _slop_map(phrases: list[str], slops: list[int] | None) -> dict[int, int]:
    if slops is None:
        return {}
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
    return {pid: int(s) for pid, s in enumerate(slops)}


def _dup_min_occ(rows: list[tuple[int, int, str]]) -> dict[tuple[int, int], int]:
    """{(phrase_id, term_idx): multiplicity} for phrase terms that repeat
    WITHIN their phrase (multiplicity > 1 only — phrases without repeats
    contribute nothing). Feeds _fold_phrases' repeated-term check:
    Lucene's SloppyPhraseMatcher repeats-handling maps each phrase slot
    to a DISTINCT token position, so a doc must hold at least
    multiplicity distinct positions of a repeated term to match."""
    from collections import Counter

    counts: Counter = Counter()
    for pid, _idx, term in rows:
        counts[(pid, term)] += 1
    return {
        (pid, idx): counts[(pid, term)]
        for pid, idx, term in rows
        if counts[(pid, term)] > 1
    }


def _phrase_rows(phrases: list[str], lowercase: bool):
    rows: list[tuple[int, int, str]] = []
    plens: dict[int, int] = {}
    for pid, ph in enumerate(phrases):
        terms = phrase_terms(ph, lowercase)
        if not terms:
            raise ValueError(f"empty phrase at index {pid}")
        plens[pid] = len(terms)
        rows.extend((pid, i, t) for i, t in enumerate(terms))
    return rows, plens


def multi_phrase_match(
    index: InvertedIndex,
    phrases: list[str],
    *,
    lowercase: bool = True,
    slops: list[int] | None = None,
) -> DataFrame:
    """Match MANY phrases in one postings pass.
    Returns (phrase_id, doc_id, n_occurrences), phrase_id = position in
    ``phrases``, n_occurrences >= 1. One shuffle total (the
    per-(phrase, doc) fold), regardless of phrase count — the batch shape
    the boolean-query phrase clauses need.

    ``slops`` (aligned with ``phrases``, default all 0) gives each
    phrase its Lucene slop: a doc matches when the offset-shifted
    positions fit a window of width <= slop — SloppyPhraseMatcher's
    end-start criterion, exact Lucene semantics for two-term phrases of
    DISTINCT terms (span == move count) and the span relaxation of
    Lucene's move-counting for longer ones (see _fold_phrases).
    Repeated-term sloppy phrases ('"a a"~1') additionally require the
    doc to hold >= multiplicity distinct positions of the repeated term
    (Lucene's repeats-handling necessary condition; the remaining
    within-window relaxation is documented in _fold_phrases). For sloppy
    phrases n_occurrences counts distinct qualifying window anchors
    (>= 1 iff matched), not Lucene's weighted sloppy freq."""
    spark = index.postings.sparkSession
    rows, plens = _phrase_rows(phrases, lowercase)
    qdf = local_frame(spark, rows, "phrase_id int, term_idx int, term string")

    # one postings scan: phrase terms broadcast in; a doc lives in exactly
    # one segment, so each (phrase_id, term_idx, doc_id) arrives once
    ex = (
        index.postings.join(F.broadcast(qdf), "term")
        .select("phrase_id", "term_idx", F.explode("postings").alias("p"))
        .select(
            "phrase_id",
            "term_idx",
            F.col("p.doc_id").alias("doc_id"),
            F.transform("p.positions", lambda x: x - F.col("term_idx")).alias(
                "shifted"
            ),
        )
    )
    return _fold_phrases(
        ex, plens, slops=_slop_map(phrases, slops),
        min_occ=_dup_min_occ(rows),
    )


def multi_phrase_match_scored(
    index: InvertedIndex,
    phrases: list[str],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    lowercase: bool = True,
    slops: list[int] | None = None,
) -> DataFrame:
    """multi_phrase_match plus per-doc constituent scoring in the SAME
    postings pass: (phrase_id, doc_id, n_occurrences, unit_score) where
    ``unit_score`` is the sum over the phrase's constituent token
    OCCURRENCES (term_idx multiplicity) of that term's full BM25
    contribution at qtf=1 — the gated-scoring relation behind multi-word
    synonym graph semantics (Lucene SynonymGraphFilter: "ny" expands to
    +(ny OR "new york"); the phrase member contributes its constituents'
    scores ONLY where the words are contiguous — this repo's documented
    "quotes filter, constituents score" model). One scan, one shuffle,
    regardless of phrase count."""
    rows, plens = _phrase_rows(phrases, lowercase)
    n = float(index.doc_count)
    avgdl = float(index.avgdl) if index.avgdl else 1.0
    idf = F.log(
        F.lit(1.0) + (F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    ex = (
        join_query_terms(
            index, index.postings, [(t, pid, idx) for pid, idx, t in rows],
            "term string, phrase_id int, term_idx int",
        )
        .select(
            "phrase_id", "term_idx", idf.alias("idf"),
            F.explode("postings").alias("p"),
        )
    )
    tf = F.col("p.tf").cast("double")
    dl = F.col("p.dl").cast("double")
    ex = ex.select(
        "phrase_id",
        "term_idx",
        F.col("p.doc_id").alias("doc_id"),
        F.transform("p.positions", lambda x: x - F.col("term_idx")).alias("shifted"),
        (
            F.col("idf")
            * (tf * (k1 + 1.0))
            / (tf + k1 * (1.0 - b + b * dl / avgdl))
        ).alias("f"),
    )
    return _fold_phrases(
        ex, plens, scored=True, slops=_slop_map(phrases, slops),
        min_occ=_dup_min_occ(rows),
    )


def _fold_phrases(
    ex: DataFrame,
    plens: dict[int, int],
    *,
    scored: bool = False,
    slops: dict[int, int] | None = None,
    min_occ: dict[tuple[int, int], int] | None = None,
) -> DataFrame:
    """The per-(phrase, doc) contiguity fold shared by the uncompressed
    and compressed phrase paths. ``ex``: (phrase_id, term_idx, doc_id,
    shifted array<long>) with ONE row per (phrase, term, doc); when
    ``scored``, also an ``f`` column (that constituent occurrence's BM25
    contribution at qtf=1) summed into ``unit_score`` per matched doc.

    SLOP (``slops``: {phrase_id: slop}, missing = 0): Lucene's
    SloppyPhraseMatcher matches when the offset-shifted positions of all
    phrase terms fit inside a window of width <= slop (its end - start
    criterion; for two-term phrases the window span EQUALS the
    move-count — "a b"~1 matches "a x b" and "b a" needs ~2 — and for
    3+ terms span <= sum-of-moves, so this matches a superset of
    Lucene's already-approximate greedy matcher; deviation documented in
    multi_phrase_match). Implementation keeps the ONE intersect fold:
    each shifted position p expands to the window anchors
    sequence(p - slop, p) BEFORE the fold — an anchor v survives the
    cross-term intersection iff every term has a position in
    [v, v + slop], i.e. iff a qualifying window exists. slop 0 expands
    to [p] (plan-identical to the exact path, which skips the rewrite
    entirely). Cost is O((slop + 1) * positions) rows into the same
    shuffle — bounded by the query's slop (<= MAX_SLOP, raised in
    _slop_map), never the corpus.

    REPEATED TERMS (``min_occ``: {(phrase_id, term_idx): multiplicity}
    for within-phrase repeats, from _dup_min_occ): under slop > 0 the
    window-anchor expansion alone would let '"a a"~1' match a doc with a
    SINGLE 'a' (both instances' windows cover the same position), where
    Lucene's SloppyPhraseMatcher repeats-handling requires each phrase
    slot to take a DISTINCT token position. The check here is Lucene's
    necessary condition — the doc must hold >= multiplicity distinct
    positions of a repeated term (filtered BEFORE the window expansion,
    where size(shifted) is the true occurrence count) — but not its full
    sufficiency: the distinct positions are not forced inside one
    window, so '"a a"~2' still matches "a x x x a" (span 3) that Lucene
    rejects. slop-0 repeats need no check: the exact intersection
    already demands consecutive distinct positions."""
    if min_occ and slops and any(s > 0 for s in slops.values()):
        need = {
            (pid, idx): m
            for (pid, idx), m in min_occ.items()
            if slops.get(pid, 0) > 0
        }
        if need:
            # scalar map key: term_idx is bounded by the phrase length,
            # far below the 2**20 packing stride
            mmap = F.create_map(
                *[
                    F.lit(x)
                    for (pid, idx), m in sorted(need.items())
                    for x in (pid * (1 << 20) + idx, m)
                ]
            )
            key = (
                F.col("phrase_id").cast("long") * (1 << 20)
                + F.col("term_idx")
            )
            ex = ex.where(
                F.size("shifted") >= F.coalesce(mmap[key], F.lit(1))
            )
    if slops and any(s > 0 for s in slops.values()):
        slop_map = F.create_map(
            *[F.lit(x) for kv in slops.items() for x in kv]
        )
        s_col = F.coalesce(slop_map[F.col("phrase_id")], F.lit(0))
        ex = ex.withColumn(
            "shifted",
            F.array_distinct(
                F.flatten(
                    F.transform(
                        "shifted", lambda p: F.sequence(p - s_col, p)
                    )
                )
            ),
        )
    aggs = [
        F.count("*").alias("nt"),
        F.array_sort(F.collect_list(F.struct("term_idx", "shifted"))).alias("arrs"),
    ]
    if scored:
        aggs.append(F.sum("f").alias("unit_score"))
    g = ex.groupBy("phrase_id", "doc_id").agg(*aggs)
    plen_map = F.create_map(*[F.lit(x) for kv in plens.items() for x in kv])
    occ = F.aggregate(
        F.slice(F.col("arrs"), F.lit(2), F.size("arrs") - 1),
        F.element_at(F.col("arrs"), 1)["shifted"],
        lambda acc, s: F.array_intersect(acc, s["shifted"]),
    )
    cols = ["phrase_id", "doc_id", F.size(occ).alias("n_occurrences")] + (
        ["unit_score"] if scored else []
    )
    return (
        g.where(F.col("nt") == plen_map[F.col("phrase_id")])
        .select(*cols)
        .where(F.col("n_occurrences") > 0)
    )


def multi_phrase_match_compressed(
    cindex,
    phrases: list[str],
    *,
    lowercase: bool = True,
    slops: list[int] | None = None,
) -> DataFrame:
    """multi_phrase_match over a COMPRESSED index built with
    compress_index(with_positions=True) — the compressed-only deployment
    (at scale only the blocks table is persisted; the uncompressed
    postings are a build intermediate).

    Same plan shape: the (phrase_id, term_idx, term) rows broadcast into
    the blocks scan (only the phrase terms' blocks are read), one
    Arrow-batched decode pass turns each block into (phrase_id, term_idx,
    doc_id, shifted) rows, then the same one-shuffle JVM fold as the
    uncompressed path. Returns (phrase_id, doc_id, n_occurrences)."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from solrtexttagger_spark.index.compression import (
        decode_positions_block,
        decode_postings_block,
    )

    if "pos_block" not in cindex.blocks.columns:
        raise ValueError(
            "compressed phrase match needs pos_block rows — build with "
            "compress_index(with_positions=True)"
        )
    spark = cindex.blocks.sparkSession
    rows, plens = _phrase_rows(phrases, lowercase)
    qdf = local_frame(spark, rows, "phrase_id int, term_idx int, term string")
    joined = cindex.blocks.join(F.broadcast(qdf), "term").select(
        "phrase_id", "term_idx", "block", "pos_block"
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_p, out_t, out_d, out_s = [], [], [], []
            for pid, tix, blk, pblk in zip(
                pdf["phrase_id"], pdf["term_idx"], pdf["block"], pdf["pos_block"]
            ):
                doc_ids, _tf, _dl = decode_postings_block(bytes(blk))
                counts, flat = decode_positions_block(bytes(pblk))
                shifted = flat - int(tix)
                for d, parr in zip(
                    doc_ids, np.split(shifted, np.cumsum(counts))[:-1]
                ):
                    out_p.append(int(pid))
                    out_t.append(int(tix))
                    out_d.append(int(d))
                    out_s.append(parr.tolist())
            yield pd.DataFrame(
                {
                    "phrase_id": pd.Series(out_p, dtype="int32"),
                    "term_idx": pd.Series(out_t, dtype="int32"),
                    "doc_id": pd.Series(out_d, dtype="int64"),
                    "shifted": pd.Series(out_s, dtype=object),
                }
            )

    ex = joined.mapInPandas(
        decode,
        schema="phrase_id int, term_idx int, doc_id long, shifted array<long>",
    )
    return _fold_phrases(
        ex, plens, slops=_slop_map(phrases, slops),
        min_occ=_dup_min_occ(rows),
    )


def multi_phrase_match_scored_compressed(
    cindex,
    phrases: list[str],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    lowercase: bool = True,
    slops: list[int] | None = None,
) -> DataFrame:
    """multi_phrase_match_scored over a COMPRESSED positional index —
    (phrase_id, doc_id, n_occurrences, unit_score), same contract as the
    uncompressed twin. One blocks scan (phrase terms' blocks only, global
    df broadcast-joined on), one Arrow decode pass emitting shifted
    positions AND the per-occurrence BM25 contribution, then the shared
    contiguity fold."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from solrtexttagger_spark.index.compression import (
        decode_positions_block,
        decode_postings_block,
    )

    if "pos_block" not in cindex.blocks.columns:
        raise ValueError(
            "compressed phrase match needs pos_block rows — build with "
            "compress_index(with_positions=True)"
        )
    rows, plens = _phrase_rows(phrases, lowercase)
    n = float(cindex.doc_count)
    avgdl = float(cindex.avgdl) if cindex.avgdl else 1.0
    k1_, b_ = float(k1), float(b)
    joined = join_query_terms(
        cindex, cindex.blocks, [(t, pid, idx) for pid, idx, t in rows],
        "term string, phrase_id int, term_idx int",
    ).select("phrase_id", "term_idx", "block", "pos_block", "df")

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        for pdf in batches:
            out_p, out_t, out_d, out_s, out_f = [], [], [], [], []
            for pid, tix, blk, pblk, df_t in zip(
                pdf["phrase_id"], pdf["term_idx"], pdf["block"],
                pdf["pos_block"], pdf["df"],
            ):
                doc_ids, tf, dl = decode_postings_block(bytes(blk))
                idf = math.log(1.0 + (n - float(df_t) + 0.5) / (float(df_t) + 0.5))
                tff = tf.astype(np.float64)
                dlf = dl.astype(np.float64)
                fvals = idf * tff * (k1_ + 1.0) / (
                    tff + k1_ * (1.0 - b_ + b_ * dlf / avgdl)
                )
                counts, flat = decode_positions_block(bytes(pblk))
                shifted = flat - int(tix)
                for d, parr, fv in zip(
                    doc_ids, np.split(shifted, np.cumsum(counts))[:-1], fvals
                ):
                    out_p.append(int(pid))
                    out_t.append(int(tix))
                    out_d.append(int(d))
                    out_s.append(parr.tolist())
                    out_f.append(float(fv))
            yield pd.DataFrame(
                {
                    "phrase_id": pd.Series(out_p, dtype="int32"),
                    "term_idx": pd.Series(out_t, dtype="int32"),
                    "doc_id": pd.Series(out_d, dtype="int64"),
                    "shifted": pd.Series(out_s, dtype=object),
                    "f": pd.Series(out_f, dtype="float64"),
                }
            )

    ex = joined.mapInPandas(
        decode,
        schema=(
            "phrase_id int, term_idx int, doc_id long, "
            "shifted array<long>, f double"
        ),
    )
    return _fold_phrases(
        ex, plens, scored=True, slops=_slop_map(phrases, slops),
        min_occ=_dup_min_occ(rows),
    )


def phrase_match(index: InvertedIndex, phrase: str) -> DataFrame:
    """Documents containing the exact token phrase.
    Returns (doc_id, n_occurrences), n_occurrences >= 1."""
    if not phrase_terms(phrase):
        raise ValueError("empty phrase")
    return multi_phrase_match(index, [phrase]).select("doc_id", "n_occurrences")
