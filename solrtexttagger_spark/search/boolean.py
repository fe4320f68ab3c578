"""Boolean keyword search — Solr/Lucene query-syntax subset over the
inverted index (SURVEY.md §2.4 D1: the reference's `/select` handler
accepts `+required -prohibited optional` clauses; EmbeddedSolrNoSerialize-
Test.java:112-115 testSearch `q=name:Boston` is the trivial fielded case).

Clause syntax:
  +term          MUST      (doc must contain it)
  -term          MUST_NOT  (doc must not contain it)
   term          SHOULD    (optional; contributes to score; if a query has
                            no MUST clauses, at least one SHOULD must match)
  field:term     fielded clause — this engine indexes ONE text field, so
                 the prefix is validated (against ``field`` when given,
                 else accepted) and stripped; `q=name:Boston` then means
                 `q=boston`, matching the reference's single-tag-field use
  +"exact phrase"  MUST phrase: the doc must contain the tokens
                 CONTIGUOUSLY (shifted-position intersection,
                 phrase_docs); its constituent terms
                 also join the MUST scoring terms (qtf 1 each), so the
                 score equals the unquoted parse of the same text and the
                 quotes only ADD the contiguity filter
  -"exact phrase"  MUST_NOT phrase: excludes docs containing the
                 contiguous tokens (constituent terms are NOT prohibited
                 individually)
  "exact phrase"   promoted to MUST (documented simplification: an
                 unscored optional contiguity clause has no effect in this
                 model, and Lucene's interestingness-weighted optional
                 phrases are out of scope)
  term~ / term~1 / term~2   FUZZY clause (Lucene FuzzyQuery, default
                 distance 2): rewritten against the live vocabulary into
                 a group of all terms within the levenshtein bound,
                 df-desc capped at maxExpansions=50 (Lucene's default),
                 with the filter AND the cap both JVM-side (bounded
                 levenshtein + per-marker TakeOrdered, <=50 rows per
                 marker ever reach the driver); group/score/prohibition
                 semantics identical to a synonym expansion. Members
                 score at the clause weight (similarity-decayed fuzzy
                 boosts out of scope, pinned by test).
  term*          PREFIX wildcard clause (Lucene PrefixQuery): rewrite
                 over ALL startswith matches — PrefixQuery's
                 constant-score rewrite has no TopTerms cap; past
                 MAX_PREFIX_EXPANSIONS (Solr maxBooleanClauses
                 analogue, 1024) it RAISES rather than silently
                 dropping matches Solr would return. A marker with no
                 vocabulary match under + matches nothing, like an empty
                 Lucene rewrite.
  te?m / t*m     WILDCARD clause (Lucene WildcardQuery, round 7): ? =
                 one char, * = any run, matched JVM-side as an anchored
                 rlike prefiltered by the pattern's literal prefix;
                 constant-score rewrite (all matches) with the same
                 maxBooleanClauses guard. Leading wildcards RAISE
                 (Solr's allowLeadingWildcard=false default — without a
                 reversed-term index they scan the whole vocabulary).
  [lo TO hi]     TERM RANGE clause (Lucene TermRangeQuery, round 7):
  {lo TO hi}     inclusive/exclusive bracket pairs may be mixed, * is
                 an open endpoint; ordered string-range predicates
                 pushed into the term_stats scan; constant-score, same
                 overflow guard.
  term^2.5       query-time BOOST: multiplies the clause's score
                 contribution via the qtf channel (exactly Lucene's
                 boost composition under BM25's qtf-linear sum);
                 ignored on prohibited clauses, composes with markers
                 (sc*^2) and phrases ("a b"^2, "a b"~1^2 — scales the
                 constituents' qtf; the contiguity gate is unchanged).
  "a b"~2        SLOPPY phrase (Lucene SloppyPhraseMatcher, round 7):
                 matches when the offset-shifted positions fit a window
                 of width <= slop — exact move-count semantics for
                 two-term phrases ("b a" needs ~2); for 3+ terms the
                 span criterion admits a superset of Lucene's greedy
                 (itself approximate) matcher. Constituents score as
                 MUST terms exactly like exact phrases; works under -
                 for prohibition.

Score = BM25 sum over the MUST + SHOULD terms present in the doc (same
k1/b/idf as bm25_topk — a pure-OR query is score-identical to it).

Evaluation: ONE implementation of these semantics, evaluate_boolean —
a pure numpy function of one query's BooleanPlan (the parsed, rewritten
and synonym-expanded clauses), the terms' (doc ids, BM25 operands) arrays,
their positions and the global df. It scores the candidates (docs with
any scored term, plus docs reached only through a phrase-gated synonym),
then keeps those that satisfy every MUST group, hold no MUST_NOT term,
hold every MUST phrase and no MUST_NOT phrase. Both engines call it:

- LocalSearcher.search / search_boolean (search/wand.py) over its
  warmed arrays;
- plan_scores, once per index SEGMENT: the postings (or compressed
  blocks) of the plans' vocabulary (scored, prohibited and phrase
  terms; positions only for phrase terms) are scanned once, grouped by
  ``seg`` and handed to a groupBy("seg").applyInPandas kernel with the
  plans and df in a broadcast. A document's postings all live in its
  segment (index.build.seg_of), so each segment's call sees whole
  documents and emits its exact part of the match set, with no
  per-clause joins. boolean_matched_scores feeds it parsed queries;
  segmented bm25_topk feeds it bags, and wand_topk the bags whose
  multi-word synonyms gate their constituents.

phrase_docs is the one phrase matcher: evaluate_boolean calls it, and
phrase_relation runs it per segment for phrase_match and
{!complexphrase}.
"""

from __future__ import annotations

import math
import re
from collections import Counter
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from solrtexttagger_spark.analysis.core import tokenize
from solrtexttagger_spark.index.build import InvertedIndex, seg_of
from solrtexttagger_spark.index.compression import (
    decode_positions_block,
    decode_postings_block,
)
from solrtexttagger_spark.plans import local_frame, term_in
from solrtexttagger_spark.search.bm25 import (
    _SCORE_SCHEMA,
    B,
    K1,
    expand_synonyms_graph,
    global_df,
    rank_window,
    warm_df_cache,
)
from solrtexttagger_spark.search.phrase import (
    MAX_SLOP as _MAX_SLOP,
    phrase_slops,
    phrase_terms,
)

_CLAUSE_RE = re.compile(
    r'([+-]?)(?:([A-Za-z_]\w*):)?'
    r'(?:"([^"]*)"(?:~(\d+))?(?:\^(\d+(?:\.\d+)?))?'  # "phrase" ~slop ^boost
    r'|([\[{])(\S+)\s+TO\s+(\S+)([\]}])(?:\^(\d+(?:\.\d+)?))?'  # [lo TO hi]^boost
    r'|(\S+))'                           # bare term / marker / boost
)
# Lucene multi-term clause forms, detected BEFORE the analyzer runs (the
# tokenizer would split at '~'/'*'/'?'/'^'): fuzzy word~ / word~1 /
# word~2, trailing-star prefix (pre*), general wildcard with ? / inner *
# (te?m, t*m), and the bracketed term range above. The canonical marker
# string becomes the clause key and vocabulary expansion
# (expand_vocab_markers) later rewrites it into a synonym-style group.
_FUZZY_RE = re.compile(r"^(\w+)~([12])?$")
_PREFIX_RE = re.compile(r"^(\w+)\*$")
_WILDCARD_RE = re.compile(r"^(?=.*[*?])[\w*?]+$")
_BOOST_RE = re.compile(r"^(.+)\^(\d+(?:\.\d+)?)$")
# Lucene syntax this parser cannot honour: the analyzer would drop it
# (or read AND/OR/NOT as terms) and silently change the match set
_UNSUPPORTED = ("AND", "OR", "NOT", "&&", "||", "*:*")


def parse_boolean_query(q: str, lowercase: bool = True, field: str | None = None):
    """-> (must: dict[term, qtf], should: dict[term, qtf], must_not: set,
           must_phrases: list[(tuple[str, ...], slop)],
           not_phrases: list[(tuple[str, ...], slop)]).

    MUST-phrase constituent terms are already folded into ``must`` (see
    module docstring), so callers score from the dicts and only add the
    contiguity filters from the phrase lists. Phrase entries are
    (tokens, slop) pairs — slop 0 is the exact contiguous phrase,
    ``"a b"~2`` parses to slop 2 (Lucene SloppyPhraseMatcher: the match
    window over offset-shifted positions, see search/phrase.py). A term
    listed both + and bare collapses into MUST (still scored once per
    occurrence); a term that is also prohibited raises. A ``field:``
    prefix must equal ``field`` when one is given (the engine is
    single-field). ``term^2.5`` boosts fold into the clause weight
    (Lucene query-time boost: the qtf multiplier IS the boost channel;
    boosts on prohibited clauses are ignored, as Lucene never scores
    them). Phrase boosts ``"a b"^2`` (optionally after slop:
    ``"a b"~1^2``) scale every constituent's qtf — the phrase scores
    through its constituents here, so that is the whole boost surface. Leading-wildcard patterns (``*erm`` / ``?erm``) raise like
    Solr's default allowLeadingWildcard=false — without a reversed-term
    index that rewrite is a full vocabulary scan. The keyword operators
    ``AND``/``OR``/``NOT`` (uppercase — lowercase ones are terms),
    ``&&``/``||`` and a ``*:*`` clause raise too: dropping them would
    silently change the match set."""
    must: dict[str, float] = {}
    should: dict[str, float] = {}
    must_not: set[str] = set()
    must_phrases: list[tuple[tuple[str, ...], int]] = []
    not_phrases: list[tuple[tuple[str, ...], int]] = []

    def _add(d: dict[str, float], term: str, w: float) -> None:
        d[term] = d.get(term, 0) + w

    for m in _CLAUSE_RE.finditer(q):
        (prefix, clause_field, phrase, slop, pboost,
         r_open, r_lo, r_hi, r_close, rboost, bare) = m.groups()
        if clause_field is not None and field is not None and clause_field != field:
            raise ValueError(
                f"unknown field {clause_field!r} (this index has field {field!r})"
            )
        role = {"+": "must", "-": "not"}.get(prefix, "should")
        if phrase is not None:
            toks = tuple(phrase_terms(phrase, lowercase))
            if not toks:
                continue
            # parse-time slop guard (round-9): a serving front end wants
            # the 400-equivalent HERE, not after shipping a doomed plan
            # to the executors. phrase_docs re-checks at execution
            # (callers can construct phrase lists without this parser).
            parsed_slop = int(slop or 0)
            if parsed_slop > _MAX_SLOP:
                raise ValueError(
                    f'slop {parsed_slop} outside [0, {_MAX_SLOP}] in '
                    f'"{phrase}"~{parsed_slop}: each position expands to '
                    "slop+1 window anchors, so unbounded slop is an OOM "
                    "vector"
                )
            entry = (toks, parsed_slop)
            if role == "not":
                not_phrases.append(entry)  # boost ignored: never scored
            else:  # bare phrases promote to MUST (module docstring)
                must_phrases.append(entry)
                # "a b"^2 scales the constituents' qtf: this engine
                # scores a MUST phrase through its constituent bag terms
                # gated by the contiguity filter, so the qtf channel is
                # the phrase's boost channel exactly as it is for terms
                for t in toks:
                    _add(must, t, float(pboost or 1))
            continue
        if r_open is not None:
            # Lucene TermRangeQuery: [lo TO hi] inclusive, {lo TO hi}
            # exclusive, mixed brackets allowed, * = open endpoint
            lo = r_lo.lower() if lowercase else r_lo
            hi = r_hi.lower() if lowercase else r_hi
            marker = f"{r_open}{lo} TO {hi}{r_close}"
            if role == "not":
                must_not.add(marker)  # boost ignored: never scored
            else:
                # [lo TO hi]^2 folds into the clause weight like term^2
                # (without this the regex would shed the dangling '^2'
                # into a bare SHOULD term '2' — round-7 advice)
                _add(must if role == "must" else should, marker,
                     float(rboost or 1))
            continue
        boost = 1.0
        bm = _BOOST_RE.match(bare)
        if bm:
            bare, boost = bm.group(1), float(bm.group(2))
        if bare in _UNSUPPORTED:
            raise ValueError(
                f"{bare!r} is not supported in q: write +a +b for a AND b, "
                "a b for a OR b, -a for NOT a; *:* only as the whole q"
            )
        fz = _FUZZY_RE.match(bare)
        px = _PREFIX_RE.match(bare)
        wc = None if (fz or px) else _WILDCARD_RE.match(bare)
        if fz or px or wc:
            # marker clause: keep the canonical marker as the clause key
            # (base lowercased; fuzzy distance defaults to 2, Lucene's
            # FuzzyQuery default); expand_vocab_markers rewrites it
            if fz:
                base = fz.group(1).lower() if lowercase else fz.group(1)
                marker = f"{base}~{fz.group(2) or 2}"
            elif px:
                base = px.group(1).lower() if lowercase else px.group(1)
                marker = f"{base}*"
            else:
                marker = bare.lower() if lowercase else bare
                if marker[0] in "*?":
                    raise ValueError(
                        f"leading-wildcard clause {marker!r} not allowed "
                        "(Solr allowLeadingWildcard=false: without a "
                        "reversed-term index this is a full vocabulary "
                        "scan)"
                    )
            if role == "not":
                must_not.add(marker)
            else:
                _add(must if role == "must" else should, marker, boost)
            continue
        for w, _s, _e in (t for t in tokenize(bare) if t is not None):
            term = w.lower() if lowercase else w
            if role == "not":
                must_not.add(term)
            else:
                _add(must if role == "must" else should, term, boost)
    promoted = set(must) & set(should)
    for t in promoted:  # MUST wins; keep combined qtf
        must[t] += should.pop(t)
    conflict = (set(must) | set(should)) & must_not
    if conflict:
        raise ValueError(f"terms both required/optional and prohibited: {sorted(conflict)}")
    return must, should, must_not, must_phrases, not_phrases


_RANGE_MARKER_RE = re.compile(r"^([\[{])(\S+) TO (\S+)([\]}])$")


def parse_marker(term: str):
    """-> ('fuzzy', base, dist) | ('prefix', base, None)
    | ('wildcard', pattern, None) | ('range', (lo, hi, lo_inc, hi_inc),
    None) | None for a canonical marker clause key produced by
    parse_boolean_query. Range endpoints keep '*' for an open end."""
    m = re.match(r"^(\w+)~([12])$", term)
    if m:
        return ("fuzzy", m.group(1), int(m.group(2)))
    m = re.match(r"^(\w+)\*$", term)
    if m:
        return ("prefix", m.group(1), None)
    m = _RANGE_MARKER_RE.match(term)
    if m:
        return (
            "range",
            (m.group(2), m.group(3), m.group(1) == "[", m.group(4) == "]"),
            None,
        )
    if _WILDCARD_RE.match(term):
        return ("wildcard", term, None)
    return None


def _wildcard_regex(pattern: str) -> str:
    """Lucene WildcardQuery glob -> anchored Java regex for the JVM-side
    ``rlike`` scan: ``*`` = any run, ``?`` = one char, rest literal."""
    return (
        "^"
        + "".join(
            ".*" if c == "*" else "." if c == "?" else re.escape(c)
            for c in pattern
        )
        + "$"
    )


#: Guard on prefix-wildcard rewrites — Solr's ``maxBooleanClauses``
#: analogue (solrconfig.xml default 1024): PrefixQuery matches ALL
#: expansions (constant-score rewrite — the TopTerms-50 cap is
#: FuzzyQuery's, not PrefixQuery's), so a prefix that expands past this
#: RAISES like Lucene's TooManyClauses instead of silently dropping
#: matches Solr would return.
MAX_PREFIX_EXPANSIONS = 1024


def marker_candidates(
    index: InvertedIndex,
    specs,
    *,
    max_expansions: int = 50,
    max_prefix_expansions: int = MAX_PREFIX_EXPANSIONS,
) -> DataFrame:
    """Per-marker candidate relation (marker, term, df) with the
    vocabulary-side work entirely JVM-side (round-6 verdict #1: the old
    shape collected a length-band slice of term_stats — most of the
    vocabulary at the 1e8-term design point — and ran Python levenshtein
    on the driver):

    - fuzzy ``word~d``: length-band prune + Spark's threshold-bounded
      ``levenshtein(term, base, d)`` (returns -1 past the bound, so the
      scan never finishes a distance it doesn't need), then a per-marker
      ``orderBy(df desc, term asc).limit(max_expansions)`` =
      TakeOrderedAndProject — at most ``max_expansions`` rows per marker
      ever leave the executors, mirroring Lucene's FuzzyQuery
      TopTermsRewrite over the automaton∩FST intersection.
    - prefix ``word*``: StartsWith pushed into the scan, NO result cap
      (constant-score rewrite matches everything), but bounded by
      ``max_prefix_expansions`` + 1 so the caller can detect overflow
      and raise instead of silently truncating.
    - wildcard ``te?m`` / ``t*m`` (Lucene WildcardQuery): anchored
      ``rlike`` over the translated glob, prefiltered by the pattern's
      literal prefix (the automaton's seek-prefix analogue — without it
      the rewrite scans the whole vocabulary, which is why
      parse_boolean_query rejects leading wildcards); same
      constant-score all-matches + overflow-guard contract as prefix.
    - range ``[lo TO hi]`` / ``{lo TO hi}`` (Lucene TermRangeQuery):
      ordered string-range predicates pushed into the scan (``*`` = open
      endpoint); constant-score all-matches + overflow guard."""
    stats = index.term_stats.select("term", F.col("df").cast("long").alias("df"))
    frames = []
    for mk, kind, base, dist in specs:
        if kind == "fuzzy":
            band = F.abs(F.length("term") - len(base)) <= dist
            within = F.levenshtein(F.col("term"), F.lit(base), dist) >= 0
            cand = (
                stats.where(band & within)
                .orderBy(F.col("df").desc(), F.col("term").asc())
                .limit(max_expansions)
            )
        else:
            if kind == "prefix":
                cond = F.col("term").startswith(base)
            elif kind == "wildcard":
                cond = F.col("term").rlike(_wildcard_regex(base))
                lit_prefix = re.match(r"^\w*", base).group(0)
                if lit_prefix:
                    cond = F.col("term").startswith(lit_prefix) & cond
            else:  # range
                lo, hi, lo_inc, hi_inc = base
                cond = F.lit(True)
                if lo != "*":
                    cond = cond & (
                        (F.col("term") >= lo) if lo_inc else (F.col("term") > lo)
                    )
                if hi != "*":
                    cond = cond & (
                        (F.col("term") <= hi) if hi_inc else (F.col("term") < hi)
                    )
            cand = (
                stats.where(cond)
                .orderBy(F.col("df").desc(), F.col("term").asc())
                .limit(max_prefix_expansions + 1)
            )
        frames.append(cand.withColumn("marker", F.lit(mk)))
    out = frames[0]
    for f_ in frames[1:]:
        out = out.unionByName(f_)
    return out


def expand_vocab_markers(
    index: InvertedIndex,
    markers,
    *,
    max_expansions: int = 50,
    max_prefix_expansions: int = MAX_PREFIX_EXPANSIONS,
) -> dict[str, list[str]]:
    """Resolve fuzzy (``word~d``), prefix (``word*``), wildcard
    (``te?m``/``t*m``) and term-range (``[lo TO hi]``) clause markers
    against the LIVE vocabulary in ONE job over the per-marker
    ``marker_candidates`` relation — Lucene's MultiTermQuery rewrites
    (FuzzyQuery / PrefixQuery / WildcardQuery / TermRangeQuery).
    Fuzzy markers carry FuzzyQuery's default
    ``maxExpansions=50`` cap (members ranked df desc, term asc — the
    highest-weight rewrites — with the ranking and cap applied
    JVM-side, so at most 50 rows per marker reach the driver); prefix
    markers match ALL expansions (PrefixQuery's constant-score rewrite
    has no TopTerms cap) and RAISE past ``max_prefix_expansions``
    (Solr's maxBooleanClauses analogue) rather than silently dropping
    matches. Returns a synonyms-style dict {marker: [member terms]}
    that feeds expand_boolean_clauses: the marker key itself never
    matches a posting, so its group is satisfied purely by members — a
    marker with NO vocabulary match under MUST therefore matches
    nothing, exactly like an empty FuzzyQuery rewrite. Scoring default
    (documented choice, round-6 verdict #7): members score FLAT at the
    clause weight — the simpler oracle-mirrorable model; Lucene's
    similarity-decayed fuzzy boosts are available opt-in via
    ``boolean_bm25_topk(fuzzy_decay=True)`` /
    ``LocalSearcher.search_boolean(fuzzy_decay=True)`` backed by
    :func:`fuzzy_member_weights` (see
    test_fuzzy_decay.py::test_flat_default_is_score_identical)."""
    specs = []
    for mk in markers:
        parsed = parse_marker(mk)
        if parsed is not None:
            specs.append((mk, *parsed))
    if not specs:
        return {}
    cand = marker_candidates(
        index,
        specs,
        max_expansions=max_expansions,
        max_prefix_expansions=max_prefix_expansions,
    ).collect()
    by_marker: dict[str, list[tuple[int, str]]] = {}
    for r in cand:
        by_marker.setdefault(r["marker"], []).append((int(r["df"]), r["term"]))
    out: dict[str, list[str]] = {}
    for mk, kind, base, dist in specs:
        members = sorted(by_marker.get(mk, []), key=lambda t: (-t[0], t[1]))
        if kind != "fuzzy" and len(members) > max_prefix_expansions:
            raise ValueError(
                f"{kind} clause {mk!r} expands to more than "
                f"{max_prefix_expansions} terms (Solr maxBooleanClauses "
                "analogue); narrow the pattern or raise "
                "max_prefix_expansions"
            )
        out[mk] = [t for _df, t in members]
    return out


def fuzzy_member_weights(
    expanded: dict[str, list[str]],
) -> dict[tuple[str, str], float]:
    """Lucene FuzzyQuery similarity decay for marker expansions — the
    opt-in alternative to the flat clause-weight default (round-6
    verdict #7). For each FUZZY marker member the weight is
    FuzzyTermsEnum's boost ``1 - d / min(|member|, |base|)`` (prefix
    length 0, Lucene's default), floored at 0; a distance-0 member (the
    base itself in vocabulary) keeps weight 1. PREFIX markers are
    excluded on purpose: PrefixQuery's constant-score rewrite scores
    every expansion identically, so their members stay at weight 1.

    Input is the {marker: [members]} dict from
    :func:`expand_vocab_markers` or ``LocalSpeller.expand_marker``;
    output feeds ``expand_boolean_clauses(member_weights=)``. Runs
    driver-side on <= max_expansions (50) short strings per marker —
    bounded by the rewrite cap, never by vocabulary size."""
    from solrtexttagger_spark.search.terms import _levenshtein

    weights: dict[tuple[str, str], float] = {}
    for mk, members in expanded.items():
        parsed = parse_marker(mk)
        if parsed is None or parsed[0] != "fuzzy":
            continue
        _kind, base, dist = parsed
        for m in members:
            d = _levenshtein(m, base, dist)
            weights[(mk, m)] = max(
                0.0, 1.0 - d / float(min(len(m), len(base)))
            )
    return weights


def _syn_tokens(s: str, lowercase: bool = True) -> tuple[str, ...]:
    """Analyze one synonym expansion with the query tokenizer."""
    return tuple(phrase_terms(s, lowercase))


def expand_boolean_clauses(
    must: dict[str, int],
    should: dict[str, int],
    must_not: set,
    synonyms: dict[str, list[str]] | None,
    member_weights: dict[tuple[str, str], float] | None = None,
):
    """Apply query-time synonym expansion to parsed boolean clauses —
    Lucene SynonymGraphFilter semantics per clause: an expanded MUST
    becomes a GROUP satisfied by ANY member (+(term OR syn)), every
    member scores at the clause weight; SHOULD members score likewise;
    an expanded MUST_NOT prohibits every member.

    MULTI-WORD expansions get TRUE graph semantics (round-5 verdict #6 +
    round-6 verdict #5, Solr's SynonymGraphFilter: "ny" -> "new york"
    becomes +(ny OR "new york")): the expansion joins its MUST group as
    a CONTIGUITY-CHECKED phrase (satisfying the group only when the
    words appear adjacent, resolved by the same phrase_docs as
    explicit phrase clauses), and — on EVERY clause kind, MUST
    and SHOULD alike — its constituent terms score at the clause weight
    ONLY in documents containing the contiguous phrase (the gated
    "quotes filter, constituents score" model; such documents match
    even when no bag term reaches them). A multi-word MUST_NOT synonym
    prohibits docs containing the contiguous phrase.

    -> (score_bag {term: qtf}, must_groups {term: sorted tuple of group
    ids}, n_groups, must_not_expanded,
    phrase_groups {phrase tokens: sorted tuple of group ids},
    not_phrases [phrase tokens],
    syn_phrase_bags {phrase tokens: score weight} — the phrase-gated
    scoring clauses). Without synonyms each MUST term is its own group,
    which reduces to the classic distinct-term count.

    ``member_weights`` ({(clause key, expansion string): weight},
    default None = every member at weight 1.0) scales the SCORING
    contribution of individual expansion members — the channel
    :func:`fuzzy_member_weights` uses for Lucene's similarity-decayed
    fuzzy boosts. Group SATISFACTION and prohibition are presence-based
    and never weighted (a decayed member still satisfies its MUST group
    and still prohibits under MUST_NOT, exactly like Lucene, where
    BoostAttribute scales the score while the automaton decides
    matching)."""
    synonyms = synonyms or {}

    def _w(clause: str, member: str) -> float:
        if not member_weights:
            return 1.0
        return member_weights.get((clause, member), 1.0)

    groups: dict[str, set[int]] = {}
    phrase_groups: dict[tuple[str, ...], set[int]] = {}
    syn_not_phrases: list[tuple[str, ...]] = []
    syn_phrase_bags: dict[tuple[str, ...], int] = {}
    for gid, t in enumerate(sorted(must)):
        groups.setdefault(t, set()).add(gid)
        for s in synonyms.get(t, ()):
            toks = _syn_tokens(s)
            if not toks:
                continue
            if len(toks) == 1:
                groups.setdefault(toks[0], set()).add(gid)
            else:
                phrase_groups.setdefault(toks, set()).add(gid)
                # constituents score at the clause weight, GATED on the
                # contiguous phrase (evaluate_boolean)
                syn_phrase_bags[toks] = (
                    syn_phrase_bags.get(toks, 0) + must[t] * _w(t, s)
                )
    combined: dict[str, int] = dict(must)
    for t, qtf in should.items():
        combined[t] = combined.get(t, 0) + qtf
    score_bag: dict[str, int] = dict(combined)
    for t, qtf in combined.items():
        for s in synonyms.get(t, ()):
            toks = _syn_tokens(s)
            if len(toks) == 1:
                score_bag[toks[0]] = (
                    score_bag.get(toks[0], 0) + qtf * _w(t, s)
                )
            elif t in should:  # MUST weights were added above
                syn_phrase_bags[toks] = (
                    syn_phrase_bags.get(toks, 0) + qtf * _w(t, s)
                )
    not_exp = set(must_not)
    for t in must_not:
        for s in synonyms.get(t, ()):
            toks = _syn_tokens(s)
            if len(toks) == 1:
                not_exp.add(toks[0])
            elif toks:
                syn_not_phrases.append(toks)
    conflict = set(score_bag) & not_exp
    if conflict:
        raise ValueError(
            f"synonym expansion made terms both scored and prohibited: "
            f"{sorted(conflict)}"
        )
    return (
        score_bag,
        {t: tuple(sorted(g)) for t, g in groups.items()},
        len(must),
        not_exp,
        {p: tuple(sorted(g)) for p, g in phrase_groups.items()},
        sorted(set(syn_not_phrases)),
        syn_phrase_bags,
    )


class BooleanPlan(NamedTuple):
    """One query's clauses after the parse, the marker rewrite and the
    synonym expansion — everything evaluate_boolean reads (never
    mutated). Phrases are token tuples; synonym phrases are exact
    (slop 0). A plain bag of words is ``BooleanPlan(bag)``."""

    score_bag: dict  # term -> clause weight (qtf x boost)
    must_groups: dict = {}  # term -> MUST group ids it satisfies
    n_groups: int = 0
    must_not: frozenset = frozenset()
    phrase_groups: dict = {}  # multi-word synonym tokens -> MUST group ids
    must_phrases: tuple = ()  # ((tokens, slop), ...)
    not_phrases: tuple = ()  # ((tokens, slop), ...)
    gated: dict = {}  # multi-word synonym tokens -> score weight

    def phrases(self) -> set:
        return (
            {toks for toks, _s in self.must_phrases + self.not_phrases}
            | set(self.phrase_groups)
            | set(self.gated)
        )

    def terms(self) -> set:
        """Every index term the plan reads (marker keys left out: they
        match only through their expansions)."""
        words = set(self.score_bag) | self.must_not
        words |= {t for toks in self.phrases() for t in toks}
        return {t for t in words if not parse_marker(t)}


def boolean_plan(parsed, synonyms=None, member_weights=None) -> BooleanPlan:
    """BooleanPlan of one parse_boolean_query result, expanded by
    expand_boolean_clauses (markers already rewritten into ``synonyms``)."""
    must, should, must_not, mphr, nphr = parsed
    (score_bag, must_groups, n_groups, not_exp, phrase_groups,
     syn_not_phrases, gated) = expand_boolean_clauses(
        must, should, must_not, synonyms, member_weights
    )
    return BooleanPlan(
        score_bag, must_groups, n_groups, frozenset(not_exp), phrase_groups,
        tuple(mphr), tuple(nphr) + tuple((t, 0) for t in syn_not_phrases),
        gated,
    )


_NO_DOCS = np.zeros(0, dtype=np.int64)


def _ranges(lo: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenated ``arange(lo[i], lo[i] + counts[i])`` over i."""
    total = int(counts.sum())
    if not total:
        return _NO_DOCS
    shift = np.repeat(lo - (np.cumsum(counts) - counts), counts)
    return np.arange(total, dtype=np.int64) + shift


def positions_csr(doc_ids, counts, flat):
    """One term's positions as (doc ids sorted, starts, flat positions):
    doc ``doc_ids[i]`` holds ``flat[starts[i]:starts[i + 1]]``. Inputs
    are aligned per doc in any order (``counts[i]`` positions of
    ``doc_ids[i]``, concatenated in ``flat``)."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    counts = np.asarray(counts, dtype=np.int64)
    flat = np.asarray(flat, dtype=np.int64)
    if len(doc_ids) > 1 and np.any(doc_ids[1:] < doc_ids[:-1]):
        order = np.argsort(doc_ids, kind="stable")
        lo = (np.cumsum(counts) - counts)[order]
        doc_ids, counts = doc_ids[order], counts[order]
        flat = flat[_ranges(lo, counts)]
    starts = np.zeros(len(doc_ids) + 1, dtype=np.int64)
    np.cumsum(counts, out=starts[1:])
    return doc_ids, starts, flat


def phrase_docs(
    positions: dict, toks: tuple, slop: int = 0
) -> tuple[np.ndarray, np.ndarray]:
    """(sorted doc ids holding the token sequence within ``slop``, their
    occurrence counts). ``positions``: {key: positions_csr(...)}, one
    entry per distinct key of ``toks`` — a term, or a phrase slot whose
    member terms' positions were merged (phrase_relation). Each key's
    positions shift by its offset in the phrase and, under slop, expand
    to the window anchors {p - slop .. p}; a doc matches iff one anchor
    is common to every key, i.e. a window of width <= slop covers one
    position of each (Lucene SloppyPhraseMatcher's end - start
    criterion: exact for two-term phrases, a superset of its greedy
    matcher for longer ones). The occurrence count is the number of
    such anchors (the exact phrase's occurrences at slop 0). A key
    repeated m times in a sloppy phrase needs >= m distinct positions in
    the doc (Lucene's repeats-handling necessary condition; the exact
    intersection already implies it; the distinct positions are not
    forced into one window, so '"a a"~2' still matches "a x x x a").
    Slop outside [0, MAX_SLOP] raises: each position expands to slop + 1
    anchors."""
    if slop < 0 or slop > _MAX_SLOP:
        raise ValueError(
            f"slop {slop} outside [0, {_MAX_SLOP}]: each position "
            "expands to slop+1 window anchors"
        )
    cand = None
    for t in toks:
        entry = positions.get(t)
        if entry is None or not len(entry[0]):
            return _NO_DOCS, _NO_DOCS
        cand = entry[0] if cand is None else np.intersect1d(
            cand, entry[0], assume_unique=True
        )
        if not len(cand):
            return _NO_DOCS, _NO_DOCS
    if slop:
        for t, m in Counter(toks).items():
            if m > 1:
                docs, starts, _flat = positions[t]
                at = np.searchsorted(docs, cand)
                cand = cand[starts[at + 1] - starts[at] >= m]
    # key = (candidate index, anchor): anchors stay >= 1 after the offset
    off = slop + len(toks)
    keys = None
    for i, t in enumerate(toks):
        docs, starts, flat = positions[t]
        at = np.searchsorted(docs, cand)
        counts = starts[at + 1] - starts[at]
        owner = np.repeat(np.arange(len(cand), dtype=np.int64), counts)
        anchor = flat[_ranges(starts[at], counts)] - i + off
        if slop:
            anchor = (anchor[:, None] - np.arange(slop + 1)).ravel()
            owner = np.repeat(owner, slop + 1)
        k = np.unique((owner << 32) | anchor)
        keys = k if keys is None else np.intersect1d(keys, k, assume_unique=True)
        if not len(keys):
            return _NO_DOCS, _NO_DOCS
    owners, n_occ = np.unique(keys >> 32, return_counts=True)
    return cand[owners], n_occ


def _merge_csr(entries: list) -> tuple | None:
    """One positions_csr of several terms' (a phrase slot's members):
    a doc held by two members is one row with the union of their
    positions. None when no member has postings."""
    if len(entries) < 2:
        return entries[0] if entries else None
    docs = np.concatenate([np.repeat(d, np.diff(s)) for d, s, _f in entries])
    pos = np.concatenate([f for _d, _s, f in entries])
    order = np.lexsort((pos, docs))
    docs, pos = docs[order], pos[order]
    new = np.ones(len(docs), dtype=bool)
    new[1:] = (docs[1:] != docs[:-1]) | (pos[1:] != pos[:-1])
    uniq, counts = np.unique(docs[new], return_counts=True)
    return positions_csr(uniq, counts, pos[new])


def bm25_parts(tf, dl, k1: float, b: float, avgdl: float):
    """The query-independent operands of a BM25 contribution, per
    posting: (tf * (k1 + 1), tf + k1 * (1 - b + b * dl / avgdl)). The
    contribution is ``idf * num / den * qtf`` in that order — the
    operation order of the JVM scorers and the SQL oracles, so scores
    agree to the last bit where they sum the same terms."""
    tf = np.asarray(tf, dtype=np.float64)
    dl = np.asarray(dl, dtype=np.float64)
    return tf * (k1 + 1.0), tf + k1 * (1.0 - b + b * dl / avgdl)


def _present(docs: np.ndarray, sorted_ids: np.ndarray) -> np.ndarray:
    """Mask over ``docs``: which are in the sorted array ``sorted_ids``."""
    if not len(sorted_ids):
        return np.zeros(len(docs), dtype=bool)
    at = np.searchsorted(sorted_ids, docs)
    return np.take(sorted_ids, at, mode="clip") == docs


def evaluate_boolean(
    plan: BooleanPlan,
    postings: dict,
    positions: dict,
    df: dict,
    n: float,
) -> tuple[np.ndarray, np.ndarray]:
    """The full match set of one query: (doc ids sorted, BM25 scores).
    ``postings``: {term: (doc ids sorted, *bm25_parts per posting)};
    ``positions``: {term: positions_csr(...)} for the phrase terms;
    ``df``: global df per scored term; ``n``: corpus doc count. Terms
    absent from ``postings`` match nothing. The one implementation of
    the boolean semantics in the module docstring: LocalSearcher calls
    it on its warmed arrays, boolean_matched_scores on each segment."""
    all_docs, all_contrib = [], []
    for term in sorted(plan.score_bag):
        entry = postings.get(term)
        if entry is None:
            continue
        dft = df[term]
        idf = math.log(1.0 + (n - dft + 0.5) / (dft + 0.5))
        all_docs.append(entry[0])
        all_contrib.append(idf * entry[1] / entry[2] * plan.score_bag[term])
    # phrase-gated constituent scoring (multi-word synonyms, MUST and
    # SHOULD alike): constituents score only where the words are
    # contiguous, which also seeds phrase-only docs into the candidates
    for toks, w in sorted(plan.gated.items()):
        hits = phrase_docs(positions, toks)[0]
        if not len(hits):
            continue
        for term, cnt in sorted(Counter(toks).items()):
            entry = postings.get(term)
            if entry is None:
                continue
            dft = df[term]
            idf = math.log(1.0 + (n - dft + 0.5) / (dft + 0.5))
            mask = _present(entry[0], hits)
            if mask.any():
                all_docs.append(entry[0][mask])
                all_contrib.append(
                    idf * entry[1][mask] / entry[2][mask] * (w * cnt)
                )
    if not all_docs:
        return _NO_DOCS, np.zeros(0)
    docs = np.concatenate(all_docs)
    uniq, inv = np.unique(docs, return_inverse=True)
    scores = np.bincount(
        inv, weights=np.concatenate(all_contrib), minlength=len(uniq)
    )
    keep = np.ones(len(uniq), dtype=bool)
    if plan.n_groups:
        # every MUST group needs >= 1 member present (without synonyms
        # one term per group: the distinct-MUST-term count); a group
        # with no member in the index satisfies nothing
        sat = np.zeros((plan.n_groups, len(uniq)), dtype=bool)
        members = [
            (postings[t][0], gids)
            for t, gids in plan.must_groups.items() if t in postings
        ] + [
            (phrase_docs(positions, toks)[0], gids)
            for toks, gids in plan.phrase_groups.items()
        ]
        for docs, gids in members:
            hit = _present(uniq, docs)
            for g in gids:
                sat[g] |= hit
        keep &= sat.all(axis=0)
    for term in plan.must_not:
        if term in postings:
            keep &= ~_present(uniq, postings[term][0])
    for toks, slop in plan.must_phrases:
        keep &= _present(uniq, phrase_docs(positions, toks, slop)[0])
    for toks, slop in plan.not_phrases:
        keep &= ~_present(uniq, phrase_docs(positions, toks, slop)[0])
    return uniq[keep], scores[keep]


def _term_arrays(parts: dict, k1: float, b: float, avgdl: float):
    """{term: [(doc ids, tf, dl, (counts, flat positions) | None), ...]}
    — one entry per shard or block of the term, in any order ->
    ({term: (doc ids sorted, *bm25_parts)}, {term: positions_csr}), the
    latter for the terms whose positions were given."""
    postings, positions = {}, {}
    for term, rows in parts.items():
        docs = np.concatenate([np.asarray(r[0], dtype=np.int64) for r in rows])
        order = np.argsort(docs, kind="stable")
        postings[term] = (docs[order], *bm25_parts(
            np.concatenate([r[1] for r in rows])[order],
            np.concatenate([r[2] for r in rows])[order],
            k1, b, avgdl,
        ))
        if rows[0][3] is not None:
            positions[term] = positions_csr(
                docs,
                np.concatenate([np.asarray(r[3][0], dtype=np.int64) for r in rows]),
                np.concatenate([np.asarray(r[3][1], dtype=np.int64) for r in rows]),
            )
    return postings, positions


def block_arrays(rows, k1: float, b: float, avgdl: float):
    """Compressed blocks decoded into evaluate_boolean's shape: ``rows``
    of (term, postings block, positions block | None), a term's blocks
    in any order -> ({term: (doc ids sorted, *bm25_parts)},
    {term: positions_csr} for the terms given positions blocks). The one
    blocks decoder of the seg kernel and LocalSearcher's warm-up."""
    parts: dict[str, list] = {}
    for term, blk, pos_blk in rows:
        doc_ids, tf, dl = decode_postings_block(bytes(blk))
        pos = None if pos_blk is None else decode_positions_block(bytes(pos_blk))
        parts.setdefault(term, []).append((doc_ids, tf, dl, pos))
    return _term_arrays(parts, k1, b, avgdl)


def _segment_arrays(pdf: pd.DataFrame, k1: float, b: float, avgdl: float):
    """One segment's kernel input (_seg_rows over postings or blocks) ->
    ({term: (doc ids, *bm25_parts)}, {term: positions_csr})."""
    if "block" in pdf.columns:
        pos = pdf.get("pos_block", [None] * len(pdf))
        return block_arrays(zip(pdf["term"], pdf["block"], pos), k1, b, avgdl)
    parts: dict[str, list] = {}
    has_pos = "pos" in pdf.columns
    cols = [pdf["term"], pdf["doc_id"], pdf["tf"], pdf["dl"]]
    if has_pos:
        cols += [pdf["npos"], pdf["pos"]]
    for term, docs, tf, dl, *pos in zip(*cols):
        parts.setdefault(term, []).append((
            docs, np.asarray(tf, dtype=np.float64), np.asarray(dl, dtype=np.float64),
            tuple(pos) if pos and pos[0] is not None else None,
        ))
    return _term_arrays(parts, k1, b, avgdl)


def _seg_rows(index, vocab: list, pos_terms: list) -> DataFrame:
    """The kernel's input: the rows of ``vocab`` (term pushed into the
    scan), with their seg and, for ``pos_terms`` only, positions. Over
    an InvertedIndex: (seg, term, doc_id, tf, dl[, npos, pos]) arrays
    per shard; over a CompressedIndex: (seg, term, block[, pos_block])
    per block, which needs compress_index(with_positions=True) once a
    phrase is read."""
    is_pos = term_in(F.col("term"), pos_terms) if pos_terms else None
    if hasattr(index, "blocks"):
        cols = ["seg", "term", "block"]
        if pos_terms:
            if "pos_block" not in index.blocks.columns:
                raise NotImplementedError(
                    "phrases (quoted clauses, multi-word synonym "
                    "expansions) need positional blocks — build with "
                    "compress_index(with_positions=True), or score the "
                    "uncompressed index"
                )
            cols.append(F.when(is_pos, F.col("pos_block")).alias("pos_block"))
        return index.blocks.where(term_in(F.col("term"), vocab)).select(*cols)
    post = F.col("postings")
    cols = [
        "seg", "term",
        post["doc_id"].alias("doc_id"), post["tf"].alias("tf"),
        post["dl"].alias("dl"),
    ]
    if pos_terms:
        cols += [
            F.when(is_pos, F.transform(post, lambda x: F.size(x["positions"])))
            .alias("npos"),
            F.when(is_pos, F.flatten(post["positions"])).alias("pos"),
        ]
    return index.postings.where(term_in(F.col("term"), vocab)).select(*cols)


def boolean_plans(
    index,
    queries: list[tuple[int, str]],
    *,
    field: str | None = None,
    synonyms: dict[str, list[str]] | None = None,
    fuzzy_decay: bool = False,
) -> dict[int, BooleanPlan]:
    """The driver half of boolean_matched_scores: {query_id: BooleanPlan}
    from the parse, the marker rewrite (expand_vocab_markers, one job
    when the batch has markers) and expand_boolean_clauses."""
    parsed = [
        (int(qid), parse_boolean_query(q, field=field)) for qid, q in queries
    ]
    # fuzzy/prefix clause markers resolve against the live vocabulary in
    # ONE job for ALL queries, then ride the synonym-group machinery
    markers = {
        t
        for _qid, (m_, s_, n_, _mp, _np) in parsed
        for t in (*m_, *s_, *n_)
        if parse_marker(t)
    }
    member_weights = None
    if markers:
        expanded = expand_vocab_markers(index, markers)
        synonyms = {**(synonyms or {}), **expanded}
        if fuzzy_decay:
            member_weights = fuzzy_member_weights(expanded)
    return {qid: boolean_plan(p, synonyms, member_weights) for qid, p in parsed}


def bag_plan(bag: dict, synonyms: dict[str, list[str]] | None) -> BooleanPlan:
    """BooleanPlan of a bag-of-words query under query-time synonyms
    (bm25.expand_synonyms_graph): single-word expansions join the bag,
    multi-word ones become gated phrases."""
    bag, phrases = expand_synonyms_graph(bag, synonyms or {})
    return BooleanPlan(bag, gated=phrases)


def fq_by_seg(allowed_docs: DataFrame, num_segments: int) -> DataFrame:
    """(seg, doc_id) of an fq relation, keyed by the index's own doc hash
    so it cogroups with a seg kernel's input. No distinct: a repeated id
    only repeats in the kernel's sorted membership array."""
    doc_id = F.col("doc_id").cast("long").alias("doc_id")
    return allowed_docs.select(doc_id).select(seg_of(num_segments).alias("seg"), "doc_id")


def apply_by_seg(rows: DataFrame, kernel, schema, fq: DataFrame | None = None) -> DataFrame:
    """``rows`` grouped by seg into ``kernel(seg, pdf, allowed)``, one
    pandas call per segment. ``allowed`` is None without ``fq``
    (fq_by_seg), else the segment's fq ids as a sorted array, met
    through a cogroup: no driver collect, no broadcast of a
    potentially corpus-sized filter."""
    if fq is None:
        return rows.groupBy("seg").applyInPandas(
            lambda key, pdf: kernel(int(key[0]), pdf, None), schema=schema
        )
    return rows.groupBy("seg").cogroup(fq.groupBy("seg")).applyInPandas(
        lambda key, pdf, apdf: kernel(
            int(key[0]), pdf, np.sort(apdf["doc_id"].to_numpy(dtype=np.int64))
        ),
        schema=schema,
    )


def plan_scores(
    index,
    plans: dict[int, BooleanPlan],
    *,
    k1: float = K1,
    b: float = B,
    allowed_docs: DataFrame | None = None,
    spark: SparkSession | None = None,
    warm_df: bool = False,
) -> DataFrame:
    """The executor half of boolean_matched_scores: (query_id, doc_id,
    score) for the full match set of every plan, over an InvertedIndex's
    postings or a CompressedIndex's blocks (positional blocks once a
    plan reads a phrase). ONE scan of every plan's vocabulary (positions
    only for phrase terms), grouped by ``seg`` into evaluate_boolean per
    segment for ALL plans; global df rides the broadcast on a global_df
    hit, a broadcast join on a miss. ``warm_df`` (top-level entries)
    first fills the df cache — one tiny collect for unseen terms;
    building the relation otherwise runs no Spark action.
    ``allowed_docs`` (Solr fq) meets the kernel co-partitioned by seg
    through a cogroup, applied to the match set (scores stay
    corpus-true)."""
    rows = index.blocks if hasattr(index, "blocks") else index.postings
    spark = spark or rows.sparkSession
    # a plan with neither scored terms nor gated phrases has no candidate
    plans = {qid: p for qid, p in plans.items() if p.score_bag or p.gated}
    vocab = sorted(set().union(*(p.terms() for p in plans.values())))
    if not vocab:
        return local_frame(spark, [], _SCORE_SCHEMA)
    pos_terms = sorted({t for p in plans.values() for ph in p.phrases() for t in ph})
    narrowed = _seg_rows(index, vocab, pos_terms)
    n = float(index.doc_count)
    avgdl = float(index.avgdl) if index.avgdl else 1.0
    # global df from bm25.global_df, the one lookup (no action). Only
    # top-level entries (``warm_df=True``: boolean_bm25_topk and
    # solr_select's scored routes) fill its cache first, since a boolean
    # query's vocabulary is known only after the parse. Embedded
    # callers (the /select writers' facet.query block, the router,
    # /stream) stay action-free and keep their job budgets.
    if warm_df:
        warm_df_cache(index, vocab)
    dfs = global_df(index, vocab)
    bc = spark.sparkContext.broadcast((
        plans, dfs if isinstance(dfs, dict) else None, k1, b, avgdl, n,
    ))

    def kernel(_seg: int, pdf: pd.DataFrame, allowed: np.ndarray | None) -> pd.DataFrame:
        plans_, df_of, k1_, b_, avgdl_, n_ = bc.value
        out_q, out_d, out_s = [], [], []
        if len(pdf):
            if df_of is None:
                df_of = dict(zip(pdf["term"], pdf["df"]))
            postings, positions = _segment_arrays(pdf, k1_, b_, avgdl_)
            for qid, plan in sorted(plans_.items()):
                docs, scores = evaluate_boolean(
                    plan, postings, positions, df_of, n_
                )
                if allowed is not None:
                    keep = _present(docs, allowed)
                    docs, scores = docs[keep], scores[keep]
                out_q.extend([qid] * len(docs))
                out_d.append(docs)
                out_s.append(scores)
        return pd.DataFrame({
            "query_id": pd.Series(out_q, dtype="int64"),
            "doc_id": pd.Series(
                np.concatenate(out_d) if out_d else _NO_DOCS, dtype="int64"
            ),
            "score": pd.Series(
                np.concatenate(out_s) if out_s else np.zeros(0), dtype="float64"
            ),
        })

    if not isinstance(dfs, dict):
        narrowed = narrowed.join(F.broadcast(dfs), "term")
    fq = None if allowed_docs is None else fq_by_seg(allowed_docs, index.num_segments)
    return apply_by_seg(narrowed, kernel, _SCORE_SCHEMA, fq)


def boolean_matched_scores(
    index: InvertedIndex,
    queries: list[tuple[int, str]],
    *,
    k1: float = K1,
    b: float = B,
    field: str | None = None,
    allowed_docs: DataFrame | None = None,
    synonyms: dict[str, list[str]] | None = None,
    fuzzy_decay: bool = False,
    spark: SparkSession | None = None,
    warm_df: bool = False,
) -> DataFrame:
    """The FULL boolean match set with BM25 scores, BEFORE any rank
    window: (query_id, doc_id, score) for every doc satisfying the
    query's clauses — the shared core of boolean_bm25_topk (which adds
    the per-query top-k), solr_select, facet.query / json.facet query
    facets and /stream (which need the whole match set, never a page).
    boolean_plans on the driver, then plan_scores (see both)."""
    plans = boolean_plans(
        index, queries, field=field, synonyms=synonyms, fuzzy_decay=fuzzy_decay
    )
    return plan_scores(
        index, plans, k1=k1, b=b, allowed_docs=allowed_docs, spark=spark,
        warm_df=warm_df,
    )


_PHRASE_SCHEMA = "phrase_id int, doc_id long, n_occurrences int"


def phrase_relation(
    index, phrases: list[tuple], slops: list[int] | None = None
) -> DataFrame:
    """(phrase_id, doc_id, n_occurrences) for MANY phrases in one scan:
    phrase_docs per segment, phrase_id = position in ``phrases``. A
    phrase is a tuple of slots; a slot is a term, or a tuple of member
    terms (a {!complexphrase} rewrite or alternative group) whose
    positions merge per doc into one positions_csr — Lucene's SpanOr.
    Term slots are keyed by term, so a term repeated in a sloppy phrase
    takes the repeats check; member slots are keyed by their index, so
    they do not. ``slops`` (default all 0) as in phrase.phrase_slops.
    An empty member slot matches nothing. Building the relation runs no
    Spark action."""
    slops = phrase_slops(phrases, slops)
    rows = index.blocks if hasattr(index, "blocks") else index.postings
    vocab = sorted({
        m for slots in phrases for slot in slots
        for m in ((slot,) if isinstance(slot, str) else slot)
    })
    if not vocab:
        return local_frame(rows.sparkSession, [], _PHRASE_SCHEMA)
    bc = rows.sparkSession.sparkContext.broadcast((phrases, slops))

    def kernel(_key, pdf):
        phrases_, slops_ = bc.value
        _post, term_pos = _segment_arrays(pdf, K1, B, 1.0)
        out_p, out_d, out_n = [], [], []
        for pid, (slots, slop) in enumerate(zip(phrases_, slops_)):
            keys, positions = [], {}
            for i, slot in enumerate(slots):
                key = slot if isinstance(slot, str) else i
                members = (slot,) if isinstance(slot, str) else slot
                merged = _merge_csr([term_pos[m] for m in members if m in term_pos])
                if merged is not None:
                    positions[key] = merged
                keys.append(key)
            docs, n_occ = phrase_docs(positions, tuple(keys), slop)
            out_p.extend([pid] * len(docs))
            out_d.append(docs)
            out_n.append(n_occ)
        return pd.DataFrame({
            "phrase_id": pd.Series(out_p, dtype="int32"),
            "doc_id": pd.Series(
                np.concatenate(out_d) if out_d else _NO_DOCS, dtype="int64"
            ),
            "n_occurrences": pd.Series(
                np.concatenate(out_n) if out_n else _NO_DOCS, dtype="int32"
            ),
        })

    return _seg_rows(index, vocab, vocab).groupBy("seg").applyInPandas(
        kernel, schema=_PHRASE_SCHEMA
    )


def boolean_bm25_topk(
    index: InvertedIndex,
    queries: list[tuple[int, str]],
    *,
    k: int = 10,
    k1: float = K1,
    b: float = B,
    field: str | None = None,
    allowed_docs: DataFrame | None = None,
    synonyms: dict[str, list[str]] | None = None,
    fuzzy_decay: bool = False,
    spark: SparkSession | None = None,
) -> DataFrame:
    """Top-k BM25 under boolean constraints. queries: [(qid, '+a -b c')].
    Returns (query_id, rank, doc_id, score) — rank long, deterministic
    (score desc, doc_id asc) tie-break, rank-identical to bm25_topk for
    pure-SHOULD queries. ``allowed_docs`` is Solr's `fq` (see
    search/bm25.bm25_topk): restricts the matched set before the rank
    window, never the scoring stats. ``synonyms`` expands clauses per
    expand_boolean_clauses — a MUST group is satisfied by ANY member.
    ``fuzzy_decay=True``
    opts into Lucene FuzzyQuery's similarity-decayed member boosts
    (``1 - d/min(len)`` via fuzzy_member_weights) instead of the flat
    clause-weight default; matching is unaffected either way.

    The match-set computation lives in boolean_matched_scores; this
    wrapper only adds the per-query rank window."""
    matched = boolean_matched_scores(
        index,
        queries,
        k1=k1,
        b=b,
        field=field,
        allowed_docs=allowed_docs,
        synonyms=synonyms,
        fuzzy_decay=fuzzy_decay,
        spark=spark,
        warm_df=True,  # top-level batch scorer: one tiny collect for
        # unseen terms buys the windowless df path for the whole batch
    )
    return rank_window(matched, k)
