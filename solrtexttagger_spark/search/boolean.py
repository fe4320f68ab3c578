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
                 CONTIGUOUSLY (positional intersection,
                 search/phrase.multi_phrase_match); its constituent terms
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

Physical shape (all JVM, one shuffle + one per-phrase-batch shuffle):
postings broadcast-joined to the scoring terms, exploded,
groupBy(query_id, doc_id) aggregating the score AND the
distinct-MUST-present count in one pass; the MUST filter is a
`HAVING`-style post-aggregation predicate against a broadcast per-query
MUST count; MUST_NOT is a broadcast left_anti join of (query, doc)
prohibited pairs. ALL phrase clauses across ALL queries resolve in ONE
extra postings pass (multi_phrase_match), then filter as broadcast
semi/anti join pairs. No extra pass over the postings for the filters.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from solrtexttagger_spark.analysis.core import tokenize
from solrtexttagger_spark.index.build import InvertedIndex
from solrtexttagger_spark.search.bm25 import (
    B,
    K1,
    join_query_terms,
    warm_df_cache,
)
from solrtexttagger_spark.search.phrase import (
    MAX_SLOP as _MAX_SLOP,
    multi_phrase_match,
    multi_phrase_match_scored,
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
    index that rewrite is a full vocabulary scan."""
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
            # to the executors. phrase._slop_map re-checks at execution
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
    words appear adjacent, resolved through the same multi_phrase_match
    pass as explicit phrase clauses), and — on EVERY clause kind, MUST
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
                # contiguous phrase (multi_phrase_match_scored)
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
    the per-query top-k) and facets.facet_query_counts (Solr
    facet.query needs cardinalities over the whole match set, never a
    page). Same clause semantics, marker rewrites, synonym groups,
    phrase/slop filters, prohibition anti-joins and fq semi-join as
    boolean_bm25_topk; one postings pass + one phrase pass for ALL
    queries."""
    spark = spark or index.postings.sparkSession
    score_rows, not_rows, must_counts = [], [], {}
    phrase_ids: dict[tuple[tuple[str, ...], int], int] = {}  # (toks, slop)
    req_rows: list[tuple[int, int]] = []
    proh_phrase_rows: list[tuple[int, int]] = []
    pgroup_rows: list[tuple[int, int, int]] = []  # (qid, phrase_id, gid)
    req_counts: dict[int, int] = {}
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
    pscore_rows: list[tuple[int, int, float]] = []  # (qid, phrase_id, w)
    for qid, (must, should, must_not, mphr, nphr) in parsed:
        (score_bag, must_groups, n_groups, must_not, phrase_groups,
         syn_not_phrases, syn_phrase_bags) = expand_boolean_clauses(
            must, should, must_not, synonyms, member_weights
        )
        must_counts[int(qid)] = n_groups
        for t, qtf in sorted(score_bag.items()):
            score_rows.append(
                (int(qid), t, float(qtf), list(must_groups.get(t, ())))
            )
        for t in sorted(must_not):
            not_rows.append((int(qid), t))
        req = set()
        for toks, slop in mphr:
            pid = phrase_ids.setdefault((toks, slop), len(phrase_ids))
            req.add(pid)
        req_counts[int(qid)] = len(req)
        req_rows.extend((int(qid), pid) for pid in sorted(req))
        # synonym phrases are always exact-contiguity (slop 0)
        for entry in nphr + [(t, 0) for t in syn_not_phrases]:
            pid = phrase_ids.setdefault(entry, len(phrase_ids))
            proh_phrase_rows.append((int(qid), pid))
        # multi-word synonym members: contiguity-checked group membership
        for toks, gids in sorted(phrase_groups.items()):
            pid = phrase_ids.setdefault((toks, 0), len(phrase_ids))
            pgroup_rows.extend((int(qid), pid, gid) for gid in gids)
        # ... and phrase-GATED constituent scoring (MUST and SHOULD
        # alike — round-6 verdict #5 graph semantics on every path)
        for toks, w in sorted(syn_phrase_bags.items()):
            pid = phrase_ids.setdefault((toks, 0), len(phrase_ids))
            pscore_rows.append((int(qid), pid, float(w)))
    if not score_rows and not pscore_rows:
        return spark.createDataFrame(
            [], "query_id long, doc_id long, score double"
        )
    postings = index.postings
    n = float(index.doc_count)
    avgdl = float(index.avgdl) if index.avgdl else 1.0

    # Global df from bm25.global_df, the one lookup (no action). Only
    # the top-level entry (``warm_df=True``, boolean_bm25_topk and
    # solr_select's scored routes) fills its cache first, with one tiny
    # collect for unseen terms, phrase constituents included: a
    # boolean query's vocabulary is known only after the parse above.
    # Embedded callers (the /select writers' facet.query block, the
    # router, /stream) stay action-free and keep their job budgets.
    if warm_df:
        warm_df_cache(
            index,
            {t for (_q, t, _w, _g) in score_rows}
            | ({t for (toks, _s) in phrase_ids for t in toks}
               if pscore_rows else set()),
        )
    joined = join_query_terms(
        index, postings, [(t, qid, w, g) for (qid, t, w, g) in score_rows],
        "term string, query_id long, qtf double, mgroups array<int>",
    )
    idf = F.log(
        F.lit(1.0) + (F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    ex = joined.select(
        "query_id",
        "term",
        "mgroups",
        idf.alias("idf"),
        F.col("qtf"),
        F.explode("postings").alias("p"),
    )
    tf = F.col("p.tf").cast("double")
    dl = F.col("p.dl").cast("double")
    contrib = (
        F.col("idf")
        * (tf * (k1 + 1.0))
        / (tf + k1 * (1.0 - b + b * dl / avgdl))
        * F.col("qtf").cast("double")
    )
    # groups_present = the DISTINCT MUST groups any of whose TERM members
    # is in the doc (without synonyms every group is one term, so the
    # count reduces to the old distinct-MUST-term count). Group ids
    # travel as a tiny array per scoring row; one flatten+distinct per
    # (query, doc) group. Multi-word synonym members add their groups
    # through the phrase-match relation below (contiguity-checked).
    scores = (
        ex.select(
            "query_id",
            F.col("p.doc_id").alias("doc_id"),
            contrib.alias("c"),
            F.col("mgroups"),
        )
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("c").alias("score"),
            F.array_distinct(F.flatten(F.collect_list("mgroups"))).alias(
                "tgroups"
            ),
        )
    )
    pm = None
    if phrase_ids:
        # ONE extra postings pass resolves every phrase across every
        # query — explicit clauses AND multi-word synonym members alike;
        # when any synonym phrase SCORES (graph semantics), the same
        # pass also folds the constituents' unit BM25 contributions
        by_pid = sorted(phrase_ids.items(), key=lambda kv: kv[1])
        ordered = [" ".join(toks) for (toks, _slop), _ in by_pid]
        slops = [slop for (_toks, slop), _ in by_pid]
        if pscore_rows:
            pm = multi_phrase_match_scored(
                index, ordered, k1=k1, b=b, slops=slops
            )
        else:
            pm = multi_phrase_match(index, ordered, slops=slops)
        # the phrase-match relation feeds up to four consumers below
        # (constituent bonus, synonym-group hits, required-phrase hits,
        # prohibited pairs); materialize it ONCE instead of re-running
        # the postings pass + contiguity fold per consumer subtree
        n_consumers = sum(
            1
            for flag in (pscore_rows, pgroup_rows, req_rows, proh_phrase_rows)
            if flag
        )
        if n_consumers >= 2:
            pm = pm.localCheckpoint(eager=True)
    if pscore_rows:
        # phrase-gated constituent scoring: merged BEFORE the group
        # filter, full outer because a doc can match ONLY through the
        # contiguous expansion (its group membership then comes from
        # the phrase-hit relation below)
        psdf = spark.createDataFrame(
            pscore_rows, "query_id long, phrase_id int, w double"
        )
        bonus = (
            pm.join(F.broadcast(psdf), "phrase_id")
            .select(
                "query_id",
                "doc_id",
                (F.col("w") * F.col("unit_score")).alias("extra"),
            )
            .groupBy("query_id", "doc_id")
            .agg(F.sum("extra").alias("extra"))
        )
        scores = scores.join(bonus, ["query_id", "doc_id"], "full_outer").select(
            "query_id",
            "doc_id",
            (
                F.coalesce(F.col("score"), F.lit(0.0))
                + F.coalesce(F.col("extra"), F.lit(0.0))
            ).alias("score"),
            F.coalesce(F.col("tgroups"), F.array().cast("array<int>")).alias(
                "tgroups"
            ),
        )
    if pgroup_rows:
        pgdf = spark.createDataFrame(
            pgroup_rows, "query_id long, phrase_id int, gid int"
        )
        phits = (
            pm.join(F.broadcast(pgdf), "phrase_id")
            .groupBy("query_id", "doc_id")
            .agg(F.array_distinct(F.collect_list("gid")).alias("pgroups"))
        )
        scores = scores.join(phits, ["query_id", "doc_id"], "left")
        musts_present = F.size(
            F.array_distinct(
                F.concat(
                    F.col("tgroups"),
                    F.coalesce(F.col("pgroups"), F.array().cast("array<int>")),
                )
            )
        )
    else:
        musts_present = F.size("tgroups")
    # per-query required-MUST count as a broadcast map literal (tiny)
    mc = F.create_map(*[F.lit(x) for kv in must_counts.items() for x in kv])
    matched = scores.where(
        musts_present == mc[F.col("query_id")].cast("long")
    ).drop("tgroups", "pgroups")
    if not_rows:
        ndf = spark.createDataFrame(not_rows, "query_id long, term string")
        prohibited = (
            postings.join(F.broadcast(ndf.select("term").distinct()), "term")
            .select("term", F.explode("postings.doc_id").alias("doc_id"))
            .join(F.broadcast(ndf), "term")
            .select("query_id", "doc_id")
            .distinct()
        )
        matched = matched.join(prohibited, ["query_id", "doc_id"], "left_anti")
    if phrase_ids:
        if req_rows:
            reqdf = spark.createDataFrame(req_rows, "query_id long, phrase_id int")
            hits = (
                pm.join(F.broadcast(reqdf), "phrase_id")
                .groupBy("query_id", "doc_id")
                .agg(F.count_distinct("phrase_id").alias("np"))
            )
            rc = F.create_map(*[F.lit(x) for kv in req_counts.items() for x in kv])
            matched = (
                matched.join(hits, ["query_id", "doc_id"], "left")
                .where(
                    F.coalesce(F.col("np"), F.lit(0))
                    == rc[F.col("query_id")].cast("long")
                )
                .drop("np")
            )
        if proh_phrase_rows:
            pphr = spark.createDataFrame(
                sorted(set(proh_phrase_rows)), "query_id long, phrase_id int"
            )
            proh_pairs = pm.join(F.broadcast(pphr), "phrase_id").select(
                "query_id", "doc_id"
            )
            matched = matched.join(proh_pairs, ["query_id", "doc_id"], "left_anti")
    if allowed_docs is not None:
        matched = matched.join(
            allowed_docs.select("doc_id").distinct(), "doc_id", "left_semi"
        )
    return matched


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
    search/bm25.bm25_topk): restricts results via a semi-join on the
    matched set before the rank window, never the scoring stats.
    ``synonyms`` expands clauses per expand_boolean_clauses — a MUST
    group is satisfied by ANY member, so the HAVING-style filter counts
    distinct satisfied GROUPS, not distinct terms. ``fuzzy_decay=True``
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
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        matched.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
