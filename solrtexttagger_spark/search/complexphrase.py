"""{!complexphrase} — wildcard / prefix / fuzzy / range terms INSIDE
phrases.

Reference surface: Solr's ComplexPhraseQParser (Lucene
ComplexPhraseQueryParser): ``"(john jon) pet*son~"`` parses as a phrase
whose SLOTS are term SETS — each multi-term sub-query rewrites against
the vocabulary, and the phrase matches where SOME member of every slot
occurs at consecutive positions (Lucene builds a SpanNearQuery of
SpanOr clauses; ``inOrder=true`` by default, slop via ``~n``).

Shape — a slot-set phrase on the one phrase matcher
(boolean.phrase_relation, boolean.phrase_docs per segment):

1. every marker slot rewrites against the vocabulary with the SAME
   JVM-side machinery the boolean clause family uses
   (boolean.marker_candidates / expand_vocab_markers: fuzzy keeps
   FuzzyQuery's maxExpansions=50 TopTerms cap, prefix/wildcard/range
   are all-matches with the maxBooleanClauses=1024 overflow RAISE);
2. ONE scan of the postings of every slot's members (the term list is
   pushed into the scan), grouped by segment — a slot with k members
   costs k term lookups, never a corpus pass;
3. in each segment the members of a slot MERGE per doc into one
   positions list (Lucene's SpanOr) before phrase_docs: an anchor
   survives iff every slot has some member at its offset.

Output: (phrase_id, doc_id, n_occurrences) with n_occurrences = distinct
anchors (distinct qualifying window anchors under slop), as
phrase_match counts them. A literal slot is keyed by its term, so a
literal repeated in a sloppy phrase takes the same repeats check as the
boolean '+"a a"~1' clause.

Documented deviations, both inherited from phrase_docs:
- slop uses the window (end-start) criterion, not Lucene's greedy
  move-counting (superset for 3+ slots);
- a marker or group slot is keyed by its index, so a REPEATED marker
  slot under slop > 0 skips the distinct-positions repeats check —
  ComplexPhraseQuery itself documents rough edges around repeats.

Parity anchor: ComplexPhraseQParserPlugin is exercised in the
reference's Solr config only through defaults; semantics follow the
Lucene javadoc for ComplexPhraseQueryParser.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from solrtexttagger_spark.index.build import InvertedIndex
from solrtexttagger_spark.search.boolean import (
    MAX_PREFIX_EXPANSIONS,
    expand_vocab_markers,
    parse_marker,
    phrase_relation,
)
from solrtexttagger_spark.search.phrase import phrase_slops


_RANGE_TOK = __import__("re").compile(r"^([\[{])(\S+) TO (\S+)([\]}])$")


def _lc_token(tok: str) -> str:
    """Lowercase a slot token, preserving the range marker's ``TO``
    keyword (Lucene's range syntax is case-sensitive on TO; the
    endpoints analyze like terms)."""
    m = _RANGE_TOK.match(tok)
    if m:
        return (f"{m.group(1)}{m.group(2).lower()} TO "
                f"{m.group(3).lower()}{m.group(4)}")
    return tok.lower()


def parse_complex_phrase(phrase: str, *, lowercase: bool = True
                         ) -> list[list[str] | str]:
    """Split a complex phrase into slots: a literal token stays a
    string, ``(a b c)`` becomes an explicit alternative list, and a
    marker token (``pre*``, ``te?m``, ``word~1``, ``[lo TO hi]``) stays
    a string to be vocabulary-expanded later. Returns
    [slot, ...] where slot is str | list[str]."""
    out: list[list[str] | str] = []
    buf, depth = [], 0
    toks = []
    for ch in phrase:
        if ch in "([{":
            depth += 1
            buf.append(ch)
        elif ch in ")]}":
            depth -= 1
            if depth < 0:
                raise ValueError(f"unbalanced parens in {phrase!r}")
            buf.append(ch)
        elif ch.isspace() and depth == 0:
            if buf:
                toks.append("".join(buf))
                buf = []
        else:
            buf.append(ch)
    if depth != 0:
        raise ValueError(f"unbalanced parens in {phrase!r}")
    if buf:
        toks.append("".join(buf))
    for t in toks:
        if t.startswith("(") and not t.endswith(")"):
            # e.g. '(john jon)~1' — a per-group suffix this parser does
            # not support; falling through to the literal branch would
            # look up a nonexistent term and silently match NOTHING, so
            # fail loudly instead (r9 ADVICE)
            raise ValueError(
                f"unsupported group syntax {t!r} in {phrase!r}: per-group"
                " suffixes (slop/boost on a parenthesized group) are not"
                " supported — apply slop to the whole phrase"
            )
        if t.startswith("(") and t.endswith(")"):
            alts = t[1:-1].split()
            if not alts:
                raise ValueError(f"empty alternative group in {phrase!r}")
            out.append([_lc_token(a) if lowercase else a for a in alts])
        else:
            out.append(_lc_token(t) if lowercase else t)
    if not out:
        raise ValueError("empty complex phrase")
    return out


def complex_phrase_match(
    index: InvertedIndex,
    phrases: list[str],
    *,
    slops: list[int] | None = None,
    lowercase: bool = True,
    max_expansions: int = 50,
    max_prefix_expansions: int = MAX_PREFIX_EXPANSIONS,
) -> DataFrame:
    """Match MANY complex phrases in one postings pass; returns
    (phrase_id, doc_id, n_occurrences), phrase_id = position in
    ``phrases``. See the module docstring for semantics; slots whose
    vocabulary rewrite is EMPTY make the phrase match nothing (an empty
    SpanOr — exactly Lucene's behavior)."""
    slops = phrase_slops(phrases, slops)
    parsed = [
        parse_complex_phrase(p, lowercase=lowercase) for p in phrases
    ]
    # resolve every marker across all phrases in ONE vocabulary job;
    # markers hide in BOTH slot shapes: a bare marker token AND inside
    # (a b*) alternative groups (Lucene rewrites group members too)
    markers = sorted({
        m
        for slots in parsed
        for slot in slots
        for m in (slot if isinstance(slot, list) else [slot])
        if parse_marker(m) is not None
    })
    expansions = expand_vocab_markers(
        index, markers,
        max_expansions=max_expansions,
        max_prefix_expansions=max_prefix_expansions,
    ) if markers else {}

    def members(alt: str) -> list[str]:
        # a marker alt with an empty rewrite just drops out of its group
        return expansions.get(alt, []) if parse_marker(alt) is not None else [alt]

    # a literal slot stays its term; a marker or group slot becomes its
    # member set (empty when nothing is left: the phrase matches nothing)
    return phrase_relation(index, [
        tuple(
            slot if isinstance(slot, str) and parse_marker(slot) is None
            else tuple(sorted({
                m for alt in (slot if isinstance(slot, list) else [slot])
                for m in members(alt)
            }))
            for slot in slots
        )
        for slots in parsed
    ], slops)
