"""Solr /suggest handler — the AnalyzingInfixSuggester shape.

Reference surface: Solr's SuggestComponent serves type-ahead from a
DICTIONARY (a stored field's values weighted by another field — titles
by popularity, dictionary names by frequency), not from the inverted
index. AnalyzingInfixSuggester, the default modern implementation,
analyzes each suggestion once at build time, then matches a query when
every query token matches a suggestion token — whole-token matches for
all but the last query token, a PREFIX match for the last (the token
the user is still typing) — ranking by weight desc, and highlights the
matched spans. The reference's tagger dictionary (names + copyField
fan-out, the exact corpus SURVEY §2 S1 ingests) is the natural
suggestion source here.

Spark-first shape:

- ``build_suggestions`` analyzes the dictionary ONCE (Solr's
  buildOnStartup): lowercase + non-alphanumeric split entirely in
  Catalyst (`F.split` — JVM, codegen), persisted as (suggestion,
  weight, tokens). Build is a map-only pass over the dictionary.
- ``suggest`` compiles the query into Catalyst array predicates:
  `array_contains` per whole token, `exists(tokens, startswith)` for
  the prefix token — no Python in the match path — then TakeOrdered
  (weight desc, suggestion asc) for the global top-N: count is
  request-bounded, so the sort never materializes the dictionary.
- ``LocalSuggester`` is the warm serving twin (the LocalSearcher /
  LocalSpeller pattern): collect the analyzed dictionary once, serve
  lookups from a sorted token index via bisect — Lucene's in-memory
  FST suggester shape, microseconds per request, output-identical to
  the distributed path (parity-tested).
"""

from __future__ import annotations

import bisect

from pyspark.sql import DataFrame, functions as F

from solrtexttagger_spark.plans import array_lit

_TOKEN_SPLIT = "[^a-z0-9]+"


def _analyze_expr(col):
    """The suggester's build/query analyzer as ONE Catalyst expression:
    lowercase, split on non-alphanumerics, drop empties."""
    return F.filter(
        F.split(F.lower(col), _TOKEN_SPLIT), lambda t: t != ""
    )


def _analyze_query(q: str) -> list[str]:
    import re

    return [t for t in re.split(_TOKEN_SPLIT, q.lower()) if t]


def build_suggestions(
    dict_df: DataFrame,
    *,
    text_col: str = "name",
    weight_col: str | None = None,
    context_col: str | None = None,
) -> DataFrame:
    """Analyze the dictionary once (Solr suggester build): returns
    (suggestion, weight, tokens[, contexts]). Without a weight column
    every suggestion weighs 1 (ties break on the suggestion string).
    Duplicate suggestion strings keep their max weight — Solr
    dictionaries are deduplicated at build. ``context_col`` is the
    suggester's contextField: a string (or array<string>) column whose
    values collect into the suggestion's ``contexts`` set for
    request-time ``suggest.cfq`` filtering."""
    w = (
        F.col(weight_col).cast("double")
        if weight_col
        else F.lit(1.0)
    )
    cols = [F.col(text_col).alias("suggestion"), w.alias("weight")]
    if context_col is not None:
        ctx_in = dict_df.schema[context_col].dataType.typeName()
        c = F.col(context_col)
        cols.append(
            (c if ctx_in == "array" else F.array(c)).alias("__ctx")
        )
    base = dict_df.select(*cols).where(F.col("suggestion").isNotNull())
    aggs = [F.max("weight").alias("weight")]
    if context_col is not None:
        aggs.append(
            F.array_distinct(
                F.filter(
                    F.flatten(F.collect_list("__ctx")),
                    lambda x: x.isNotNull(),
                )
            ).alias("contexts")
        )
    return (
        base.groupBy("suggestion")
        .agg(*aggs)
        .withColumn("tokens", _analyze_expr(F.col("suggestion")))
        .where(F.size("tokens") > 0)
    )


def suggest(
    suggestions: DataFrame,
    q: str,
    *,
    count: int = 10,
    infix_prefix: bool = True,
    contexts: list[str] | None = None,
) -> DataFrame:
    """Solr ``suggest.q=<q>&suggest.count=<count>``: top suggestions by
    weight. All query tokens but the last must match a suggestion
    token exactly; the last matches as a prefix (``infix_prefix=False``
    demands whole-token for it too — AnalyzingSuggester's exactness
    knob). ``contexts`` is ``suggest.cfq``: keep suggestions carrying
    ANY of the given context values (needs a build with
    ``context_col``). Returns (suggestion, weight) ordered (weight
    desc, suggestion asc), LIMIT count."""
    toks = _analyze_query(q)
    if not toks:
        raise ValueError("suggest.q analyzed to zero tokens")
    cond = F.lit(True)
    if contexts is not None:
        if "contexts" not in suggestions.columns:
            raise ValueError(
                "contexts filtering needs build_suggestions(context_col=...)"
            )
        cond = cond & F.arrays_overlap("contexts", array_lit(contexts, "string"))
    for t in toks[:-1]:
        cond = cond & F.array_contains("tokens", t)
    last = toks[-1]
    if infix_prefix:
        cond = cond & F.exists(
            "tokens", lambda x: x.startswith(last)
        )
    else:
        cond = cond & F.array_contains("tokens", last)
    return (
        suggestions.where(cond)
        .select("suggestion", "weight")
        .orderBy(F.col("weight").desc(), F.col("suggestion").asc())
        .limit(count)
    )


def _highlight(suggestion: str, toks: list[str], infix_prefix: bool) -> str:
    """AnalyzingInfixSuggester's highlighted form: every suggestion
    token that matched wraps in <b>..</b>; for the prefix token only
    the typed prefix wraps (Lucene highlights the matched span, the
    completion stays plain)."""
    import re

    whole = set(toks[:-1])
    last = toks[-1]
    out = []
    for piece in re.split(r"(\W+)", suggestion):
        low = piece.lower()
        if low in whole or (not infix_prefix and low == last):
            out.append(f"<b>{piece}</b>")
        elif infix_prefix and low.startswith(last) and low:
            cut = len(last)
            out.append(f"<b>{piece[:cut]}</b>{piece[cut:]}")
        else:
            out.append(piece)
    return "".join(out)


def render_suggest_json(
    suggestions: DataFrame,
    q: str,
    *,
    count: int = 10,
    dictionary: str = "default",
    infix_prefix: bool = True,
    highlight: bool = True,
) -> dict:
    """Solr SuggestComponent response shape::

        {"suggest": {<dict>: {<q>: {"numFound": n, "suggestions":
            [{"term": ..., "weight": ..., "payload": ""}, ...]}}}}

    ``highlight=True`` renders ``term`` with the matched spans wrapped
    in ``<b>`` (AnalyzingInfixSuggester's highlighted output). One
    action: the bounded suggest() page collects, highlighting runs on
    the driver over <= count strings."""
    toks = _analyze_query(q)
    rows = suggest(
        suggestions, q, count=count, infix_prefix=infix_prefix
    ).collect()
    entries = [
        {
            "term": (
                _highlight(r["suggestion"], toks, infix_prefix)
                if highlight
                else r["suggestion"]
            ),
            "weight": r["weight"],
            "payload": "",
        }
        for r in rows
    ]
    return {
        "suggest": {
            dictionary: {q: {"numFound": len(entries),
                             "suggestions": entries}}
        }
    }


class LocalSuggester:
    """Warm driver-resident twin: one collect of the analyzed
    dictionary, then every request is a bisect over the sorted token
    list + set intersections — no Spark job per keystroke. Lucene keeps
    the suggester RAM-resident per node for the same reason."""

    def __init__(self, suggestions: DataFrame):
        has_ctx = "contexts" in suggestions.columns
        cols = ["suggestion", "weight", "tokens"] + (
            ["contexts"] if has_ctx else []
        )
        rows = suggestions.select(*cols).collect()
        self._weights: list[float] = []
        self._strings: list[str] = []
        self._contexts: list[frozenset] | None = [] if has_ctx else None
        tok_map: dict[str, set[int]] = {}
        for i, r in enumerate(rows):
            self._strings.append(r["suggestion"])
            self._weights.append(float(r["weight"]))
            if self._contexts is not None:
                self._contexts.append(frozenset(r["contexts"] or ()))
            for t in set(r["tokens"]):
                tok_map.setdefault(t, set()).add(i)
        self._tok_map = tok_map
        self._sorted_tokens = sorted(tok_map)

    def _prefix_ids(self, prefix: str) -> set[int]:
        lo = bisect.bisect_left(self._sorted_tokens, prefix)
        out: set[int] = set()
        for j in range(lo, len(self._sorted_tokens)):
            t = self._sorted_tokens[j]
            if not t.startswith(prefix):
                break
            out |= self._tok_map[t]
        return out

    def suggest(
        self, q: str, *, count: int = 10, infix_prefix: bool = True,
        contexts: list[str] | None = None,
    ) -> list[tuple[str, float]]:
        toks = _analyze_query(q)
        if not toks:
            raise ValueError("suggest.q analyzed to zero tokens")
        if contexts is not None and self._contexts is None:
            raise ValueError(
                "contexts filtering needs build_suggestions(context_col=...)"
            )
        ids: set[int] | None = None
        for t in toks[:-1]:
            hit = self._tok_map.get(t, set())
            ids = hit if ids is None else ids & hit
            if not ids:
                return []
        last_ids = (
            self._prefix_ids(toks[-1])
            if infix_prefix
            else self._tok_map.get(toks[-1], set())
        )
        ids = last_ids if ids is None else ids & last_ids
        if contexts is not None:
            want = set(contexts)
            ids = {i for i in ids if self._contexts[i] & want}
        return sorted(
            ((self._strings[i], self._weights[i]) for i in ids),
            key=lambda p: (-p[1], p[0]),
        )[:count]
