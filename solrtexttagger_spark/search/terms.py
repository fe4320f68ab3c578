"""Solr /terms handler + spellcheck over the live index vocabulary —
two more delegated handlers of the reference's Solr stack (SURVEY.md
§2.4), re-expressed Spark-first on the term_stats relation (term, df,
cf): tiny next to postings, broadcastable, already produced by every
build.

- terms_component: Solr's TermsComponent (`terms.prefix` /
  `terms.limit` / `terms.sort=count`) — top-k terms under a prefix by
  document frequency. The prefix predicate (StartsWith) pushes into the
  term_stats scan; the top-k is a WindowGroupLimit, never a full sort.
- spellcheck_terms: Solr's DirectSpellChecker shape — candidate
  corrections come from the LIVE index terms (no side dictionary),
  ranked by (edit distance asc, df desc, term asc). A cheap
  length-difference pre-filter (|len(term) - len(word)| <= max_dist, a
  provable consequence of the distance bound) prunes the vocabulary
  before levenshtein runs; both predicates are built-in JVM expressions.
- deletion_neighborhood + spellcheck_terms(neighborhood=...): the
  1e8-vocabulary serving shape. Lucene's DirectSpellChecker intersects
  a Levenshtein automaton with the terms FST so a request never scans
  the vocabulary; the Spark-native analogue is a PRECOMPUTED
  deletion-neighborhood relation (SymSpell: levenshtein(a, b) <= d
  implies the <=d-deletion sets of a and b intersect). The index-build
  side materialises (delkey, term, df) once; a request generates the
  word's own tiny deletion set driver-side and pushes it down as an
  IN-list into the neighborhood scan — candidate set bounded by key
  collisions, never the vocabulary.
- spellcheck_collate: Solr's spellcheck.collate — rewrite the query
  with each top suggestion for its out-of-vocabulary term and report
  the corrected query's hit count (docs matching ALL collation terms,
  Solr's collateParam q.op=AND shape); only collations with hits > 0
  return, ranked in suggestion order.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame, Window, functions as F

from solrtexttagger_spark.index.build import InvertedIndex
from solrtexttagger_spark.plans import local_frame, term_in


def terms_component(
    index: InvertedIndex, prefix: str, *, k: int = 10,
    regex: str | None = None, min_count: int | None = None,
    max_count: int | None = None,
) -> DataFrame:
    """Solr /terms: the top ``k`` index terms starting with ``prefix``,
    ordered by global df desc (term asc tie-break, Solr's index-order
    tie). Returns (rank, term, df, cf). ``regex`` is Solr's
    ``terms.regex`` (full-match, like Lucene's RegexpQuery — anchored
    here with rlike ^...$); ``min_count``/``max_count`` are
    terms.mincount/maxcount df bounds. All filters compose with the
    prefix and run BEFORE the top-k, so TakeOrdered sees only
    survivors.

    Physical shape: orderBy+limit = TakeOrderedAndProject (per-partition
    top-k merged on the driver, NO global sort even for an empty prefix
    over a 1e8-term vocabulary); the rank window then runs over only the
    k survivors."""
    base = index.term_stats.where(F.col("term").startswith(prefix))
    if regex is not None:
        base = base.where(F.col("term").rlike(f"^(?:{regex})$"))
    if min_count is not None:
        base = base.where(F.col("df") >= min_count)
    if max_count is not None:
        base = base.where(F.col("df") <= max_count)
    top = (
        base
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("df").desc(), F.col("term").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "term", F.col("df").cast("long"), F.col("cf").cast("long")
    )


def _deletion_set(word: str, max_dist: int) -> list[str]:
    """All strings reachable from ``word`` by deleting up to ``max_dist``
    characters (the word itself included) — the SymSpell request-side
    key set. Size is O(len^max_dist), tiny for real words."""
    out = {word}
    for d in range(1, max_dist + 1):
        for idx in combinations(range(len(word)), d):
            drop = set(idx)
            out.add("".join(c for i, c in enumerate(word) if i not in drop))
    return sorted(out)


def deletion_neighborhood(
    index: InvertedIndex, *, max_dist: int = 2, min_df: int = 1
) -> DataFrame:
    """Precomputed SymSpell candidate index over the live vocabulary:
    (delkey, term, df), one row per <=``max_dist``-deletion variant of
    each term. Built once per index generation (persist/save it like any
    other index artifact — the FST analogue); ``spellcheck_terms``
    then resolves a request with an IN-list pushdown against ``delkey``
    instead of a vocabulary scan.

    Physical shape: one pass over term_stats; the deletion fan-out is
    pure JVM (nested ``transform`` over position index sequences +
    flatten + array_distinct + explode) — no Python in the build, and
    the relation partitions/buckets by delkey for pushdown at scale."""
    if max_dist < 1 or max_dist > 2:
        raise ValueError("max_dist must be 1 or 2")
    t = F.col("term")
    length = F.length(t)
    # delete position i (0-based): prefix [1..i] + suffix [i+2..]
    del1 = F.transform(
        F.sequence(F.lit(0), length - 1),
        lambda i: F.concat(t.substr(F.lit(1), i), t.substr(i + 2, length)),
    )
    keys = F.concat(F.array(t), del1)
    if max_dist == 2:
        # delete positions i < j of the ORIGINAL word: applying j first
        # keeps i's meaning (i < j so deleting j never shifts i).
        # Note the j=0 inner sequence(0, -1) descends to [0, -1]; both
        # spurious pairs reduce to valid delete-1 variants (negative
        # substr lengths collapse to ""), so array_distinct leaves the
        # exact <=2-deletion set — pinned against the Python reference
        # in test_deletion_neighborhood_contents
        del2 = F.flatten(
            F.transform(
                F.sequence(F.lit(0), length - 1),
                lambda j: F.transform(
                    F.sequence(F.lit(0), j - 1),
                    lambda i: F.concat(
                        t.substr(F.lit(1), i),
                        t.substr(i + 2, j - i - 1),
                        t.substr(j + 2, length),
                    ),
                ),
            )
        )
        keys = F.concat(keys, del2)
    base = index.term_stats.where(F.col("df") >= min_df)
    out = base.select(
        F.explode(F.array_distinct(keys)).alias("delkey"),
        "term",
        F.col("df").cast("long").alias("df"),
    )
    # build-parameter tag (plain Python attribute): consumers validate
    # compatibility — a neighborhood built shallower (smaller max_dist)
    # or sparser (larger min_df) than a request needs would WRONG-DROP
    # suggestions with no error, so spellcheck_terms raises instead
    out._symspell_meta = {"max_dist": int(max_dist), "min_df": int(min_df)}
    return out


def spellcheck_terms(
    index: InvertedIndex,
    word: str,
    *,
    max_dist: int = 2,
    k: int = 5,
    min_df: int = 1,
    neighborhood: DataFrame | None = None,
) -> DataFrame:
    """Solr spellcheck (DirectSpellChecker): index terms within
    ``max_dist`` levenshtein of ``word`` (the word itself excluded),
    ranked by (distance asc, df desc, term asc), df >= min_df. Returns
    (rank, term, dist, df).

    Physical shape: the vocabulary-wide work (length band + levenshtein)
    is embarrassingly parallel scan predicates; orderBy+limit =
    TakeOrderedAndProject (no global sort), and the rank window runs
    over only the k survivors.

    ``neighborhood`` (a ``deletion_neighborhood`` relation built with
    >= this ``max_dist`` and <= this ``min_df``) switches to the SymSpell
    path: the word's own deletion set becomes an IN-list pushed into the
    delkey scan, so the levenshtein verify runs over key-collision
    candidates only — the 1e8-term serving shape. Output is identical to
    the scan path (SymSpell completeness: every term within max_dist
    shares a deletion key)."""
    if max_dist < 1:
        raise ValueError("max_dist must be >= 1")
    if neighborhood is not None:
        _check_neighborhood_compat(neighborhood, max_dist, min_df)
        keys = _deletion_set(word, max_dist)
        cand = (
            neighborhood.where(term_in(F.col("delkey"), keys))
            .select("term", "df")
            .distinct()
            .where((F.col("term") != word) & (F.col("df") >= min_df))
        )
    else:
        cand = index.term_stats.where(
            (F.abs(F.length("term") - len(word)) <= max_dist)
            & (F.col("term") != word)
            & (F.col("df") >= min_df)
        )
    cand = cand.withColumn(
        "dist", F.levenshtein(F.col("term"), F.lit(word)).cast("long")
    )
    order = [F.col("dist").asc(), F.col("df").desc(), F.col("term").asc()]
    top = cand.where(F.col("dist") <= max_dist).orderBy(*order).limit(k)
    w = Window.orderBy(*order)
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "term", "dist", F.col("df").cast("long")
    )


def spellcheck_collate(
    index: InvertedIndex,
    query: str,
    *,
    max_dist: int = 2,
    k: int = 5,
    min_df: int = 1,
    neighborhood: DataFrame | None = None,
) -> DataFrame:
    """Solr spellcheck.collate (the SearchHandler half of spellcheck UX:
    solrconfig.xml wires DirectSpellChecker + collate into /select):
    tokenize ``query`` with the index analyzer, find the OUT-OF-VOCABULARY
    terms, and for each top suggestion build the corrected query
    (collation) plus its hit count. Returns (rank, collation, hits):
    hits = docs containing ALL collation terms (Solr's
    spellcheck.collateParam.q.op=AND shape), collations with 0 hits
    dropped (Solr only returns verified collations), rank = suggestion
    order among the survivors.

    Scope: one misspelled term per query (multiple in-vocabulary terms
    fine) — Solr's common case; multi-misspelling cross-products raise.
    Physical shape: 3 tiny jobs — query-term df probe (broadcast IN-list
    on term_stats), suggestion top-k (scan or SymSpell ``neighborhood``
    path), then ONE postings pass counting hits for every candidate
    collation at once (conjunctive count via per-doc distinct-term
    match)."""
    from solrtexttagger_spark.search.bm25 import analyze_query_terms

    qterms = sorted(analyze_query_terms(query))
    if not qterms:
        raise ValueError("empty query after analysis")
    present = {
        r["term"]
        for r in index.term_stats.where(term_in(F.col("term"), qterms))
        .select("term")
        .collect()
    }
    missing = [t for t in qterms if t not in present]
    spark = index.postings.sparkSession
    if not missing:
        return local_frame(spark, [], "rank long, collation string, hits long")
    if len(missing) > 1:
        raise ValueError(
            f"collate supports one misspelled term per query, got {missing}"
        )
    bad = missing[0]
    sugg = [
        r["term"]
        for r in spellcheck_terms(
            index, bad, max_dist=max_dist, k=k, min_df=min_df,
            neighborhood=neighborhood,
        ).collect()
    ]
    if not sugg:
        return local_frame(spark, [], "rank long, collation string, hits long")
    keep = sorted(present)
    cand_terms = sorted(set(keep) | set(sugg))
    # one postings pass: docs x matched-term pairs for every term any
    # collation needs, then per-suggestion conjunctive doc counts. The
    # required distinct-term count is per suggestion: |keep ∪ {sugg}| —
    # a suggestion may COINCIDE with an in-vocabulary query term
    # ("join jion" suggests "join"), collapsing the conjunction
    pairs = (
        index.postings.where(term_in(F.col("term"), cand_terms))
        .select("term", F.explode("postings.doc_id").alias("doc_id"))
        .distinct()
    )
    sdf = local_frame(
        spark, [(i, s, len(set(keep) | {s})) for i, s in enumerate(sugg)],
        "sugg_id int, sugg string, need int",
    )
    on_sugg = F.col("term") == F.col("sugg")
    cond = (term_in(F.col("term"), keep) | on_sugg) if keep else on_sugg
    hits = (
        pairs.join(F.broadcast(sdf), cond)
        .groupBy("sugg_id", "sugg", "need", "doc_id")
        .agg(F.count_distinct("term").alias("nt"))
        .where(F.col("nt") == F.col("need"))
        .groupBy("sugg_id", "sugg")
        .agg(F.count("*").alias("hits"))
        .collect()
    )
    by_sugg = {r["sugg"]: int(r["hits"]) for r in hits}
    rows = []
    for s in sugg:
        h = by_sugg.get(s, 0)
        if h > 0:
            # collation = the analyzed query with the misspelling replaced
            # (analyzer-normalized form, like Solr's collation echo)
            coll = " ".join(s if t == bad else t for t in qterms)
            rows.append((len(rows) + 1, coll, h))
    return local_frame(spark, rows, "rank long, collation string, hits long")


def _check_neighborhood_compat(neighborhood, max_dist: int, min_df: int) -> None:
    """SymSpell completeness holds only when the precomputed relation was
    built at >= the request's max_dist and <= its min_df — otherwise
    candidates silently vanish (no error, just wrong-short suggestion
    lists). ``deletion_neighborhood`` / ``load_neighborhood`` tag their
    frames with the build parameters; an untagged frame (user-assembled)
    passes through unchecked, documented."""
    meta = getattr(neighborhood, "_symspell_meta", None)
    if meta is None:
        return
    if int(meta["max_dist"]) < max_dist:
        raise ValueError(
            f"neighborhood built with max_dist={meta['max_dist']} cannot "
            f"serve max_dist={max_dist} (deletion keys incomplete — "
            "suggestions would silently drop); rebuild deeper"
        )
    if int(meta["min_df"]) > min_df:
        raise ValueError(
            f"neighborhood built with min_df={meta['min_df']} cannot "
            f"serve min_df={min_df} (low-df terms were never indexed); "
            "rebuild with a lower min_df"
        )


def _levenshtein(a: str, b: str, bound: int) -> int:
    """Banded Levenshtein with early abort past ``bound`` (returns
    bound + 1 when exceeded) — the driver-side serving kernel."""
    la, lb = len(a), len(b)
    if abs(la - lb) > bound:
        return bound + 1
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        best = i
        for j in range(1, lb + 1):
            cur[j] = min(
                prev[j] + 1,
                cur[j - 1] + 1,
                prev[j - 1] + (a[i - 1] != b[j - 1]),
            )
            if cur[j] < best:
                best = cur[j]
        if best > bound:
            return bound + 1
        prev = cur
    return prev[lb]


class LocalSpeller:
    """Driver-resident SymSpell speller — the serving-side analogue of
    LocalSearcher (search/wand.py): collect (term, df) once for the
    vocabulary (or a warmed subset), build the deletion-neighborhood
    dict in memory, and serve suggest()/collate() as pure dict lookups
    + a handful of banded levenshteins — Lucene DirectSpellChecker's
    interactive shape, microseconds per request.

    ``collate`` needs document sets for the hit counts; pass a
    LocalSearcher warmed with the query vocabulary (its term_postings
    doc arrays intersect with numpy). Output is identical to the
    distributed spellcheck_terms / spellcheck_collate on the same
    vocabulary (parity-tested)."""

    def __init__(
        self,
        index: InvertedIndex,
        *,
        max_dist: int = 2,
        min_df: int = 1,
        terms: "list[str] | None" = None,
    ):
        if max_dist < 1 or max_dist > 2:
            raise ValueError("max_dist must be 1 or 2")
        self.max_dist = max_dist
        self.min_df = min_df
        # subset builds (terms=) serve suggest()/collate() over the
        # warmed vocabulary by contract, but are NOT a full-vocabulary
        # rewrite source — expand_marker() checks this flag and raises
        self.full_vocab = terms is None
        base = index.term_stats.where(F.col("df") >= min_df)
        if terms is not None:
            base = base.where(term_in(F.col("term"), sorted(set(terms))))
        rows = base.select("term", "df").collect()
        self.df = {r["term"]: int(r["df"]) for r in rows}
        self.neighborhood: dict[str, list[str]] = {}
        for t in sorted(self.df):
            for key in _deletion_set(t, max_dist):
                self.neighborhood.setdefault(key, []).append(t)

    @classmethod
    def from_neighborhood(
        cls,
        spark,
        path: str,
        *,
        max_dist: int | None = None,
        min_df: int = 1,
    ) -> "LocalSpeller":
        """Warm a LocalSpeller from a persisted ``save_neighborhood``
        parquet instead of a term_stats collect — the deployment story
        for a serving process (the pq_save/pq_load analogue): the
        deletion fan-out was computed ONCE at index-build time JVM-side,
        so process warm-up is a single columnar read + dict fill, no
        Python deletion-set generation over the vocabulary. Validates
        the manifest's build parameters against the request
        (``_check_neighborhood_compat`` semantics); ``max_dist``
        defaults to the manifest's. The result is a full-vocabulary
        build (marker expansion allowed)."""
        meta = _read_neighborhood_manifest(spark, path)
        if meta is None:
            raise ValueError(
                f"no neighborhood_manifest.json under {path!r} — "
                "re-save with save_neighborhood on a tagged "
                "deletion_neighborhood frame"
            )
        if max_dist is None:
            max_dist = int(meta["max_dist"])
        nb = spark.read.parquet(path)
        nb._symspell_meta = meta
        _check_neighborhood_compat(nb, max_dist, min_df)
        rows = nb.where(F.col("df") >= min_df).collect()
        self = object.__new__(cls)
        self.max_dist = max_dist
        self.min_df = min_df
        self.full_vocab = True
        self.df = {}
        self.neighborhood = {}
        for r in rows:
            self.df[r["term"]] = int(r["df"])
            self.neighborhood.setdefault(r["delkey"], []).append(r["term"])
        for members in self.neighborhood.values():
            members.sort()  # parquet row order is nondeterministic
        return self

    def suggest(self, word: str, *, k: int = 5) -> list[tuple[int, str, int, int]]:
        """-> [(rank, term, dist, df)], ranked (dist asc, df desc, term
        asc) — identical to spellcheck_terms."""
        cand = set()
        for key in _deletion_set(word, self.max_dist):
            cand.update(self.neighborhood.get(key, ()))
        cand.discard(word)
        scored = []
        for t in cand:
            d = _levenshtein(t, word, self.max_dist)
            if d <= self.max_dist:
                scored.append((d, -self.df[t], t))
        scored.sort()
        return [
            (rank, t, d, -ndf)
            for rank, (d, ndf, t) in enumerate(scored[:k], start=1)
        ]

    def expand_marker(self, marker: str, *, max_expansions: int = 50):
        """Fuzzy (``word~d``) / prefix (``word*``) clause expansion over
        the speller's in-memory vocabulary — the serving-side twin of
        boolean.expand_vocab_markers (same ranking/cap contract: fuzzy
        df-ranked maxExpansions, prefix uncapped with the
        maxBooleanClauses guard), feeding LocalSearcher.search_boolean.
        Raises on a subset build (terms=): a marker rewrite against a
        warmed subset would silently drop vocabulary members the
        distributed path matches — unlike unwarmed plain terms, which
        fail loudly downstream."""
        if not self.full_vocab:
            raise ValueError(
                "marker expansion needs a full-vocabulary LocalSpeller; "
                "this one was built with terms= (a warmed subset) and "
                "would silently miss rewrites — build without terms= or "
                "from_neighborhood()"
            )
        return _marker_members_local(
            self.df, marker, max_expansions=max_expansions
        )

    def collate(
        self, query: str, searcher, *, k: int = 5
    ) -> list[tuple[int, str, int]]:
        """-> [(rank, collation, hits)] — identical semantics to
        spellcheck_collate (one misspelled term, conjunctive hits,
        0-hit collations dropped). ``searcher`` is a LocalSearcher
        warmed with the query's in-vocabulary terms and the candidate
        suggestions (its term_postings doc-id arrays provide the
        intersection counts)."""
        import numpy as np

        from solrtexttagger_spark.search.bm25 import analyze_query_terms

        qterms = sorted(analyze_query_terms(query))
        if not qterms:
            raise ValueError("empty query after analysis")
        missing = [t for t in qterms if t not in self.df]
        if not missing:
            return []
        if len(missing) > 1:
            raise ValueError(
                f"collate supports one misspelled term per query, got {missing}"
            )
        bad = missing[0]
        keep = [t for t in qterms if t != bad]

        def docs_of(term):
            entry = searcher.term_postings.get(term)
            if entry is None:
                searcher._require_warmed(term)
                return np.empty(0, dtype=np.int64)
            return entry[0]

        base = None
        for t in keep:
            d = docs_of(t)
            base = d if base is None else np.intersect1d(base, d, assume_unique=True)
        out = []
        for _rank, sugg, _dist, _df in self.suggest(bad, k=k):
            d = docs_of(sugg)
            hits = len(d) if base is None else len(
                np.intersect1d(base, d, assume_unique=True)
            )
            if hits > 0:
                coll = " ".join(sugg if t == bad else t for t in qterms)
                out.append((len(out) + 1, coll, int(hits)))
        return out


def save_neighborhood(neighborhood: DataFrame, path: str) -> None:
    """Persist a deletion_neighborhood relation RANGE-SORTED on delkey,
    so a request's IN-list prunes parquet row groups via min/max stats —
    the layout that keeps per-request IO sub-linear at a 1e8-term
    vocabulary (the persisted analogue of Lucene's FST living on disk).
    Written through the normal Spark writer: local, HDFS, or object
    storage alike. The build parameters (max_dist/min_df, tagged on the
    frame by ``deletion_neighborhood``) ride along in a tiny JSON
    manifest so a later load re-validates request compatibility."""
    import json

    from solrtexttagger_spark.index.compressed import _fs_write_text

    (
        neighborhood.repartitionByRange("delkey")
        .sortWithinPartitions("delkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    meta = getattr(neighborhood, "_symspell_meta", None)
    if meta is not None:
        import os

        _fs_write_text(
            neighborhood.sparkSession,
            os.path.join(path, "_neighborhood_manifest.json"),
            json.dumps({"format": "stt-symspell-v1", **meta}),
        )


def load_neighborhood(spark, path: str) -> DataFrame:
    """Inverse of save_neighborhood; pass the result as
    ``spellcheck_terms(..., neighborhood=...)``. The delkey IN-list
    predicate reaches the parquet scan (PushedFilters), and the
    range-sorted layout makes it prune. Re-attaches the build-parameter
    tag from the manifest (absent for pre-manifest saves — those frames
    pass compatibility checks unchecked, documented)."""
    out = spark.read.parquet(path)
    meta = _read_neighborhood_manifest(spark, path)
    if meta is not None:
        out._symspell_meta = meta
    return out


def _read_neighborhood_manifest(spark, path: str):
    import json
    import os

    from solrtexttagger_spark.index.compressed import _fs_read_text

    try:
        raw = _fs_read_text(spark, os.path.join(path, "_neighborhood_manifest.json"))
    except Exception:
        return None
    m = json.loads(raw)
    return {"max_dist": int(m["max_dist"]), "min_df": int(m["min_df"])}


def _marker_members_local(
    df_map: dict,
    marker: str,
    *,
    max_expansions: int = 50,
    max_prefix_expansions: int | None = None,
):
    """Shared driver-side marker expansion over a {term: df} map — same
    ranking/cap contract as boolean.expand_vocab_markers: fuzzy markers
    carry FuzzyQuery's df-ranked maxExpansions cap; prefix, wildcard and
    term-range markers match ALL qualifying terms (constant-score
    rewrites) and raise past the maxBooleanClauses-style guard."""
    import re as _re

    from solrtexttagger_spark.search.boolean import (
        MAX_PREFIX_EXPANSIONS,
        _wildcard_regex,
        parse_marker,
    )

    if max_prefix_expansions is None:
        max_prefix_expansions = MAX_PREFIX_EXPANSIONS
    parsed = parse_marker(marker)
    if parsed is None:
        raise ValueError(f"not a marker clause: {marker!r}")
    kind, base, dist = parsed
    if kind == "fuzzy":
        members = [
            (df, t)
            for t, df in df_map.items()
            if _levenshtein(t, base, dist) <= dist
        ]
        members.sort(key=lambda x: (-x[0], x[1]))
        return [t for _df, t in members[:max_expansions]]
    if kind == "prefix":
        pred = lambda t: t.startswith(base)  # noqa: E731
    elif kind == "wildcard":
        rx = _re.compile(_wildcard_regex(base))
        pred = lambda t: rx.match(t) is not None  # noqa: E731
    else:  # range
        lo, hi, lo_inc, hi_inc = base
        def pred(t, lo=lo, hi=hi, lo_inc=lo_inc, hi_inc=hi_inc):
            if lo != "*" and not (t >= lo if lo_inc else t > lo):
                return False
            if hi != "*" and not (t <= hi if hi_inc else t < hi):
                return False
            return True
    members = [(df, t) for t, df in df_map.items() if pred(t)]
    if len(members) > max_prefix_expansions:
        raise ValueError(
            f"{kind} clause {marker!r} expands to more than "
            f"{max_prefix_expansions} terms (Solr maxBooleanClauses "
            "analogue); narrow the pattern or raise max_prefix_expansions"
        )
    members.sort(key=lambda x: (-x[0], x[1]))
    return [t for _df, t in members]


def significant_terms(
    index: InvertedIndex,
    q: str,
    *,
    spark=None,
    min_doc_freq: float = 5,
    max_doc_freq: float = 0.3,
    limit: int = 20,
    round_to: int = 4,
) -> DataFrame:
    """Solr ``significantTerms`` stream source: terms over-represented
    in the FOREGROUND (docs matching ``q``) relative to the corpus
    BACKGROUND. Returns (term, foreground, background, score) — Solr's
    tuple shape — top ``limit`` by (score desc, term asc).

    ``min_doc_freq``/``max_doc_freq`` bound the BACKGROUND df like
    Solr's knobs: values < 1.0 are corpus fractions, >= 1.0 absolute
    counts. The score is the documented lift
    ``(fg/n_fg) * ln(1 + (fg/n_fg)/(bg/n_bg))`` — foreground rate
    weighted by log-lift over the background rate (Solr's exact
    significance formula is an implementation detail of its plugin;
    this one is monotone in the same fg-up/bg-down sense and is pinned
    cross-engine by the DuckDB mirror).

    Plan shape: the foreground match set semi-joins ONE postings
    explode restricted to df-bounded terms (the bounds prune BEFORE the
    explode — background df lives in the tiny term_stats relation), one
    partial-agg groupBy, TakeOrdered limit. Nothing corpus-wide except
    the term_stats scan."""
    from solrtexttagger_spark.search.boolean import boolean_matched_scores

    spark = spark or index.postings.sparkSession
    n_bg = index.doc_count
    min_df = int(min_doc_freq * n_bg) if min_doc_freq < 1 else int(min_doc_freq)
    max_df = int(max_doc_freq * n_bg) if max_doc_freq <= 1 else int(max_doc_freq)
    fg_docs = boolean_matched_scores(index, [(0, q)], spark=spark).select(
        "doc_id"
    )
    n_fg = fg_docs.count()
    if n_fg == 0:
        schema = "term string, foreground long, background long, score double"
        return local_frame(spark, [], schema)
    eligible = index.term_stats.where(
        (F.col("df") >= min_df) & (F.col("df") <= max_df)
    ).select("term", F.col("df").alias("background"))
    # no broadcast HINT on eligible: it is vocabulary-sized (unbounded
    # at 100 TB) — Catalyst/AQE promote it to broadcast when measured
    # small, exactly the round-9 join_qp/graph_qp discipline
    fg = (
        index.postings.join(eligible.select("term"), "term")
        .select("term", F.explode("postings.doc_id").alias("doc_id"))
        .join(fg_docs, "doc_id", "left_semi")
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("foreground"))
    )
    fg_rate = F.col("foreground") / F.lit(float(n_fg))
    bg_rate = F.col("background") / F.lit(float(n_bg))
    scored = fg.join(eligible, "term").withColumn(
        "score", F.round(fg_rate * F.log(F.lit(1.0) + fg_rate / bg_rate),
                         round_to)
    )
    return scored.orderBy(
        F.col("score").desc(), F.col("term").asc()
    ).limit(limit).select("term", "foreground", "background", "score")
