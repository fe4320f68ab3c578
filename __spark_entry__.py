"""Driver contract for the spark-graft builder (PySpark target).

queries() exposes the engine's operator surface (SURVEY.md §2 + the
training-data-pipeline ops); oracle_sql() gives the DuckDB-equivalent ANSI
SQL for every SQL-expressible operator. Column names/types are aligned on
both sides (the driver compares row-count + schema + order-insensitive
value-hash). Floating-point outputs are rounded to 4 decimals on BOTH sides
before comparison/ranking so libm ulp differences can't flip the hash.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# the engine package lives next to this file; make imports independent of
# the caller's working directory
_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

from pyspark.sql import DataFrame, SparkSession, functions as F

# --- fixed literals shared by Spark queries and SQL oracles ---

BM25_QUERIES = [
    (0, "filter join table"),
    (1, "hash join"),
    (2, "slow query order"),
    (3, "window merge sort stream"),
    (4, "fast fast join"),  # repeated term -> qtf=2
]
BM25_K = 10

TAG_DICT = [
    ("0", "hash join"),
    ("1", "table scan"),
    ("2", "sort merge"),
    ("3", "merge join"),
    ("4", "slow query"),
    ("5", "the fast"),
    ("6", "scan join"),
    ("7", "merge"),
]

COSINE_PROBES = [0, 1, 2, 3, 4]
MINHASH_H = 8
MINHASH_BANDS = 4
LSH_MAX_BUCKET = 200
SIMHASH_BITS = 32
SPAN_DUP_SPAN = 8  # token-window length for cross-doc duplicate-span stats
JACCARD_SHINGLE = 3
JACCARD_CAND_SHINGLE = 5
JACCARD_THRESHOLD = 0.2
SESSION_GAP = 1800

_PHASH_SQL = "('0x'||substr(md5({x}),1,15))::bigint"


_PKG_ZIP: str | None = None


def _ensure_shipped(spark: SparkSession) -> None:
    """Ship the package to executors (addPyFile) so entries work no matter
    where the calling driver script lives: driver-side sys.path insertion
    does NOT propagate to Python workers. Zipped once per process,
    registered once per SparkContext. (spark-submit jobs use --py-files,
    jobs/build_index_job.py — this is the interactive/driver equivalent.)"""
    global _PKG_ZIP
    sc = spark.sparkContext
    if getattr(sc, "_stt_pkg_shipped", None) == (_PKG_ZIP or True) and _PKG_ZIP:
        return
    if _PKG_ZIP is None:
        import shutil
        import tempfile

        d = tempfile.mkdtemp(prefix="stt_pkg_")
        _PKG_ZIP = shutil.make_archive(
            os.path.join(d, "solrtexttagger_spark_pkg"),
            "zip",
            root_dir=_HERE,
            base_dir="solrtexttagger_spark",
        )
    sc.addPyFile(_PKG_ZIP)
    sc._stt_pkg_shipped = _PKG_ZIP


def _nparts(spark: SparkSession) -> int:
    return spark.sparkContext.defaultParallelism * 2


def _load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    _ensure_shipped(spark)
    # The test parquet files are single-split; repartition so per-row work
    # parallelizes. At real scale the scan yields many splits and this
    # becomes a cheap no-op-ish round-robin (or is removed).
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    return df.repartition(_nparts(spark))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _load(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _load(spark, sf_dir, "embeddings")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _load(spark, sf_dir, "events")


# One InvertedIndex per (session, sf_dir), postings persisted: every
# /select-surface entry (bm25/wand/bool/phrase/snippets/facets/mlt/
# term_stats) reads the SAME index, exactly as a serving engine would —
# without this each entry re-executed the whole tokenize->shuffle build.
_INDEX_CACHE: dict[tuple[str, str], object] = {}


def _index(spark: SparkSession, sf_dir: str):
    from solrtexttagger_spark.index.build import build_index

    key = (spark.sparkContext.applicationId, sf_dir.rstrip("/"))
    idx = _INDEX_CACHE.get(key)
    if idx is None:
        idx = build_index(_docs(spark, sf_dir), use_split=True)
        idx.postings = idx.postings.persist()
        _INDEX_CACHE[key] = idx
    return idx


# One CompressedIndex per (session, sf_dir), blocks persisted — the WAND
# entries (wand_topk, wand_fq) read the same compressed artifact instead
# of re-running the compression shuffle per entry, exactly like _INDEX_CACHE
# above (and like a serving engine, which compresses at build time once).
_CINDEX_CACHE: dict[tuple[str, str], object] = {}


def _cindex(spark: SparkSession, sf_dir: str):
    from solrtexttagger_spark.index.compressed import compress_index

    key = (spark.sparkContext.applicationId, sf_dir.rstrip("/"))
    c = _CINDEX_CACHE.get(key)
    if c is None:
        c = compress_index(_index(spark, sf_dir))
        c.blocks = c.blocks.persist()
        c.blocks.count()
        _CINDEX_CACHE[key] = c
    return c


# One built TagDictionary per (session, mode), mirroring _INDEX_CACHE:
# the dictionary is the serving artifact the reference builds once at
# startup (the FST over the gazetteer) and every tag entry reads the
# SAME fixed TAG_DICT constants — without this each entry re-ran the
# dense-id assignment + analysis + collect chain per call (and stacked a
# fresh docs_df cache entry each time).
_TAG_DICT_CACHE: dict[tuple[str, str], object] = {}


def _tag_dict(spark: SparkSession, mode: str = "whole"):
    from solrtexttagger_spark.tagging.dictionary import build_tag_dictionary

    key = (spark.sparkContext.applicationId, mode)
    d = _TAG_DICT_CACHE.get(key)
    if d is None:
        names = spark.createDataFrame(TAG_DICT, "id string, name string")
        d = build_tag_dictionary(names, mode=mode)
        _TAG_DICT_CACHE[key] = d
    return d


# --- Spark queries ---


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solrtexttagger_spark.search.bm25 import bm25_topk

    out = bm25_topk(_index(spark, sf_dir), BM25_QUERIES, k=BM25_K, spark=spark)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_wand_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-max WAND path over the compressed segmented index — must be
    rank- and score-identical to the exhaustive scorer (same oracle SQL)."""
    from solrtexttagger_spark.search.wand import wand_topk

    out = wand_topk(_cindex(spark, sf_dir), BM25_QUERIES, k=BM25_K, spark=spark)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _index(spark, sf_dir)
    return idx.term_stats.select(
        "term", F.col("df").cast("long").alias("df"), F.col("cf").cast("long").alias("cf")
    )


def _tag_translated(spark, sf_dir, overlaps):
    from solrtexttagger_spark.tagging.operator import tag, translate_ids

    d = _tag_dict(spark)
    tags = tag(
        _docs(spark, sf_dir),
        d,
        text_col="text",
        id_col="doc_id",
        overlaps=overlaps,
        tags_limit=None,
    )
    return translate_ids(tags, d).select(
        F.col("qdoc_id").alias("doc_id"),
        F.col("start").cast("long").alias("t_start"),
        F.col("end").cast("long").alias("t_end"),
        "id",
    )


def q_tag_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tag_translated(spark, sf_dir, "ALL")


def q_tag_partial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-matching mode (index-time shingles, reference field type
    'tagPartial'): any word n-gram of a dictionary name tags, NO_SUB."""
    from solrtexttagger_spark.tagging.operator import tag, translate_ids

    d = _tag_dict(spark, mode="partial")
    tags = tag(
        _docs(spark, sf_dir), d, text_col="text", id_col="doc_id",
        overlaps="NO_SUB", tags_limit=None,
    )
    return translate_ids(tags, d).select(
        F.col("qdoc_id").alias("doc_id"),
        F.col("start").cast("long").alias("t_start"),
        F.col("end").cast("long").alias("t_end"),
        "id",
    )


def q_tag_nosub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tag_translated(spark, sf_dir, "NO_SUB")


def q_tag_ldr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tag_translated(spark, sf_dir, "LONGEST_DOMINANT_RIGHT")


def q_tag_join_nosub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The never-broadcast join-path tagger (big-dictionary regime) under
    the same oracle as tag_nosub — the two paths are output-identical."""
    from solrtexttagger_spark.tagging.join_operator import build_dict_terms, tag_join

    names = spark.createDataFrame(TAG_DICT, "id string, name string")
    terms = build_dict_terms(names)
    spans = tag_join(
        _docs(spark, sf_dir), terms, text_col="text", id_col="doc_id",
        overlaps="NO_SUB",
    )
    # translate via the join-path docs table (dense ids in id order, same
    # assignment as the broadcast dictionary)
    from solrtexttagger_spark.index.build import dense_doc_ids

    ids = dense_doc_ids(
        names.withColumn("__ord", F.col("id").cast("string")), "__ord"
    ).select(F.col("doc_id").alias("dict_doc_id"), "id")
    return (
        spans.select(
            F.col("qdoc_id").alias("doc_id"),
            F.col("start").cast("long").alias("t_start"),
            F.col("end").cast("long").alias("t_end"),
            F.explode("doc_ids").alias("dict_doc_id"),
        )
        .join(F.broadcast(ids), "dict_doc_id")
        .select("doc_id", "t_start", "t_end", "id")
    )


def q_bm25_exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure-JVM exploded BM25 strategy under the same oracle as the
    segmented default — both must be rank- and score-identical."""
    from solrtexttagger_spark.search.bm25 import bm25_topk

    out = bm25_topk(
        _index(spark, sf_dir), BM25_QUERIES, k=BM25_K, spark=spark,
        strategy="exploded",
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solrtexttagger_spark.ops.dedup import exact_dedup

    out = exact_dedup(_docs(spark, sf_dir))
    return out.select(
        "text_md5",
        F.col("keep_doc_id").cast("long").alias("keep_doc_id"),
        F.col("dup_count").cast("long").alias("dup_count"),
    )


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solrtexttagger_spark.ops.dedup import minhash_signatures

    out = minhash_signatures(
        _docs(spark, sf_dir), num_hashes=MINHASH_H, shingle_size=JACCARD_SHINGLE
    )
    return out.where(F.col("sig_0").isNotNull())


def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solrtexttagger_spark.ops.dedup import lsh_candidate_pairs

    return lsh_candidate_pairs(
        _docs(spark, sf_dir),
        num_hashes=MINHASH_H,
        bands=MINHASH_BANDS,
        shingle_size=JACCARD_SHINGLE,
        max_bucket_size=LSH_MAX_BUCKET,
    )


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: MinHash-LSH pairs -> distributed connected
    components (min-label propagation + pointer jumping) -> one cluster_id
    per document. cluster_id == doc_id selects the dedup keeper."""
    from solrtexttagger_spark.ops.dedup import dup_clusters

    return dup_clusters(
        _docs(spark, sf_dir),
        num_hashes=MINHASH_H,
        bands=MINHASH_BANDS,
        shingle_size=JACCARD_SHINGLE,
        max_bucket_size=LSH_MAX_BUCKET,
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


def q_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end cleaned corpus: the documents SURVIVING near-dup
    clustering (cluster keeper = min doc id — cluster_id == doc_id).
    The pipeline-complete 'give me the deduplicated corpus' step over
    dup_clusters; its oracle wraps the dup_clusters recursive-closure
    oracle with the keeper filter."""
    return (
        q_dup_clusters(spark, sf_dir)
        .where(F.col("cluster_id") == F.col("doc_id"))
        .select("doc_id")
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solrtexttagger_spark.ops.dedup import simhash

    return simhash(_docs(spark, sf_dir), bits=SIMHASH_BITS)


BOOL_QUERIES = [
    (0, "+join hash row"),
    (1, "+join -customer scan"),
    (2, "window group -the"),
    (3, "+merge +sort batch"),
    (4, "vector stream"),
]


def q_bool_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean keyword search (+must -must_not should) with BM25 ranking —
    the reference's /select clause syntax owned natively (SURVEY §2.4 D1)."""
    from solrtexttagger_spark.search.boolean import boolean_bm25_topk

    idx = _index(spark, sf_dir)
    out = boolean_bm25_topk(idx, BOOL_QUERIES, k=BM25_K, spark=spark)
    return out.select(
        "query_id", "rank", "doc_id", F.round("score", 4).alias("score")
    )


BM25_FQ = "lang = 'en'"
BM25_FL = ["lang", "source", "n_chars"]


def q_bm25_fl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/select with stored-field retrieval UNDER a filter query: top-k
    hits carry the fl projection (lang, source, n_chars) joined from
    the corpus — Solr returns stored fields with each hit, not bare
    ids — while fq restricts the RESULT set (idf/avgdl stay
    corpus-wide, Solr fq semantics). Round 9 folds the former bm25_fq
    entry in here (one dressed request exercising both, the realistic
    /select shape); the standalone fq arm stays pinned by
    test_entry.py against its retained oracle SQL, and WAND-under-fq
    rank-identity by test_compression_wand.py."""
    from solrtexttagger_spark.search.select import select_topk

    docs = _docs(spark, sf_dir)
    out = select_topk(
        _index(spark, sf_dir), docs, BM25_QUERIES,
        fl=BM25_FL, k=BM25_K, spark=spark,
        allowed_docs=docs.where(BM25_FQ).select("doc_id"),
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
        "lang", "source",
        F.col("n_chars").cast("long").alias("n_chars"),
    )


def q_bm25_fq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 with a Solr filter query: fq restricts the RESULT set (here
    lang='en') while idf/avgdl stay corpus-wide — Solr fq semantics; the
    filter is a post-aggregation semi-join, ranks recomputed after."""
    from solrtexttagger_spark.search.bm25 import bm25_topk

    docs = _docs(spark, sf_dir)
    out = bm25_topk(
        _index(spark, sf_dir),
        BM25_QUERIES,
        k=BM25_K,
        spark=spark,
        allowed_docs=docs.where(BM25_FQ).select("doc_id"),
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_wand_fq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-max WAND under a Solr filter query (round-4 verdict #2: Solr
    applies fq to EVERY /select request regardless of scorer, reference
    TaggerRequestHandler.java:310-351) — must be rank/score-identical to
    bm25_fq, so it shares that oracle. The allowed ids meet the scoring
    segments through a co-partitioned cogroup (no broadcast), and pruning
    thresholds are derived from the filtered scores (sound: a doc subset
    only lowers true scores under unchanged bounds)."""
    from solrtexttagger_spark.search.wand import wand_topk

    docs = _docs(spark, sf_dir)
    out = wand_topk(
        _cindex(spark, sf_dir), BM25_QUERIES, k=BM25_K, spark=spark,
        allowed_docs=docs.where(BM25_FQ).select("doc_id"),
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


BOOL_PHRASE_QUERIES = [
    (0, '+"hash join" table'),
    (1, '+join -"table scan"'),
    (2, 'text:merge +"key order"'),
    (3, '+"merge sort" -stream'),
    (4, '+"row data" +"sort merge"'),
    (5, '+"query scan"~2 -dup'),    # sloppy MUST phrase (Lucene slop)
    (6, 'hash -"hash join"~1'),     # sloppy prohibition
    (7, '+"hash join"^2 scan'),     # phrase boost (constituent qtf x2)
]


def q_bool_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean search with quoted-phrase and fielded clauses: +"exact
    phrase" filters on contiguity via positional postings while its
    constituent terms join the MUST scoring set; -"phrase" excludes;
    ``"a b"~k`` applies Lucene slop (SloppyPhraseMatcher window over
    offset-shifted positions — exact move-count semantics for two-term
    phrases); `text:term` validates/strips the single-field prefix
    (reference EmbeddedSolrNoSerializeTest.java:112-115
    q=name:Boston)."""
    from solrtexttagger_spark.search.boolean import boolean_bm25_topk

    idx = _index(spark, sf_dir)
    out = boolean_bm25_topk(
        idx, BOOL_PHRASE_QUERIES, k=BM25_K, field="text", spark=spark
    )
    return out.select(
        "query_id", "rank", "doc_id", F.round("score", 4).alias("score")
    )


MLT_PROBES = [0, 1, 2, 3, 4]
MLT_TERMS = 5


def q_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """More-Like-This: per probe doc, the top-k BM25-similar other docs via
    the probe's top TF-IDF terms (Solr MLT handler owned natively)."""
    from solrtexttagger_spark.search.mlt import more_like_this

    idx = _index(spark, sf_dir)
    out = more_like_this(
        idx, _docs(spark, sf_dir), MLT_PROBES, n_terms=MLT_TERMS, k=BM25_K,
        use_split=True,  # mirror _index's build flags (module contract)
        spark=spark,
    )
    return out.select(
        "query_id", "rank", "doc_id", F.round("score", 4).alias("score")
    )


FACET_QUERY = "join merge window"
FACET_FIELDS = ["lang", "source"]
FACET_RANGE = ("n_chars", 0, 400, 50)  # col, start, end, gap
# facet.query fixtures: full boolean-syntax sub-queries counted over the
# base request's (FACET_QUERY bag-match) domain — Solr's third facet
# type. Mirrored in SQL as padded-LIKE membership tests over the
# single-spaced lowercase fixture corpus (the tag/chunk oracles already
# rely on that corpus property); zzznope pins the zero-fill spine.
FACET_QUERIES = [
    "window", "+merge -sort", '+"merge sort"', "sort scan", "zzznope",
]


def q_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr-style facet counts over the query's full match set."""
    from solrtexttagger_spark.search.facets import facet_counts

    idx = _index(spark, sf_dir)
    return facet_counts(
        idx, _docs(spark, sf_dir), FACET_QUERY, FACET_FIELDS, spark=spark
    ).select("field", "value", F.col("n").cast("long").alias("n"))


def q_facet_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr facet.range over the match set: zero-filled bucket counts of
    n_chars in [0,400) at gap 50 (mincount=0 — every bucket present)."""
    from solrtexttagger_spark.search.facets import facet_ranges

    col, lo, hi, gap = FACET_RANGE
    return facet_ranges(
        _index(spark, sf_dir), _docs(spark, sf_dir), FACET_QUERY,
        col, lo, hi, gap, spark=spark,
    )


def q_facet_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """facet.fields + facet.range + facet.query + a nested JSON facet in
    ONE driver entry — search/select._facet_sections computes
    field+range in one groupBy; facet.query is one
    boolean_matched_scores batch for ALL sub-queries; the sec='j' rows
    are json_facet's nested terms tree (lang top-3 -> source top-2 per
    parent), computed by ONE grouping-sets aggregate. Each operator's
    full output stays hash-pinned under its section tag."""
    from solrtexttagger_spark.search.facets import facet_query_matches
    from solrtexttagger_spark.search.json_facet import json_facet

    idx = _index(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    col, _lo, _hi, _gap = FACET_RANGE
    fields = q_facets(spark, sf_dir).select(
        F.lit("f").alias("sec"), "field", "value", "n"
    )
    ranges = q_facet_range(spark, sf_dir).select(
        F.lit("r").alias("sec"),
        F.lit(col).alias("field"),
        F.col("range_start").cast("string").alias("value"),
        F.col("n").cast("long").alias("n"),
    )
    fqueries = facet_query_matches(
        idx, FACET_QUERY, FACET_QUERIES, spark=spark
    ).select(
        F.lit("q").alias("sec"),
        F.col("facet_query").alias("field"),
        F.lit(None).cast("string").alias("value"),
        F.col("n").cast("long").alias("n"),
    )
    jf = json_facet(idx, docs, FACET_QUERY, {
        "langs": {"type": "terms", "field": "lang", "limit": 3,
                  "facet": {"srcs": {"type": "terms", "field": "source",
                                     "limit": 2}}},
    }, spark=spark)
    jrows = []
    for b in jf["langs"]["buckets"]:
        jrows.append(("j", "lang", str(b["val"]), int(b["count"])))
        for c in b["srcs"]["buckets"]:
            jrows.append(
                ("j", f"lang={b['val']}", str(c["val"]), int(c["count"]))
            )
    jdf = spark.createDataFrame(
        jrows, "sec string, field string, value string, n long"
    )
    return fields.unionByName(ranges).unionByName(fqueries).unionByName(jdf)


# fuzzy (word~d) + prefix (word*) clause fixtures: the vocabulary is the
# fixed generator word list at every scale (~31 terms), far below the
# maxExpansions=50 cap, so the df-ranked cap never binds and both
# engines only need to agree on the candidate SET (plain levenshtein)
BOOL_FUZZY_QUERIES = [
    (0, "+jorn~2 window"),
    (1, "+sc* -join"),
    (2, "+merg~1 +sort"),
    (3, "quer* slo*"),
    (4, "+s?an^2 merge"),           # wildcard + query-time boost
    (5, "+[query TO sort] -dup"),   # inclusive term range
    (6, "+v?l*e str*m"),            # general wildcards (?, inner *)
]


def q_bool_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean search with the full Lucene MultiTermQuery clause family:
    FuzzyQuery (~d), PrefixQuery (*), WildcardQuery (te?m / t*m) and
    TermRangeQuery ([lo TO hi]), plus query-time boosts (term^2).
    Markers resolve against the live vocabulary in one term_stats job
    and ride the synonym-group semantics (MUST group satisfied by any
    member, -marker prohibits every member); boosts fold into the qtf
    scoring channel."""
    from solrtexttagger_spark.search.boolean import boolean_bm25_topk

    idx = _index(spark, sf_dir)
    out = boolean_bm25_topk(idx, BOOL_FUZZY_QUERIES, k=BM25_K, spark=spark)
    return out.select(
        "query_id", "rank", "doc_id", F.round("score", 4).alias("score")
    )


SNIPPET_WINDOW = 8


def q_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k BM25 with best-window highlight snippets (Lucene Highlighter
    analogue; first-max tie-break, deterministic)."""
    from solrtexttagger_spark.search.highlight import snippets

    idx = _index(spark, sf_dir)
    out = snippets(
        idx, _docs(spark, sf_dir), BM25_QUERIES, k=BM25_K, window=SNIPPET_WINDOW,
        spark=spark,
    )
    return out.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        "doc_id",
        F.round("score", 4).alias("score"),
        "snippet_start",
        "snippet",
    )


GROUP_FIELD = "lang"
GROUP_LIMIT = 2
# Solr FUNCTION sorting (round-7 verdict #2a): any Catalyst expression,
# not just a bare stored field — integer arithmetic so the DuckDB mirror
# (`//` = Spark `div`, both floor on non-negatives) is value-identical
SORT_EXPR_SPARK = "n_chars div (1 + doc_id % 7)"
SORT_EXPR_SQL = "n_chars // (1 + doc_id % 7)"
PIVOT_FIELDS = ["lang", "source"]
PIVOT_ANY = "<any>"  # rollup-subtotal marker (NULL-free for hash compare)


def q_group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr result grouping (group=true&group.field=lang): groups ranked
    by best member score, top GROUP_LIMIT docs each. Scores round to 4
    BEFORE ranking on both engines so the windows are ulp-stable."""
    from solrtexttagger_spark.search.grouping import grouped_topk

    out = grouped_topk(
        _index(spark, sf_dir), _docs(spark, sf_dir), BM25_QUERIES,
        GROUP_FIELD, group_limit=GROUP_LIMIT, k_groups=BM25_K,
        round_to=4, spark=spark,
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        "group_value",
        F.col("group_rank").cast("long").alias("group_rank"),
        F.col("rank_in_group").cast("long").alias("rank_in_group"),
        F.col("doc_id").cast("long").alias("doc_id"),
        "score",
    )


def q_select_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr FUNCTION sorting (sort=div(n_chars,1+doc_id%7) desc): the
    match set ordered by a Catalyst expression over stored fields
    (doc_id asc tie-break), BM25 score still computed and returned —
    the function-sort capability faces the oracle directly (round-7
    verdict #2a; a bare field is the trivial case of the same path)."""
    from solrtexttagger_spark.search.grouping import select_sorted

    out = select_sorted(
        _index(spark, sf_dir), _docs(spark, sf_dir), BM25_QUERIES,
        SORT_EXPR_SPARK, ascending=False, k=BM25_K, round_to=4, spark=spark,
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("sort_value").cast("long").alias("sort_value"),
        "score",
    )


COLLAPSE_FIELD = "source"   # 20 distinct values: pages stay full at k=10
RERANK_DOCS = 5
RERANK_WEIGHT = 2.0
# the second-pass signal: deterministic integer arithmetic * an exact
# scale, so Spark and DuckDB compute bit-identical doubles
RERANK_RQ = "(n_chars % 101) * 0.01"


def q_rerank_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr CollapsingQParser piped through ReRank — the two ranking ops
    a search UI composes most (round-7 verdict #2b): field-collapsed
    page (best doc per source), then the top RERANK_DOCS rescored in
    place by a function-query signal (score + w*rq, re-sorted among
    themselves; the tail keeps its first-pass positions)."""
    from solrtexttagger_spark.search.functions import rerank_topk
    from solrtexttagger_spark.search.grouping import collapse_topk

    idx = _index(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    page = collapse_topk(
        idx, docs, BM25_QUERIES, COLLAPSE_FIELD, k=BM25_K, round_to=4,
        spark=spark,
    )
    out = rerank_topk(
        page, docs, RERANK_RQ, rerank_docs=RERANK_DOCS,
        weight=RERANK_WEIGHT,
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_facet_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr facet.pivot=lang,source over the match set: every pivot level
    from one ROLLUP (leaves + per-lang subtotals + grand total). The
    `level` grouping bitmask tags subtotal rows, so a rolled-up NULL is
    distinguishable from a genuinely NULL pivot value (round-5 advice);
    values still coalesce to PIVOT_ANY only to keep the hash compare
    NULL-free."""
    from solrtexttagger_spark.search.grouping import facet_pivot

    out = facet_pivot(
        _index(spark, sf_dir), _docs(spark, sf_dir), FACET_QUERY,
        PIVOT_FIELDS, spark=spark,
    )
    return out.select(
        *[F.coalesce(F.col(c), F.lit(PIVOT_ANY)).alias(c) for c in PIVOT_FIELDS],
        F.col("n").cast("long").alias("n"),
        F.col("level").cast("long").alias("level"),
    )


SAMPLE_FRACTION = 0.1
SAMPLE_STRATA = {"en": 0.05, "de": 0.5}
SAMPLE_DEFAULT_FRACTION = 0.2
SAMPLE_TOP_K = 100


def q_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bernoulli sample: keep iff md5-keyhash < fraction of
    the hash space — stable under any partitioning, mirrorable in SQL."""
    from solrtexttagger_spark.ops.sampling import hash_sample

    return hash_sample(
        _docs(spark, sf_dir), SAMPLE_FRACTION, key_cols=["doc_id"]
    ).select("doc_id", "lang")


def q_doc_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language keep fractions (rebalancing), same hash gate."""
    from solrtexttagger_spark.ops.sampling import stratified_hash_sample

    return stratified_hash_sample(
        _docs(spark, sf_dir),
        SAMPLE_STRATA,
        strata_col="lang",
        key_cols=["doc_id"],
        default_fraction=SAMPLE_DEFAULT_FRACTION,
    ).select("doc_id", "lang")


def q_doc_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-size deterministic uniform sample: k smallest key-hashes
    (TakeOrderedAndProject — no global sort shuffle)."""
    from solrtexttagger_spark.ops.sampling import hash_top_k

    return hash_top_k(
        _docs(spark, sf_dir), SAMPLE_TOP_K, key_cols=["doc_id"]
    ).select("doc_id", "lang")


def q_span_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-span fraction per doc (substring-dedup
    signal: token windows shared with another document)."""
    from solrtexttagger_spark.ops.dedup import span_dup_stats

    return span_dup_stats(_docs(spark, sf_dir), span=SPAN_DUP_SPAN)


def q_remove_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup REMEDIATION (Lee et al. policy): keep the
    first corpus-wide occurrence of every duplicated token window (order:
    doc_id, position), trim all later occurrences out of their docs."""
    from solrtexttagger_spark.ops.dedup import remove_dup_spans

    return remove_dup_spans(_docs(spark, sf_dir), span=SPAN_DUP_SPAN)


def q_doc_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three deterministic samplers in ONE driver entry (round-6
    consolidation, r5 verdict #1: the driver artifact caps at 50 entries,
    so same-family operators share a row — `mode` tags which operator
    produced each row, and the hash compare still pins each operator's
    exact output)."""
    from solrtexttagger_spark.ops.sampling import (
        hash_sample,
        hash_top_k,
        stratified_hash_sample,
    )

    d = _docs(spark, sf_dir)
    bern = hash_sample(d, SAMPLE_FRACTION, key_cols=["doc_id"]).select(
        F.lit("bernoulli").alias("mode"), "doc_id", "lang"
    )
    strat = stratified_hash_sample(
        d, SAMPLE_STRATA, strata_col="lang", key_cols=["doc_id"],
        default_fraction=SAMPLE_DEFAULT_FRACTION,
    ).select(F.lit("stratified").alias("mode"), "doc_id", "lang")
    top = hash_top_k(d, SAMPLE_TOP_K, key_cols=["doc_id"]).select(
        F.lit("topk").alias("mode"), "doc_id", "lang"
    )
    # round-9 (session 3) consolidation: the train/val/test hash split
    # is the same deterministic-sampling family — its rows ride this
    # entry tagged split_<name>, freeing doc_split's driver slot
    from solrtexttagger_spark.ops.sampling import hash_split

    sp = hash_split(d, SPLITS, key_cols=["doc_id"]).select(
        F.concat(F.lit("split_"), F.col("split")).alias("mode"),
        "doc_id", "lang",
    )
    return bern.unionByName(strat).unionByName(top).unionByName(sp)


def q_dup_span_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """span_dup_stats + remove_dup_spans joined per doc — one driver row
    for the exact-substring family (round-6 consolidation); every column
    of both operators stays hash-pinned."""
    stats = q_span_dup_stats(spark, sf_dir)
    removed = q_remove_dup_spans(spark, sf_dir)
    return stats.join(removed, "doc_id")


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fingerprint + rolling_hash + simhash joined per doc — one driver
    row for the per-doc hashing family (round-6 consolidation; simhash
    folded in round 8 to free a surface slot for rerank_collapse)."""
    return (
        q_fingerprint(spark, sf_dir)
        .join(q_rolling_hash(spark, sf_dir), "doc_id")
        .join(q_simhash(spark, sf_dir), "doc_id")
    )


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """language_id + quality_score + token_stats joined per doc — one
    driver row for the per-doc text-QA profile family (round-6
    consolidation; n_tokens comes from quality_score, identical by
    construction to token_stats')."""
    quality = q_quality_score(spark, sf_dir)
    lang = q_lang_id(spark, sf_dir)
    toks = q_token_stats(spark, sf_dir).select("doc_id", "n_distinct", "n_chars")
    # round-8 consolidation: unigram-LM cross-entropy (the CCNet-style
    # perplexity filter) joins the same per-doc profile family — its
    # column stays hash-pinned, its driver slot freed for {!join}
    ppl = q_unigram_ppl(spark, sf_dir).select("doc_id", "cross_entropy")
    # round-9 (session 3) consolidation: the risk profile joins the SAME
    # per-doc family (every doc_risk column stays hash-pinned here; its
    # standalone SQL stays in _oracle_sql_full for the pytest pin),
    # freeing a driver slot for the new Solr surfaces
    risk = q_doc_risk(spark, sf_dir)
    return (
        quality.join(lang, "doc_id").join(toks, "doc_id")
        .join(ppl, "doc_id").join(risk, "doc_id")
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solrtexttagger_spark.ops.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _docs(spark, sf_dir),
        shingle_size=JACCARD_SHINGLE,
        candidate_shingle_size=JACCARD_CAND_SHINGLE,
        threshold=JACCARD_THRESHOLD,
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solrtexttagger_spark.ops.similarity import cosine_topk

    out = cosine_topk(_emb(spark, sf_dir), COSINE_PROBES, k=10)
    return out.select(
        F.col("probe_id").cast("long"),
        F.col("rank").cast("long").alias("rank"),
        F.col("vec_id").cast("long"),
        "cos",
    )


def q_lsh_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solrtexttagger_spark.ops.similarity import lsh_cosine_topk

    out = lsh_cosine_topk(_emb(spark, sf_dir), COSINE_PROBES, k=10)
    return out.select(
        F.col("probe_id").cast("long"),
        F.col("rank").cast("long").alias("rank"),
        F.col("vec_id").cast("long"),
        "cos",
    )


EMBED_DUP_THRESHOLD = 0.42
EMBED_BANDS = 16
EMBED_BAND_PLANES = 6
EMBED_MAX_BUCKET = 1000
EMBED_DIM = 64


# Pinned deterministic ANN artifacts (round-4 verdict #3): IVF centroids /
# PQ coarse centroids + codebooks are md5-derived fixtures passed through
# the operators' documented fit-once-persist-reuse parameters
# (centroids= / codebooks=), so the WHOLE query path — assignment, cell
# restriction, ADC, rerank — is oracle-checkable in SQL without mirroring
# Lloyd iterations. K-means fit QUALITY stays pinned by the recall pytest
# suites (test_similarity_ivf/pq). Plane-tag offsets (10k/20k/30k) keep
# these disjoint from the LSH hyperplane ids.
IVF_N_CENTROIDS = 8
IVF_NPROBE = 3
PQ_M = 8
PQ_KSUB = 8
PQ_NCOARSE = 4
PQ_NPROBE = 2
PQ_RERANK = 4
PQ_ADC_ROUND = 6


def _ivf_centroids():
    from solrtexttagger_spark.ops.similarity import _hyperplane

    return [_hyperplane(EMBED_DIM, 10_000 + c) for c in range(IVF_N_CENTROIDS)]


def _pq_coarse():
    from solrtexttagger_spark.ops.similarity import _hyperplane

    return [_hyperplane(EMBED_DIM, 20_000 + c) for c in range(PQ_NCOARSE)]


def _pq_codebooks():
    from solrtexttagger_spark.ops.similarity import _hyperplane

    dsub = EMBED_DIM // PQ_M
    return [
        [_hyperplane(dsub, 30_000 + j * 100 + c) for c in range(PQ_KSUB)]
        for j in range(PQ_M)
    ]


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: argmax-cosine cell assignment over the pinned centroids,
    scan restricted to each probe's n_probe nearest cells, exact cosine
    inside — the sublinear-scan path, rows+schema+hash-oracled."""
    from solrtexttagger_spark.ops.similarity import ivf_cosine_topk

    out = ivf_cosine_topk(
        _emb(spark, sf_dir), COSINE_PROBES, k=10,
        centroids=_ivf_centroids(), n_probe=IVF_NPROBE,
    )
    return out.select(
        F.col("probe_id").cast("long"),
        F.col("rank").cast("long").alias("rank"),
        F.col("vec_id").cast("long"),
        "cos",
    )


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ ANN: coarse argmin-L2 cell + m residual codes per
    vector, probe-side ADC lookup tables, cell-restricted JVM scan, exact
    rerank of the top k*rerank_factor. adc_round_to pins the candidate-set
    boundary across engines (ulp-stable oracle)."""
    from solrtexttagger_spark.ops.similarity import pq_cosine_topk

    out = pq_cosine_topk(
        _emb(spark, sf_dir), COSINE_PROBES, k=10,
        centroids=_pq_coarse(), codebooks=_pq_codebooks(),
        n_probe=PQ_NPROBE, rerank_factor=PQ_RERANK,
        adc_round_to=PQ_ADC_ROUND,
    )
    return out.select(
        F.col("probe_id").cast("long"),
        F.col("rank").cast("long").alias("rank"),
        F.col("vec_id").cast("long"),
        "cos",
    )


def q_embed_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via banded hyperplane LSH + exact rescore (the 100 TB
    plan shape — no all-pairs theta-join; oracle mirrors the banding)."""
    from solrtexttagger_spark.ops.similarity import cosine_dup_pairs

    return cosine_dup_pairs(
        _emb(spark, sf_dir),
        threshold=EMBED_DUP_THRESHOLD,
        method="lsh",
        bands=EMBED_BANDS,
        band_planes=EMBED_BAND_PLANES,
        dim=EMBED_DIM,
        max_bucket_size=EMBED_MAX_BUCKET,
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solrtexttagger_spark.ops.textqa import language_id

    return language_id(_docs(spark, sf_dir))


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solrtexttagger_spark.ops.textqa import quality_score

    out = quality_score(_docs(spark, sf_dir))
    return out.withColumn("n_tokens", F.col("n_tokens").cast("long"))


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solrtexttagger_spark.ops.textqa import token_stats

    out = token_stats(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solrtexttagger_spark.ops.textqa import fingerprint

    return fingerprint(_docs(spark, sf_dir))


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solrtexttagger_spark.ops.textqa import tfidf_keywords

    return tfidf_keywords(_docs(spark, sf_dir), top_k=3)


CONTAM_N = 2
CONTAM_PROBES = [
    "hash join table scan fast",
    "sort merge slow query order",
]


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solrtexttagger_spark.ops.textqa import ngram_contamination

    return ngram_contamination(_docs(spark, sf_dir), CONTAM_PROBES, n=CONTAM_N)


def q_pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solrtexttagger_spark.ops.textqa import pii_stats

    return pii_stats(_docs(spark, sf_dir))


REP_N = 2


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solrtexttagger_spark.ops.textqa import repetition_stats

    return repetition_stats(_docs(spark, sf_dir), n=REP_N)


def q_doc_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """contamination + PII + repetition stats joined per doc — one
    driver row for the corpus-risk family (round-6 consolidation;
    contamination's DISTINCT-gram count renamed n_distinct_grams to
    coexist with repetition's total n_grams)."""
    contam = q_contamination(spark, sf_dir).withColumnRenamed(
        "n_grams", "n_distinct_grams"
    )
    pii = q_pii_stats(spark, sf_dir)
    rep = q_repetition_stats(spark, sf_dir)
    return contam.join(pii, "doc_id").join(rep, "doc_id")


CHUNK_TOKENS = 12
CHUNK_OVERLAP = 4
SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG/pretraining chunking, ANALYZER-GRADE (round-6 verdict #4):
    overlapping windows over index-analyzer tokens with stable
    (doc_id, chunk_idx) identities AND exact character spans — each
    chunk_text is a raw-document slice text[chunk_char_start:
    chunk_char_end], the shape a RAG pipeline feeds back to retrieval.
    Map-only (Arrow-batched mapInPandas), no shuffle; the whitespace
    JVM twin (chunk_documents) stays window-identical on this corpus
    and is pinned by test_chunk_split."""
    from solrtexttagger_spark.ops.chunking import chunk_documents_analyzed

    return chunk_documents_analyzed(
        _docs(spark, sf_dir), chunk_tokens=CHUNK_TOKENS, overlap=CHUNK_OVERLAP
    )


def q_doc_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by key hash — disjoint
    consecutive ranges, partition/rerun/engine-invariant (randomSplit
    is not), leakage-safe across tables sharing the salt."""
    from solrtexttagger_spark.ops.sampling import hash_split

    return hash_split(_docs(spark, sf_dir), SPLITS, key_cols=["doc_id"]).select(
        "doc_id", "lang", "split"
    )


def q_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solrtexttagger_spark.ops.textqa import rolling_hash

    return rolling_hash(_docs(spark, sf_dir))


JOIN_INNER_Q = "merge sort"  # {!join} inner query over the FROM side
BLOCKJOIN_Q = "join"  # single-term child query over the chunk corpus


def q_join_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr JoinQParser ``q={!join from=source to=source score=total}
    merge sort`` (round 8): documents ranked by the TOTAL relevancy of
    all documents sharing their source — the inner match set folds per
    join value in one partial aggregation, the value set broadcasts
    onto the TO scan (search/join_qp.py)."""
    from solrtexttagger_spark.search.boolean import boolean_matched_scores
    from solrtexttagger_spark.search.join_qp import join_topk

    docs = _docs(spark, sf_dir)
    inner = boolean_matched_scores(
        _index(spark, sf_dir), [(0, JOIN_INNER_Q)], spark=spark
    )
    # round_to=4 pre-rank: the total fold is a float SUM — unrounded it
    # is a latent cross-engine tie-flip (round-8 ADVICE), same
    # discipline as grouped_topk
    return join_topk(
        inner, docs, docs, from_col="source", to_col="source",
        score="total", k=50, round_to=4,
    )


GRAPH_LEAF_MOD = 7     # doc_id % 7 == 0 -> no outgoing edge (leaf)
GRAPH_N_ROOTS = 5      # the 5 largest doc_ids start the walk
EXPORT_Q = "window sort"       # /export text query (OR bag match)
EXPORT_FQ = "n_chars >= 120"   # /export fq, pushed to the scan
STREAM_EXPR = (
    'select('
    'rollup(search(documents, q="window merge", fl="doc_id,lang,n_chars"), '
    'over="lang", sum(n_chars), count(*)), '
    '"lang", "sum(n_chars) as sum_chars", "count(*) as n_docs")'
)


def q_graph_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr ``{!graph from=requires to=provides}`` (round 9, r8 verdict
    #3): BFS closure with min-hop depths over a deterministic halving
    graph derived from the documents table — every doc "provides" its
    own id and "requires" floor(id/2), except multiples of
    GRAPH_LEAF_MOD which are leaves (NULL requires). The 5 largest
    doc_ids root the walk, so the ITERATION COUNT grows with scale
    (~log2(n) hops: the per-hop driver loop is exactly what the
    3-scale gate exists to pin). Acyclic by construction (ids strictly
    halve), so the fixpoint terminates naturally and the DuckDB
    recursive-CTE mirror needs only a constant 64-hop cap (ids are
    int64: depth can never exceed 63 halvings)."""
    from solrtexttagger_spark.search.graph_qp import graph_traverse

    docs = _docs(spark, sf_dir)
    nodes = docs.select(
        "doc_id",
        F.col("doc_id").alias("provides"),
        F.when(
            F.col("doc_id") % GRAPH_LEAF_MOD == 0,
            F.lit(None).cast("long"),
        ).otherwise(F.floor(F.col("doc_id") / 2).cast("long"))
        .alias("requires"),
    )
    roots = docs.select("doc_id").orderBy(F.col("doc_id").desc()).limit(
        GRAPH_N_ROOTS
    )
    out = graph_traverse(
        roots, nodes, from_col="requires", to_col="provides"
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("depth").cast("long").alias("depth"),
    )


def q_export_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr /export (round 9, r8 verdict #4): the FULL sorted match set
    — text query 'window sort' (OR bag match) restricted by an fq
    pushed to the scan, fl-projected, globally ordered by a docValues
    field NOT in fl (n_chars — the round-9 sort-before-projection fix).
    The driver's hash is row-order-insensitive, so the global-order
    property itself stays plan+order-pinned by test_export.py; this
    entry gates the match set, fq, and projection at 3 scales."""
    from solrtexttagger_spark.search.export import export_matches

    docs = _docs(spark, sf_dir)
    idx = _index(spark, sf_dir)
    terms = spark.createDataFrame(
        [(t,) for t in sorted(set(EXPORT_Q.split()))], "term string"
    )
    matched = (
        idx.postings.join(F.broadcast(terms), "term")
        .select(F.explode("postings.doc_id").alias("doc_id"))
        .distinct()
    )
    return export_matches(
        docs, fl=["doc_id", "lang", "source"],
        sort=[("n_chars", "desc")], fq=EXPORT_FQ, allowed_docs=matched,
    )


def q_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Expressions /stream (round 9, r8 verdict #4+#7): the
    expression compiler end-to-end — select(rollup(search(q=TEXT)))
    with a text query compiled through the boolean match machinery
    (the round-9 search(q=) extension), rolled up per lang in one
    partial-aggregating groupBy."""
    from solrtexttagger_spark.search.streaming_expr import stream

    docs = _docs(spark, sf_dir)
    out = stream(
        STREAM_EXPR, {"documents": docs},
        indexes={"documents": _index(spark, sf_dir)},
    )
    return out.select(
        "lang",
        F.round("sum_chars", 4).alias("sum_chars"),
        F.col("n_docs").cast("long").alias("n_docs"),
    )


def q_blockjoin_parents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene block join ``{!parent}`` (round 8): chunk the corpus
    (same windows as chunk_docs), index the chunks as a CHILD corpus
    whose doc id is the arithmetic block key (parent << 20 | idx), run
    the child query, fold child scores to parents with
    ScoreMode.Total — the child->parent hop is a shiftright projection,
    never a join (search/blockjoin.py)."""
    from solrtexttagger_spark.index.build import build_index
    from solrtexttagger_spark.ops.chunking import chunk_documents
    from solrtexttagger_spark.search.blockjoin import child_corpus, parents_topk
    from solrtexttagger_spark.search.boolean import boolean_matched_scores

    docs = _docs(spark, sf_dir)
    chunks = chunk_documents(
        docs, chunk_tokens=CHUNK_TOKENS, overlap=CHUNK_OVERLAP
    )
    cidx = build_index(child_corpus(chunks), use_split=True)
    cs = boolean_matched_scores(cidx, [(0, BLOCKJOIN_Q)], spark=spark)
    return parents_topk(cs, docs, k=50, score_mode="max")


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    ts = F.col("ts").cast("timestamp")
    ms = F.unix_millis(ts)
    w = Window.partitionBy("user_id").orderBy(ts.asc(), F.col("event_id").asc())
    prev = F.lag(ms).over(w)
    new_session = F.when(
        prev.isNull() | (ms - prev > SESSION_GAP * 1000), F.lit(1)
    ).otherwise(F.lit(0))
    with_sid = ev.withColumn("session_id", F.sum(new_session).over(w) - F.lit(1))
    return (
        with_sid.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min(ms).alias("start_epoch"),
            F.max(ms).alias("end_epoch"),
        )
        .select(
            F.col("user_id").cast("long"),
            F.col("session_id").cast("long"),
            F.col("n_events").cast("long"),
            "start_epoch",
            "end_epoch",
        )
    )


STATS_FIELD = "n_chars"
ELEVATIONS = {0: [7, 3], 1: [11], 3: [5, 999999]}  # 999999: non-matching id


def q_stats_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr StatsComponent (stats.field=n_chars) over the FACET_QUERY
    match set: count/missing/min/max/sum/mean/sample-stddev."""
    from solrtexttagger_spark.search.components import stats_field

    return stats_field(
        _index(spark, sf_dir), _docs(spark, sf_dir), FACET_QUERY,
        STATS_FIELD, spark=spark,
    )


def q_elevated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QueryElevationComponent: pinned docs take the head ranks in the
    given order (incl. a non-matching injected id at score 0.0), organic
    results follow by score."""
    from solrtexttagger_spark.search.components import elevated_topk

    out = elevated_topk(
        _index(spark, sf_dir), BM25_QUERIES, ELEVATIONS, k=BM25_K, spark=spark
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
        "elevated",
    )


def q_unigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM cross-entropy per document (the CCNet-style perplexity
    quality filter, self-fit corpus model)."""
    from solrtexttagger_spark.ops.textqa import unigram_logppl

    return unigram_logppl(_docs(spark, sf_dir))


TERMS_PREFIX = "s"
SPELL_WORD = "jion"  # misspelling of the corpus term "join"
SPELL_MAX_DIST = 2
SYNONYMS = {
    "speedy": ["fast"],
    "lookup": ["scan", "join"],
    "merge": ["sort"],
    # multi-word expansion (round-7, r6 verdict #5): GRAPH semantics on
    # every scorer — "hash join" constituents score only in docs where
    # the words are CONTIGUOUS (and such docs match even without any
    # bag term); mirrored in the oracle via the LIKE contiguity gate
    "hashjoin": ["hash join"],
}
SYN_QUERIES = [
    (0, "speedy merge"),
    (1, "lookup table"),
    (2, "slow lookup query"),
    (3, "speedy speedy row"),  # repeated term: expansion scales with qtf
    (4, "window merge"),
    (5, "hashjoin filter"),  # multi-word mapping through the bag model
]


def q_terms_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr /terms handler: top terms under a prefix by global df
    (TakeOrdered — no global sort even on a 1e8-term vocabulary)."""
    from solrtexttagger_spark.search.terms import terms_component

    return terms_component(_index(spark, sf_dir), TERMS_PREFIX, k=10)


def q_spellcheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr spellcheck (DirectSpellChecker shape): corrections from the
    LIVE index vocabulary within levenshtein max_dist, ranked by
    (distance asc, df desc, term asc)."""
    from solrtexttagger_spark.search.terms import spellcheck_terms

    return spellcheck_terms(
        _index(spark, sf_dir), SPELL_WORD, max_dist=SPELL_MAX_DIST, k=5
    )


SPELL_COLLATE_QUERY = "hash jion window"  # exactly one out-of-vocab term


def q_spellcheck_collate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr spellcheck.collate: rewrite the query with each top
    suggestion for its out-of-vocabulary term and report the corrected
    query's conjunctive hit count; 0-hit collations dropped (the Solr
    verified-collation contract). Runs on the SymSpell
    deletion-neighborhood path (candidate set bounded by delkey
    collisions, never a vocabulary scan)."""
    from solrtexttagger_spark.search.terms import (
        deletion_neighborhood,
        spellcheck_collate,
    )

    idx = _index(spark, sf_dir)
    nb = deletion_neighborhood(idx, max_dist=SPELL_MAX_DIST)
    return spellcheck_collate(
        idx, SPELL_COLLATE_QUERY, max_dist=SPELL_MAX_DIST, k=5, neighborhood=nb
    )


def q_bm25_synonyms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 with query-time synonym expansion (TRUE SynonymGraphFilter
    semantics on the bag model, round-6 verdict #5): out-of-corpus terms
    like 'speedy'/'lookup' match through their expansions at the
    original occurrence weight, and the MULTI-word mapping
    hashjoin->"hash join" contributes its constituents' scores only in
    docs containing the contiguous phrase (which match even when no bag
    term does). The oracle expands with the SAME Python function when
    building its VALUES rows and mirrors the contiguity gate as a LIKE
    over the single-space corpus."""
    from solrtexttagger_spark.search.bm25 import bm25_topk

    out = bm25_topk(
        _index(spark, sf_dir), SYN_QUERIES, k=BM25_K, spark=spark,
        synonyms=SYNONYMS,
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


DELETE_PRED = "lang = 'de'"  # deleteByQuery predicate for the expunge entry


def q_bm25_after_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr deleteByQuery + expungeDeletes, then /select: documents with
    lang='de' physically removed and EVERY statistic (df, doc_count,
    avgdl) recomputed over the remaining corpus — unlike bm25_fq, whose
    tombstone-phase semantics keep corpus-wide stats. The oracle is the
    BM25 oracle with the documents source filtered the same way."""
    from solrtexttagger_spark.index.maintenance import expunge_docs
    from solrtexttagger_spark.search.bm25 import bm25_topk

    docs = _docs(spark, sf_dir)
    idx2 = expunge_docs(
        _index(spark, sf_dir), docs.where(DELETE_PRED).select("doc_id")
    )
    out = bm25_topk(idx2, BM25_QUERIES, k=BM25_K, spark=spark)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


PACK_MAX_TOKENS = 256


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM training-batch sequence packing: docs laid head-to-tail in id
    order, cut into PACK_MAX_TOKENS-capacity bins with document-aligned
    cuts. Distributed prefix sum (range partition + partition-local
    window + broadcast offsets) — no single-partition global window."""
    from solrtexttagger_spark.ops.packing import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), max_tokens=PACK_MAX_TOKENS)


PHRASE_QUERY = "hash join"


def q_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase matching via positional postings intersection."""
    from solrtexttagger_spark.search.phrase import phrase_match

    out = phrase_match(_index(spark, sf_dir), PHRASE_QUERY)
    return out.select(
        "doc_id", F.col("n_occurrences").cast("long").alias("n_occurrences")
    )


def q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type: count + sum(value).
    (Streaming-shaped aggregation exercised in batch; the streaming variant
    is solrtexttagger_spark/streaming/.)"""
    ev = _events(spark, sf_dir)
    ts = F.col("ts").cast("timestamp")
    win = F.window(ts, "1 hour")
    return (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start"),
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            "sum_value",
        )
    )


CURSOR_ROWS = 40
CURSOR_PAGES = 3


def q_cursor_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr cursorMark deep paging (search/cursor.py): walk 3 cursor
    pages of a match-all sorted request and return the LAST page. The
    oracle is Solr's own documented equivalence — cursor paging under a
    total order IS offset paging — so the DuckDB mirror is LIMIT/OFFSET
    while the Spark side actually iterates the strictly-after-predicate
    protocol (pushed filter + TakeOrderedAndProject per page, the
    O(page)-per-page shape; start+rows would funnel O(depth))."""
    from solrtexttagger_spark.search.cursor import solr_select_cursor

    d = _docs(spark, sf_dir)
    params = {
        "q": "*:*", "sort": "n_chars desc",
        "rows": str(CURSOR_ROWS), "fl": "lang,n_chars",
    }
    mark = "*"
    page = None
    for _ in range(CURSOR_PAGES):
        page, mark = solr_select_cursor(
            None, d, {**params, "cursorMark": mark}
        )
    return page.select("doc_id", "lang", "n_chars")


def q_rtg_atomic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realtime-get surface end-to-end (index/realtime.py): a tlog is
    synthesized from the corpus by id-modulus slices (%7 adds rewriting
    the doc at version id*10+1, %11 deletes at id*10+2 — the delete
    wins where both apply), apply_tlog commits it (last write per id,
    deletes vanish, untouched rows anti-join through unshuffled), and
    Solr ATOMIC UPDATES then hit the committed view: %5 docs get
    {lang: {set}} (only %10 carries a non-null operand — null = no-op)
    and {n_chars: {inc: 7}}. Output = the full replacement documents,
    the rows Solr's AtomicUpdateDocumentMerger would reindex."""
    from solrtexttagger_spark.index.realtime import (
        apply_tlog,
        atomic_update,
    )

    d = _docs(spark, sf_dir)
    adds = d.where(F.col("doc_id") % 7 == 0).select(
        "doc_id", F.lit("add").alias("op"),
        (F.col("doc_id") * 10 + 1).alias("_version_"),
        F.concat(F.lit("u:"), F.col("lang")).alias("text"),
        "lang", "source",
        (F.col("n_chars") + 1).alias("n_chars"),
    )
    dels = d.where(F.col("doc_id") % 11 == 0).select(
        "doc_id", F.lit("delete").alias("op"),
        (F.col("doc_id") * 10 + 2).alias("_version_"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("source"),
        F.lit(None).cast("long").alias("n_chars"),
    )
    cur = apply_tlog(d, adds.unionByName(dels))
    cmds = cur.where(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 10 == 0, F.lit("xx")).alias("lang"),
        F.lit(7).cast("long").alias("n_chars"),
    )
    return atomic_update(
        cur, cmds, {"lang": "set", "n_chars": "inc"}
    ).select("doc_id", "text", "lang", "source", "n_chars")


LUKE_TOP = 25


def q_luke_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/admin/luke (index/luke.py): topTerms (df desc, term asc — one
    TakeOrderedAndProject over term_stats) CROSS JOINED with the
    index-summary row, so one relation hash-pins both reports
    (numDocs/numTerms/sumDocFreq/sumTotalTermFreq/avgdl). Field stats
    are pytest-pinned exact-vs-DuckDB in test_luke.py."""
    from solrtexttagger_spark.index.luke import (
        luke_index_summary,
        luke_top_terms,
    )

    idx = _index(spark, sf_dir)
    summ = luke_index_summary(idx).select(
        "num_docs", "num_terms", "total_postings", "total_tokens",
        F.round("avgdl", 4).alias("avgdl"),
    )
    return luke_top_terms(idx, top=LUKE_TOP).crossJoin(summ)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-k over the sf0.001 documents corpus."""
    return q_bm25_topk(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # CONSOLIDATED to <= 50 entries (round-6, r5 verdict #1): the driver's
    # CORRECTNESS artifact records at most the first 50 entries in dict
    # order, so every operator family must fit inside that budget.
    #   - dropped (strategy twins, pinned by pytest parity instead):
    #     tag_join_nosub (== tag_nosub, test_tag_join.py),
    #     bm25_exploded (== bm25_topk, test_index_bm25.py),
    #     wand_fq (== bm25_fq, test_compression_wand.py)
    #   - merged same-family per-doc operators (each column still
    #     hash-pinned): doc_samples (bernoulli/stratified/topk),
    #     dup_span_ops (span stats + removal), fingerprints
    #     (fingerprint + rolling hash), doc_quality (lang id + quality +
    #     token stats), doc_risk (contamination + pii + repetition)
    #   - round-6 additions inside the freed budget: spellcheck_collate,
    #     chunk_docs (overlapping token windows), doc_split
    #     (deterministic train/val/test hash split)
    #   - round-8: unigram_ppl merged into doc_quality (same per-doc
    #     profile family, cross_entropy column still hash-pinned);
    #     minhash_signatures moved to a pytest pin with the identical
    #     DuckDB mirror (test_dedup_buckets.py; the sigs stay
    #     oracle-pinned through lsh_pairs/dup_clusters/dedup_keep whose
    #     SQL recomputes them); freed slots carry join_docs
    #     ({!join score=total}) and blockjoin_parents ({!parent}
    #     ScoreMode.Max over the chunk child corpus)
    #   - round-9 swaps (r8 verdict #3/#4: the new Solr surfaces need
    #     3-scale gates more than near-duplicate arms need two slots):
    #     bm25_fq folded INTO bm25_fl (one dressed fq+fl request; the
    #     standalone arm stays pinned by test_entry.py against its
    #     retained sql["bm25_fq"], WAND parity by
    #     test_compression_wand.py); spellcheck (plain) -> test_entry.py
    #     pin (collate still drives the SymSpell path here);
    #     phrase_match -> test_entry.py pin (bool_phrase drives
    #     phrase+slop through the full boolean path). Freed slots carry
    #     graph_closure ({!graph} BFS), export_sorted (/export), and
    #     stream_rollup (/stream compiler with a text q).
    #   - round-9 session-3 swaps: dedup_keep demoted to a pytest pin
    #     (it is a PURE PROJECTION of dup_clusters — keeper iff
    #     cluster_id == doc_id, already hash-pinned there); doc_split
    #     folded into doc_samples (tagged split_<name> rows — same
    #     deterministic-sampling family); doc_risk joined into
    #     doc_quality (same per-doc profile family). Freed slots carry
    #     cursor_page (cursorMark deep paging), rtg_atomic (tlog
    #     commit + atomic updates), luke_report (/admin/luke).
    return {
        "bm25_topk": q_bm25_topk,
        "wand_topk": q_wand_topk,
        "term_stats": q_term_stats,
        "tag_all": q_tag_all,
        "tag_partial": q_tag_partial,
        "tag_nosub": q_tag_nosub,
        "tag_ldr": q_tag_ldr,
        "dedup_exact": q_dedup_exact,
        "lsh_pairs": q_lsh_pairs,
        "rerank_collapse": q_rerank_collapse,
        "ngram_jaccard": q_ngram_jaccard,
        "dup_clusters": q_dup_clusters,
        "dup_span_ops": q_dup_span_ops,
        "bool_search": q_bool_search,
        "bool_phrase": q_bool_phrase,
        "bool_fuzzy": q_bool_fuzzy,
        "bm25_fl": q_bm25_fl,
        "snippets": q_snippets,
        "facet_sections": q_facet_sections,
        "facet_pivot": q_facet_pivot,
        "group_topk": q_group_topk,
        "select_sorted": q_select_sorted,
        "more_like_this": q_more_like_this,
        "doc_samples": q_doc_samples,
        "cosine_topk": q_cosine_topk,
        "lsh_cosine_topk": q_lsh_cosine_topk,
        "ivf_topk": q_ivf_topk,
        "pq_topk": q_pq_topk,
        "embed_dup_pairs": q_embed_dup_pairs,
        "doc_quality": q_doc_quality,
        "fingerprints": q_fingerprints,
        "tfidf_keywords": q_tfidf_keywords,
        "chunk_docs": q_chunk_docs,
        "bm25_after_delete": q_bm25_after_delete,
        "terms_prefix": q_terms_prefix,
        "spellcheck_collate": q_spellcheck_collate,
        "bm25_synonyms": q_bm25_synonyms,
        "stats_field": q_stats_field,
        "elevated": q_elevated,
        "join_docs": q_join_docs,
        "blockjoin_parents": q_blockjoin_parents,
        "graph_closure": q_graph_closure,
        "export_sorted": q_export_sorted,
        "stream_rollup": q_stream_rollup,
        "cursor_page": q_cursor_page,
        "rtg_atomic": q_rtg_atomic,
        "luke_report": q_luke_report,
        "pack_sequences": q_pack_sequences,
        "sessionize": q_sessionize,
        "event_windows": q_event_windows,
    }


# --- DuckDB oracle SQL ---

_TOK_CTE = """
tok AS (
  SELECT doc_id, w AS term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> '' GROUP BY 1, 2
),
dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tok GROUP BY 1),
stats AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
                 (SELECT sum(tf) FROM tok)::DOUBLE
                   / (SELECT count(*) FROM documents)::DOUBLE AS avgdl)
"""


def _bm25_scores_prefix(queries=None, synonyms=None) -> str:
    """The shared WITH-prefix computing per-(query, doc) total BM25
    scores — the SQL twin of bm25.exploded_scores. Consumers append
    their own ranking/grouping windows. ``synonyms`` expands the term
    bags with the SAME graph function the operator uses
    (expand_synonyms_graph): single-word expansions join the flat bag;
    a MULTI-word expansion's constituents score GATED on the phrase
    appearing contiguously — mirrored as ' '||text||' ' LIKE '% phrase
    %' on the driver's single-space corpus (the same contiguity mirror
    the bool_phrase oracle uses)."""
    from collections import Counter

    from solrtexttagger_spark.search.bm25 import (
        analyze_query_terms,
        expand_synonyms_graph,
    )

    vals, pvals = [], []
    for qid, q in (queries if queries is not None else BM25_QUERIES):
        bag = analyze_query_terms(q)
        phrases = {}
        if synonyms:
            bag, phrases = expand_synonyms_graph(bag, synonyms)
        for term, qtf in sorted(bag.items()):
            vals.append(f"({qid}, '{term}', {qtf})")
        for toks, w in sorted(phrases.items()):
            ph = " ".join(toks)
            for term, cnt in sorted(Counter(toks).items()):
                pvals.append(f"({qid}, '{ph}', '{term}', {w * cnt})")
    values = ", ".join(vals)
    base_cte = f"""
WITH {_TOK_CTE},
q(query_id, term, qtf) AS (VALUES {values}),
df_t AS (SELECT term, count(*)::DOUBLE AS df FROM tok GROUP BY 1)"""
    contrib = (
        "ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))\n"
        "              * (tok.tf::DOUBLE * 2.2) / (tok.tf::DOUBLE + 1.2 "
        "* (0.25 + 0.75 * dl.dl / s.avgdl))"
    )
    if not pvals:
        return f"""{base_cte},
scores AS (
  SELECT q.query_id::BIGINT AS query_id, tok.doc_id,
         sum( {contrib} * q.qtf ) AS score
  FROM q
  JOIN tok USING (term)
  JOIN df_t d USING (term)
  JOIN dl ON dl.doc_id = tok.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
)"""
    return f"""{base_cte},
qp(query_id, phrase, term, qtf) AS (VALUES {", ".join(pvals)}),
base_scores AS (
  SELECT q.query_id::BIGINT AS query_id, tok.doc_id,
         sum( {contrib} * q.qtf ) AS score
  FROM q
  JOIN tok USING (term)
  JOIN df_t d USING (term)
  JOIN dl ON dl.doc_id = tok.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
gated_scores AS (
  SELECT qp.query_id::BIGINT AS query_id, tok.doc_id,
         sum( {contrib} * qp.qtf ) AS score
  FROM qp
  JOIN tok USING (term)
  JOIN df_t d USING (term)
  JOIN dl ON dl.doc_id = tok.doc_id
  JOIN documents dd ON dd.doc_id = tok.doc_id
  CROSS JOIN stats s
  WHERE ' ' || dd.text || ' ' LIKE '% ' || qp.phrase || ' %'
  GROUP BY 1, 2
),
scores AS (
  SELECT query_id, doc_id, sum(score) AS score FROM (
    SELECT * FROM base_scores UNION ALL SELECT * FROM gated_scores
  ) GROUP BY 1, 2
)"""


def _bm25_oracle(fq_where: str = "") -> str:
    """fq_where: optional `WHERE ...` clause applied to the aggregated
    scores BEFORE ranking (Solr fq: filters results, never idf/avgdl)."""
    return f"""
{_bm25_scores_prefix()},
ranked AS (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank,
         doc_id, round(score, 4) AS score
  FROM scores
  {fq_where}
)
SELECT query_id, rank::BIGINT AS rank, doc_id, score FROM ranked WHERE rank <= {BM25_K}
"""


def _bool_oracle() -> str:
    """Boolean BM25 oracle: same scoring CTEs as _bm25_oracle, plus a
    distinct-MUST-present == n_must filter and a NOT EXISTS prohibition.
    The VALUES rows come from the SAME parse the operator uses."""
    from solrtexttagger_spark.search.boolean import parse_boolean_query

    score_vals, not_vals, must_vals = [], [], []
    for qid, q in BOOL_QUERIES:
        must, should, must_not, _mp, _np = parse_boolean_query(q)
        must_vals.append(f"({qid}, {len(must)})")
        for term, qtf in sorted(must.items()):
            score_vals.append(f"({qid}, '{term}', {qtf}, 1)")
        for term, qtf in sorted(should.items()):
            score_vals.append(f"({qid}, '{term}', {qtf}, 0)")
        for term in sorted(must_not):
            not_vals.append(f"({qid}, '{term}')")
    proh_cte = (
        f"proh(query_id, term) AS (VALUES {', '.join(not_vals)})"
        if not_vals
        else "proh(query_id, term) AS (SELECT NULL::BIGINT, NULL::VARCHAR WHERE false)"
    )
    return f"""
WITH {_TOK_CTE},
q(query_id, term, qtf, is_must) AS (VALUES {', '.join(score_vals)}),
nm(query_id, n_must) AS (VALUES {', '.join(must_vals)}),
{proh_cte},
df_t AS (SELECT term, count(*)::DOUBLE AS df FROM tok GROUP BY 1),
scores AS (
  SELECT q.query_id::BIGINT AS query_id, tok.doc_id,
         sum( ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * (tok.tf::DOUBLE * 2.2) / (tok.tf::DOUBLE + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))
              * q.qtf ) AS score,
         count(DISTINCT CASE WHEN q.is_must = 1 THEN q.term END) AS mp
  FROM q
  JOIN tok USING (term)
  JOIN df_t d USING (term)
  JOIN dl ON dl.doc_id = tok.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
ok AS (
  SELECT sc.query_id, sc.doc_id, sc.score
  FROM scores sc JOIN nm ON nm.query_id = sc.query_id
  WHERE sc.mp = nm.n_must
    AND NOT EXISTS (SELECT 1 FROM proh p JOIN tok t
                    ON t.term = p.term AND t.doc_id = sc.doc_id
                    WHERE p.query_id = sc.query_id)
),
ranked AS (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank,
         doc_id, round(score, 4) AS score
  FROM ok
)
SELECT query_id, rank::BIGINT AS rank, doc_id, score FROM ranked WHERE rank <= {BM25_K}
"""


def _bool_fuzzy_oracle() -> str:
    """MultiTermQuery clause oracle: the _bool_oracle scoring CTEs with
    marker clauses resolved IN SQL against the same live vocabulary the
    operator reads (prefix = starts_with; fuzzy = plain levenshtein <=
    d, the same metric DuckDB and the driver-side expansion share;
    wildcard = the same anchored regex the operator pushes into rlike;
    range = ordered string comparisons with the parsed inclusivity; the
    maxExpansions cap never binds on the fixed ~31-term fixture
    vocabulary, so no ordering needs mirroring). Query-time boosts ride
    the qtf column unchanged. Group semantics: a member row carries its
    MUST group id, so the distinct-gid count per doc equals the
    operator's satisfied-group count."""
    from solrtexttagger_spark.search.boolean import (
        _wildcard_regex,
        parse_boolean_query,
        parse_marker,
    )

    def _mk_row(qid, gid_sql, parsed, qtf, role):
        kind, base, dist = parsed
        if kind == "range":
            lo, hi, lo_inc, hi_inc = base
            return (
                f"({qid}, {gid_sql}, 'range', '{lo}', '{hi}', 0, "
                f"{int(lo_inc)}, {int(hi_inc)}, {qtf}, '{role}')"
            )
        if kind == "wildcard":
            return (
                f"({qid}, {gid_sql}, 'wildcard', '{_wildcard_regex(base)}', "
                f"'', 0, 0, 0, {qtf}, '{role}')"
            )
        if kind == "fuzzy":
            return (
                f"({qid}, {gid_sql}, 'fuzzy', '{base}', '', {dist}, 0, 0, "
                f"{qtf}, '{role}')"
            )
        return (
            f"({qid}, {gid_sql}, 'prefix', '{base}', '', 0, 0, 0, "
            f"{qtf}, '{role}')"
        )

    plain_vals, mk_vals, must_vals, not_vals = [], [], [], []
    for qid, q in BOOL_FUZZY_QUERIES:
        must, should, must_not, _mp, _np = parse_boolean_query(q)
        must_vals.append(f"({qid}, {len(must)})")
        for gid, term in enumerate(sorted(must)):
            m = parse_marker(term)
            if m:
                mk_vals.append(_mk_row(qid, gid, m, must[term], "must"))
            else:
                plain_vals.append(f"({qid}, '{term}', {must[term]}, {gid})")
        for term, qtf in sorted(should.items()):
            m = parse_marker(term)
            if m:
                mk_vals.append(_mk_row(qid, "NULL", m, qtf, "should"))
            else:
                plain_vals.append(f"({qid}, '{term}', {qtf}, NULL)")
        for term in sorted(must_not):
            m = parse_marker(term)
            if m:
                mk_vals.append(_mk_row(qid, "NULL", m, 0, "not"))
            else:
                not_vals.append(f"({qid}, '{term}')")
    plain_cte = (
        f"plain(query_id, term, qtf, gid) AS (VALUES {', '.join(plain_vals)})"
        if plain_vals
        else "plain(query_id, term, qtf, gid) AS "
             "(SELECT NULL::BIGINT, NULL::VARCHAR, NULL::INT, NULL::INT WHERE false)"
    )
    notp_cte = (
        f"notp(query_id, term) AS (VALUES {', '.join(not_vals)})"
        if not_vals
        else "notp(query_id, term) AS (SELECT NULL::BIGINT, NULL::VARCHAR WHERE false)"
    )
    return f"""
WITH {_TOK_CTE},
df_t AS (SELECT term, count(*)::DOUBLE AS df FROM tok GROUP BY 1),
{plain_cte},
mk(query_id, gid, kind, base, hi, dist, lo_inc, hi_inc, qtf, role) AS (VALUES {', '.join(mk_vals)}),
{notp_cte},
mkm AS (
  SELECT m.query_id, m.gid, m.role, m.qtf, v.term
  FROM mk m JOIN df_t v
    ON (CASE m.kind
         WHEN 'prefix' THEN starts_with(v.term, m.base)
         WHEN 'fuzzy' THEN abs(len(v.term) - len(m.base)) <= m.dist
                           AND levenshtein(v.term, m.base) <= m.dist
         WHEN 'wildcard' THEN regexp_matches(v.term, m.base)
         ELSE (m.base = '*' OR (CASE WHEN m.lo_inc = 1
                                     THEN v.term >= m.base
                                     ELSE v.term > m.base END))
              AND (m.hi = '*' OR (CASE WHEN m.hi_inc = 1
                                       THEN v.term <= m.hi
                                       ELSE v.term < m.hi END))
       END)
),
score_terms AS (
  SELECT query_id, term, qtf, gid FROM plain
  UNION ALL
  SELECT query_id, term, qtf, gid FROM mkm WHERE role IN ('must', 'should')
),
proh AS (
  SELECT query_id, term FROM notp
  UNION ALL SELECT query_id, term FROM mkm WHERE role = 'not'
),
nm(query_id, n_must) AS (VALUES {', '.join(must_vals)}),
scores AS (
  SELECT q.query_id::BIGINT AS query_id, tok.doc_id,
         sum( ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * (tok.tf::DOUBLE * 2.2) / (tok.tf::DOUBLE + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))
              * q.qtf ) AS score,
         count(DISTINCT q.gid) AS mp
  FROM score_terms q
  JOIN tok USING (term)
  JOIN df_t d USING (term)
  JOIN dl ON dl.doc_id = tok.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
ok AS (
  SELECT sc.query_id, sc.doc_id, sc.score
  FROM scores sc JOIN nm ON nm.query_id = sc.query_id
  WHERE sc.mp = nm.n_must
    AND NOT EXISTS (SELECT 1 FROM proh p JOIN tok t
                    ON t.term = p.term AND t.doc_id = sc.doc_id
                    WHERE p.query_id = sc.query_id)
),
ranked AS (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank,
         doc_id, round(score, 4) AS score
  FROM ok
)
SELECT query_id, rank::BIGINT AS rank, doc_id, score FROM ranked WHERE rank <= {BM25_K}
"""


def _bool_phrase_oracle() -> str:
    """Boolean-with-phrases oracle: the _bool_oracle scoring CTEs (phrase
    constituents are already folded into MUST by the SAME parse the
    operator uses), plus contiguity filters expressed as LIKE over the
    space-clean text (' a b ' LIKE '% hash join %' == token contiguity on
    the driver's single-space corpus). SLOPPY phrases ("a b"~k) cannot
    use LIKE; they mirror through a positions CTE (unnest zipped with
    range(len) = token ordinals) and the exact two-term Lucene criterion
    |p2 - p1 - 1| <= slop — the same span-over-shifted-positions rule
    the operator's window-anchor expansion implements
    (search/boolean.phrase_docs)."""
    from solrtexttagger_spark.search.boolean import parse_boolean_query

    score_vals, not_vals, must_vals, req_vals, proh_vals = [], [], [], [], []
    reqs_vals, prohs_vals = [], []  # sloppy: (qid, t1, t2, slop)

    def _sloppy_row(qid, toks, slop):
        if len(toks) != 2:
            raise ValueError(
                "sloppy-phrase oracle mirrors the exact 2-term criterion"
            )
        return f"({qid}, '{toks[0]}', '{toks[1]}', {slop})"

    for qid, q in BOOL_PHRASE_QUERIES:
        must, should, must_not, mphr, nphr = parse_boolean_query(q, field="text")
        must_vals.append(f"({qid}, {len(must)})")
        for term, qtf in sorted(must.items()):
            score_vals.append(f"({qid}, '{term}', {qtf}, 1)")
        for term, qtf in sorted(should.items()):
            score_vals.append(f"({qid}, '{term}', {qtf}, 0)")
        for term in sorted(must_not):
            not_vals.append(f"({qid}, '{term}')")
        for toks, slop in sorted(set(mphr)):
            if slop == 0:
                req_vals.append(f"({qid}, '{' '.join(toks)}')")
            else:
                reqs_vals.append(_sloppy_row(qid, toks, slop))
        for toks, slop in sorted(set(nphr)):
            if slop == 0:
                proh_vals.append(f"({qid}, '{' '.join(toks)}')")
            else:
                prohs_vals.append(_sloppy_row(qid, toks, slop))
    empty = "(SELECT NULL::BIGINT, NULL::VARCHAR WHERE false)"
    proh_cte = (
        f"proh(query_id, term) AS (VALUES {', '.join(not_vals)})"
        if not_vals
        else f"proh(query_id, term) AS {empty}"
    )
    reqp_cte = (
        f"reqp(query_id, phrase) AS (VALUES {', '.join(req_vals)})"
        if req_vals
        else f"reqp(query_id, phrase) AS {empty}"
    )
    prohp_cte = (
        f"prohp(query_id, phrase) AS (VALUES {', '.join(proh_vals)})"
        if proh_vals
        else f"prohp(query_id, phrase) AS {empty}"
    )
    empty4 = (
        "(SELECT NULL::BIGINT, NULL::VARCHAR, NULL::VARCHAR, NULL::INT "
        "WHERE false)"
    )
    reqps_cte = (
        f"reqps(query_id, t1, t2, slop) AS (VALUES {', '.join(reqs_vals)})"
        if reqs_vals
        else f"reqps(query_id, t1, t2, slop) AS {empty4}"
    )
    prohps_cte = (
        f"prohps(query_id, t1, t2, slop) AS (VALUES {', '.join(prohs_vals)})"
        if prohs_vals
        else f"prohps(query_id, t1, t2, slop) AS {empty4}"
    )
    return f"""
WITH {_TOK_CTE},
tokp AS (
  SELECT doc_id, unnest(ws) AS term, unnest(range(len(ws))) AS pos
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
),
sloppy_hit AS (
  SELECT DISTINCT r.query_id, r.t1, r.t2, r.slop, p1.doc_id
  FROM (SELECT * FROM reqps UNION ALL SELECT * FROM prohps) r
  JOIN tokp p1 ON p1.term = r.t1
  JOIN tokp p2 ON p2.doc_id = p1.doc_id AND p2.term = r.t2
  WHERE abs(p2.pos - p1.pos - 1) <= r.slop
),
q(query_id, term, qtf, is_must) AS (VALUES {', '.join(score_vals)}),
nm(query_id, n_must) AS (VALUES {', '.join(must_vals)}),
{proh_cte},
{reqp_cte},
{prohp_cte},
{reqps_cte},
{prohps_cte},
df_t AS (SELECT term, count(*)::DOUBLE AS df FROM tok GROUP BY 1),
scores AS (
  SELECT q.query_id::BIGINT AS query_id, tok.doc_id,
         sum( ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * (tok.tf::DOUBLE * 2.2) / (tok.tf::DOUBLE + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))
              * q.qtf ) AS score,
         count(DISTINCT CASE WHEN q.is_must = 1 THEN q.term END) AS mp
  FROM q
  JOIN tok USING (term)
  JOIN df_t d USING (term)
  JOIN dl ON dl.doc_id = tok.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
ok AS (
  SELECT sc.query_id, sc.doc_id, sc.score
  FROM scores sc JOIN nm ON nm.query_id = sc.query_id
  WHERE sc.mp = nm.n_must
    AND NOT EXISTS (SELECT 1 FROM proh p JOIN tok t
                    ON t.term = p.term AND t.doc_id = sc.doc_id
                    WHERE p.query_id = sc.query_id)
    AND NOT EXISTS (SELECT 1 FROM reqp rp
                    WHERE rp.query_id = sc.query_id
                      AND NOT EXISTS (SELECT 1 FROM documents d2
                                      WHERE d2.doc_id = sc.doc_id
                                        AND ' ' || d2.text || ' ' LIKE '% ' || rp.phrase || ' %'))
    AND NOT EXISTS (SELECT 1 FROM prohp pp JOIN documents d3 ON d3.doc_id = sc.doc_id
                    WHERE pp.query_id = sc.query_id
                      AND ' ' || d3.text || ' ' LIKE '% ' || pp.phrase || ' %')
    AND NOT EXISTS (SELECT 1 FROM reqps rs
                    WHERE rs.query_id = sc.query_id
                      AND NOT EXISTS (SELECT 1 FROM sloppy_hit sh
                                      WHERE sh.query_id = rs.query_id
                                        AND sh.t1 = rs.t1 AND sh.t2 = rs.t2
                                        AND sh.slop = rs.slop
                                        AND sh.doc_id = sc.doc_id))
    AND NOT EXISTS (SELECT 1 FROM prohps ps JOIN sloppy_hit sh2
                    ON sh2.query_id = ps.query_id AND sh2.t1 = ps.t1
                       AND sh2.t2 = ps.t2 AND sh2.slop = ps.slop
                    WHERE ps.query_id = sc.query_id
                      AND sh2.doc_id = sc.doc_id)
),
ranked AS (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank,
         doc_id, round(score, 4) AS score
  FROM ok
)
SELECT query_id, rank::BIGINT AS rank, doc_id, score FROM ranked WHERE rank <= {BM25_K}
"""


def _snippets_oracle() -> str:
    """Highlight oracle: the exact bm25 ranking as a CTE, then the same
    best-window selection (first hit position attaining the max count of
    hits in [p, p+W)) in DuckDB list lambdas."""
    from solrtexttagger_spark.search.bm25 import analyze_query_terms

    qt_vals = ", ".join(
        "({}, [{}])".format(
            qid, ", ".join(f"'{t}'" for t in sorted(analyze_query_terms(q)))
        )
        for qid, q in BM25_QUERIES
    )
    W = SNIPPET_WINDOW
    return f"""
WITH topk AS ({_bm25_oracle().strip()}),
qt(query_id, terms) AS (VALUES {qt_vals}),
j AS (
  SELECT t.query_id, t.rank, t.doc_id, t.score,
         string_split(d.text, ' ') AS w, qt.terms
  FROM topk t
  JOIN documents d ON d.doc_id = t.doc_id
  JOIN qt ON qt.query_id = t.query_id
),
h AS (
  SELECT query_id, rank, doc_id, score, w,
         list_filter(range(0, len(w)), i -> list_contains(terms, lower(w[i + 1]))) AS hits
  FROM j
),
b AS (
  SELECT query_id, rank, doc_id, score, w, hits,
         list_transform(hits, p -> len(list_filter(hits, x -> x >= p AND x < p + {W}))) AS ws
  FROM h
),
s AS (
  SELECT query_id, rank, doc_id, score, w,
         hits[list_position(ws, list_aggregate(ws, 'max'))] AS st
  FROM b
)
SELECT query_id, rank, doc_id, score, st::BIGINT AS snippet_start,
       array_to_string(w[st + 1 : st + {W}], ' ') AS snippet
FROM s
"""


def _mlt_oracle() -> str:
    """More-Like-This oracle: top TF-IDF terms per probe (ROUNDED score
    ordering, term asc tie-break — exactly ops/textqa.tfidf_keywords),
    then the standard BM25 ranking over those terms excluding the probe."""
    probes = ", ".join(str(p) for p in MLT_PROBES)
    return f"""
WITH {_TOK_CTE},
nn AS (SELECT count(*)::DOUBLE AS n FROM documents),
df_t AS (SELECT term, count(*)::DOUBLE AS df FROM tok GROUP BY 1),
kw AS (
  SELECT doc_id AS query_id, term FROM (
    SELECT t.doc_id, t.term,
           row_number() OVER (PARTITION BY t.doc_id
             ORDER BY round(t.tf::DOUBLE * ln(nn.n / d.df), 4) DESC, t.term ASC) AS r
    FROM tok t JOIN df_t d USING (term) CROSS JOIN nn
    WHERE t.doc_id IN ({probes})
  ) WHERE r <= {MLT_TERMS}
),
scores AS (
  SELECT kw.query_id::BIGINT AS query_id, tok.doc_id,
         sum( ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * (tok.tf::DOUBLE * 2.2) / (tok.tf::DOUBLE + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) ) AS score
  FROM kw
  JOIN tok USING (term)
  JOIN df_t d USING (term)
  JOIN dl ON dl.doc_id = tok.doc_id
  CROSS JOIN stats s
  WHERE tok.doc_id <> kw.query_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank,
         doc_id, round(score, 4) AS score
  FROM scores
)
SELECT query_id, rank::BIGINT AS rank, doc_id, score FROM ranked WHERE rank <= {BM25_K}
"""


def _tag_hits_cte() -> str:
    vals = ", ".join(f"('{i}', '{n}')" for i, n in TAG_DICT)
    return f"""
dict(id, name) AS (VALUES {vals}),
pos AS (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i FROM documents),
hits AS (
  SELECT p.doc_id, (p.i - 1)::BIGINT AS t_start,
         (p.i - 1 + length(d.name))::BIGINT AS t_end, d.id
  FROM pos p CROSS JOIN dict d
  WHERE substr(' ' || p.text || ' ', p.i, length(d.name) + 2) = ' ' || d.name || ' '
)"""


def _minhash_sig_exprs() -> str:
    # mirrors ops/dedup.minhash_signatures: 28-bit slices of
    # md5(s) / md5('x'||s) / md5('y'||s), 4 slices per digest
    exprs = []
    for i in range(MINHASH_H):
        src = ("md5(s)", "md5('x' || s)", "md5('y' || s)")[i // 4]
        off = 1 + 7 * (i % 4)
        exprs.append(
            f"min(('0x' || substr({src}, {off}, 7))::BIGINT) AS sig_{i}"
        )
    return ",\n       ".join(exprs)


_SHINGLE_CTE = f"""
words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT doc_id, array_to_string(w[i:i+{JACCARD_SHINGLE - 1}], ' ') AS s
  FROM (SELECT doc_id, w, unnest(range(1, len(w) - {JACCARD_SHINGLE - 2})) AS i FROM words WHERE len(w) >= {JACCARD_SHINGLE})
)
"""


def _simhash_oracle() -> str:
    sums = ",\n         ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN tf ELSE -tf END) AS s_{j}"
        for j in range(SIMHASH_BITS)
    )
    combine = " + ".join(
        f"(CASE WHEN s_{j} > 0 THEN {1 << j}::BIGINT ELSE 0::BIGINT END)"
        for j in range(SIMHASH_BITS)
    )
    return f"""
WITH {_TOK_CTE},
hashed AS (SELECT doc_id, tf, {_PHASH_SQL.format(x='term')} AS h FROM tok),
sums AS (SELECT doc_id, {sums} FROM hashed GROUP BY doc_id)
SELECT doc_id, ({combine}) AS simhash FROM sums
"""


def _oracle_sql_full() -> dict[str, str]:
    probe_list = ", ".join(str(p) for p in COSINE_PROBES)
    band_r = MINHASH_H // MINHASH_BANDS
    sql = {}

    sql["bm25_topk"] = _bm25_oracle()
    sql["wand_topk"] = _bm25_oracle()  # WAND must be rank/score-identical
    sql["bool_search"] = _bool_oracle()
    sql["bool_phrase"] = _bool_phrase_oracle()
    sql["bool_fuzzy"] = _bool_fuzzy_oracle()
    sql["bm25_fq"] = _bm25_oracle(
        f"WHERE doc_id IN (SELECT doc_id FROM documents WHERE {BM25_FQ})"
    )
    # WAND under fq must be rank/score-identical to the exhaustive scorer
    sql["wand_fq"] = sql["bm25_fq"]
    # expunge semantics: the SAME scoring, but every stat (df, n, avgdl)
    # derived from the corpus minus the deleted docs — mirrored by
    # filtering the documents source everywhere the oracle reads it
    sql["bm25_after_delete"] = _bm25_oracle().replace(
        "FROM documents", f"FROM (SELECT * FROM documents WHERE NOT ({DELETE_PRED}))"
    )

    # mirrors search/bm25 synonyms= : identical scoring CTEs over bags
    # expanded by the SAME Python function on both sides
    sql["bm25_synonyms"] = f"""
{_bm25_scores_prefix(SYN_QUERIES, SYNONYMS)},
ranked AS (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank,
         doc_id, round(score, 4) AS score
  FROM scores
)
SELECT query_id, rank::BIGINT AS rank, doc_id, score FROM ranked WHERE rank <= {BM25_K}
"""

    # mirrors search/components.stats_field: stats over the FACET_QUERY
    # match set; DuckDB stddev_samp matches Spark's sample semantics
    _stats_terms = ", ".join(f"'{t}'" for t in sorted(FACET_QUERY.split()))
    sql["stats_field"] = f"""
WITH matched AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE w IN ({_stats_terms})
)
SELECT count({STATS_FIELD})::BIGINT AS n,
       (count(*) - count({STATS_FIELD}))::BIGINT AS missing,
       round(min({STATS_FIELD}::DOUBLE), 4) AS min_v,
       round(max({STATS_FIELD}::DOUBLE), 4) AS max_v,
       round(sum({STATS_FIELD}::DOUBLE), 4) AS sum_v,
       round(avg({STATS_FIELD}::DOUBLE), 4) AS mean_v,
       round(stddev_samp({STATS_FIELD}::DOUBLE), 4) AS stddev_v
FROM documents JOIN matched USING (doc_id)
"""

    # mirrors search/components.elevated_topk: full-outer of the
    # elevation rows into the scoring relation, pinned head + organic tail
    _elev_vals = ", ".join(
        f"({qid}, {d}, {pos})"
        for qid, ids in ELEVATIONS.items()
        for pos, d in enumerate(ids)
    )
    sql["elevated"] = f"""
{_bm25_scores_prefix()},
elev(query_id, e_doc_id, pos) AS (VALUES {_elev_vals}),
joined AS (
  SELECT coalesce(s.query_id, e.query_id) AS query_id,
         coalesce(s.doc_id, e.e_doc_id) AS doc_id,
         coalesce(s.score, 0.0) AS score, e.pos
  FROM scores s
  FULL OUTER JOIN elev e
    ON e.query_id = s.query_id AND e.e_doc_id = s.doc_id
),
ranked AS (
  SELECT query_id, doc_id, round(score, 4) AS score,
         (pos IS NOT NULL) AS elevated,
         row_number() OVER (PARTITION BY query_id ORDER BY
           CASE WHEN pos IS NOT NULL THEN 0 ELSE 1 END ASC,
           coalesce(pos, 0) ASC, score DESC, doc_id ASC) AS rank
  FROM joined
)
SELECT query_id, rank::BIGINT AS rank, doc_id, score, elevated
FROM ranked WHERE rank <= {BM25_K}
"""

    # mirrors ops/textqa.unigram_logppl (self-fit corpus model)
    sql["unigram_ppl"] = """
WITH tok AS (
  SELECT doc_id, w AS term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> '' GROUP BY 1, 2
),
model AS (SELECT term, sum(tf)::DOUBLE AS cf FROM tok GROUP BY 1),
tot AS (SELECT sum(cf) AS total FROM model)
SELECT t.doc_id, sum(t.tf)::BIGINT AS n_tokens,
       round(-sum(t.tf * ln(m.cf / s.total)) / sum(t.tf), 4) AS cross_entropy
FROM tok t JOIN model m USING (term) CROSS JOIN tot s
GROUP BY t.doc_id
"""

    # mirrors search/terms.terms_component: term_stats derive from the
    # same tokenization; top-k by (df desc, term asc)
    sql["terms_prefix"] = f"""
WITH {_TOK_CTE},
st AS (SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf FROM tok GROUP BY 1),
ranked AS (
  SELECT row_number() OVER (ORDER BY df DESC, term ASC) AS rank, term, df, cf
  FROM st WHERE term LIKE '{TERMS_PREFIX}%'
)
SELECT rank::BIGINT AS rank, term, df, cf FROM ranked WHERE rank <= 10
"""

    # mirrors search/terms.spellcheck_terms: live-vocabulary candidates
    # within levenshtein max_dist, (dist asc, df desc, term asc)
    sql["spellcheck"] = f"""
WITH {_TOK_CTE},
st AS (SELECT term, count(*)::BIGINT AS df FROM tok GROUP BY 1),
cand AS (
  SELECT term, df, levenshtein(term, '{SPELL_WORD}')::BIGINT AS dist
  FROM st
  WHERE abs(len(term) - {len(SPELL_WORD)}) <= {SPELL_MAX_DIST}
    AND term <> '{SPELL_WORD}' AND df >= 1
),
ranked AS (
  SELECT row_number() OVER (ORDER BY dist ASC, df DESC, term ASC) AS rank,
         term, dist, df
  FROM cand WHERE dist <= {SPELL_MAX_DIST}
)
SELECT rank::BIGINT AS rank, term, dist, df FROM ranked WHERE rank <= 5
"""

    # mirrors search/terms.spellcheck_collate: same suggestion ranking as
    # spellcheck, collation = analyzer-sorted query with the
    # out-of-vocabulary term replaced, hits = conjunctive doc count,
    # 0-hit collations dropped, rank = suggestion order among survivors
    _collate_vals = ", ".join(
        f"('{t}')" for t in sorted(set(SPELL_COLLATE_QUERY.split()))
    )
    sql["spellcheck_collate"] = f"""
WITH {_TOK_CTE},
st AS (SELECT term, count(*)::BIGINT AS df FROM tok GROUP BY 1),
qt(term) AS (VALUES {_collate_vals}),
miss AS (SELECT term FROM qt WHERE term NOT IN (SELECT term FROM st)),
good AS (SELECT term FROM qt WHERE term IN (SELECT term FROM st)),
sugg AS (
  SELECT * FROM (
    SELECT row_number() OVER (ORDER BY dist ASC, df DESC, term ASC) AS srank,
           term
    FROM (
      SELECT s.term, s.df, levenshtein(s.term, m.term)::BIGINT AS dist
      FROM st s CROSS JOIN miss m
      WHERE s.term <> m.term
        AND abs(len(s.term) - len(m.term)) <= {SPELL_MAX_DIST}
    ) WHERE dist <= {SPELL_MAX_DIST}
  ) WHERE srank <= 5
),
hits AS (
  -- required distinct-term count is the size of good UNION the
  -- suggestion: one coinciding with an in-vocab query term collapses it
  SELECT sg.srank, sg.term AS sugg,
    (SELECT count(*) FROM (
       SELECT t.doc_id FROM tok t
       WHERE t.term IN (SELECT term FROM good) OR t.term = sg.term
       GROUP BY t.doc_id
       HAVING count(DISTINCT t.term) = (
         SELECT count(*) + (CASE WHEN sg.term IN (SELECT term FROM good)
                                 THEN 0 ELSE 1 END)
         FROM good
       )
     )) AS hits
  FROM sugg sg
)
SELECT row_number() OVER (ORDER BY srank)::BIGINT AS rank,
       (SELECT string_agg(
          CASE WHEN q.term IN (SELECT term FROM miss) THEN h.sugg
               ELSE q.term END, ' ' ORDER BY q.term) FROM qt q) AS collation,
       hits::BIGINT AS hits
FROM hits h WHERE hits > 0
"""
    _fl_cols = ", ".join(f"d.{c}" for c in BM25_FL)
    # round 9: the former bm25_fq entry folded in — fq filters the
    # result set (post-aggregation), stats stay corpus-wide
    sql["bm25_fl"] = (
        f"SELECT r.query_id, r.rank, r.doc_id, r.score, {_fl_cols}\n"
        f"FROM ({sql['bm25_fq']}) r JOIN documents d USING (doc_id)"
    )
    sql["snippets"] = _snippets_oracle()
    sql["more_like_this"] = _mlt_oracle()
    _fq_terms = ", ".join(f"'{t}'" for t in sorted(FACET_QUERY.split()))
    _facet_arms = " UNION ALL ".join(
        f"SELECT '{c}' AS field, {c}::VARCHAR AS value FROM matched_docs"
        for c in FACET_FIELDS
    )
    sql["facets"] = f"""
WITH matched AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE w IN ({_fq_terms})
),
matched_docs AS (SELECT d.* FROM documents d JOIN matched USING (doc_id)),
fv AS ({_facet_arms})
SELECT field, value, count(*)::BIGINT AS n FROM fv GROUP BY 1, 2
"""
    _fr_col, _fr_lo, _fr_hi, _fr_gap = FACET_RANGE
    sql["facet_range"] = f"""
WITH matched AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE w IN ({_fq_terms})
),
b AS (
  SELECT (floor(({_fr_col} - {_fr_lo}) / {_fr_gap}) * {_fr_gap} + {_fr_lo})::BIGINT AS range_start,
         count(*) AS n
  FROM documents JOIN matched USING (doc_id)
  WHERE {_fr_col} >= {_fr_lo} AND {_fr_col} < {_fr_hi}
  GROUP BY 1
),
spine AS (SELECT unnest(range({_fr_lo}, {_fr_hi}, {_fr_gap}))::BIGINT AS range_start)
SELECT s.range_start, coalesce(b.n, 0)::BIGINT AS n
FROM spine s LEFT JOIN b USING (range_start)
"""
    sql["bm25_exploded"] = _bm25_oracle()  # both strategies, same oracle

    # mirrors search/grouping.grouped_topk: scores rounded to 4 BEFORE the
    # windows on both engines; rank_in_group over (query, group), groups
    # dense-ranked by (best member score desc, group value asc)
    sql["group_topk"] = f"""
{_bm25_scores_prefix()},
rounded AS (SELECT query_id, doc_id, round(score, 4) AS score FROM scores),
j AS (
  SELECT r.query_id, r.doc_id, r.score, d.{GROUP_FIELD}::VARCHAR AS group_value
  FROM rounded r JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT query_id, group_value, doc_id, score,
         row_number() OVER (PARTITION BY query_id, group_value
                            ORDER BY score DESC, doc_id) AS rank_in_group,
         max(score) OVER (PARTITION BY query_id, group_value) AS grp_best
  FROM j
),
grp AS (
  SELECT *, dense_rank() OVER (PARTITION BY query_id
                               ORDER BY grp_best DESC, group_value ASC) AS group_rank
  FROM ranked
)
SELECT query_id, group_value, group_rank::BIGINT AS group_rank,
       rank_in_group::BIGINT AS rank_in_group, doc_id, score
FROM grp WHERE group_rank <= {BM25_K} AND rank_in_group <= {GROUP_LIMIT}
"""

    # mirrors search/grouping.select_sorted: match set ordered by the
    # sort FUNCTION desc (doc_id asc tie-break), score carried along —
    # DuckDB `//` mirrors Spark `div` (both floor on non-negatives)
    sql["select_sorted"] = f"""
{_bm25_scores_prefix()},
rounded AS (SELECT query_id, doc_id, round(score, 4) AS score FROM scores),
j AS (
  SELECT r.query_id, r.doc_id, r.score, ({SORT_EXPR_SQL})::BIGINT AS sort_value
  FROM rounded r JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY sort_value DESC, doc_id ASC) AS rank
  FROM j
)
SELECT query_id, rank::BIGINT AS rank, doc_id, sort_value, score
FROM ranked WHERE rank <= {BM25_K}
"""

    # mirrors grouping.collapse_topk |> functions.rerank_topk: one head
    # per (query, source) via the same (score desc, doc_id asc) order,
    # absolute page ranks capped at k, then the top RERANK_DOCS rescored
    # score + w*rq and re-sorted AMONG THEMSELVES while the tail keeps
    # its first-pass rank — exactly Solr's {!collapse} + rq={!rerank}
    sql["rerank_collapse"] = f"""
{_bm25_scores_prefix()},
rounded AS (SELECT query_id, doc_id, round(score, 4) AS score FROM scores),
j AS (
  SELECT r.query_id, r.doc_id, r.score, d.{COLLAPSE_FIELD} AS gv,
         ({RERANK_RQ}) AS rq
  FROM rounded r JOIN documents d USING (doc_id)
  WHERE d.{COLLAPSE_FIELD} IS NOT NULL
),
heads AS (
  SELECT *, row_number() OVER (PARTITION BY query_id, gv
                               ORDER BY score DESC, doc_id ASC) AS rn
  FROM j
),
page AS (
  SELECT query_id, doc_id, score, rq,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM heads WHERE rn = 1
),
lim AS (SELECT * FROM page WHERE rank <= {BM25_K}),
rr AS (
  SELECT query_id, doc_id, score + {RERANK_WEIGHT} * rq AS new_score
  FROM lim WHERE rank <= {RERANK_DOCS}
),
head2 AS (
  SELECT query_id, doc_id, new_score AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY new_score DESC, doc_id ASC) AS rank
  FROM rr
),
tail AS (
  SELECT query_id, doc_id, score, rank FROM lim
  WHERE rank > {RERANK_DOCS}
)
SELECT query_id, rank::BIGINT AS rank, doc_id, round(score, 4) AS score
FROM (SELECT * FROM head2 UNION ALL SELECT * FROM tail)
"""

    # mirrors search/grouping.facet_pivot: ROLLUP over the match set;
    # NULL subtotal markers coalesce to the same sentinel on both sides
    _pv_cols = ", ".join(PIVOT_FIELDS)
    _pv_sel = ", ".join(
        f"coalesce({c}, '{PIVOT_ANY}') AS {c}" for c in PIVOT_FIELDS
    )
    sql["facet_pivot"] = f"""
WITH matched AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE w IN ({_fq_terms})
),
src AS (
  SELECT {", ".join(f"{c}::VARCHAR AS {c}" for c in PIVOT_FIELDS)}
  FROM documents JOIN matched USING (doc_id)
),
piv AS (
  SELECT {_pv_cols}, count(*)::BIGINT AS n,
         ({" + ".join(
             f"GROUPING({c})::BIGINT * {1 << (len(PIVOT_FIELDS) - 1 - i)}"
             for i, c in enumerate(PIVOT_FIELDS)
         )})::BIGINT AS level
  FROM src GROUP BY ROLLUP ({_pv_cols})
)
SELECT {_pv_sel}, n, level FROM piv
"""

    sql["term_stats"] = f"""
WITH {_TOK_CTE}
SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf FROM tok GROUP BY term
"""

    sql["tag_all"] = f"WITH {_tag_hits_cte()} SELECT doc_id, t_start, t_end, id FROM hits"

    from solrtexttagger_spark.analysis.core import index_analyze_shingles

    shingle_rows = sorted(
        {
            (i, sh)
            for i, n in TAG_DICT
            for sh in index_analyze_shingles(n)
        }
    )
    shingle_vals = ", ".join(f"('{i}', '{sh}')" for i, sh in shingle_rows)
    sql["tag_partial"] = f"""
WITH dict(id, name) AS (VALUES {shingle_vals}),
pos AS (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i FROM documents),
hits AS (
  SELECT DISTINCT p.doc_id, (p.i - 1)::BIGINT AS t_start,
         (p.i - 1 + length(d.name))::BIGINT AS t_end, d.id
  FROM pos p CROSS JOIN dict d
  WHERE substr(' ' || p.text || ' ', p.i, length(d.name) + 2) = ' ' || d.name || ' '
),
spans AS (SELECT DISTINCT doc_id, t_start, t_end FROM hits),
keep AS (
  SELECT s.doc_id, s.t_start, s.t_end FROM spans s
  WHERE NOT EXISTS (
    SELECT 1 FROM spans u
    WHERE u.doc_id = s.doc_id AND u.t_start <= s.t_start AND u.t_end >= s.t_end
      AND (u.t_start <> s.t_start OR u.t_end <> s.t_end)
  )
)
SELECT h.doc_id, h.t_start, h.t_end, h.id
FROM hits h JOIN keep k
  ON h.doc_id = k.doc_id AND h.t_start = k.t_start AND h.t_end = k.t_end
"""

    # LONGEST_DOMINANT_RIGHT as SQL: the reference's greedy
    # (TagClusterReducer.java:59-102, tie-break '>=' at :71) is equivalent to
    # "iterate spans by (length desc, start desc); keep iff no overlap with a
    # previously kept span" (validated against an independent Python greedy
    # on 20k randomized cases). The iteration is a recursive CTE walking each
    # document's spans in that order, carrying the kept list.
    sql["tag_ldr"] = f"""
WITH RECURSIVE {_tag_hits_cte()},
spans AS (SELECT DISTINCT doc_id, t_start, t_end FROM hits),
ordered AS (
  SELECT doc_id, t_start, t_end,
         row_number() OVER (
           PARTITION BY doc_id
           ORDER BY (t_end - t_start) DESC, t_start DESC
         ) AS rn,
         count(*) OVER (PARTITION BY doc_id) AS n
  FROM spans
),
walk(doc_id, rn, n, kept) AS (
  SELECT doc_id, 0::BIGINT, n, []::BIGINT[][]
  FROM (SELECT DISTINCT doc_id, n FROM ordered)
  UNION ALL
  SELECT w.doc_id, o.rn, w.n,
         CASE WHEN len(list_filter(w.kept, x -> x[1] < o.t_end AND o.t_start < x[2])) = 0
              THEN list_append(w.kept, [o.t_start, o.t_end])
              ELSE w.kept END
  FROM walk w
  JOIN ordered o ON o.doc_id = w.doc_id AND o.rn = w.rn + 1
),
survivors AS (
  SELECT doc_id, unnest(kept) AS span FROM walk WHERE rn = n
)
SELECT h.doc_id, h.t_start, h.t_end, h.id
FROM hits h
JOIN survivors s
  ON s.doc_id = h.doc_id AND s.span[1] = h.t_start AND s.span[2] = h.t_end
"""

    sql["tag_nosub"] = f"""
WITH {_tag_hits_cte()}
SELECT h.doc_id, h.t_start, h.t_end, h.id FROM hits h
WHERE NOT EXISTS (
  SELECT 1 FROM hits u
  WHERE u.doc_id = h.doc_id
    AND u.t_start <= h.t_start AND u.t_end >= h.t_end
    AND (u.t_start <> h.t_start OR u.t_end <> h.t_end)
)
"""
    sql["tag_join_nosub"] = sql["tag_nosub"]  # join path: same semantics

    sql["dedup_exact"] = """
SELECT md5(text) AS text_md5, min(doc_id)::BIGINT AS keep_doc_id,
       count(*)::BIGINT AS dup_count
FROM documents GROUP BY 1
"""

    sql["minhash_signatures"] = f"""
WITH {_SHINGLE_CTE}
SELECT doc_id, {_minhash_sig_exprs()}
FROM sh GROUP BY doc_id
"""

    band_keys = []
    for b in range(MINHASH_BANDS):
        parts = " || '_' || ".join(
            f"sig_{b * band_r + j}::VARCHAR" for j in range(band_r)
        )
        band_keys.append(
            f"SELECT doc_id, {b} AS band, {_PHASH_SQL.format(x=parts)} AS band_key FROM sigs"
        )
    band_union = " UNION ALL ".join(band_keys)
    # shared body: the LSH banding candidate-pair CTE chain (star pairs for
    # oversized buckets), reused verbatim by the dup_clusters oracle below
    lsh_pair_ctes = f"""{_SHINGLE_CTE},
sigs AS (SELECT doc_id, {_minhash_sig_exprs()} FROM sh GROUP BY doc_id),
bands AS ({band_union}),
ok AS (
  SELECT band, band_key FROM bands GROUP BY 1, 2
  HAVING count(*) BETWEEN 2 AND {LSH_MAX_BUCKET}
),
big AS (
  SELECT band, band_key, min(doc_id) AS rep FROM bands GROUP BY 1, 2
  HAVING count(*) > {LSH_MAX_BUCKET}
)"""
    lsh_pair_select = f"""SELECT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id
FROM bands a
JOIN ok USING (band, band_key)
JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
WHERE a.doc_id < b.doc_id
UNION
SELECT g.rep AS a_doc_id, b.doc_id AS b_doc_id
FROM big g JOIN bands b USING (band, band_key)
WHERE b.doc_id > g.rep"""
    sql["lsh_pairs"] = f"""
WITH {lsh_pair_ctes}
{lsh_pair_select}
"""

    # connected components over the LSH pairs as a recursive closure:
    # reach(u, v) = v reachable from u; cluster = min(u, reachable). The
    # engine computes the same fixpoint by min-label propagation + pointer
    # jumping (ops/dedup.connected_components).
    sql["dup_clusters"] = f"""
WITH RECURSIVE {lsh_pair_ctes},
pairs AS ({lsh_pair_select}),
edges AS (
  SELECT a_doc_id AS u, b_doc_id AS v FROM pairs
  UNION
  SELECT b_doc_id AS u, a_doc_id AS v FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u
),
comp AS (SELECT u, min(v) AS mv FROM reach GROUP BY u)
SELECT d.doc_id::BIGINT AS doc_id,
       coalesce(least(c.u, c.mv), d.doc_id)::BIGINT AS cluster_id
FROM documents d LEFT JOIN comp c ON c.u = d.doc_id
"""

    # cleaned corpus = the clustering oracle wrapped with the keeper filter
    sql["dedup_keep"] = (
        f"SELECT doc_id FROM ({sql['dup_clusters']}) WHERE cluster_id = doc_id"
    )

    # deterministic sampling oracles: the cut integers are computed with
    # the SAME python expression the operator uses, so Spark == DuckDB
    # exactly (int(fraction * 2**60) truncation included)
    _keyhash = _PHASH_SQL.format(x="concat_ws(chr(31), '', doc_id::VARCHAR)")
    _cut = int(SAMPLE_FRACTION * (1 << 60))
    sql["doc_sample"] = f"""
SELECT doc_id, lang FROM documents WHERE {_keyhash} < {_cut}
"""
    _strata_case = " ".join(
        f"WHEN '{k}' THEN {int(v * (1 << 60))}" for k, v in SAMPLE_STRATA.items()
    )
    sql["doc_sample_stratified"] = f"""
SELECT doc_id, lang FROM documents
WHERE {_keyhash} < (CASE lang {_strata_case}
                    ELSE {int(SAMPLE_DEFAULT_FRACTION * (1 << 60))} END)
"""
    sql["doc_sample_topk"] = f"""
SELECT doc_id, lang FROM documents
ORDER BY {_keyhash} ASC, doc_id ASC LIMIT {SAMPLE_TOP_K}
"""

    span_gram = _PHASH_SQL.format(
        x=f"array_to_string(w[i:i+{SPAN_DUP_SPAN - 1}], ' ')"
    )
    sql["span_dup_stats"] = f"""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
grams AS (
  SELECT doc_id, {span_gram} AS g
  FROM (SELECT doc_id, w, unnest(range(1, len(w) - {SPAN_DUP_SPAN} + 2)) AS i
        FROM words WHERE len(w) >= {SPAN_DUP_SPAN})
),
gdf AS (SELECT g, count(DISTINCT doc_id) AS gdf FROM grams GROUP BY g),
per AS (
  SELECT doc_id, count(*) AS n_spans,
         sum(CASE WHEN gdf >= 2 THEN 1 ELSE 0 END) AS n_dup
  FROM grams JOIN gdf USING (g) GROUP BY doc_id
)
SELECT d.doc_id, coalesce(p.n_spans, 0)::BIGINT AS n_spans,
       coalesce(p.n_dup, 0)::BIGINT AS n_dup_spans,
       round(coalesce(p.n_dup::DOUBLE / p.n_spans::DOUBLE, 0), 4) AS dup_span_fraction
FROM documents d LEFT JOIN per p USING (doc_id)
"""

    sql["remove_dup_spans"] = f"""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
wins AS (
  SELECT doc_id, i - 1 AS pos, {span_gram} AS g
  FROM (SELECT doc_id, w, unnest(range(1, len(w) - {SPAN_DUP_SPAN} + 2)) AS i
        FROM words WHERE len(w) >= {SPAN_DUP_SPAN})
),
-- keep-first rule: occurrences ordered (doc_id, pos); rn=1 is canonical
dup AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
    FROM wins) t WHERE rn > 1
),
toks AS (
  SELECT doc_id, unnest(w) AS tok, unnest(range(0, len(w))) AS p FROM words
),
kept AS (
  SELECT t.doc_id, t.tok, t.p FROM toks t
  WHERE NOT EXISTS (SELECT 1 FROM dup d
                    WHERE d.doc_id = t.doc_id
                      AND d.pos <= t.p AND t.p < d.pos + {SPAN_DUP_SPAN})
),
agg AS (SELECT doc_id, count(*) AS n_kept,
               string_agg(tok, ' ' ORDER BY p) AS text_kept
        FROM kept GROUP BY doc_id),
nt AS (SELECT doc_id, len(w) AS n FROM words)
SELECT nt.doc_id, nt.n::BIGINT AS n_tokens,
       (nt.n - coalesce(a.n_kept, 0))::BIGINT AS n_removed,
       floor((nt.n - coalesce(a.n_kept, 0))::DOUBLE / nt.n::DOUBLE
             * 10000.0::DOUBLE + 0.5::DOUBLE) / 10000.0::DOUBLE
         AS dup_removed_fraction,
       coalesce(a.text_kept, '') AS text_kept
FROM nt LEFT JOIN agg a USING (doc_id)
"""

    sql["simhash"] = _simhash_oracle()

    sql["ngram_jaccard"] = f"""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
base AS (
  SELECT doc_id,
    (SELECT list(DISTINCT array_to_string(w[i:i+{JACCARD_SHINGLE - 1}], ' '))
       FROM unnest(range(1, len(w) - {JACCARD_SHINGLE - 2})) AS t(i)) AS sh,
    (SELECT list(DISTINCT array_to_string(w[i:i+{JACCARD_CAND_SHINGLE - 1}], ' '))
       FROM unnest(range(1, len(w) - {JACCARD_CAND_SHINGLE - 2})) AS t(i)) AS csh
  FROM words
),
cgrams AS (SELECT doc_id, unnest(csh) AS c FROM base),
ok AS (
  SELECT c FROM cgrams GROUP BY c
  HAVING count(DISTINCT doc_id) BETWEEN 2 AND {LSH_MAX_BUCKET}
),
big AS (
  SELECT c, min(doc_id) AS rep FROM cgrams GROUP BY c
  HAVING count(DISTINCT doc_id) > {LSH_MAX_BUCKET}
),
cand AS (
  SELECT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id
  FROM cgrams a JOIN ok USING (c) JOIN cgrams b ON a.c = b.c
  WHERE a.doc_id < b.doc_id
  UNION
  SELECT g.rep AS a_doc_id, b.doc_id AS b_doc_id
  FROM big g JOIN cgrams b USING (c)
  WHERE b.doc_id > g.rep
),
j AS (
  SELECT c.a_doc_id, c.b_doc_id,
         round(len(list_intersect(x.sh, y.sh))::DOUBLE /
               (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))::DOUBLE, 4) AS jaccard
  FROM cand c
  JOIN base x ON x.doc_id = c.a_doc_id
  JOIN base y ON y.doc_id = c.b_doc_id
)
SELECT a_doc_id, b_doc_id, jaccard FROM j WHERE jaccard >= {JACCARD_THRESHOLD}
"""

    sql["cosine_topk"] = f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
probes AS (SELECT vec_id AS probe_id, v AS pv FROM base WHERE vec_id IN ({probe_list})),
scored AS (
  SELECT p.probe_id, b.vec_id,
         round(list_dot_product(p.pv, b.v) /
               (sqrt(list_dot_product(p.pv, p.pv)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cos
  FROM probes p CROSS JOIN base b WHERE b.vec_id <> p.probe_id
),
ranked AS (
  SELECT probe_id, row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank,
         vec_id, cos
  FROM scored
)
SELECT probe_id, rank::BIGINT AS rank, vec_id, cos FROM ranked WHERE rank <= 10
"""

    from solrtexttagger_spark.ops.similarity import _hyperplane

    dim = 64  # embeddings table dimension
    n_planes = 8
    plane_vals = ", ".join(
        "({}, [{}]::DOUBLE[])".format(
            p, ", ".join(repr(x) for x in _hyperplane(dim, p))
        )
        for p in range(n_planes)
    )
    sql["lsh_cosine_topk"] = f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
planes(p, pv) AS (VALUES {plane_vals}),
bucketed AS (
  SELECT b.vec_id,
         sum(CASE WHEN list_dot_product(b.v, pl.pv) > 0 THEN (1::BIGINT << pl.p) ELSE 0 END)::BIGINT AS bucket
  FROM base b CROSS JOIN planes pl GROUP BY b.vec_id
),
probes AS (
  SELECT bk.vec_id AS probe_id, b.v AS pv, bk.bucket
  FROM bucketed bk JOIN base b ON b.vec_id = bk.vec_id
  WHERE bk.vec_id IN ({probe_list})
),
masks(m) AS (VALUES {", ".join(f"({m})" for m in range(n_planes + 1))}),
pbuckets AS (
  SELECT p.probe_id, p.pv,
         CASE WHEN m.m = 0 THEN p.bucket
              ELSE xor(p.bucket, (1::BIGINT << (m.m - 1))) END AS bucket
  FROM probes p CROSS JOIN masks m
),
scored AS (
  SELECT p.probe_id, b.vec_id,
         round(list_dot_product(p.pv, b.v) /
               (sqrt(list_dot_product(p.pv, p.pv)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cos
  FROM pbuckets p
  JOIN bucketed bk ON bk.bucket = p.bucket
  JOIN base b ON b.vec_id = bk.vec_id
  WHERE b.vec_id <> p.probe_id
),
ranked AS (
  SELECT probe_id, row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank,
         vec_id, cos
  FROM scored
)
SELECT probe_id, rank::BIGINT AS rank, vec_id, cos FROM ranked WHERE rank <= 10
"""

    # mirrors ops/similarity.ivf_cosine_topk with the PINNED centroids:
    # argmax-cosine assignment (numpy argmax = first max -> cid asc
    # tie-break), n_probe nearest cells per probe, exact cosine inside.
    def _vec_sql(v):
        return "[" + ", ".join(repr(x) for x in v) + "]::DOUBLE[]"

    ivf_cent_vals = ", ".join(
        f"({c}, {_vec_sql(v)})" for c, v in enumerate(_ivf_centroids())
    )
    sql["ivf_topk"] = f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents(cid, cv) AS (VALUES {ivf_cent_vals}),
norms AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM base),
assign AS (
  SELECT vec_id, v, norm, cid FROM (
    SELECT n.vec_id, n.v, n.norm, c.cid,
           row_number() OVER (PARTITION BY n.vec_id ORDER BY
             list_dot_product(n.v, c.cv)
               / ((CASE WHEN n.norm = 0 THEN 1 ELSE n.norm END)
                  * sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS rn
    FROM norms n CROSS JOIN cents c
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS probe_id, v AS pv, norm AS pnorm
  FROM norms WHERE vec_id IN ({probe_list})
),
pcells AS (
  SELECT probe_id, cid FROM (
    SELECT p.probe_id, c.cid,
           row_number() OVER (PARTITION BY p.probe_id ORDER BY
             list_dot_product(p.pv, c.cv)
               / ((CASE WHEN p.pnorm = 0 THEN 1 ELSE p.pnorm END)
                  * sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS rn
    FROM probes p CROSS JOIN cents c
  ) WHERE rn <= {IVF_NPROBE}
),
scored AS (
  SELECT pc.probe_id, a.vec_id,
         round(list_dot_product(p.pv, a.v) / (p.pnorm * a.norm), 4) AS cos
  FROM pcells pc
  JOIN assign a USING (cid)
  JOIN probes p USING (probe_id)
  WHERE a.vec_id <> pc.probe_id
),
ranked AS (
  SELECT probe_id,
         row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank,
         vec_id, cos
  FROM scored
)
SELECT probe_id, rank::BIGINT AS rank, vec_id, cos FROM ranked WHERE rank <= 10
"""

    # mirrors ops/similarity.pq_cosine_topk with the PINNED coarse
    # centroids + codebooks: argmin-L2 coarse cell, per-subspace residual
    # codes (dot(residual, cb) expanded as dot(v,cb) - dot(cv,cb) so no
    # list arithmetic is needed), probe ADC = off + sum of LUT lookups
    # (rounded at PQ_ADC_ROUND on BOTH sides so the candidate boundary is
    # ulp-stable), exact rescore of the top k*rerank_factor.
    _dsub = EMBED_DIM // PQ_M
    pq_cent_vals = ", ".join(
        f"({c}, {_vec_sql(v)})" for c, v in enumerate(_pq_coarse())
    )
    _cbs = _pq_codebooks()
    pq_cb_vals = ", ".join(
        f"({j}, {c}, {_vec_sql(_cbs[j][c])})"
        for j in range(PQ_M)
        for c in range(PQ_KSUB)
    )
    sql["pq_topk"] = f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents(cid, cv) AS (VALUES {pq_cent_vals}),
cb(j, c, cbv) AS (VALUES {pq_cb_vals}),
norms AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM base),
enc AS (
  SELECT vec_id, v, norm, cid, cv FROM (
    SELECT n.vec_id, n.v, n.norm, c.cid, c.cv,
           row_number() OVER (PARTITION BY n.vec_id ORDER BY
             list_dot_product(n.v, n.v) - 2 * list_dot_product(n.v, c.cv)
               + list_dot_product(c.cv, c.cv) ASC, c.cid) AS rn
    FROM norms n CROSS JOIN cents c
  ) WHERE rn = 1
),
codes AS (
  SELECT vec_id, j, c AS code FROM (
    SELECT e.vec_id, b.j, b.c,
           row_number() OVER (PARTITION BY e.vec_id, b.j ORDER BY
             list_dot_product(b.cbv, b.cbv)
             - 2 * (list_dot_product(list_slice(e.v, b.j * {_dsub} + 1, b.j * {_dsub} + {_dsub}), b.cbv)
                    - list_dot_product(list_slice(e.cv, b.j * {_dsub} + 1, b.j * {_dsub} + {_dsub}), b.cbv)) ASC,
             b.c) AS rn
    FROM enc e CROSS JOIN cb b
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS probe_id, v AS pv,
         CASE WHEN norm = 0 THEN 1 ELSE norm END AS pnorm
  FROM norms WHERE vec_id IN ({probe_list})
),
pcells AS (
  SELECT probe_id, cid, off FROM (
    SELECT p.probe_id, c.cid, list_dot_product(p.pv, c.cv) AS off,
           row_number() OVER (PARTITION BY p.probe_id ORDER BY
             list_dot_product(p.pv, c.cv) DESC, c.cid) AS rn
    FROM probes p CROSS JOIN cents c
  ) WHERE rn <= {PQ_NPROBE}
),
adc AS (
  SELECT cd.vec_id, ps.probe_id, sum(list_dot_product(b.cbv, ps.pv_sub)) AS s
  FROM codes cd
  JOIN cb b ON b.j = cd.j AND b.c = cd.code
  JOIN (SELECT p.probe_id, t.j,
               list_slice(p.pv, t.j * {_dsub} + 1, t.j * {_dsub} + {_dsub}) AS pv_sub
        FROM probes p CROSS JOIN range(0, {PQ_M}) t(j)) ps ON ps.j = cd.j
  GROUP BY 1, 2
),
approx AS (
  SELECT pc.probe_id, e.vec_id,
         round((pc.off + a.s) / (p.pnorm * e.norm), {PQ_ADC_ROUND}) AS acos
  FROM enc e
  JOIN pcells pc ON pc.cid = e.cid
  JOIN adc a ON a.vec_id = e.vec_id AND a.probe_id = pc.probe_id
  JOIN probes p ON p.probe_id = pc.probe_id
  WHERE e.vec_id <> pc.probe_id
),
cand AS (
  SELECT probe_id, vec_id FROM (
    SELECT probe_id, vec_id,
           row_number() OVER (PARTITION BY probe_id ORDER BY acos DESC, vec_id) AS arank
    FROM approx
  ) WHERE arank <= {10 * PQ_RERANK}
),
rescored AS (
  SELECT c.probe_id, c.vec_id,
         round(list_dot_product(p.pv, n.v) / (p.pnorm * n.norm), 4) AS cos
  FROM cand c
  JOIN norms n ON n.vec_id = c.vec_id
  JOIN probes p ON p.probe_id = c.probe_id
),
ranked AS (
  SELECT probe_id,
         row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank,
         vec_id, cos
  FROM rescored
)
SELECT probe_id, rank::BIGINT AS rank, vec_id, cos FROM ranked WHERE rank <= 10
"""

    # mirrors ops/similarity.cosine_dup_pairs(method='lsh'): banded
    # hyperplane signs -> band-key buckets -> in-bucket candidate pairs ->
    # exact cosine rescore. Same deterministic md5 hyperplanes both sides.
    n_dup_planes = EMBED_BANDS * EMBED_BAND_PLANES
    dup_plane_vals = ", ".join(
        "({}, [{}]::DOUBLE[])".format(
            p, ", ".join(repr(x) for x in _hyperplane(EMBED_DIM, p))
        )
        for p in range(n_dup_planes)
    )
    _dup_cos = (
        "round(list_dot_product(x.v, y.v) / "
        "(sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 4)"
    )
    sql["embed_dup_pairs"] = f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
planes(p, pv) AS (VALUES {dup_plane_vals}),
bits AS (
  SELECT b.vec_id, (pl.p // {EMBED_BAND_PLANES}) AS band,
         CASE WHEN list_dot_product(b.v, pl.pv) > 0
              THEN (1::BIGINT << (pl.p % {EMBED_BAND_PLANES})) ELSE 0 END AS t
  FROM base b CROSS JOIN planes pl
),
bands AS (SELECT vec_id, band, sum(t)::BIGINT AS band_key FROM bits GROUP BY 1, 2),
ok AS (
  SELECT band, band_key FROM bands GROUP BY 1, 2
  HAVING count(*) BETWEEN 2 AND {EMBED_MAX_BUCKET}
),
big AS (
  SELECT band, band_key, min(vec_id) AS rep FROM bands GROUP BY 1, 2
  HAVING count(*) > {EMBED_MAX_BUCKET}
),
cand AS (
  SELECT a.vec_id AS a_vec_id, b.vec_id AS b_vec_id
  FROM bands a
  JOIN ok USING (band, band_key)
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.vec_id < b.vec_id
  UNION
  SELECT g.rep AS a_vec_id, b.vec_id AS b_vec_id
  FROM big g JOIN bands b USING (band, band_key)
  WHERE b.vec_id > g.rep
)
SELECT c.a_vec_id, c.b_vec_id, {_dup_cos} AS cos
FROM cand c
JOIN base x ON x.vec_id = c.a_vec_id
JOIN base y ON y.vec_id = c.b_vec_id
WHERE {_dup_cos} >= {EMBED_DUP_THRESHOLD}
"""

    from solrtexttagger_spark.ops.textqa import LANG_MARKERS, STOPWORDS_SQL

    def marker_ratio(markers):
        lst = ", ".join(f"'{m}'" for m in markers)
        return (
            f"(len(list_filter(w, x -> list_contains([{lst}], x)))::DOUBLE"
            f" / len(w)::DOUBLE)"
        )

    langs = sorted(LANG_MARKERS.items())
    ratio_cols = ",\n  ".join(
        f"{marker_ratio(ms)} AS r_{lang}" for lang, ms in langs
    )
    best = "greatest(" + ", ".join(f"r_{lang}" for lang, _ in langs) + ")"
    pred = "CASE " + " ".join(
        f"WHEN r_{lang} = {best} THEN '{lang}'" for lang, _ in langs
    ) + " END"
    sql["lang_id"] = f"""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
r AS (SELECT doc_id,
  {ratio_cols}
FROM words)
SELECT doc_id, {pred} AS pred_lang, round({best}, 4) AS pred_score FROM r
"""

    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS_SQL)
    sql["quality_score"] = f"""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
m AS (
  SELECT doc_id,
    len(w)::BIGINT AS n_tokens,
    len(list_distinct(w))::DOUBLE / len(w)::DOUBLE AS ttr,
    (SELECT sum(length(x))::DOUBLE FROM unnest(w) AS t(x)) / len(w)::DOUBLE AS mean_word_len,
    len(list_filter(w, x -> list_contains([{stop_list}], x)))::DOUBLE / len(w)::DOUBLE AS stop_ratio
  FROM words
)
-- portable round (floor(x*1e4+0.5)/1e4, all-DOUBLE): engine round()
-- builtins disagree on exact .xxxx5 double ties (hit once at sf0.1)
SELECT doc_id, n_tokens,
       floor(ttr * 10000.0::DOUBLE + 0.5::DOUBLE) / 10000.0::DOUBLE AS ttr,
       floor(mean_word_len * 10000.0::DOUBLE + 0.5::DOUBLE) / 10000.0::DOUBLE AS mean_word_len,
       floor(stop_ratio * 10000.0::DOUBLE + 0.5::DOUBLE) / 10000.0::DOUBLE AS stop_ratio,
       floor((0.5::DOUBLE * ttr
             + 0.3::DOUBLE * (1.0::DOUBLE - least(1.0::DOUBLE, abs(mean_word_len - 5.5::DOUBLE) / 5.5::DOUBLE))
             + 0.2::DOUBLE * (1.0::DOUBLE - stop_ratio)) * 10000.0::DOUBLE + 0.5::DOUBLE) / 10000.0::DOUBLE AS quality
FROM m
"""

    sql["token_stats"] = """
WITH words AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
SELECT doc_id, len(w)::BIGINT AS n_tokens, len(list_distinct(w))::BIGINT AS n_distinct,
       length(text)::BIGINT AS n_chars
FROM words
"""

    sql["fingerprint"] = """
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
FROM documents
"""

    sql["tfidf_keywords"] = """
WITH tok2 AS (
  SELECT doc_id, w AS term, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> '' GROUP BY 1, 2
),
dfreq AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tok2 GROUP BY 1),
n AS (SELECT count(*)::DOUBLE AS n FROM documents),
scored AS (
  SELECT t.doc_id, t.term, round(t.tf * ln(n.n / d.df), 4) AS tfidf
  FROM tok2 t JOIN dfreq d USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank,
         term, tfidf
  FROM scored
)
SELECT doc_id, rank::BIGINT AS rank, term, tfidf FROM ranked WHERE rank <= 3
"""

    probe_grams = sorted(
        {
            " ".join(ws[i : i + CONTAM_N])
            for t in CONTAM_PROBES
            for ws in [t.split(" ")]
            for i in range(len(ws) - CONTAM_N + 1)
        }
    )
    probe_list_sql = ", ".join(f"'{g}'" for g in probe_grams)
    sql["contamination"] = f"""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
grams AS (
  SELECT doc_id,
    CASE WHEN len(w) >= {CONTAM_N}
         THEN list_distinct((SELECT list(array_to_string(w[i:i+{CONTAM_N - 1}], ' '))
                             FROM unnest(range(1, len(w) - {CONTAM_N - 2})) AS t(i)))
         ELSE []::VARCHAR[] END AS g
  FROM words
)
SELECT doc_id, len(g)::BIGINT AS n_grams,
       len(list_intersect(g, [{probe_list_sql}]))::BIGINT AS n_contaminated,
       round(CASE WHEN len(g) > 0
                  THEN len(list_intersect(g, [{probe_list_sql}]))::DOUBLE / len(g)::DOUBLE
                  ELSE 0.0 END, 4) AS contamination
FROM grams
"""

    sql["pii_stats"] = """
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
SELECT doc_id,
       len(list_filter(w, x -> contains(x, '@')))::BIGINT AS n_email_like,
       len(list_filter(w, x -> starts_with(x, 'http') OR starts_with(x, 'www')))::BIGINT AS n_url_like,
       len(list_filter(w, x -> x <> '' AND translate(x, '0123456789', '') = ''))::BIGINT AS n_digit_tokens
FROM words
"""

    sql["repetition_stats"] = f"""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
grams AS (
  SELECT doc_id,
    CASE WHEN len(w) >= {REP_N}
         THEN (SELECT list(array_to_string(w[i:i+{REP_N - 1}], ' '))
               FROM unnest(range(1, len(w) - {REP_N - 2})) AS t(i))
         ELSE []::VARCHAR[] END AS g
  FROM words
),
flat AS (SELECT doc_id, unnest(g) AS gr FROM grams),
counts AS (SELECT doc_id, gr, count(*)::BIGINT AS c FROM flat GROUP BY 1, 2),
agg AS (
  SELECT doc_id, sum(c)::BIGINT AS n_grams,
         (sum(c) - count(*))::BIGINT AS n_dup_grams,
         max(c)::BIGINT AS top_c
  FROM counts GROUP BY doc_id
)
SELECT g.doc_id,
       coalesce(a.n_grams, 0) AS n_grams,
       coalesce(a.n_dup_grams, 0) AS n_dup_grams,
       round(CASE WHEN coalesce(a.n_grams, 0) > 0
                  THEN a.n_dup_grams::DOUBLE / a.n_grams::DOUBLE ELSE 0.0 END, 4)
         AS dup_fraction,
       round(CASE WHEN coalesce(a.n_grams, 0) > 0
                  THEN a.top_c::DOUBLE / a.n_grams::DOUBLE ELSE 0.0 END, 4)
         AS top_gram_fraction
FROM grams g LEFT JOIN agg a USING (doc_id)
"""

    sql["rolling_hash"] = """
SELECT doc_id,
       CASE WHEN length(text) > 0 THEN
         list_reduce(list_transform(string_split(text, ''), c -> ascii(c)::BIGINT),
                     (a, b) -> (a * 31 + b) % 2147483647)
       END AS rhash
FROM documents
"""

    # mirrors ops/packing.pack_sequences: cumulative-token layout in id
    # order, document-aligned bin cuts (the distributed prefix sum equals
    # the serial window cumsum by construction)
    sql["pack_sequences"] = f"""
WITH t AS (
  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
  FROM t
)
SELECT doc_id, n_tokens,
       (cum_before // {PACK_MAX_TOKENS})::BIGINT AS bin_id,
       (cum_before % {PACK_MAX_TOKENS})::BIGINT AS bin_offset
FROM c
"""

    sql["sessionize"] = f"""
WITH e AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > {SESSION_GAP * 1000}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) - 1 AS session_id
  FROM e
)
SELECT user_id::BIGINT AS user_id, session_id::BIGINT AS session_id,
       count(*)::BIGINT AS n_events,
       min(epoch_ms(ts))::BIGINT AS start_epoch, max(epoch_ms(ts))::BIGINT AS end_epoch
FROM s GROUP BY 1, 2
"""

    sql["phrase_match"] = f"""
WITH pos AS (
  SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i FROM documents
)
SELECT doc_id, count(*)::BIGINT AS n_occurrences
FROM pos
WHERE substr(' ' || text || ' ', i, {len(PHRASE_QUERY) + 2}) = ' {PHRASE_QUERY} '
GROUP BY doc_id
"""

    sql["event_windows"] = """
SELECT epoch_ms(date_trunc('hour', ts))::BIGINT AS window_start,
       event_type,
       count(*)::BIGINT AS n_events,
       round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""

    # --- round-6 consolidation (r5 verdict #1): merged driver entries ---
    # The driver artifact caps at 50 rows, so same-family operators share
    # one entry. The merged SQL is a pure composition of the standalone
    # oracles above (pop: the standalone keys leave the driver surface;
    # their q_ functions stay pytest-covered via the merged entries).
    sql["doc_samples"] = (
        "SELECT 'bernoulli' AS mode, doc_id, lang FROM ("
        + sql.pop("doc_sample")
        + ")\nUNION ALL SELECT 'stratified' AS mode, doc_id, lang FROM ("
        + sql.pop("doc_sample_stratified")
        + ")\nUNION ALL SELECT 'topk' AS mode, doc_id, lang FROM ("
        + sql.pop("doc_sample_topk")
        + ")"
    )
    sql["dup_span_ops"] = (
        "SELECT s.doc_id, s.n_spans, s.n_dup_spans, s.dup_span_fraction,\n"
        "       r.n_tokens, r.n_removed, r.dup_removed_fraction, r.text_kept\n"
        "FROM (" + sql.pop("span_dup_stats") + ") s\n"
        "JOIN (" + sql.pop("remove_dup_spans") + ") r USING (doc_id)"
    )
    sql["fingerprints"] = (
        "SELECT f.doc_id, f.fp, r.rhash, s.simhash\n"
        "FROM (" + sql.pop("fingerprint") + ") f\n"
        "JOIN (" + sql.pop("rolling_hash") + ") r USING (doc_id)\n"
        "JOIN (" + sql.pop("simhash") + ") s USING (doc_id)"
    )
    sql["doc_quality"] = (
        "SELECT q.doc_id, q.n_tokens, q.ttr, q.mean_word_len, q.stop_ratio,\n"
        "       q.quality, l.pred_lang, l.pred_score, t.n_distinct, t.n_chars,\n"
        "       p.cross_entropy\n"
        "FROM (" + sql.pop("quality_score") + ") q\n"
        "JOIN (" + sql.pop("lang_id") + ") l USING (doc_id)\n"
        "JOIN (" + sql.pop("token_stats") + ") t USING (doc_id)\n"
        "JOIN (" + sql.pop("unigram_ppl") + ") p USING (doc_id)"
    )
    _fs_col = FACET_RANGE[0]
    # facet.query arms: each FACET_QUERIES sub-query as a membership
    # condition over the base domain (padded-LIKE on the single-spaced
    # corpus — term = ' w ' substring, phrase = contiguous substring)
    _fq_conds = {
        "window": "pt LIKE '% window %'",
        "+merge -sort": "pt LIKE '% merge %' AND pt NOT LIKE '% sort %'",
        '+"merge sort"': "pt LIKE '% merge sort %'",
        "sort scan": "(pt LIKE '% sort %' OR pt LIKE '% scan %')",
        "zzznope": "pt LIKE '% zzznope %'",
    }
    assert sorted(_fq_conds) == sorted(FACET_QUERIES)
    _q_arms = "\nUNION ALL\n".join(
        "SELECT 'q' AS sec, '" + q.replace("'", "''") + "' AS field, "
        "CAST(NULL AS VARCHAR) AS value, "
        f"(SELECT count(*) FROM fq_md WHERE {cond})::BIGINT AS n"
        for q, cond in _fq_conds.items()
    )
    _q_section = f"""
WITH matched AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE w IN ({_fq_terms})
),
fq_md AS (
  SELECT ' ' || d.text || ' ' AS pt FROM documents d JOIN matched USING (doc_id)
)
{_q_arms}
"""
    # nested JSON facet mirror (sec='j'): lang top-3 by (count desc,
    # value asc), source top-2 per kept parent — row_number windows over
    # per-level GROUP BYs replicate json_facet's grouping-sets tree;
    # NULL bucket values are excluded (Solr terms default, no missing)
    _j_section = f"""
WITH matched AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE w IN ({_fq_terms})
),
md AS (SELECT d.* FROM documents d JOIN matched USING (doc_id)),
l1 AS (
  SELECT lang, count(*)::BIGINT AS n,
         row_number() OVER (ORDER BY count(*) DESC, lang ASC) AS rn
  FROM md WHERE lang IS NOT NULL GROUP BY lang
),
l2 AS (
  SELECT lang, source, count(*)::BIGINT AS n,
         row_number() OVER (
           PARTITION BY lang ORDER BY count(*) DESC, source ASC
         ) AS rn
  FROM md WHERE lang IS NOT NULL AND source IS NOT NULL
  GROUP BY lang, source
)
SELECT 'j' AS sec, 'lang' AS field, lang AS value, n FROM l1 WHERE rn <= 3
UNION ALL
SELECT 'j' AS sec, 'lang=' || l2.lang AS field, l2.source AS value, l2.n
FROM l2 JOIN l1 ON l1.lang = l2.lang AND l1.rn <= 3
WHERE l2.rn <= 2
"""
    sql["facet_sections"] = (
        "SELECT 'f' AS sec, field, value, n FROM ("
        + sql.pop("facets")
        + f")\nUNION ALL\nSELECT 'r' AS sec, '{_fs_col}' AS field, "
        "range_start::VARCHAR AS value, n FROM ("
        + sql.pop("facet_range")
        + ")\nUNION ALL\nSELECT sec, field, value, n FROM ("
        + _q_section
        + ")\nUNION ALL\nSELECT sec, field, value, n FROM ("
        + _j_section
        + ")"
    )
    sql["doc_risk"] = (
        "SELECT c.doc_id, c.n_grams AS n_distinct_grams, c.n_contaminated,\n"
        "       c.contamination, p.n_email_like, p.n_url_like,\n"
        "       p.n_digit_tokens, r.n_grams, r.n_dup_grams, r.dup_fraction,\n"
        "       r.top_gram_fraction\n"
        "FROM (" + sql.pop("contamination") + ") c\n"
        "JOIN (" + sql.pop("pii_stats") + ") p USING (doc_id)\n"
        "JOIN (" + sql.pop("repetition_stats") + ") r USING (doc_id)"
    )
    # mirrors ops/chunking.chunk_documents_analyzed: stride = chunk -
    # overlap, starts < max(n - overlap, 1), final window clamped. The
    # fixture corpus is single-spaced lowercase words (the tag oracles
    # already rely on this), so index-analyzer tokens == the split view
    # and the CHARACTER span of window [s+1 .. last] mirrors as prefix
    # join lengths: char_start = len(join(w[1:s])) + 1 space (0 at s=0),
    # char_end = len(join(w[1:last]))
    _stride = CHUNK_TOKENS - CHUNK_OVERLAP
    sql["chunk_docs"] = f"""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
st AS (
  SELECT doc_id, w, len(w) AS n,
         unnest(range(0, greatest(len(w) - {CHUNK_OVERLAP}, 1), {_stride})) AS start
  FROM words
)
SELECT doc_id, (start / {_stride})::BIGINT AS chunk_idx,
       start::BIGINT AS chunk_start,
       least({CHUNK_TOKENS}, n - start)::BIGINT AS n_tokens,
       (CASE WHEN start = 0 THEN 0
             ELSE length(array_to_string(w[1:start], ' ')) + 1 END
       )::BIGINT AS chunk_char_start,
       length(array_to_string(w[1:least(start + {CHUNK_TOKENS}, n)], ' ')
       )::BIGINT AS chunk_char_end,
       array_to_string(w[start + 1 : start + {CHUNK_TOKENS}], ' ') AS chunk_text
FROM st
"""
    # {!join from=source to=source score=total}: the inner query's BM25
    # scores (the shared scores CTE — a pure-SHOULD boolean match set IS
    # the exploded bm25 relation) fold per join value, every doc holding
    # that value ranks by the fold
    sql["join_docs"] = f"""
{_bm25_scores_prefix(queries=[(0, JOIN_INNER_Q)])},
jv AS (
  SELECT s.query_id, d.source AS v, sum(s.score) AS jscore
  FROM scores s JOIN documents d USING (doc_id)
  WHERE d.source IS NOT NULL
  GROUP BY 1, 2
),
joined AS (
  SELECT jv.query_id, dd.doc_id, round(jv.jscore, 4) AS score
  FROM documents dd JOIN jv ON dd.source = jv.v
),
ranked AS (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank,
         doc_id, score
  FROM joined
)
SELECT query_id, rank::BIGINT AS rank, doc_id, score
FROM ranked WHERE rank <= 50
"""
    # {!parent} block join: the SAME chunk windows as chunk_docs become
    # the child corpus (block key = parent * 2^20 + idx), BM25 over the
    # chunks for the single-term child query, ScoreMode.Max fold per
    # parent (max is order-independent -> bit-exact across engines,
    # where a sum fold diverges in the last ulp and flips tie ranks) —
    # n is ALL chunks (build_index counts every corpus row)
    sql["blockjoin_parents"] = f"""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
st AS (
  SELECT doc_id, w, len(w) AS n,
         unnest(range(0, greatest(len(w) - {CHUNK_OVERLAP}, 1), {_stride})) AS start
  FROM words
),
ck AS (
  SELECT doc_id * 1048576 + (start / {_stride}) AS cid, doc_id AS parent,
         array_to_string(w[start + 1 : start + {CHUNK_TOKENS}], ' ') AS ctext
  FROM st
),
ctok AS (
  SELECT cid, parent, x AS term, count(*)::BIGINT AS tf
  FROM (SELECT cid, parent, unnest(string_split(ctext, ' ')) AS x FROM ck)
  WHERE x <> '' GROUP BY 1, 2, 3
),
cdl AS (SELECT cid, sum(tf)::BIGINT AS dl FROM ctok GROUP BY 1),
cstats AS (SELECT (SELECT count(*) FROM ck)::DOUBLE AS n,
                  (SELECT sum(tf) FROM ctok)::DOUBLE
                    / (SELECT count(*) FROM ck)::DOUBLE AS avgdl),
cdf AS (SELECT term, count(*)::DOUBLE AS df FROM ctok GROUP BY 1),
sc AS (
  SELECT t.parent, t.cid,
         ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * (t.tf::DOUBLE * 2.2) / (t.tf::DOUBLE + 1.2
           * (0.25 + 0.75 * l.dl / s.avgdl)) AS score
  FROM ctok t
  JOIN cdf d USING (term)
  JOIN cdl l USING (cid)
  CROSS JOIN cstats s
  WHERE t.term = '{BLOCKJOIN_Q}'
),
folded AS (
  SELECT 0::BIGINT AS query_id, parent AS doc_id, max(score) AS score,
         count(*)::BIGINT AS n_children
  FROM sc GROUP BY 2
),
ranked AS (
  SELECT query_id,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
         doc_id, score, n_children
  FROM folded JOIN documents USING (doc_id)
)
SELECT query_id, rank::BIGINT AS rank, doc_id, score, n_children
FROM ranked WHERE rank <= 50
"""
    # mirrors ops/sampling.hash_split: SAME float accumulation for the
    # cumulative bounds (0.8 + 0.1 != 0.9 exactly — the truncation must
    # match bit for bit), same md5 key hash as doc_samples
    _bounds, _upper = [], 0.0
    for _name, _frac in SPLITS.items():
        _upper += _frac
        _bounds.append((_name, int(_upper * (1 << 60))))
    _split_case = "CASE " + " ".join(
        f"WHEN {_keyhash} < {b} THEN '{nm}'" for nm, b in _bounds
    ) + " ELSE NULL END"
    sql["doc_split"] = f"""
SELECT doc_id, lang, {_split_case} AS split FROM documents
"""
    # {!graph} closure: recursive CTE over the deterministic halving
    # graph; UNION dedups (doc_id, depth) pairs and min(depth) collapses
    # to the BFS depth. The graph is acyclic (ids strictly halve), so a
    # constant 64-hop cap is exact at EVERY scale (int64 halves to 0 in
    # <= 63 steps) — no data-dependent cap needed.
    sql["graph_closure"] = f"""
WITH RECURSIVE nodes AS (
  SELECT doc_id, doc_id AS provides,
         CASE WHEN doc_id % {GRAPH_LEAF_MOD} = 0 THEN NULL
              ELSE doc_id // 2 END AS requires
  FROM documents
),
roots AS (SELECT doc_id FROM documents ORDER BY doc_id DESC LIMIT {GRAPH_N_ROOTS}),
walk(doc_id, depth) AS (
  SELECT doc_id, 0 FROM roots
  UNION
  SELECT n2.doc_id, w.depth + 1
  FROM walk w
  JOIN nodes n1 ON n1.doc_id = w.doc_id
  JOIN nodes n2 ON n2.provides = n1.requires
  WHERE n1.requires IS NOT NULL AND w.depth < 64
)
SELECT doc_id, min(depth)::BIGINT AS depth FROM walk GROUP BY 1
"""
    _exp_terms = ", ".join(f"'{t}'" for t in sorted(set(EXPORT_Q.split())))
    sql["export_sorted"] = f"""
WITH matched AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE w IN ({_exp_terms})
)
SELECT doc_id, lang, source
FROM documents JOIN matched USING (doc_id)
WHERE {EXPORT_FQ}
ORDER BY n_chars DESC, doc_id ASC
"""
    _stream_terms = ", ".join(f"'{t}'" for t in sorted({"window", "merge"}))
    sql["stream_rollup"] = f"""
WITH matched AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE w IN ({_stream_terms})
)
SELECT lang, round(sum(n_chars), 4) AS sum_chars,
       count(*)::BIGINT AS n_docs
FROM documents JOIN matched USING (doc_id)
GROUP BY lang
"""
    # strategy twins dropped from the driver surface (pytest parity pins
    # them: test_tag_join.py, test_index_bm25.py, test_compression_wand.py);
    # minhash_signatures moved to a pytest pin (test_dedup_buckets.py runs
    # this exact SQL) — the signature arithmetic stays TRIPLY oracle-pinned
    # through lsh_pairs / dup_clusters / dedup_keep, which recompute the
    # sigs inside their own SQL
    # --- round-9 session-3 consolidation + new Solr surfaces ---
    # doc_split folds into doc_samples, doc_risk joins into doc_quality
    # (the standalone keys STAY in this full dict for the pytest pins;
    # oracle_sql() demotes them from the 50-entry driver surface).
    sql["doc_samples"] = (
        sql["doc_samples"]
        + "\nUNION ALL SELECT 'split_' || split AS mode, doc_id, lang "
        "FROM (" + sql["doc_split"] + ")"
    )
    sql["doc_quality"] = (
        "SELECT * FROM (" + sql["doc_quality"] + ") __q JOIN ("
        + sql["doc_risk"] + ") __r USING (doc_id)"
    )
    # cursorMark page 3 == OFFSET paging under the same total order —
    # Solr's documented equivalence IS the oracle; the Spark side walks
    # the actual strictly-after-predicate protocol
    sql["cursor_page"] = f"""
SELECT doc_id, lang, n_chars FROM documents
ORDER BY n_chars DESC, doc_id
LIMIT {CURSOR_ROWS} OFFSET {CURSOR_ROWS * (CURSOR_PAGES - 1)}
"""
    # tlog resolution (arg_max per id, delete wins at its version) ->
    # committed view -> atomic set/inc over the %5 command slice
    sql["rtg_atomic"] = """
WITH tlog AS (
  SELECT doc_id, 'add' AS op, doc_id * 10 + 1 AS v,
         'u:' || lang AS text, lang, source, n_chars + 1 AS n_chars
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id, 'delete', doc_id * 10 + 2, NULL, NULL, NULL, NULL
  FROM documents WHERE doc_id % 11 = 0
),
latest AS (
  SELECT doc_id, arg_max(op, v) AS op, arg_max(text, v) AS text,
         arg_max(lang, v) AS lang, arg_max(source, v) AS source,
         arg_max(n_chars, v) AS n_chars
  FROM tlog GROUP BY doc_id
),
cur AS (
  SELECT doc_id, text, lang, source, n_chars FROM latest WHERE op = 'add'
  UNION ALL
  SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
  FROM documents d WHERE d.doc_id NOT IN (SELECT doc_id FROM latest)
)
SELECT doc_id, text,
       CASE WHEN doc_id % 10 = 0 THEN 'xx' ELSE lang END AS lang,
       source, n_chars + 7 AS n_chars
FROM cur WHERE doc_id % 5 = 0
"""
    # /admin/luke: topTerms (df desc, term asc) x the index summary row
    sql["luke_report"] = f"""
WITH {_TOK_CTE},
ts AS (
  SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf
  FROM tok GROUP BY term
),
summ AS (
  SELECT (SELECT count(*) FROM documents)::BIGINT AS num_docs,
         count(*)::BIGINT AS num_terms,
         sum(df)::BIGINT AS total_postings,
         sum(cf)::BIGINT AS total_tokens,
         round(sum(cf)::DOUBLE
               / (SELECT count(*) FROM documents), 4) AS avgdl
  FROM ts
),
top AS (
  SELECT row_number() OVER (ORDER BY df DESC, term)::BIGINT AS rank,
         term, df, cf
  FROM ts ORDER BY df DESC, term LIMIT {LUKE_TOP}
)
SELECT rank, term, df, cf,
       num_docs, num_terms, total_postings, total_tokens, avgdl
FROM top CROSS JOIN summ
"""
    del sql["tag_join_nosub"], sql["bm25_exploded"], sql["wand_fq"]
    del sql["minhash_signatures"]
    return sql


def oracle_sql() -> dict[str, str]:
    sql = _oracle_sql_full()
    # round-9 demotions (freed slots for graph_closure/export_sorted/
    # stream_rollup): the exact oracle SQL stays in _oracle_sql_full,
    # exercised by test_entry.py::test_demoted_entry_pins
    for k in ("bm25_fq", "spellcheck", "phrase_match"):
        del sql[k]
    # round-9 session-3 demotions (freed slots for cursor_page/
    # rtg_atomic/luke_report): standalone SQL stays in _oracle_sql_full
    # for the pytest pins; dedup_keep is additionally a pure projection
    # of the still-gated dup_clusters entry
    for k in ("dedup_keep", "doc_split", "doc_risk"):
        del sql[k]
    return sql


def pytest_pinned() -> dict:
    """Entries demoted from the 50-slot driver surface but still FULLY
    oracle-pinned: name -> (queries-style callable, DuckDB SQL). Run by
    test_entry.py::test_demoted_entry_pins with the driver's exact
    compare."""
    full = _oracle_sql_full()
    return {
        "bm25_fq": (q_bm25_fq, full["bm25_fq"]),
        "spellcheck": (q_spellcheck, full["spellcheck"]),
        "phrase_match": (q_phrase_match, full["phrase_match"]),
        "dedup_keep": (q_dedup_keep, full["dedup_keep"]),
        "doc_split": (q_doc_split, full["doc_split"]),
        "doc_risk": (q_doc_risk, full["doc_risk"]),
    }
