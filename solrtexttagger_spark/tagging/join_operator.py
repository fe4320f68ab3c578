"""Join-based tagging — the set-oriented alternative to the broadcast
tagger (SURVEY.md §2.3 M4 'set-oriented equivalent'), for dictionaries too
large to broadcast (beyond ~1e8 names).

Plan shape:

  texts  -> mapInPandas(tokenize + emit n-grams 1..max_phrase_len)
         -> JOIN dictionary terms (sort-merge on term; Catalyst broadcasts
            automatically if the dictionary is small)
         -> matched spans (qdoc_id, start, end, doc_ids)
         -> overlap resolution:
              ALL     pass-through
              NO_SUB  pure window SQL (containment removal)
              LDR     applyInPandas greedy per document (reduce_spans)

Trade-off vs the broadcast tagger: no driver collect and no broadcast, but
the corpus fans out ×max_phrase_len n-gram rows through a shuffle — choose
by dictionary size. Semantics match the loop tagger for whole-mode
dictionaries (verified against it in tests); stopword cluster breaks are
honored by never emitting n-grams across a position gap.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

from solrtexttagger_spark.analysis.core import (
    ENGLISH_STOP_WORDS,
    index_analyze_whole,
    query_analyze,
)
from solrtexttagger_spark.tagging.core import reduce_spans

_NGRAM_SCHEMA = T.StructType(
    [
        T.StructField("qdoc_id", T.LongType()),
        T.StructField("term", T.StringType()),
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
    ]
)

_NGRAM_SCHEMA_MT = T.StructType(
    _NGRAM_SCHEMA.fields + [T.StructField("match_text", T.StringType())]
)

_SPAN_SCHEMA = T.StructType(
    [
        T.StructField("qdoc_id", T.LongType()),
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("doc_ids", T.ArrayType(T.LongType())),
    ]
)

_SPAN_SCHEMA_MT = T.StructType(
    _SPAN_SCHEMA.fields + [T.StructField("match_text", T.StringType())]
)


def build_dict_terms(
    names_df: DataFrame,
    *,
    name_col: str = "name",
    id_col: str = "id",
    mode: str = "whole",
    max_shingle: int = 10,
    stopwords=None,
    use_english_stopwords: bool = False,
) -> DataFrame:
    """Distributed dictionary build: (term, n_words, doc_ids) with dense
    deterministic doc ids — never collected to the driver.
    mode='whole' -> one concatenated phrase term per name;
    mode='partial' -> all 1..max_shingle word shingles (tagPartial)."""
    if use_english_stopwords and stopwords is None:
        stopwords = ENGLISH_STOP_WORDS
    stop = frozenset(stopwords) if stopwords else None
    if mode not in ("whole", "partial"):
        raise ValueError(f"mode must be whole|partial, got {mode}")

    from solrtexttagger_spark.analysis.core import index_analyze_shingles

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def analyze(names: pd.Series) -> pd.Series:
        if mode == "whole":
            return names.map(
                lambda s: [index_analyze_whole(s, stopwords=stop)] if s else []
            )
        return names.map(
            lambda s: index_analyze_shingles(
                s, max_shingle=max_shingle, stopwords=stop
            )
            if s
            else []
        )

    # Dense ids in id order without a single-partition global window —
    # this path exists precisely for dictionaries too big to broadcast, so
    # id assignment must parallelize (range-partition + per-partition
    # row_number + broadcast offsets, all JVM).
    from solrtexttagger_spark.index.build import dense_doc_ids

    docs = dense_doc_ids(
        names_df.withColumn("__ord", F.col(id_col).cast("string")), "__ord"
    ).drop("__ord")
    return (
        docs.select("doc_id", F.explode(analyze(F.col(name_col))).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("doc_ids"))
        .withColumn("n_words", F.size(F.split("term", " ")))
    )


def tag_join(
    texts_df: DataFrame,
    dict_terms: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "qdoc_id",
    overlaps: str = "NO_SUB",
    ignore_stopwords: bool = True,
    stopwords=None,
    min_taggable_len: int | None = None,
    max_phrase_len: int | None = None,
    match_text: bool = False,
    prefix_prune: bool = True,
) -> DataFrame:
    """Tag texts by joining exploded token n-grams against the dictionary.
    Returns (qdoc_id, start, end, doc_ids[, match_text]), same contract as
    tag().

    prefix_prune: broadcast the dictionary's first-word set to the n-gram
    emitter so n-grams are only emitted at positions where a dictionary
    term can START — the join-path analogue of the loop tagger's
    first-words filter (the reference's wished-for bloom filter,
    TermPrefixCursor.java:43 TODO). For natural corpora most positions
    start no term, so this cuts the shuffled fan-out by ~the non-match
    rate x max_phrase_len. The first-word set is dictionary-vocabulary
    sized (bounded by |names|), far smaller than the term dictionary —
    broadcastable even when the dictionary itself is not.
    """
    # One collect serves both the first-word set and max_phrase_len: a
    # (first word, longest term) row per distinct first word, the same
    # bound as the first-word set itself. With the n-gram join that makes
    # two consumers of the dictionary relation; an uncached one is
    # materialized ONCE instead of re-running the whole distributed build
    # (dense-id assignment + analysis + groupBy) per consumer — the same
    # multi-consumer localCheckpoint discipline as connected_components,
    # and still never collected (this path exists for dictionaries too
    # big to broadcast)
    first_words = None
    if max_phrase_len is None or prefix_prune:
        if not dict_terms.is_cached:
            dict_terms = dict_terms.localCheckpoint(eager=True)
        rows = (
            dict_terms.groupBy(F.split(F.col("term"), " ").getItem(0).alias("fw"))
            .agg(F.max("n_words").alias("n"))
            .collect()
        )
        if max_phrase_len is None:
            max_phrase_len = max((r["n"] for r in rows), default=1)
        if prefix_prune:
            first_words = frozenset(r["fw"] for r in rows)
    stop = frozenset(stopwords) if stopwords else None
    mlen = min_taggable_len
    maxn = int(max_phrase_len)
    ig = ignore_stopwords
    emit_mt = match_text

    first_words_bc = (
        None
        if first_words is None
        else texts_df.sparkSession.sparkContext.broadcast(first_words)
    )

    def emit_ngrams(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        first_words = first_words_bc.value if first_words_bc is not None else None
        for pdf in batches:
            out_q, out_t, out_s, out_e, out_mt = [], [], [], [], []
            for qid, text in zip(pdf["__qid"], pdf["__text"]):
                if text is None:
                    continue
                toks = query_analyze(text, stopwords=stop, min_taggable_len=mlen)
                n = len(toks)
                for i in range(n):
                    if not toks[i].taggable:
                        continue  # a tag can only START at a taggable token
                    if first_words is not None and toks[i].term not in first_words:
                        continue  # no dictionary term starts here
                    terms = []
                    for j in range(i, min(i + maxn, n)):
                        if j > i and not ig and toks[j].pos_inc > 1:
                            break  # stopword gap: cluster break (no span crosses)
                        terms.append(toks[j].term)
                        out_q.append(qid)
                        out_t.append(" ".join(terms))
                        out_s.append(toks[i].start)
                        out_e.append(toks[j].end)
                        if emit_mt:
                            out_mt.append(text[toks[i].start : toks[j].end])
            cols = {
                "qdoc_id": pd.Series(out_q, dtype="int64"),
                "term": pd.Series(out_t, dtype="object"),
                "start": pd.Series(out_s, dtype="int32"),
                "end": pd.Series(out_e, dtype="int32"),
            }
            if emit_mt:
                cols["match_text"] = pd.Series(out_mt, dtype="object")
            yield pd.DataFrame(cols)

    narrowed = texts_df.select(
        F.col(id_col).cast("long").alias("__qid"), F.col(text_col).alias("__text")
    )
    ngrams = narrowed.mapInPandas(
        emit_ngrams, schema=_NGRAM_SCHEMA_MT if emit_mt else _NGRAM_SCHEMA
    )
    span_cols = ["qdoc_id", "start", "end", "doc_ids"] + (
        ["match_text"] if emit_mt else []
    )
    spans = ngrams.join(dict_terms.select("term", "doc_ids"), "term").select(*span_cols)

    if overlaps == "ALL":
        return spans
    if overlaps == "NO_SUB":
        # containment removal in pure window SQL: order (start asc, end
        # desc); a span is a sub-tag iff some previous row's end >= its end
        w = (
            Window.partitionBy("qdoc_id")
            .orderBy(F.col("start").asc(), F.col("end").desc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return (
            spans.withColumn("__pmax", F.max("end").over(w))
            .where(F.col("__pmax").isNull() | (F.col("__pmax") < F.col("end")))
            .drop("__pmax")
        )
    if overlaps == "LONGEST_DOMINANT_RIGHT":

        def reduce_doc(pdf: pd.DataFrame) -> pd.DataFrame:
            out_rows = {"qdoc_id": [], "start": [], "end": [], "doc_ids": []}
            if emit_mt:
                out_rows["match_text"] = []
            for qid, grp in pdf.groupby("qdoc_id"):
                span_list = [
                    (int(s), int(e), v)
                    for s, e, v in zip(grp["start"], grp["end"], grp["doc_ids"])
                ]
                mt_by_span = (
                    {
                        (int(s), int(e)): m
                        for s, e, m in zip(grp["start"], grp["end"], grp["match_text"])
                    }
                    if emit_mt
                    else None
                )
                for s, e, v in reduce_spans(span_list, "LONGEST_DOMINANT_RIGHT"):
                    out_rows["qdoc_id"].append(qid)
                    out_rows["start"].append(s)
                    out_rows["end"].append(e)
                    out_rows["doc_ids"].append(list(v))
                    if emit_mt:
                        out_rows["match_text"].append(mt_by_span[(s, e)])
            cols = {
                "qdoc_id": pd.Series(out_rows["qdoc_id"], dtype="int64"),
                "start": pd.Series(out_rows["start"], dtype="int32"),
                "end": pd.Series(out_rows["end"], dtype="int32"),
                "doc_ids": pd.Series(out_rows["doc_ids"], dtype="object"),
            }
            if emit_mt:
                cols["match_text"] = pd.Series(out_rows["match_text"], dtype="object")
            return pd.DataFrame(cols)

        return spans.groupBy("qdoc_id").applyInPandas(
            reduce_doc, schema=_SPAN_SCHEMA_MT if emit_mt else _SPAN_SCHEMA
        )
    raise ValueError(f"unknown overlaps mode {overlaps}")
