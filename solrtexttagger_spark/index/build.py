"""Inverted-index construction — the Spark-native replacement for the
reference's delegated Lucene indexing chain (SURVEY.md §2.4 D2).

Shape of the plan (one shuffle):

  Scan (Parquet/Iceberg, column-pruned to id + text)
    -> MapInPandas tokenize + PER-DOC TERM AGGREGATION   <- map-side combine
         emits (doc_id, term, tf, positions, dl) rows     in Python, so the
    -> groupBy(term, seg)                                 shuffle carries
    -> postings(term, seg, df_seg, cf_seg, postings[])    per-doc-term rows,
    -> term_stats(term, df, cf)  [tiny second-level agg]  never raw tokens

**Postings are SEGMENTED**: seg = hash(doc_id) % num_segments. This is
Lucene's segment model and simultaneously the salted two-phase aggregation
the 10^12-file design needs — without it, a stopword-grade term ("the",
appearing in ~every doc) becomes ONE array row with 10^12 entries (OOM) and
aggregate parallelism is capped at |vocabulary|. With segments, every
posting shard is bounded (~corpus/num_segments), parallelism is
|vocab| x num_segments, and each (term, seg) shard later becomes one
compressed block with a max-impact score for block-max WAND.

Doc ids: content-addressed 60-bit ids derived from sha2 over the natural-key
columns — deterministic, stable under any partitioning/parallelism (unlike
monotonically_increasing_id), no global sort, no driver bottleneck.

Postings carry (doc_id, tf, dl, positions): tf/positions because BM25 and
phrase search need them (the reference's tag field omits them,
schema.xml:52-53 — we keep the tagger path cheap instead by never reading
the positions column thanks to Parquet column pruning).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F, types as T

from solrtexttagger_spark.analysis.core import tokenize
from solrtexttagger_spark.index.termdict import TermDictionary

_TOKEN_ROW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("term", T.StringType()),
        T.StructField("tf", T.IntegerType()),
        T.StructField("positions", T.ArrayType(T.IntegerType())),
        T.StructField("dl", T.IntegerType()),
    ]
)

POSTING_ELEM = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("tf", T.IntegerType()),
        T.StructField("dl", T.IntegerType()),
        T.StructField("positions", T.ArrayType(T.IntegerType())),
    ]
)


@dataclass(slots=True)
class InvertedIndex:
    """postings: (term, seg, df_seg, cf_seg,
                  postings array<struct<doc_id,tf,dl,positions>>)
    term_stats: (term, df, cf) — global per-term stats (tiny; broadcastable)
    doc_count / avgdl: corpus stats needed by BM25.
    termdict: the driver-side term dictionary the scorers read
    (index/termdict.py); slots leave no room for any other attribute.

    avgdl is lazy (total term count is derived from term_stats on first
    use) so the build itself stays a single tokenize->shuffle->agg job with
    no extra pass and no corpus-wide cache."""

    postings: DataFrame
    term_stats: DataFrame
    doc_count: int
    num_segments: int = 1
    _avgdl: float | None = None
    termdict: TermDictionary = field(default_factory=TermDictionary)

    @property
    def avgdl(self) -> float:
        if self._avgdl is None:
            total = self.term_stats.agg(F.sum("cf")).collect()[0][0] or 0
            self._avgdl = total / self.doc_count if self.doc_count else 0.0
        return self._avgdl

    def stats(self) -> dict:
        return {
            "doc_count": self.doc_count,
            "avgdl": self.avgdl,
            "num_segments": self.num_segments,
        }

    def merged_postings(self) -> DataFrame:
        """Global one-row-per-term view (test/debug convenience only —
        unbounded row size at scale; the engine itself always operates on
        segmented postings)."""
        return (
            self.postings.groupBy("term")
            .agg(
                F.array_sort(F.flatten(F.collect_list("postings"))).alias("postings"),
                F.sum("df_seg").alias("df"),
                F.sum("cf_seg").alias("cf"),
            )
        )


def with_doc_ids(df: DataFrame, key_cols: list[str], out_col: str = "doc_id") -> DataFrame:
    """Deterministic 60-bit doc ids from sha2 of the natural key.

    At 10^12 docs the birthday-collision expectation for 60 bits is
    non-trivial, so production uses the full 256-bit digest as the stable
    identity and this 60-bit int only as the sort/join key; collisions at
    test scale (<=1e8) are ~0.
    """
    key = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in key_cols])
    return df.withColumn(
        out_col, F.conv(F.substring(F.sha2(key, 256), 1, 15), 16, 10).cast("long")
    )


def dense_doc_ids(df: DataFrame, order_by, out_col: str = "doc_id", num_partitions: int | None = None) -> DataFrame:
    """Dense deterministic ids 0..n-1 in ``order_by`` order WITHOUT a global
    single-partition window: range-partition on the key, sort within
    partitions (together a total sort), then row_number within each range
    bucket plus broadcast per-bucket offsets (one tiny count-by-partition
    job). Deterministic as long as the order key is unique — the id is the
    row's global rank.

    This is the big-dictionary-safe replacement for
    ``Window.orderBy(key)`` + ``row_number()``, which funnels every row
    through one task (the exact regime the join-path tagger exists for).
    """
    spark = df.sparkSession
    n = num_partitions or max(2, spark.sparkContext.defaultParallelism)
    col = F.col(order_by) if isinstance(order_by, str) else order_by
    shaped = df.repartitionByRange(n, col).sortWithinPartitions(col)
    # All-JVM rank assembly: local rank within each range bucket + broadcast
    # per-bucket offsets (one tiny count-by-partition job). Replaces the old
    # rdd.zipWithIndex() path, which deserialized every row JVM->Python and
    # pickled it back — two full per-row Python passes in exactly the
    # >=1e8-row regime this function exists for.
    # PIN the physical partitioning before deriving anything from it:
    # repartitionByRange samples its range boundaries per ACTION, so without
    # this materialization the counts job below and the window job at the
    # end could each re-execute the exchange with DIFFERENT boundaries,
    # making the broadcast offsets stale (duplicate/missing ids) exactly in
    # the >=1e8-row regime. localCheckpoint freezes one set of partitions
    # that both jobs then read.
    pid = F.spark_partition_id()
    with_pid = shaped.withColumn("__pid", pid).localCheckpoint()
    counts = sorted(
        (r["__pid"], r["cnt"])
        for r in with_pid.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for p, c in counts:
        offsets[p] = acc
        acc += c
    if not offsets:
        return shaped.withColumn(out_col, F.lit(0).cast("long"))
    offset_map = F.create_map(
        *[F.lit(v) for kv in offsets.items() for v in kv]
    )
    w = Window.partitionBy("__pid").orderBy(col)
    return (
        with_pid.withColumn(
            out_col,
            (
                F.row_number().over(w).cast("long")
                - F.lit(1)
                + offset_map[F.col("__pid")].cast("long")
            ),
        )
        .drop("__pid")
    )


def _tokenize_rows(text_col: str, doc_id_col: str, lowercase: bool):
    """mapInPandas fn: tokenize + per-document term aggregation."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "term": [], "tf": [], "positions": [], "dl": []}
            for doc_id, text in zip(pdf[doc_id_col], pdf[text_col]):
                if text is None:
                    continue
                words = [w for w in tokenize(text) if w is not None]
                terms: dict[str, list[int]] = {}
                for pos, (w, _s, _e) in enumerate(words):
                    t = w.lower() if lowercase else w
                    terms.setdefault(t, []).append(pos)
                dl = len(words)
                for t, poss in terms.items():
                    out["doc_id"].append(doc_id)
                    out["term"].append(t)
                    out["tf"].append(len(poss))
                    out["positions"].append(poss)
                    out["dl"].append(dl)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    "term": pd.Series(out["term"], dtype="object"),
                    "tf": pd.Series(out["tf"], dtype="int32"),
                    "positions": pd.Series(out["positions"], dtype="object"),
                    "dl": pd.Series(out["dl"], dtype="int32"),
                }
            )

    return run


def doc_term_rows(
    df: DataFrame,
    *,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    lowercase: bool = True,
    use_split: bool = False,
) -> DataFrame:
    """(doc_id, term, tf, positions, dl) rows, one per distinct doc-term.

    use_split=True is the pure-JVM fast path for pre-cleaned text (single
    spaces, no punctuation — e.g. the driver's documents table): whole-stage
    codegen end to end, no Python at all. The empty strings a doubled,
    leading or trailing space splits off are dropped before positions and
    dl are counted, as the tokenizer path never sees them.
    """
    if use_split:
        toks = df.select(
            F.col(doc_id_col).alias("doc_id"),
            F.filter(F.split(F.col(text_col), " "), lambda t: t != "").alias("toks"),
        ).select("doc_id", "toks", F.size("toks").cast("int").alias("dl"))
        return (
            toks.select("doc_id", "dl", F.posexplode("toks").alias("pos", "term"))
            .groupBy("doc_id", "term", "dl")
            .agg(
                F.count("*").cast("int").alias("tf"),
                F.sort_array(F.collect_list(F.col("pos").cast("int"))).alias(
                    "positions"
                ),
            )
            .select("doc_id", "term", "tf", "positions", "dl")
        )
    narrowed = df.select(F.col(doc_id_col).alias(doc_id_col), F.col(text_col))
    return narrowed.mapInPandas(
        _tokenize_rows(text_col, doc_id_col, lowercase), schema=_TOKEN_ROW_SCHEMA
    )


def seg_of(num_segments: int) -> Column:
    """The segment of a ``doc_id`` row: pmod(xxhash64(doc_id), S) as int.
    The one doc-hash every seg-keyed relation uses, so a document's
    postings, its fq id and its term vectors all meet in one segment."""
    return F.pmod(F.xxhash64("doc_id"), F.lit(num_segments)).cast("int")


def build_index(
    df: DataFrame,
    *,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    lowercase: bool = True,
    use_split: bool = False,
    num_segments: int | None = None,
) -> InvertedIndex:
    """Build the segmented inverted index.

    num_segments: number of doc-hash segments per term (default
    2 x defaultParallelism). This IS the two-phase salted aggregation for
    skewed stopword-grade terms (SURVEY.md §4) — kept as the permanent
    layout instead of re-merged, because bounded shards are also what the
    query side and the compression blocks want.
    """
    # N = corpus row count (cheap: parquet metadata count or cached input);
    # avgdl derives lazily from term_stats (sum cf / N), so no second
    # tokenize pass and no corpus-wide cache.
    return _build_index(
        df,
        df.count(),
        text_col=text_col,
        doc_id_col=doc_id_col,
        lowercase=lowercase,
        use_split=use_split,
        num_segments=num_segments,
    )


def _build_index(
    df: DataFrame,
    doc_count: int,
    *,
    text_col: str,
    doc_id_col: str,
    num_segments: int | None,
    lowercase: bool = True,
    use_split: bool = False,
) -> InvertedIndex:
    """``build_index`` over a relation of ``doc_count`` rows the caller
    has already counted (``upsert_docs``' batch); runs no Spark job."""
    spark = df.sparkSession
    if num_segments is None:
        num_segments = max(2, spark.sparkContext.defaultParallelism * 2)

    rows = doc_term_rows(
        df,
        text_col=text_col,
        doc_id_col=doc_id_col,
        lowercase=lowercase,
        use_split=use_split,
    )

    elem = F.struct("doc_id", "tf", "dl", "positions")
    # Shuffle the doc-term rows on SEG ALONE (not (term, seg)): a
    # HashPartitioning(seg) child satisfies the groupBy(term, seg)
    # clustering requirement (seg is a subset of the grouping keys), so
    # the build still pays exactly ONE exchange — but the persisted
    # postings artifact comes out CLUSTERED BY SEG, and every
    # segment-aligned consumer (the segmented BM25 scorer's and WAND's
    # groupBy("seg").applyInPandas) reuses that partitioning instead of
    # re-shuffling the filtered postings per query batch (guide §2.4:
    # persist a partitioning across jobs so repeated aggregations on the
    # key skip the shuffle). Per-seg volume is bounded (~corpus/S — seg
    # IS the doc-hash salt), so the seg-keyed exchange has the same skew
    # properties as the old (term, seg) one.
    postings = (
        rows.withColumn("seg", seg_of(num_segments))
        .repartition("seg")
        .groupBy("term", "seg")
        .agg(
            F.sort_array(F.collect_list(elem)).alias("postings"),
            F.count("*").alias("df_seg"),
            F.sum("tf").alias("cf_seg"),
        )
    )
    term_stats = postings.groupBy("term").agg(
        F.sum("df_seg").alias("df"), F.sum("cf_seg").alias("cf")
    )
    return InvertedIndex(
        postings=postings,
        term_stats=term_stats,
        doc_count=doc_count,
        num_segments=num_segments,
    )
