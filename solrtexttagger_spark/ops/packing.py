"""Sequence packing for LLM training batches — lay documents head-to-tail
in deterministic id order and cut the stream into fixed-capacity training
bins (the standard concat-then-chunk batch-prep step, with cuts aligned
to document starts: a document belongs to the bin its first token lands
in, so a bin can run over capacity by at most its last document's tail).

100 TB shape: the global cumulative token count is a DISTRIBUTED prefix
sum — range-partition on the id (total sort), per-partition running sums
via a partition-local window, plus broadcast per-partition offsets from
one tiny count job. No global single-partition window anywhere (the same
pattern as index/build.dense_doc_ids, which exists for exactly this
regime). Deterministic and SQL-mirrorable, so the driver oracle checks
it end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from solrtexttagger_spark.plans import local_frame


def pack_sequences(
    docs_df: DataFrame,
    *,
    max_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """-> (doc_id, n_tokens, bin_id, bin_offset): with documents ordered
    by ascending ``id_col`` and token counts laid end-to-end,
    ``bin_id = cum_before // max_tokens`` and
    ``bin_offset = cum_before % max_tokens`` where cum_before is the
    total token count of all PRECEDING documents. Tokens are single-space
    splits (the ops/textqa token definition). A document straddling a
    capacity boundary stays whole in the bin it starts in."""
    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")
    spark = docs_df.sparkSession
    n = num_partitions or max(2, spark.sparkContext.defaultParallelism)
    toks = F.size(F.split(F.col(text_col), " ")).cast("long")
    base = docs_df.select(F.col(id_col).alias("doc_id"), toks.alias("n_tokens"))
    shaped = base.repartitionByRange(n, F.col("doc_id")).sortWithinPartitions(
        "doc_id"
    )
    # pin the physical partitioning BEFORE deriving offsets from it —
    # repartitionByRange samples boundaries per action (see
    # dense_doc_ids for the failure mode this prevents)
    with_pid = shaped.withColumn("__pid", F.spark_partition_id()).localCheckpoint()
    counts = sorted(
        (r["__pid"], r["s"])
        for r in with_pid.groupBy("__pid")
        .agg(F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("s"))
        .collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for p, s in counts:
        offsets[p] = acc
        acc += int(s)
    if not offsets:
        return local_frame(
            spark, [], "doc_id long, n_tokens long, bin_id long, bin_offset long"
        )
    offset_map = F.create_map(*[F.lit(v) for kv in offsets.items() for v in kv])
    w = Window.partitionBy("__pid").orderBy("doc_id")
    cum_before = (
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        - F.col("n_tokens")
        + offset_map[F.col("__pid")]
    )
    return with_pid.select(
        "doc_id",
        "n_tokens",
        F.floor(cum_before / max_tokens).cast("long").alias("bin_id"),
        (cum_before % max_tokens).cast("long").alias("bin_offset"),
    )
