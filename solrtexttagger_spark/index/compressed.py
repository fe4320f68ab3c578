"""Compressed index: every (term, seg) posting shard becomes one
delta+varint block with block-max metadata.

Pipeline position:  build_index() -> compress_index() -> wand_topk().
The blocks table is what gets persisted/range-partitioned at scale; the
uncompressed array form exists only as the build intermediate.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F, types as T

from solrtexttagger_spark.index.build import InvertedIndex
from solrtexttagger_spark.index.compression import encode_blocks

BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("seg", T.IntegerType()),
        T.StructField("blk", T.IntegerType()),  # block ordinal within the shard
        T.StructField("df_seg", T.LongType()),  # postings in THIS block
        T.StructField("cf_seg", T.LongType()),
        T.StructField("max_tf", T.IntegerType()),
        T.StructField("min_dl", T.IntegerType()),
        T.StructField("block", T.BinaryType()),
    ]
)

# with_positions=True appends a parallel positions block per row (same
# doc order as `block`) — the compressed phrase-serving path
POS_BLOCK_SCHEMA = T.StructType(
    BLOCK_SCHEMA.fields + [T.StructField("pos_block", T.BinaryType())]
)


@dataclass
class CompressedIndex:
    """Delta+varint block-compressed postings with block-max metadata.

    IMMUTABILITY CONTRACT: once queried, a CompressedIndex must not be
    rebuilt in place (the WAND serving path attaches driver-side
    term-metadata/block caches to the instance, keyed by object identity —
    mutating ``blocks`` would leave them stale). Re-compress into a NEW
    CompressedIndex instead; the caches die with the old object."""

    blocks: DataFrame
    term_stats: DataFrame
    doc_count: int
    num_segments: int
    _avgdl: float | None = None

    @property
    def avgdl(self) -> float:
        if self._avgdl is None:
            total = self.term_stats.agg(F.sum("cf")).collect()[0][0] or 0
            self._avgdl = total / self.doc_count if self.doc_count else 0.0
        return self._avgdl


# postings per encode_blocks call: at most ~20 MB of postings-block bytes
_SLICE_POSTINGS = 1 << 20


def _binary(offsets: np.ndarray, data: np.ndarray) -> pa.Array:
    """A BinaryArray over a kernel's block bytes, no per-block copy."""
    offs = pa.array(offsets, pa.int32())  # raises past 2 GiB, never wraps
    return pa.Array.from_buffers(
        pa.binary(), len(offsets) - 1, [None, offs.buffers()[1], pa.py_buffer(data)]
    )


def _list_offsets(lists: pa.ListArray) -> np.ndarray:
    """int64 list offsets. Spark's Arrow writer leaves the offsets buffer
    of a zero-length list array empty, so never read it then."""
    if len(lists) == 0:
        return np.zeros(1, dtype=np.int64)
    return lists.offsets.to_numpy().astype(np.int64)


def _encode_batch(
    batch: pa.RecordBatch, max_block_postings: int | None, with_positions: bool
) -> pa.RecordBatch:
    """Encode one Arrow batch of (term, seg, postings) shards: the list
    offsets and the doc_id/tf/dl child columns go to the kernel as numpy
    (positions only when asked for); term/seg are gathered per block."""
    lists = batch.column("postings")
    offs = _list_offsets(lists)
    items = lists.values.slice(offs[0], offs[-1] - offs[0])
    positions = None
    if with_positions:
        plists = items.field("positions")
        poffs = _list_offsets(plists)
        flat = plists.values.slice(poffs[0], poffs[-1] - poffs[0])
        positions = (poffs - poffs[0], flat.to_numpy())
    enc = encode_blocks(
        offs - offs[0],
        items.field("doc_id").to_numpy(),
        items.field("tf").to_numpy(),
        items.field("dl").to_numpy(),
        max_block_postings=max_block_postings,
        positions=positions,
    )
    shard = pa.array(enc.shard)
    cols = {
        "term": batch.column("term").take(shard),
        "seg": batch.column("seg").take(shard),
        "blk": pa.array(enc.blk, pa.int32()),
        "df_seg": pa.array(enc.df_seg, pa.int64()),
        "cf_seg": pa.array(enc.cf_seg, pa.int64()),
        "max_tf": pa.array(enc.max_tf, pa.int32()),
        "min_dl": pa.array(enc.min_dl, pa.int32()),
        "block": _binary(enc.offsets, enc.data),
    }
    if with_positions:
        cols["pos_block"] = _binary(enc.pos_offsets, enc.pos_data)
    return pa.RecordBatch.from_pydict(cols)


def encode_batches(
    batches: Iterator[pa.RecordBatch],
    max_block_postings: int | None = None,
    with_positions: bool = False,
    slice_postings: int = _SLICE_POSTINGS,
) -> Iterator[pa.RecordBatch]:
    """compress_index's mapInArrow function: (term, seg, postings) batches
    in, BLOCK_SCHEMA / POS_BLOCK_SCHEMA batches out. Each batch is encoded
    by one kernel call per slice of at most ``slice_postings`` postings
    (bounds worker memory and the int32 binary offsets; a shard is never
    split across slices)."""
    for batch in batches:
        offs = _list_offsets(batch.column("postings"))
        lo = 0
        while lo < batch.num_rows:
            hi = int(np.searchsorted(offs, offs[lo] + slice_postings, "right")) - 1
            hi = max(hi, lo + 1)
            yield _encode_batch(
                batch.slice(lo, hi - lo), max_block_postings, with_positions
            )
            lo = hi


def compress_index(
    index: InvertedIndex,
    *,
    max_block_postings: int | None = None,
    with_positions: bool = False,
) -> CompressedIndex:
    """Encode each (term, seg) shard into delta+varint blocks with per-block
    block-max metadata. With max_block_postings=None the shard is one block;
    otherwise it is split into chunks of that size (finer pruning bounds for
    very large shards — each block's (max_tf, min_dl) is tight for its doc
    range).

    with_positions=True additionally emits a parallel ``pos_block`` per
    row (delta-varint positions, doc order identical to ``block``), so
    phrase clauses can be served from the compressed index alone
    (LocalSearcher(positions=True)); BM25/WAND never read it, and the
    scoring block stays position-free either way."""
    schema = POS_BLOCK_SCHEMA if with_positions else BLOCK_SCHEMA
    narrowed = index.postings.select("term", "seg", "postings")
    # Encode in ONE columnar pass: mapInArrow hands each Arrow batch to
    # encode_batches, which feeds the postings list offsets and child
    # columns to the numpy block kernel (compression.encode_blocks) — a
    # fixed number of numpy calls per batch, no Python object per
    # posting or per block.
    # Cluster the persisted blocks artifact by seg: mapInArrow loses the
    # build's seg partitioning (its output attributes are new), and this
    # one cheap exchange of COMPRESSED bytes at compress time lets every
    # WAND run_segments call (groupBy("seg").applyInPandas over the
    # cached blocks) skip its per-query exchange — the same
    # persist-the-partitioning trade save_compressed already makes with
    # partitionBy("seg") on disk (guide §2.4).
    blocks = narrowed.mapInArrow(
        lambda batches: encode_batches(batches, max_block_postings, with_positions),
        schema=schema,
    ).repartition("seg")
    return CompressedIndex(
        blocks=blocks,
        term_stats=index.term_stats,
        doc_count=index.doc_count,
        num_segments=index.num_segments,
        _avgdl=index._avgdl,
    )


def _fs_write_text(spark, path: str, content: str) -> None:
    """Write a small text file through the Hadoop FileSystem API — the
    SAME filesystem resolution the parquet writers use, so a manifest
    lands beside its data on file://, hdfs:// or s3a:// alike (round-5
    advice: driver-local open() wrote it to the local disk even when the
    data went remote)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(p, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


def _fs_read_text(spark, path: str) -> str:
    """Read a small text file through the Hadoop FileSystem API (see
    _fs_write_text)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.open(p)
    baos = jvm.java.io.ByteArrayOutputStream()
    jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 4096, True)
    return bytes(baos.toByteArray()).decode("utf-8")


def save_compressed(cindex: CompressedIndex, path: str) -> dict:
    """Persist a compressed index: blocks + term_stats as parquet
    (blocks partitioned by seg, so a loading cluster prunes to the
    segments a query's candidate set needs), corpus stats as a JSON
    manifest. Completes the serving deployment story — build ->
    compress -> save at index time; load -> LocalSearcher / wand_topk at
    serve time, no uncompressed index kept around. All three artifacts
    go through the same Hadoop filesystem, so `path` may be local,
    HDFS, or object storage. Returns the manifest."""
    import json
    import os

    cindex.blocks.write.mode("overwrite").partitionBy("seg").parquet(
        os.path.join(path, "blocks")
    )
    cindex.term_stats.write.mode("overwrite").parquet(
        os.path.join(path, "term_stats")
    )
    manifest = {
        "format": "stt-cindex-v1",
        "doc_count": cindex.doc_count,
        "num_segments": cindex.num_segments,
        "avgdl": cindex.avgdl,
        "with_positions": "pos_block" in cindex.blocks.columns,
    }
    _fs_write_text(
        cindex.blocks.sparkSession,
        os.path.join(path, "cindex_manifest.json"),
        json.dumps(manifest),
    )
    return manifest


def load_compressed(spark, path: str) -> CompressedIndex:
    """Inverse of save_compressed: a fresh CompressedIndex (fresh query
    caches — see the immutability contract) over the persisted blocks."""
    import json
    import os

    manifest = json.loads(
        _fs_read_text(spark, os.path.join(path, "cindex_manifest.json"))
    )
    if manifest.get("format") != "stt-cindex-v1":
        raise ValueError(
            f"not a stt-cindex-v1 manifest: {manifest.get('format')!r}"
        )
    cols = [f.name for f in (POS_BLOCK_SCHEMA if manifest["with_positions"] else BLOCK_SCHEMA).fields]
    blocks = spark.read.parquet(os.path.join(path, "blocks")).select(*cols)
    return CompressedIndex(
        blocks=blocks,
        term_stats=spark.read.parquet(os.path.join(path, "term_stats")),
        doc_count=int(manifest["doc_count"]),
        num_segments=int(manifest["num_segments"]),
        _avgdl=float(manifest["avgdl"]),
    )
