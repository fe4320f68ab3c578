"""Segmented index persistence: range-partitioned posting shards with a
manifest for resumable builds, lineage, and metrics.

Recasts the reference's segment/commit/optimize model (QUICK_START.md:126,
132-133 — 'optimize to a single segment for fastest tagging') into
Parquet/Iceberg terms: posting rows are written range-partitioned and
sorted by term (so a term lookup touches exactly one segment and parquet
min/max term statistics prune the rest), and a JSON manifest checkpoints
per-segment lineage (row counts, term ranges, source fingerprint). A build
that finds a complete manifest for the same source fingerprint is a no-op —
that is the resume path; the streaming path (streaming/index_stream.py)
appends micro-batch segments that ``merge_segments`` compacts.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from solrtexttagger_spark.index.build import InvertedIndex, seg_of

MANIFEST = "manifest.json"


def write_index(
    index: InvertedIndex,
    path: str,
    *,
    num_segments: int = 8,
    source_fingerprint: str | None = None,
) -> dict:
    """Write postings range-partitioned and sorted by term + manifest."""
    t0 = time.time()
    (
        index.postings.repartitionByRange(num_segments, "term", "seg")
        .sortWithinPartitions("term", "seg")
        .write.mode("overwrite")
        .parquet(os.path.join(path, "postings"))
    )
    index.term_stats.write.mode("overwrite").parquet(
        os.path.join(path, "term_stats")
    )
    # per-segment lineage: term range + row count per parquet file group
    seg_stats = [
        r.asDict()
        for r in (
            index.postings.sparkSession.read.parquet(os.path.join(path, "postings"))
            .withColumn("__file", F.input_file_name())
            .groupBy("__file")
            .agg(
                F.count("*").alias("n_terms"),
                F.min("term").alias("min_term"),
                F.max("term").alias("max_term"),
                F.sum("df_seg").alias("n_postings"),
            )
            .collect()
        )
    ]
    manifest = {
        "complete": True,
        "version": _next_version(path),
        "doc_count": index.doc_count,
        "avgdl": index.avgdl,
        "index_num_segments": index.num_segments,
        "num_segments": num_segments,
        "source_fingerprint": source_fingerprint,
        "built_at_unix": int(t0),
        "build_seconds": round(time.time() - t0, 3),
        "segments": sorted(seg_stats, key=lambda s: (s["min_term"] or "")),
    }
    # snapshot history (Iceberg-metadata style): every build version is
    # retained under manifests/, manifest.json is the current pointer
    hist_dir = os.path.join(path, "manifests")
    os.makedirs(hist_dir, exist_ok=True)
    with open(os.path.join(hist_dir, f"manifest-v{manifest['version']}.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    with open(os.path.join(path, MANIFEST), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def _next_version(path: str) -> int:
    hist_dir = os.path.join(path, "manifests")
    if not os.path.isdir(hist_dir):
        return 1
    versions = [
        int(f[len("manifest-v") : -len(".json")])
        for f in os.listdir(hist_dir)
        if f.startswith("manifest-v") and f.endswith(".json")
    ]
    return (max(versions) + 1) if versions else 1


def manifest_history(path: str) -> list[dict]:
    """All retained build snapshots, oldest first (lineage/time travel)."""
    hist_dir = os.path.join(path, "manifests")
    if not os.path.isdir(hist_dir):
        return []
    out = []
    for f in sorted(os.listdir(hist_dir)):
        if f.startswith("manifest-v") and f.endswith(".json"):
            with open(os.path.join(hist_dir, f)) as fh:
                out.append(json.load(fh))
    return sorted(out, key=lambda m: m["version"])


def read_index(spark: SparkSession, path: str) -> InvertedIndex:
    with open(os.path.join(path, MANIFEST)) as f:
        manifest = json.load(f)
    if not manifest.get("complete"):
        raise ValueError(f"index at {path} is incomplete")
    postings = spark.read.parquet(os.path.join(path, "postings"))
    term_stats = spark.read.parquet(os.path.join(path, "term_stats"))
    return InvertedIndex(
        postings=postings,
        term_stats=term_stats,
        doc_count=manifest["doc_count"],
        num_segments=manifest.get("index_num_segments", 1),
        _avgdl=manifest["avgdl"],
    )


def build_or_resume(
    spark: SparkSession,
    build_fn,
    path: str,
    *,
    source_fingerprint: str,
    num_segments: int = 8,
) -> InvertedIndex:
    """Resumable build: if a complete manifest with the same source
    fingerprint exists, read it back instead of rebuilding."""
    mpath = os.path.join(path, MANIFEST)
    if os.path.exists(mpath):
        with open(mpath) as f:
            manifest = json.load(f)
        if manifest.get("complete") and manifest.get("source_fingerprint") == source_fingerprint:
            return read_index(spark, path)
    index = build_fn()
    write_index(index, path, num_segments=num_segments, source_fingerprint=source_fingerprint)
    return read_index(spark, path)


def merge_segments(
    spark: SparkSession, seg_dir: str, *, num_segments: int = 8
) -> DataFrame:
    """Compact streaming micro-batch segments (doc-term rows written by
    streaming/index_stream.py) into a segmented postings table — the
    'optimize' step."""
    rows = spark.read.parquet(os.path.join(seg_dir, "segment=*"))
    elem = F.struct("doc_id", "tf", "dl", "positions")
    return (
        rows.withColumn("seg", seg_of(num_segments))
        .groupBy("term", "seg")
        .agg(
            F.sort_array(F.collect_list(elem)).alias("postings"),
            F.count("*").alias("df_seg"),
            F.sum("tf").alias("cf_seg"),
        )
    )
