"""Segment persistence, resumable builds and streaming incremental
indexing."""

import json
import os

import pytest
from pyspark.sql import functions as F

from solrtexttagger_spark.index.build import build_index
from solrtexttagger_spark.index.segments import (
    MANIFEST,
    build_or_resume,
    merge_segments,
    read_index,
    write_index,
)
from solrtexttagger_spark.search.bm25 import bm25_topk

DOCS = [
    (0, "the fast key order sort table scan merge"),
    (1, "spark group query row data slow small filter the the"),
    (2, "join a filter window row join stream data group sort merge fast"),
    (3, "fast column table row filter key fast agg query order join small"),
]


@pytest.fixture()
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _merged(ix):
    return {
        (r["term"], r["df"], r["cf"], tuple((p["doc_id"], p["tf"]) for p in r["postings"]))
        for r in ix.merged_postings().collect()
    }


def test_write_read_roundtrip(spark, docs_df, tmp_path):
    idx = build_index(docs_df, num_segments=3)
    manifest = write_index(idx, str(tmp_path / "ix"), source_fingerprint="fp1")
    assert manifest["complete"] and manifest["doc_count"] == 4
    assert manifest["segments"], "per-segment lineage must be recorded"
    assert all(s["n_terms"] > 0 for s in manifest["segments"])

    back = read_index(spark, str(tmp_path / "ix"))
    assert back.doc_count == idx.doc_count
    assert back.avgdl == pytest.approx(idx.avgdl)
    assert _merged(back) == _merged(idx)

    # BM25 over the persisted index is identical to the in-memory one
    q = [(0, "fast filter"), (1, "the key")]
    a = sorted((r["query_id"], r["rank"], r["doc_id"]) for r in bm25_topk(idx, q, spark=spark).collect())
    b = sorted((r["query_id"], r["rank"], r["doc_id"]) for r in bm25_topk(back, q, spark=spark).collect())
    assert a == b


def test_build_or_resume_skips_rebuild(spark, docs_df, tmp_path):
    calls = []

    def builder():
        calls.append(1)
        return build_index(docs_df, num_segments=2)

    p = str(tmp_path / "ix")
    ix1 = build_or_resume(spark, builder, p, source_fingerprint="abc")
    assert len(calls) == 1
    ix2 = build_or_resume(spark, builder, p, source_fingerprint="abc")
    assert len(calls) == 1, "resume must not rebuild for the same fingerprint"
    assert _merged(ix1) == _merged(ix2)

    build_or_resume(spark, builder, p, source_fingerprint="other")
    assert len(calls) == 2, "changed source fingerprint must rebuild"

    # incomplete manifest -> rebuild
    with open(os.path.join(p, MANIFEST)) as f:
        m = json.load(f)
    m["complete"] = False
    with open(os.path.join(p, MANIFEST), "w") as f:
        json.dump(m, f)
    build_or_resume(spark, builder, p, source_fingerprint="other")
    assert len(calls) == 3


def test_streaming_incremental_index(spark, docs_df, tmp_path):
    from solrtexttagger_spark.streaming.index_stream import incremental_index_stream

    src = str(tmp_path / "src")
    docs_df.write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    out = str(tmp_path / "segs")
    q = incremental_index_stream(stream, out, trigger_once=True)
    q.awaitTermination(120)

    merged = merge_segments(spark, out, num_segments=2)
    batch = build_index(docs_df, num_segments=2)

    def norm(df):
        return {
            (r["term"], tuple((p["doc_id"], p["tf"]) for p in sorted(r["postings"])))
            for r in df.groupBy("term")
            .agg(F.array_sort(F.flatten(F.collect_list("postings"))).alias("postings"))
            .collect()
        }

    assert norm(merged) == norm(batch.postings)


def test_sessionize_stream_plan(spark, tmp_path):
    """session_window streaming plan builds and runs with availableNow."""
    from solrtexttagger_spark.streaming.sessionize import sessionize_stream

    src = str(tmp_path / "ev")
    spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:10:00"), (2, "2024-01-01 01:00:00")],
        "user_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts")).write.parquet(src)
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    out = sessionize_stream(stream, gap_seconds=1800)
    q = (
        out.writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from sess_test").collect()
    got = {(r["user_id"], r["n_events"]) for r in rows}
    assert got == {(1, 2), (2, 1)}


def test_tag_operator_on_stream(spark, tmp_path):
    """tag() is mapInPandas-based, so the same operator runs unchanged on a
    Structured Streaming source (reference equivalent: tagging requests as
    they arrive)."""
    from solrtexttagger_spark.tagging.dictionary import build_tag_dictionary
    from solrtexttagger_spark.tagging.operator import tag

    d = build_tag_dictionary(
        spark.createDataFrame(
            [("0", "London"), ("1", "City of London")], "id string, name string"
        )
    )
    src = str(tmp_path / "texts")
    spark.createDataFrame(
        [(0, "in the City of London today"), (1, "nothing here")],
        "qdoc_id long, text string",
    ).write.parquet(src)
    stream = spark.readStream.schema("qdoc_id long, text string").parquet(src)
    out = tag(stream, d, overlaps="NO_SUB")
    q = (
        out.writeStream.format("memory")
        .queryName("tag_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from tag_stream_test").collect()
    got = {(r["qdoc_id"], r["start"], r["end"], frozenset(r["doc_ids"])) for r in rows}
    assert got == {(0, 7, 21, frozenset([1]))}


def test_stateful_running_user_stats(spark, tmp_path):
    """applyInPandasWithState custom stateful operator: state persists
    across micro-batches (two input files -> two batches with maxFilesPerTrigger)."""
    from solrtexttagger_spark.streaming.stateful import running_user_stats

    src = str(tmp_path / "ev")
    spark.createDataFrame(
        [(1, "click", 1.0), (1, "view", 2.0), (2, "click", 5.0)],
        "user_id long, event_type string, value double",
    ).coalesce(1).write.mode("overwrite").parquet(src + "/b1")
    spark.createDataFrame(
        [(1, "click", 3.0), (2, "buy", 7.0)],
        "user_id long, event_type string, value double",
    ).coalesce(1).write.mode("overwrite").parquet(src + "/b2")

    stream = (
        spark.readStream.schema("user_id long, event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/b*")
    )
    out = running_user_stats(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("stateful_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("select * from stateful_test").collect()
    # the LAST update per user must reflect the full accumulated state
    final = {}
    for r in rows:
        final[r["user_id"]] = (r["n_events"], r["sum_value"], r["n_event_types"])
    assert final[1] == (3, 6.0, 2)
    assert final[2] == (2, 12.0, 2)


def test_manifest_versioning(spark, docs_df, tmp_path):
    from solrtexttagger_spark.index.segments import manifest_history

    p = str(tmp_path / "ix")
    idx = build_index(docs_df, num_segments=2)
    write_index(idx, p, source_fingerprint="v1-src")
    write_index(idx, p, source_fingerprint="v2-src")
    hist = manifest_history(p)
    assert [m["version"] for m in hist] == [1, 2]
    assert [m["source_fingerprint"] for m in hist] == ["v1-src", "v2-src"]
    # current pointer is the latest snapshot
    with open(os.path.join(p, MANIFEST)) as f:
        cur = json.load(f)
    assert cur["version"] == 2 and cur["source_fingerprint"] == "v2-src"
    # resume still reads the current snapshot
    back = read_index(spark, p)
    assert back.doc_count == idx.doc_count


def test_stream_exact_dedup(spark, tmp_path):
    """Streaming exact dedup: first arrival of each distinct content
    survives, repeats within the watermark horizon are dropped, state is
    watermark-bounded (dropDuplicatesWithinWatermark in the plan)."""
    from solrtexttagger_spark.streaming.dedup import stream_exact_dedup

    src = str(tmp_path / "src")
    rows = [
        (1, "same text", "2024-01-01 00:00:00"),
        (2, "same text", "2024-01-01 00:05:00"),   # dup within horizon
        (3, "other text", "2024-01-01 00:06:00"),
        (4, "same text", "2024-01-01 00:07:00"),   # dup again
    ]
    spark.createDataFrame(rows, "doc_id long, text string, ts string").write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string, ts string").parquet(src)
    out = stream_exact_dedup(stream, watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(120)
    got = {(r["doc_id"], r["text"]) for r in spark.sql("SELECT * FROM dedup_stream").collect()}
    texts = sorted(t for _, t in got)
    assert texts == ["other text", "same text"]  # one survivor per content
    kept_ids = {d for d, t in got if t == "same text"}
    assert kept_ids <= {1, 2, 4} and len(kept_ids) == 1


def test_stream_first_seen_key(spark, tmp_path):
    from solrtexttagger_spark.streaming.dedup import stream_first_seen

    src = str(tmp_path / "src2")
    rows = [
        (10, "v1", "2024-01-01 00:00:00"),
        (10, "v2", "2024-01-01 00:01:00"),  # same key, later arrival
        (11, "v1", "2024-01-01 00:02:00"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string, ts string").write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string, ts string").parquet(src)
    out = stream_first_seen(stream, ["doc_id"], watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("first_seen_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.sql("SELECT * FROM first_seen_stream").collect()}
    assert got == {10, 11}
    n = spark.sql("SELECT count(*) c FROM first_seen_stream").collect()[0]["c"]
    assert n == 2


def test_streaming_upserts_last_write_wins(spark, tmp_path):
    """Upsert stream (streaming/upsert_stream.py): batch 1 replaces one
    doc, adds one, deletes one (NULL text); the merged view equals a
    fresh batch build of the FINAL corpus — Lucene updateDocument over
    micro-batch segments, resolved last-write-wins at merge time."""
    from solrtexttagger_spark.streaming.upsert_stream import (
        merge_upsert_segments,
        upsert_index_stream,
    )

    src = str(tmp_path / "usrc")
    out = str(tmp_path / "usegs")
    ckpt = str(tmp_path / "uckpt")
    schema = "doc_id long, text string"

    # batch 0: two docs
    spark.createDataFrame(
        [(1, "hash join"), (2, "merge sort")], schema
    ).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = upsert_index_stream(stream, out, checkpoint_dir=ckpt)
    q.awaitTermination(120)

    # batch 1 (restart with the same checkpoint -> next batch id):
    # update doc 1, add doc 3, DELETE doc 2
    spark.createDataFrame(
        [(1, "scan scan"), (3, "probe"), (2, None)], schema
    ).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(schema).parquet(src)
    q2 = upsert_index_stream(stream2, out, checkpoint_dir=ckpt)
    q2.awaitTermination(120)

    merged = merge_upsert_segments(spark, out, num_segments=2)
    final = spark.createDataFrame(
        [(1, "scan scan"), (3, "probe")], schema
    )
    ref = build_index(final, num_segments=2).postings

    def norm(df):
        return {
            (r["term"], tuple((p["doc_id"], p["tf"]) for p in sorted(r["postings"])))
            for r in df.groupBy("term")
            .agg(F.array_sort(F.flatten(F.collect_list("postings"))).alias("postings"))
            .collect()
        }

    assert norm(merged) == norm(ref)


def test_streaming_upsert_duplicate_ids_fail_batch(spark, tmp_path):
    from solrtexttagger_spark.streaming.upsert_stream import (
        upsert_index_stream,
    )

    src = str(tmp_path / "dsrc")
    out = str(tmp_path / "dsegs")
    schema = "doc_id long, text string"
    spark.createDataFrame([(1, "a"), (1, "b")], schema).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = upsert_index_stream(stream, out)
    with pytest.raises(Exception, match="duplicate doc ids"):
        q.awaitTermination(120)
        q.processAllAvailable()


def _norm_postings(df):
    return {
        (r["term"], tuple((p["doc_id"], p["tf"]) for p in sorted(r["postings"])))
        for r in df.groupBy("term")
        .agg(F.array_sort(F.flatten(F.collect_list("postings"))).alias("postings"))
        .collect()
    }


def _run_upsert_batch(spark, rows, src, out, ckpt):
    from solrtexttagger_spark.streaming.upsert_stream import (
        upsert_index_stream,
    )

    schema = "doc_id long, text string"
    spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = upsert_index_stream(stream, out, checkpoint_dir=ckpt)
    q.awaitTermination(120)


def test_upsert_compaction_threshold_and_delta_reads(spark, tmp_path):
    """Round-7 verdict #7: compaction triggers on the superseded
    fraction (owners-table signal, Lucene merge-policy analogue), and
    current_postings serves compacted base + post-watermark deltas —
    always equal to the full last-write-wins merge."""
    from solrtexttagger_spark.streaming.upsert_stream import (
        compact_upsert_segments,
        current_postings,
        merge_upsert_segments,
        superseded_fraction,
    )

    src, out, ckpt = (str(tmp_path / d) for d in ("csrc", "csegs", "cckpt"))
    _run_upsert_batch(spark, [(1, "hash join"), (2, "merge sort")],
                      src, out, ckpt)
    # append-only so far: nothing superseded
    assert superseded_fraction(spark, out) == 0.0
    ran, frac = compact_upsert_segments(spark, out, num_segments=2,
                                        threshold=0.2)
    assert (ran, frac) == (False, 0.0)

    # batch 1: update doc 1, add doc 3, delete doc 2
    # owners: 5 rows, 3 distinct docs -> fraction 0.4
    _run_upsert_batch(spark, [(1, "scan scan"), (3, "probe"), (2, None)],
                      src, out, ckpt)
    assert superseded_fraction(spark, out) == pytest.approx(0.4)
    ran, frac = compact_upsert_segments(spark, out, num_segments=2,
                                        threshold=0.5)
    assert not ran  # below threshold: data untouched
    ran, frac = compact_upsert_segments(spark, out, num_segments=2,
                                        threshold=0.4)
    assert ran and frac == pytest.approx(0.4)

    # compacted base == full merge; reader view == base (no deltas yet)
    merged = _norm_postings(merge_upsert_segments(spark, out, num_segments=2))
    assert _norm_postings(current_postings(spark, out, num_segments=2)) == merged
    ref = build_index(
        spark.createDataFrame([(1, "scan scan"), (3, "probe")],
                              "doc_id long, text string"),
        num_segments=2,
    ).postings
    assert merged == _norm_postings(ref)

    # batch 2 AFTER compaction: update doc 3, add doc 4, delete doc 1 —
    # the reader merges the compacted base with only the delta batch
    _run_upsert_batch(spark, [(3, "group by"), (4, "window"), (1, None)],
                      src, out, ckpt)
    view = _norm_postings(current_postings(spark, out, num_segments=2))
    assert view == _norm_postings(
        merge_upsert_segments(spark, out, num_segments=2)
    )
    ref2 = build_index(
        spark.createDataFrame([(3, "group by"), (4, "window")],
                              "doc_id long, text string"),
        num_segments=2,
    ).postings
    assert view == _norm_postings(ref2)


def test_current_postings_merge_is_delta_driven(spark, tmp_path):
    """Round-8: the post-compaction reader view merges deltas WITHOUT
    exploding the compacted base — touched docs leave via the map-only
    literal array rewrite and only delta-touched (term, seg) shards
    re-aggregate. Pinned: (a) no Generate anywhere in the physical plan
    (the old path exploded every base shard), (b) an untouched shard's
    row comes through with its array object untouched, (c) output stays
    identical to the full merge. Past literal_threshold the honest
    explode merge runs (same outputs)."""
    from solrtexttagger_spark.streaming.upsert_stream import (
        compact_upsert_segments,
        current_postings,
        merge_upsert_segments,
    )

    src, out, ckpt = (str(tmp_path / d) for d in ("psrc", "psegs", "pckpt"))
    _run_upsert_batch(
        spark,
        [(1, "hash join"), (2, "merge sort"), (5, "bloom bloom filter")],
        src, out, ckpt,
    )
    _run_upsert_batch(spark, [(1, "scan scan"), (2, None)], src, out, ckpt)
    compact_upsert_segments(spark, out, num_segments=2, force=True)
    # delta: update doc 1 again, add doc 4 — doc 5's shards untouched
    _run_upsert_batch(spark, [(1, "probe side"), (4, "window")],
                      src, out, ckpt)

    import contextlib
    import io

    def _plan(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    view = current_postings(spark, out, num_segments=2)
    plan = _plan(view)
    assert "Generate" not in plan  # nothing explodes the base
    assert "BroadcastExchange" in plan  # delta key set broadcasts
    full = _norm_postings(merge_upsert_segments(spark, out, num_segments=2))
    assert _norm_postings(view) == full
    # untouched term ('bloom', only in doc 5) survives bit-for-bit
    bloom = [r for r in view.collect() if r["term"] == "bloom"]
    assert len(bloom) == 1 and [p["doc_id"] for p in bloom[0]["postings"]] == [5]
    assert bloom[0]["cf_seg"] == 2
    # threshold 0: forced onto the explode merge path — same outputs
    big = current_postings(spark, out, num_segments=2, literal_threshold=0)
    assert _norm_postings(big) == full
    assert "Generate" in _plan(big)


def test_upsert_replay_exactly_once(spark, tmp_path):
    """A replayed micro-batch (restart from a checkpoint taken BEFORE
    the batch committed — the crash-between-write-and-commit window)
    re-runs with the SAME batch id onto idempotent batch={id}
    overwrites: the merged view, the compaction manifest and the
    compacted postings are identical."""
    import json as _json
    import os as _os
    import shutil as _shutil

    from solrtexttagger_spark.streaming.upsert_stream import (
        compact_upsert_segments,
        current_postings,
        merge_upsert_segments,
        upsert_index_stream,
    )

    src, out, ckpt = (str(tmp_path / d) for d in ("rsrc", "rsegs", "rckpt"))
    _run_upsert_batch(spark, [(1, "hash join"), (2, "merge sort")],
                      src, out, ckpt)
    # snapshot the checkpoint as it stood before batch 1 committed
    ckpt_replay = str(tmp_path / "rckpt_replay")
    _shutil.copytree(ckpt, ckpt_replay)
    _run_upsert_batch(spark, [(1, "scan scan"), (2, None)], src, out, ckpt)
    before = _norm_postings(merge_upsert_segments(spark, out, num_segments=2))
    compact_upsert_segments(spark, out, num_segments=2, force=True)
    man_before = _json.load(open(_os.path.join(out, "compacted",
                                               "manifest.json")))

    # restart from the stale checkpoint: batch 1 replays (same id, same
    # files) onto the already-written segment=1 / owners/batch=1 dirs
    schema = "doc_id long, text string"
    stream = spark.readStream.schema(schema).parquet(src)
    q = upsert_index_stream(stream, out, checkpoint_dir=ckpt_replay)
    q.awaitTermination(120)

    after = _norm_postings(merge_upsert_segments(spark, out, num_segments=2))
    assert after == before
    compact_upsert_segments(spark, out, num_segments=2, force=True)
    man_after = _json.load(open(_os.path.join(out, "compacted",
                                              "manifest.json")))
    assert man_after == man_before
    assert _norm_postings(current_postings(spark, out, num_segments=2)) == before
