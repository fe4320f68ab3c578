"""Codec roundtrips (property-based) + compressed-index equivalence +
block-max WAND rank-identity vs the exhaustive scorer, with proof that
pruning actually skips segments."""

import random

import numpy as np
import pytest
from pyspark.sql import functions as F
from hypothesis import given, settings, strategies as st

from solrtexttagger_spark.index.build import build_index
from solrtexttagger_spark.index.compressed import compress_index
from solrtexttagger_spark.index.compression import (
    decode_postings_block,
    encode_blocks,
    encode_positions_block,
    encode_postings_block,
    varint_decode,
    varint_encode,
)
from solrtexttagger_spark.search.bm25 import bm25_topk
from solrtexttagger_spark.search.wand import wand_topk


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**63 - 1), min_size=0, max_size=300
    )
)
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    enc = varint_encode(arr)
    dec = varint_decode(enc)
    assert dec.tolist() == arr.tolist()


@given(st.data())
@settings(max_examples=100, deadline=None)
def test_postings_block_roundtrip(data):
    n = data.draw(st.integers(min_value=0, max_value=200))
    doc_ids = sorted(
        data.draw(
            st.sets(st.integers(min_value=0, max_value=2**60), min_size=n, max_size=n)
        )
    )
    tfs = [data.draw(st.integers(min_value=1, max_value=1000)) for _ in range(n)]
    dls = [data.draw(st.integers(min_value=1, max_value=100000)) for _ in range(n)]
    blk = encode_postings_block(
        np.array(doc_ids, dtype=np.int64),
        np.array(tfs, dtype=np.int64),
        np.array(dls, dtype=np.int64),
    )
    d, t, l = decode_postings_block(blk)
    assert d.tolist() == doc_ids
    assert t.tolist() == tfs
    assert l.tolist() == dls


def test_compression_ratio():
    n = 10000
    doc_ids = np.cumsum(np.random.RandomState(7).randint(1, 50, n)).astype(np.int64)
    tfs = np.random.RandomState(8).randint(1, 5, n).astype(np.int64)
    dls = np.random.RandomState(9).randint(50, 500, n).astype(np.int64)
    blk = encode_postings_block(doc_ids, tfs, dls)
    raw = n * (8 + 4 + 4)  # int64 doc + int32 tf + int32 dl
    assert len(blk) < raw * 0.45, f"block {len(blk)}B vs raw {raw}B"



# ---- golden bytes: the block format must never drift ----

# (term, seg, [(doc_id, tf, dl, positions)]); "none" is an empty row
GOLDEN_SHARDS = [
    ("big", 0, [(3, 1, 7, [0]), (5, 2, 7, [1, 4]), (2**60 + 5, 300, 128, [0, 127])]),
    ("none", 1, []),
    ("split", 1, [(1, 1, 10, [2]), (4, 3, 9, [0, 5, 8]), (9, 1, 200, [199]),
                  (200, 2, 3, [0, 2]), (70000, 1, 5, [4])]),
    ("one", 2, [(2**62, 1, 1, [0])]),
]

# Blocks of GOLDEN_SHARDS as the per-shard encoder wrote them before the
# batch kernel existed, keyed by max_block_postings: (term, seg, blk,
# df_seg, cf_seg, max_tf, min_dl, block hex, pos_block hex). "big" has a
# doc-id delta of 2**60 (a 9-byte varint) and tf 300 (2 bytes); "none"
# emits no block.
GOLDEN_BLOCKS = {
    None: [
        ("big", 0, 0, 3, 303, 300, 7, "0303028080808080808080100102ac0207078001",
         "03010202000103007f"),
        ("split", 1, 0, 5, 8, 3, 3, "05010305bf01a8a10401030102010a09c8010305",
         "05010301020102000503c701000204"),
        ("one", 2, 0, 1, 1, 1, 1, "018080808080808080400101", "010100"),
    ],
    2: [
        ("big", 0, 0, 2, 3, 2, 7, "02030201020707", "020102000103"),
        ("big", 0, 1, 1, 300, 300, 128, "01858080808080808010ac028001", "0102007f"),
        ("split", 1, 0, 2, 4, 3, 9, "02010301030a09", "02010302000503"),
        ("split", 1, 1, 2, 3, 2, 3, "0209bf010102c80103", "020102c7010002"),
        ("split", 1, 2, 1, 1, 1, 5, "01f0a2040105", "010104"),
        ("one", 2, 0, 1, 1, 1, 1, "018080808080808080400101", "010100"),
    ],
}


def _flat_shards(shards):
    """-> (offsets, doc_ids, tfs, dls, (pos_offsets, positions)) as the
    compress_index Arrow glue hands them to encode_blocks."""
    posts = [p for _, _, ps in shards for p in ps]
    offsets = np.r_[0, np.cumsum([len(ps) for _, _, ps in shards])]
    pos_offsets = np.r_[0, np.cumsum([len(p[3]) for p in posts])]
    col = lambda i, dt: np.array([p[i] for p in posts], dtype=dt)
    flat = np.array([x for p in posts for x in p[3]], dtype=np.int32)
    return (offsets, col(0, np.int64), col(1, np.int32), col(2, np.int32),
            (pos_offsets, flat))


def _block_rows(shards, enc):
    """Kernel output as GOLDEN_BLOCKS-shaped tuples."""
    def hexes(offsets, data, i):
        return data[offsets[i]:offsets[i + 1]].tobytes().hex()

    return [
        (shards[s][0], shards[s][1], int(enc.blk[i]), int(enc.df_seg[i]),
         int(enc.cf_seg[i]), int(enc.max_tf[i]), int(enc.min_dl[i]),
         hexes(enc.offsets, enc.data, i), hexes(enc.pos_offsets, enc.pos_data, i))
        for i, s in enumerate(enc.shard)
    ]


@pytest.mark.parametrize("mbp", [None, 2])
def test_encode_blocks_golden_bytes(mbp):
    offsets, d, t, l, pos = _flat_shards(GOLDEN_SHARDS)
    enc = encode_blocks(offsets, d, t, l, max_block_postings=mbp, positions=pos)
    assert _block_rows(GOLDEN_SHARDS, enc) == GOLDEN_BLOCKS[mbp]


def test_one_shard_encoders_golden_bytes():
    for (term, *_, blk_hex, pos_hex), (_, _, ps) in zip(
        GOLDEN_BLOCKS[None], [s for s in GOLDEN_SHARDS if s[2]]
    ):
        cols = [np.array([p[i] for p in ps]) for i in range(3)]
        assert encode_postings_block(*cols).hex() == blk_hex, term
        assert encode_positions_block([p[3] for p in ps]).hex() == pos_hex, term
    assert encode_postings_block([], [], []) == encode_positions_block([]) == b"\x00"


@pytest.mark.parametrize("mbp", [None, 2])
@pytest.mark.parametrize("with_positions", [False, True])
@pytest.mark.parametrize("slice_postings", [1, 4, 1 << 20])
def test_encode_batches_golden_bytes(mbp, with_positions, slice_postings):
    """The mapInArrow glue (list offsets + child columns -> kernel ->
    BinaryArray), including a batch cut into several kernel slices."""
    import pyarrow as pa

    from solrtexttagger_spark.index.compressed import (
        BLOCK_SCHEMA, POS_BLOCK_SCHEMA, encode_batches,
    )

    elem = pa.struct([("doc_id", pa.int64()), ("tf", pa.int32()), ("dl", pa.int32()),
                      ("positions", pa.list_(pa.int32()))])
    # a sliced input batch (its list offsets do not start at 0), the
    # way Arrow hands over a batch cut from a larger buffer
    shards = GOLDEN_SHARDS * 2
    batch = pa.RecordBatch.from_pydict({
        "term": pa.array([t for t, _, _ in shards]),
        "seg": pa.array([s for _, s, _ in shards], pa.int32()),
        "postings": pa.array(
            [[dict(zip(("doc_id", "tf", "dl", "positions"), p)) for p in ps]
             for _, _, ps in shards],
            pa.list_(elem),
        ),
    }).slice(len(GOLDEN_SHARDS))
    out = pa.Table.from_batches(
        list(encode_batches([batch], mbp, with_positions, slice_postings))
    )
    schema = POS_BLOCK_SCHEMA if with_positions else BLOCK_SCHEMA
    assert out.column_names == schema.fieldNames()
    got = [tuple(r.values()) for r in out.to_pylist()]
    want = [
        row[:7] + (bytes.fromhex(row[7]),)
        + ((bytes.fromhex(row[8]),) if with_positions else ())
        for row in GOLDEN_BLOCKS[mbp]
    ]
    assert got == want



def test_compress_index_golden_bytes(spark):
    """End to end through Spark's mapInArrow and the seg exchange."""
    from solrtexttagger_spark.index.build import InvertedIndex

    postings = spark.createDataFrame(
        [(t, s, ps) for t, s, ps in GOLDEN_SHARDS],
        "term string, seg int, "
        "postings array<struct<doc_id:bigint,tf:int,dl:int,positions:array<int>>>",
    )
    idx = InvertedIndex(postings=postings, term_stats=None, doc_count=9,
                        num_segments=3)
    blocks = compress_index(idx, max_block_postings=2, with_positions=True).blocks
    got = sorted(
        tuple(r[:7]) + (bytes(r["block"]).hex(), bytes(r["pos_block"]).hex())
        for r in blocks.collect()
    )
    assert got == sorted(GOLDEN_BLOCKS[2])

@given(st.data())
@settings(max_examples=100, deadline=None)
def test_encode_blocks_equals_per_shard(data):
    """One batch-kernel call == encoding every shard (and every
    max_block_postings chunk of it) on its own."""
    shards = []
    for _ in range(data.draw(st.integers(min_value=0, max_value=6))):
        ids = sorted(data.draw(st.sets(
            st.integers(min_value=0, max_value=2**62), max_size=12)))
        shards.append(("t", 0, [
            (d,
             data.draw(st.integers(min_value=1, max_value=2**20)),
             data.draw(st.integers(min_value=1, max_value=2**20)),
             sorted(data.draw(st.sets(st.integers(min_value=0, max_value=5000),
                                      min_size=1, max_size=5))))
            for d in ids
        ]))
    mbp = data.draw(st.sampled_from([None, 1, 2, 5]))
    offsets, d, t, l, pos = _flat_shards(shards)
    enc = encode_blocks(offsets, d, t, l, max_block_postings=mbp, positions=pos)
    want = []
    for _, _, ps in shards:
        step = mbp or len(ps) or 1
        for blk, lo in enumerate(range(0, len(ps), step)):
            chunk = ps[lo:lo + step]
            tfs = [p[1] for p in chunk]
            want.append((
                "t", 0, blk, len(chunk), sum(tfs), max(tfs), min(p[2] for p in chunk),
                encode_postings_block(*[np.array([p[i] for p in chunk]) for i in range(3)]).hex(),
                encode_positions_block([p[3] for p in chunk]).hex(),
            ))
    assert _block_rows(shards, enc) == want

# ---- Spark-level: compressed index + WAND ----

def _random_corpus(n_docs=300, vocab=120, seed=11):
    rng = random.Random(seed)
    words = [f"w{i}" for i in range(vocab)]
    # zipf-ish skew: low ids much more frequent (stopword-grade)
    docs = []
    for d in range(n_docs):
        ln = rng.randint(5, 60)
        toks = [words[min(int(rng.paretovariate(1.1)) - 1, vocab - 1)] for _ in range(ln)]
        docs.append((d, " ".join(toks)))
    return docs


@pytest.fixture(scope="module")
def corpus_index(spark):
    docs = _random_corpus()
    df = spark.createDataFrame(docs, "doc_id long, text string")
    idx = build_index(df, num_segments=8)
    idx.postings.persist().count()
    return idx


def test_compressed_matches_uncompressed(spark, corpus_index):
    c = compress_index(corpus_index)
    rows = {(r["term"], r["seg"]): r for r in c.blocks.collect()}
    raw = {(r["term"], r["seg"]): r for r in corpus_index.postings.collect()}
    assert set(rows) == set(raw)
    for key, r in rows.items():
        doc_ids, tfs, dls = decode_postings_block(bytes(r["block"]))
        expected = sorted((p["doc_id"], p["tf"], p["dl"]) for p in raw[key]["postings"])
        assert list(zip(doc_ids.tolist(), tfs.tolist(), dls.tolist())) == expected
        assert r["max_tf"] == max(t for _, t, _ in expected)
        assert r["min_dl"] == min(l for _, _, l in expected)


@pytest.mark.parametrize("local_threshold", [0, 100_000], ids=["distributed", "local"])
def test_wand_rank_identical_to_exhaustive(spark, corpus_index, local_threshold):
    c = compress_index(corpus_index)
    c.blocks.persist().count()
    queries = [
        (0, "w0 w1"),
        (1, "w5 w40 w80"),
        (2, "w100 w0"),
        (3, "w7 w7 w13"),
        (4, "zzz"),
    ]
    stats = {}
    got = wand_topk(c, queries, k=10, spark=spark, prune_stats=stats,
                    local_threshold_postings=local_threshold)
    exp = bm25_topk(corpus_index, queries, k=10, spark=spark)

    def norm(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], []).append(
                (r["rank"], r["doc_id"], round(r["score"], 9))
            )
        return {q: sorted(v) for q, v in out.items()}

    a, b = norm(got), norm(exp)
    assert set(a) == set(b)
    for q in a:
        assert [x[1] for x in a[q]] == [x[1] for x in b[q]], f"q{q} doc order"
        for (_, _, sa), (_, _, sb) in zip(a[q], b[q]):
            assert sa == pytest.approx(sb, abs=1e-9)

    # sound pruning never scores more than the metadata admits
    assert stats["segments_scored"] <= stats["segments_total"], stats


def test_wand_caches_bounded(spark, corpus_index, monkeypatch):
    """The driver-side warm-searcher caches reset wholesale at the cap
    instead of growing with the workload vocabulary, and results stay
    identical across the reset."""
    import solrtexttagger_spark.search.wand as wmod

    c = compress_index(corpus_index)
    c.blocks.persist().count()
    monkeypatch.setattr(wmod, "WAND_META_CACHE_MAX_TERMS", 3)
    monkeypatch.setattr(wmod, "WAND_BLOCK_CACHE_MAX_TERMS", 3)
    first = wand_topk(c, [(0, "w0 w1")], k=5, spark=spark,
                      local_threshold_postings=100_000).collect()
    # new vocabulary exceeding the cap forces a whole-cache reset
    wand_topk(c, [(1, "w5 w40 w80")], k=5, spark=spark,
              local_threshold_postings=100_000).collect()
    per_kb = next(iter(c._wand_meta.values()))
    assert len(per_kb) <= 3
    assert len(c._wand_blocks) <= 3
    # re-running the first query after the reset is value-identical
    again = wand_topk(c, [(0, "w0 w1")], k=5, spark=spark,
                      local_threshold_postings=100_000).collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, again))


def test_wand_pruning_skips_segments(spark):
    """Deterministic skew: one document dominates the score range, so every
    segment whose block-max can't beat it must be skipped un-decoded."""
    docs = [(d, "common " + " ".join(f"f{d}_{i}" for i in range(9))) for d in range(64)]
    docs.append((999, " ".join(["common"] * 50)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    idx = build_index(df, num_segments=8)
    c = compress_index(idx)
    c.blocks.persist().count()

    stats = {}
    got = wand_topk(c, [(0, "common")], k=1, spark=spark, prune_stats=stats,
                    local_threshold_postings=0)
    rows = got.collect()
    assert [(r["rank"], r["doc_id"]) for r in rows] == [(1, 999)]
    assert stats["segments_scored"] < stats["segments_total"], stats

    # and identical to the exhaustive scorer
    exp = bm25_topk(idx, [(0, "common")], k=1, spark=spark).collect()
    assert [(r["rank"], r["doc_id"]) for r in exp] == [(1, 999)]


def test_local_searcher_rank_identical(spark, corpus_index):
    from solrtexttagger_spark.search.wand import LocalSearcher

    c = compress_index(corpus_index)
    searcher = LocalSearcher(c)
    queries = [(0, "w0 w1"), (1, "w5 w40 w80"), (2, "zzz")]
    exp = {}
    for r in bm25_topk(corpus_index, queries, k=10, spark=spark).collect():
        exp.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, q in queries:
        got = searcher.search(q, k=10)
        want = sorted(exp.get(qid, []))
        assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in want]
        for (_, _, sa), (_, _, sb) in zip(got, want):
            assert sa == pytest.approx(sb, abs=1e-9)


def test_multi_block_shards(spark, corpus_index):
    """max_block_postings splits shards into multiple blocks; reassembly
    matches the single-block layout and WAND stays rank-identical."""
    c1 = compress_index(corpus_index)
    cm = compress_index(corpus_index, max_block_postings=7)

    def reassemble(ci):
        out = {}
        for r in ci.blocks.collect():
            d, t, l = decode_postings_block(bytes(r["block"]))
            key = (r["term"], r["seg"])
            out.setdefault(key, []).append(
                (r["blk"], list(zip(d.tolist(), t.tolist(), l.tolist())))
            )
        return {
            k: [p for _, chunk in sorted(v) for p in chunk] for k, v in out.items()
        }

    a, b = reassemble(c1), reassemble(cm)
    assert a == b
    # at least one shard actually split
    assert any(r["blk"] > 0 for r in cm.blocks.collect())

    cm.blocks.persist().count()
    queries = [(0, "w0 w1"), (1, "w5 w40 w80")]
    stats = {}
    got = wand_topk(cm, queries, k=10, spark=spark, prune_stats=stats,
                    local_threshold_postings=0)
    exp = bm25_topk(corpus_index, queries, k=10, spark=spark)
    key = lambda r: (r["query_id"], r["rank"], r["doc_id"])
    assert sorted(map(key, got.collect())) == sorted(map(key, exp.collect()))

    # local path too
    got2 = wand_topk(cm, queries, k=10, spark=spark)
    assert sorted(map(key, got2.collect())) == sorted(map(key, exp.collect()))


def test_local_searcher_rejects_mismatched_params(spark, corpus_index):
    from solrtexttagger_spark.search.wand import LocalSearcher

    c = compress_index(corpus_index)
    searcher = LocalSearcher(c, k1=1.2, b=0.75)
    searcher.search("w0", k=3, k1=1.2, b=0.75)  # matching values: fine
    with pytest.raises(ValueError):
        searcher.search("w0", k=3, k1=0.9)
    with pytest.raises(ValueError):
        searcher.search("w0", k=3, b=0.5)


def test_wand_intra_segment_block_skipping(spark):
    """Multi-block shards + per-block bounds: phase-2 must skip decoding
    blocks whose bound can't reach theta, while staying rank-identical."""
    # several equally-dominant docs spread over segments: phase-2 must score
    # the other strong segments (their shard bound beats theta), and inside
    # them the weak low-tf blocks are provably below theta -> skipped
    docs = [(d, "common " + " ".join(f"f{d}_{i}" for i in range(9))) for d in range(96)]
    strong = " ".join(["common"] * 50)
    docs += [(996, strong), (997, strong), (998, strong), (999, strong)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    idx = build_index(df, num_segments=4)
    c = compress_index(idx, max_block_postings=4)  # many blocks per shard
    c.blocks.persist().count()

    stats = {}
    got = wand_topk(c, [(0, "common")], k=1, spark=spark, prune_stats=stats,
                    local_threshold_postings=0)
    rows = got.collect()  # materialize -> accumulators populate
    assert [(r["rank"], r["doc_id"]) for r in rows] == [(1, 996)]  # tie -> min id
    skipped = stats["blocks_skipped_acc"].value
    total = stats["blocks_total_acc"].value
    assert total > 0 and skipped > 0, (total, skipped)

    exp = bm25_topk(idx, [(0, "common")], k=1, spark=spark).collect()
    assert [(r["rank"], r["doc_id"]) for r in exp] == [(1, 996)]
    c.blocks.unpersist()


def test_wand_theta_tightening_round(spark):
    """theta_rounds=2 must stay rank-identical while scoring no MORE
    segments than the single-round pruning (tighter theta can only drop)."""
    # score mass concentrated in a few docs; many weak segments
    docs = [(d, "common " + " ".join(f"g{d}_{i}" for i in range(9))) for d in range(128)]
    strong = " ".join(["common"] * 40)
    docs += [(990 + j, strong) for j in range(6)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    idx = build_index(df, num_segments=16)
    c = compress_index(idx)
    c.blocks.persist().count()

    queries = [(0, "common"), (1, "common g5_1")]
    s1, s2 = {}, {}
    a = wand_topk(c, queries, k=3, spark=spark, prune_stats=s1,
                  local_threshold_postings=0).collect()
    b = wand_topk(c, queries, k=3, spark=spark, prune_stats=s2,
                  local_threshold_postings=0, theta_rounds=2).collect()
    norm = lambda rows: sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9)) for r in rows)
    assert norm(a) == norm(b)
    assert s2["segments_scored"] <= s1["segments_scored"], (s1, s2)
    c.blocks.unpersist()


def test_wand_tightening_adaptive_gate(spark):
    """theta_rounds=2 (the default) must be FREE on flat workloads: when
    every candidate segment's bound clusters near the ceiling, a tighter
    theta provably cannot prune, so the extra round is skipped
    (tightened_queries == 0). On a concentrated corpus the gate fires."""
    # flat: statistically identical segments, stopword-grade term
    flat = spark.createDataFrame(
        [(d, "common " + " ".join(f"f{d}_{i}" for i in range(9))) for d in range(256)],
        "doc_id long, text string",
    )
    c_flat = compress_index(build_index(flat, num_segments=16))
    c_flat.blocks.persist().count()
    s_flat = {}
    out_flat = wand_topk(
        c_flat, [(0, "common")], k=3, spark=spark, prune_stats=s_flat,
        local_threshold_postings=0,
    ).collect()
    assert s_flat["tightened_queries"] == 0, s_flat
    # rank identity preserved vs exhaustive
    exp = bm25_topk(
        build_index(flat, num_segments=16), [(0, "common")], k=3, spark=spark
    ).collect()
    norm = lambda rows: [(r["rank"], r["doc_id"]) for r in sorted(rows, key=lambda r: r["rank"])]
    assert norm(out_flat) == norm(exp)
    c_flat.blocks.unpersist()

    # adversarial-to-phase-1 corpus: ONE dominant doc (so theta_phase1 comes
    # from weak docs and prunes nothing), a band of medium docs spread over
    # segments, many weak segments -> the candidate list stays long with
    # spread-out bounds, exactly where tightening pays -> gate fires
    docs = [(d, "common " + " ".join(f"g{d}_{i}" for i in range(9))) for d in range(200)]
    docs += [(900 + j, " ".join(["common"] * (12 + 2 * j))) for j in range(5)]
    docs += [(999, " ".join(["common"] * 60))]
    conc = spark.createDataFrame(docs, "doc_id long, text string")
    c_conc = compress_index(build_index(conc, num_segments=16))
    c_conc.blocks.persist().count()
    s_conc = {}
    wand_topk(
        c_conc, [(0, "common")], k=3, spark=spark, prune_stats=s_conc,
        local_threshold_postings=0,
    ).collect()
    assert s_conc["tightened_queries"] >= 1, s_conc
    assert s_conc["segments_scored"] < s_conc["segments_total"], s_conc
    c_conc.blocks.unpersist()


def test_local_searcher_fails_fast_on_huge_index(spark, corpus_index):
    """Warming a whole huge index driver-side must fail BEFORE the collect,
    pointing at terms= (round-2 verdict nit)."""
    from solrtexttagger_spark.search.wand import LocalSearcher

    c = compress_index(corpus_index)
    with pytest.raises(ValueError, match="terms="):
        LocalSearcher(c, max_blocks=1)
    # warming an explicit subset bypasses the guard regardless of size
    s = LocalSearcher(c, terms=["w0"], max_blocks=1)
    assert s.search("w0", k=1)


def test_local_searcher_boolean_rank_identical(spark, corpus_index):
    """Warm-path boolean /select: rank/score-identical to the distributed
    boolean_bm25_topk for +/-/field: clauses; phrase clauses raise (no
    positions driver-side)."""
    from solrtexttagger_spark.search.boolean import boolean_bm25_topk
    from solrtexttagger_spark.search.wand import LocalSearcher

    c = compress_index(corpus_index)
    searcher = LocalSearcher(c)
    queries = [
        (0, "+w0 w1"),
        (1, "w5 -w0 w80"),
        (2, "+w0 +w1 -w40"),
        (3, "text:w5"),
        (4, "+zzz w0"),   # MUST term absent from index -> empty
    ]
    exp = {}
    for r in boolean_bm25_topk(
        corpus_index, queries, k=10, field="text", spark=spark
    ).collect():
        exp.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, q in queries:
        got = searcher.search_boolean(q, k=10, field="text")
        want = sorted(exp.get(qid, []))
        assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in want], (qid, q)
        for (_, _, sa), (_, _, sb) in zip(got, want):
            assert sa == pytest.approx(sb, abs=1e-9)
    with pytest.raises(NotImplementedError):
        searcher.search_boolean('+"w0 w1"')


def test_local_searcher_boolean_phrases(spark, corpus_index):
    """Phrase clauses at the serving layer: a positional warm-up makes
    search_boolean rank-identical to the distributed boolean_bm25_topk
    on quoted-phrase queries too."""
    from solrtexttagger_spark.search.boolean import boolean_bm25_topk
    from solrtexttagger_spark.search.wand import LocalSearcher

    c = compress_index(corpus_index)
    plain = LocalSearcher(c)
    with pytest.raises(NotImplementedError):
        plain.search_boolean('+"w0 w1"')
    searcher = LocalSearcher(c, positional_index=corpus_index)
    queries = [
        (0, '+"w0 w1"'),
        (1, 'w5 -"w0 w1"'),
        (2, '+w40 +"w5 w40"'),
    ]
    exp = {}
    for r in boolean_bm25_topk(corpus_index, queries, k=10, spark=spark).collect():
        exp.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    nonempty = 0
    for qid, q in queries:
        got = searcher.search_boolean(q, k=10)
        want = sorted(exp.get(qid, []))
        assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in want], (qid, q)
        for (_, _, sa), (_, _, sb) in zip(got, want):
            assert sa == pytest.approx(sb, abs=1e-9)
        nonempty += bool(got)
    assert nonempty >= 1  # at least one phrase query actually matched


def test_positions_block_roundtrip_and_split(spark, corpus_index):
    """with_positions: the pos_block column decodes back to the exact
    per-(term, doc) position lists of the uncompressed index, including
    under multi-block shard splitting."""
    from solrtexttagger_spark.index.compression import decode_positions_block
    import numpy as np
    from pyspark.sql import functions as F

    want = {}
    for r in (
        corpus_index.postings.select(
            "term", F.explode("postings").alias("p")
        ).select("term", "p.doc_id", "p.positions")
    ).collect():
        want[(r["term"], r["doc_id"])] = list(r["positions"])
    for mbp in (None, 3):
        c = compress_index(corpus_index, max_block_postings=mbp, with_positions=True)
        got = {}
        for r in c.blocks.select("term", "block", "pos_block").collect():
            doc_ids, _tf, _dl = decode_postings_block(bytes(r["block"]))
            counts, flat = decode_positions_block(bytes(r["pos_block"]))
            for d, parr in zip(doc_ids, np.split(flat, np.cumsum(counts))[:-1]):
                got[(r["term"], int(d))] = parr.tolist()
        assert got == want, f"mismatch at max_block_postings={mbp}"
    # WAND path untouched by the extra column
    out = wand_topk(c, [(0, "w0 w1")], k=5, spark=spark).collect()
    assert out


def test_local_searcher_phrases_from_compressed(spark, corpus_index):
    """Self-contained compressed serving: positions=True warms phrase
    support straight from pos_block rows — identical results to the
    uncompressed positional_index warm-up."""
    from solrtexttagger_spark.search.wand import LocalSearcher

    c = compress_index(corpus_index, with_positions=True)
    a = LocalSearcher(c, positions=True)
    b = LocalSearcher(c, positional_index=corpus_index)
    for q in ('+"w0 w1"', 'w5 -"w0 w1"', '+w40 +"w5 w40"'):
        assert a.search_boolean(q, k=10) == b.search_boolean(q, k=10), q
    # plain compressed index: positions=True is an explicit error
    c0 = compress_index(corpus_index)
    with pytest.raises(ValueError):
        LocalSearcher(c0, positions=True)


def test_wand_cache_reset_keeps_inflight_query(spark, corpus_index, monkeypatch):
    """Round-5 advice (medium): a query whose terms are PARTIALLY cached
    must survive a cap-triggered reset — the reset drops its pre-cached
    terms, so the fetch list is recomputed to ALL its terms (previously a
    KeyError on the first overflow query in a long-lived driver)."""
    import solrtexttagger_spark.search.wand as wmod

    c = compress_index(corpus_index)
    c.blocks.persist().count()
    monkeypatch.setattr(wmod, "WAND_META_CACHE_MAX_TERMS", 3)
    monkeypatch.setattr(wmod, "WAND_BLOCK_CACHE_MAX_TERMS", 3)
    # warm w0, w1
    wand_topk(c, [(0, "w0 w1")], k=5, spark=spark,
              local_threshold_postings=100_000).collect()
    # w0 is cached, three new terms overflow the cap -> reset mid-query
    got = wand_topk(c, [(1, "w0 w5 w40 w80")], k=5, spark=spark,
                    local_threshold_postings=100_000).collect()
    exp = bm25_topk(corpus_index, [(1, "w0 w5 w40 w80")], k=5, spark=spark).collect()
    key = lambda r: (r["query_id"], r["rank"], r["doc_id"])
    assert sorted(map(key, got)) == sorted(map(key, exp))
    # distributed path exercises the meta cache the same way
    wand_topk(c, [(2, "w1 w7")], k=5, spark=spark,
              local_threshold_postings=0).collect()
    got2 = wand_topk(c, [(3, "w1 w13 w100 w40")], k=5, spark=spark,
                     local_threshold_postings=0).collect()
    exp2 = bm25_topk(corpus_index, [(3, "w1 w13 w100 w40")], k=5, spark=spark).collect()
    assert sorted(map(key, got2)) == sorted(map(key, exp2))


def test_local_searcher_warm_subset_raises_outside(spark, corpus_index):
    """Round-5 advice: a term outside the terms= warm-up subset is UNKNOWN,
    not absent — serving it would silently wrong-empty (MUST/phrase) or
    wrong-keep (MUST_NOT), so every such lookup raises instead."""
    from solrtexttagger_spark.search.wand import LocalSearcher

    c = compress_index(corpus_index, with_positions=True)
    s = LocalSearcher(c, terms=["w0", "w1", "w5"], positions=True)
    # inside the subset: serves fine
    assert s.search("w0 w1", k=3)
    assert s.search_boolean("+w0 w5", k=3)
    # plain search, boolean MUST / SHOULD / MUST_NOT, and phrase tokens
    with pytest.raises(ValueError, match="warm-up subset"):
        s.search("w0 w40", k=3)
    with pytest.raises(ValueError, match="warm-up subset"):
        s.search_boolean("+w40 w0", k=3)
    with pytest.raises(ValueError, match="warm-up subset"):
        s.search_boolean("w0 w40", k=3)
    with pytest.raises(ValueError, match="warm-up subset"):
        s.search_boolean("+w0 -w40", k=3)
    with pytest.raises(ValueError, match="warm-up subset"):
        s.search_boolean('+"w0 w40"', k=3)
    # a term genuinely absent from the index on a FULLY warmed searcher
    # still serves (empty / unfiltered is then correct, not ambiguous)
    full = LocalSearcher(c)
    assert full.search("zzz", k=3) == []
    assert full.search_boolean("+zzz", k=3) == []


def test_wand_fq_and_pagination_rank_identical(spark, corpus_index):
    """fq (allowed_docs, cogrouped by the index's own segment hash) and
    start (absolute-rank paging) on the WAND path are rank/score-identical
    to the exhaustive scorer under the same filter/offset — pruning stays
    sound because θ derives from FILTERED phase-1 scores and a doc subset
    only removes candidates under unchanged bounds."""
    c = compress_index(corpus_index)
    c.blocks.persist().count()
    queries = [(0, "w0 w1"), (1, "w5 w40 w80"), (2, "w7 w7 w13")]
    spark_allowed = (
        corpus_index.postings.sparkSession.range(0, 300)
        .select((F.col("id") * 3).alias("doc_id"))  # every 3rd doc allowed
        .where(F.col("doc_id") < 300)
    )
    key = lambda r: (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
    for st in (0, 5):
        got = wand_topk(
            c, queries, k=7, spark=spark, allowed_docs=spark_allowed, start=st,
        ).collect()
        exp = bm25_topk(
            corpus_index, queries, k=7, spark=spark,
            allowed_docs=spark_allowed, start=st,
        ).collect()
        assert sorted(map(key, got)) == sorted(map(key, exp)), f"start={st}"
        assert all(r["doc_id"] % 3 == 0 for r in got)
        assert all(r["rank"] > st for r in got)
    # pagination without fq, distributed AND local path
    for thr in (0, 100_000):
        got = wand_topk(
            c, queries, k=5, spark=spark, start=3, local_threshold_postings=thr
        ).collect()
        exp = bm25_topk(corpus_index, queries, k=5, spark=spark, start=3).collect()
        assert sorted(map(key, got)) == sorted(map(key, exp)), f"thr={thr}"


def test_local_searcher_fq_and_start(spark, corpus_index):
    """Serving-path fq: LocalSearcher takes a precomputed doc-id set (the
    Solr filterCache analogue) and pages with absolute ranks — identical
    to wand_topk under the same allowed_docs/start."""
    from solrtexttagger_spark.search.wand import LocalSearcher

    c = compress_index(corpus_index, with_positions=True)
    s = LocalSearcher(c, positions=True)
    allowed_ids = set(range(0, 300, 3))
    spark_allowed = spark.createDataFrame(
        [(i,) for i in sorted(allowed_ids)], "doc_id long"
    )
    for q in ("w0 w1", "w5 w40 w80"):
        got = s.search(q, k=7, allowed_docs=allowed_ids)
        exp = [
            (r["rank"], r["doc_id"], r["score"])
            for r in wand_topk(
                c, [(0, q)], k=7, spark=spark, allowed_docs=spark_allowed
            ).collect()
        ]
        assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in sorted(exp)]
        for (_, _, sa), (_, _, sb) in zip(got, sorted(exp)):
            assert sa == pytest.approx(sb, abs=1e-9)
        # start pages past the head with absolute ranks
        full = s.search(q, k=10, allowed_docs=allowed_ids)
        page2 = s.search(q, k=3, allowed_docs=allowed_ids, start=3)
        assert page2 == full[3:6]
    # boolean serving path honors the same set
    bfull = s.search_boolean("+w0 w1", k=10, allowed_docs=allowed_ids)
    assert all(d in allowed_ids for _, d, _ in bfull)
    assert s.search_boolean("+w0 w1", k=4, allowed_docs=allowed_ids, start=2) == bfull[2:6]


def test_compressed_index_save_load_roundtrip(spark, corpus_index, tmp_path):
    """build -> compress -> save; load -> WAND / LocalSearcher with
    identical results (incl. positional phrase serving) — the compressed
    serving deployment needs no uncompressed index at query time."""
    from solrtexttagger_spark.index.compressed import (
        load_compressed,
        save_compressed,
    )
    from solrtexttagger_spark.search.wand import LocalSearcher

    c = compress_index(corpus_index, max_block_postings=7, with_positions=True)
    path = str(tmp_path / "cindex")
    manifest = save_compressed(c, path)
    assert manifest["with_positions"] and manifest["format"] == "stt-cindex-v1"
    c2 = load_compressed(spark, path)
    assert (c2.doc_count, c2.num_segments) == (c.doc_count, c.num_segments)
    assert c2.avgdl == pytest.approx(c.avgdl)
    queries = [(0, "w0 w1"), (1, "w5 w40 w80")]
    key = lambda r: (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
    a = sorted(map(key, wand_topk(c, queries, k=10, spark=spark).collect()))
    b = sorted(map(key, wand_topk(c2, queries, k=10, spark=spark).collect()))
    assert a == b
    s1, s2 = LocalSearcher(c, positions=True), LocalSearcher(c2, positions=True)
    for q in ("w0 w1", '+w5 -"w0 w1"'):
        assert s1.search_boolean(q, k=10) == s2.search_boolean(q, k=10)
    # a non-positional save round-trips without the pos column
    c0 = compress_index(corpus_index)
    p0 = str(tmp_path / "cindex0")
    assert not save_compressed(c0, p0)["with_positions"]
    assert "pos_block" not in load_compressed(spark, p0).blocks.columns
    with pytest.raises(ValueError):
        import json, os
        bad = str(tmp_path / "bad"); os.makedirs(bad)
        json.dump({"format": "nope"}, open(os.path.join(bad, "cindex_manifest.json"), "w"))
        load_compressed(spark, bad)


def test_local_searcher_prepared_filter(spark, corpus_index):
    """prepare_filter resolves the fq set once (the filterCache step);
    the prepared array serves identically to the raw set."""
    from solrtexttagger_spark.search.wand import LocalSearcher

    c = compress_index(corpus_index)
    s = LocalSearcher(c)
    raw = set(range(0, 300, 3))
    prep = LocalSearcher.prepare_filter(raw)
    for q in ("w0 w1", "w5 w40"):
        assert s.search(q, k=7, allowed_docs=prep) == s.search(q, k=7, allowed_docs=raw)
    assert s.search_boolean("+w0 w1", k=5, allowed_docs=prep) == s.search_boolean(
        "+w0 w1", k=5, allowed_docs=raw
    )
