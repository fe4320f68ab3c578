"""The per-index term dictionary (index/termdict.py): equal entries from
postings and from blocks, sharing between an index and its compressed
form, fresh dictionaries on every derived index, and index classes that
take no ad hoc attribute."""

import dataclasses

import numpy as np
import pytest

from solrtexttagger_spark.index.build import InvertedIndex, build_index
from solrtexttagger_spark.index.compression import bm25_upper_bound
from solrtexttagger_spark.index.compressed import (
    CompressedIndex,
    compress_index,
    load_compressed,
    save_compressed,
)
from solrtexttagger_spark.index.termdict import TermDictionary
from solrtexttagger_spark.search.bm25 import bm25_topk, warm_df_cache
from solrtexttagger_spark.search.wand import wand_topk
from tests.conftest import _build_jobs

DOCS = [
    (d, " ".join(f"w{(d * 7 + i * 3) % 23}" for i in range(3 + d % 9)))
    for d in range(60)
]
TERMS = [f"w{i}" for i in range(23)] + ["zzz"]


@pytest.fixture(scope="module")
def index(spark):
    idx = build_index(spark.createDataFrame(DOCS, "doc_id long, text string"), num_segments=4)
    idx.postings.persist().count()
    yield idx
    idx.postings.unpersist()


@pytest.mark.parametrize("max_block_postings", [None, 3], ids=["one-block", "mb3"])
def test_postings_entries_equal_blocks_entries(index, max_block_postings):
    """Postings and blocks give equal df entries; a bounds lookup gives
    the same df entry plus bounds whose max per shard equals the max of
    the shard's own block bounds, bit for bit."""
    c = compress_index(index, max_block_postings=max_block_postings)
    if max_block_postings:  # the layout really splits shards
        assert c.blocks.where("blk > 0").count()
    from_postings = TermDictionary().lookup(index.postings, TERMS)
    from_blocks = TermDictionary().lookup(c.blocks, TERMS)
    with_bounds = TermDictionary().lookup(c.blocks, TERMS, bounds=True)
    assert from_postings["zzz"].df is None and from_postings["w0"].df
    for t in TERMS:
        p = from_postings[t]
        if p.df is not None:  # absent terms hold empty bounds
            assert p.bounds is None and from_blocks[t].bounds is None, t
        for b in (from_blocks[t], with_bounds[t]):
            assert p.df == b.df, t
            for name in ("seg", "df_seg"):
                x, y = getattr(p, name), getattr(b, name)
                assert x.dtype == y.dtype and np.array_equal(x, y), (t, name)
    avgdl, k1, b = 2.7, 1.2, 0.75
    want: dict = {}
    for r in c.blocks.select("term", "seg", "max_tf", "min_dl").collect():
        f = bm25_upper_bound(r["max_tf"], r["min_dl"], avgdl, k1, b)
        want[(r["term"], r["seg"])] = max(f, want.get((r["term"], r["seg"]), f))
    got: dict = {}
    for t, e in with_bounds.items():
        assert np.array_equal(np.unique(e.bounds.seg), e.seg), t
        for s, mtf, mdl in zip(*(a.tolist() for a in e.bounds)):
            f = bm25_upper_bound(mtf, mdl, avgdl, k1, b)
            got[(t, s)] = max(f, got.get((t, s), f))
    assert got == want


def test_exploded_lookup_serves_wand(spark, index):
    """compress_index shares the source index's dictionary: after an
    exploded bm25_topk on the source index, a driver-local wand_topk on
    its CompressedIndex over the same terms runs no lookup collect, only
    the blocks one."""
    _ = (index.doc_count, index.avgdl)
    c = compress_index(index)
    c.blocks.persist().count()
    assert c.termdict is index.termdict
    c.termdict.clear()
    q = [(0, "w3 w5 w11")]
    exp = bm25_topk(index, q, k=5, spark=spark, strategy="exploded").collect()
    rows, jobs = _build_jobs(
        spark, lambda: wand_topk(c, q, k=5, local_threshold_postings=100_000).collect()
    )
    assert jobs <= 1, jobs
    key = lambda r: (r["query_id"], r["rank"], r["doc_id"])
    assert sorted(map(key, rows)) == sorted(map(key, exp))
    for g, e in zip(sorted(rows, key=key), sorted(exp, key=key)):
        assert g["score"] == pytest.approx(e["score"], abs=1e-9)
    c.blocks.unpersist()


def test_derived_indexes_get_fresh_dictionaries(spark, index, tmp_path):
    from solrtexttagger_spark.index.maintenance import expunge_docs, upsert_docs
    from solrtexttagger_spark.index.segments import read_index, write_index

    marker = "markerterm"
    assert warm_df_cache(index, [marker, "w0"])[marker] is None  # held as absent
    up = upsert_docs(index, spark.createDataFrame(
        [(0, f"{marker} w1"), (1000, f"{marker} {marker}"), (1001, "w2")],
        "doc_id long, text string",
    ))
    gone = expunge_docs(index, spark.createDataFrame([(5,)], "doc_id long"))
    write_index(index, str(tmp_path / "ix"))
    back = read_index(spark, str(tmp_path / "ix"))
    c = compress_index(index)
    save_compressed(c, str(tmp_path / "cx"))
    loaded = load_compressed(spark, str(tmp_path / "cx"))
    split = compress_index(index, max_block_postings=3)  # bounds of its own
    for derived in (up, gone, back, loaded, split):
        assert derived.termdict is not index.termdict
        assert derived.termdict.nbytes == 0
    assert warm_df_cache(up, [marker])[marker] == 2
    assert warm_df_cache(index, [marker])[marker] is None


@pytest.mark.parametrize("cls", [InvertedIndex, CompressedIndex])
def test_index_takes_no_ad_hoc_attribute(index, cls):
    fields = {f.name: None for f in dataclasses.fields(cls) if f.init}
    fields.pop("termdict")
    obj = cls(**{**fields, "doc_count": 1, "num_segments": 1})
    assert isinstance(obj.termdict, TermDictionary)
    with pytest.raises(AttributeError):
        obj._anything = {}
    with pytest.raises(AttributeError):
        index._bm25_df = {}
