"""Delta + varint block compression for posting segments — numpy-vectorized
(no per-value Python loops), executed inside Arrow-batched UDFs.

Replaces what the reference delegates to Lucene's FST50/block postings
formats (reference schema.xml:52-53, README.md:86-91) with an explicit,
inspectable codec:

  postings block (uint8 bytes):
    varint n
    n delta-varints of sorted doc_ids (first is absolute)
    n varints of tf
    n varints of dl

  positions block (same doc order as its postings block):
    varint n
    n varints of per-doc position counts
    all positions, delta-varint encoded with the delta RESET at each
    doc boundary (first position per doc is absolute)

Every (term, seg) posting shard becomes one block (or several, split at
``max_block_postings``) plus block metadata (max_tf, min_dl) from which a
BM25 upper bound is computable WITHOUT decoding — the 'block max' of
block-max WAND (search/wand.py). Bounds are stored avgdl-independently
because tf/(tf + k1(1-b+b*dl/avgdl)) is increasing in tf and decreasing
in dl.

``encode_blocks`` is the one encoder: it takes a whole Arrow batch of
shards as flat columns (list offsets + child arrays) and encodes every
block of the batch with a fixed number of numpy calls — block bounds,
reduceat metadata, block-reset deltas, ONE varint encode over all
streams, and one gather per output column. No Python object per posting
or per block, so its cost does not grow with the block count the way a
per-shard loop's does. ``encode_postings_block`` /
``encode_positions_block`` are its one-shard calls.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

_U64 = np.uint64
_THRESHOLDS = [np.uint64(1) << np.uint64(7 * k) for k in range(1, 10)]


def _varint_encode(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128 encode of a uint64 array -> (bytes, per-value byte ends)."""
    nbytes = np.ones(len(v), dtype=np.int64)
    for t in _THRESHOLDS:
        nbytes += v >= t
    ends = np.cumsum(nbytes)
    if len(v) == 0:
        return np.zeros(0, dtype=np.uint8), ends
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    for k in range(int(nbytes.max())):
        mask = nbytes > k
        idx = starts[mask] + k
        byte = (v[mask] >> _U64(7 * k)) & _U64(0x7F)
        cont = (nbytes[mask] > k + 1).astype(np.uint8) << 7
        out[idx] = byte.astype(np.uint8) | cont
    return out, ends


def varint_encode(values: np.ndarray) -> np.ndarray:
    """Vectorized LEB128 encode of a uint64 array -> uint8 array."""
    return _varint_encode(np.ascontiguousarray(values, dtype=_U64))[0]


def varint_decode(buf: np.ndarray, count: int | None = None) -> np.ndarray:
    """Vectorized LEB128 decode of a uint8 array -> uint64 array."""
    b = np.ascontiguousarray(buf, dtype=np.uint8)
    if len(b) == 0:
        return np.zeros(0, dtype=_U64)
    is_last = (b & 0x80) == 0
    # group starts: position 0 and every byte after a terminator
    starts = np.nonzero(np.r_[True, is_last[:-1]])[0]
    pos_in_group = np.arange(len(b)) - np.repeat(starts, np.diff(np.r_[starts, len(b)]))
    contrib = (b & 0x7F).astype(_U64) << (_U64(7) * pos_in_group.astype(_U64))
    vals = np.add.reduceat(contrib, starts)
    if count is not None:
        assert len(vals) == count, f"decoded {len(vals)} values, expected {count}"
    return vals


@dataclass
class EncodedBlocks:
    """Output of ``encode_blocks``: one entry per block, in shard order.
    Block i's bytes are ``data[offsets[i]:offsets[i + 1]]`` (likewise
    ``pos_data``/``pos_offsets`` when positions were given)."""

    shard: np.ndarray  # int64: input shard each block belongs to
    blk: np.ndarray  # block ordinal within its shard
    df_seg: np.ndarray  # postings in the block
    cf_seg: np.ndarray  # sum of tf
    max_tf: np.ndarray
    min_dl: np.ndarray
    offsets: np.ndarray  # int64, n_blocks + 1
    data: np.ndarray  # uint8
    pos_offsets: np.ndarray | None = None
    pos_data: np.ndarray | None = None


def _delta_reset(values: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Successive differences of an int64 array, with the value itself
    (not a difference) at every index in ``starts``."""
    d = values.copy()
    d[1:] -= values[:-1]
    d[starts] = values[starts]
    return d


def _gather_blocks(
    buf: np.ndarray, cum: np.ndarray, vstart: np.ndarray, vend: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Lay out blocks from pieces of one varint stream. Row b of the
    (n_blocks, n_pieces) value ranges ``[vstart, vend)`` lists block b's
    pieces in order; ``cum`` maps a value index to its first byte.
    -> (block byte offsets, block bytes), in one gather."""
    src = cum[vstart].ravel()
    length = cum[vend].ravel() - src
    block_len = length.reshape(vstart.shape).sum(axis=1)
    offsets = np.r_[0, np.cumsum(block_len)]
    dst = np.cumsum(length) - length
    out = buf[np.arange(offsets[-1]) + np.repeat(src - dst, length)]
    return offsets, out


def encode_blocks(
    offsets: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    *,
    max_block_postings: int | None = None,
    positions: tuple[np.ndarray, np.ndarray] | None = None,
) -> EncodedBlocks:
    """Encode a batch of (term, seg) posting shards into blocks.

    Shard s holds postings ``offsets[s]:offsets[s + 1]`` of the flat
    ``doc_ids``/``tfs``/``dls`` arrays (offsets run from 0 to
    len(doc_ids); doc_ids sorted within each shard). Each shard becomes
    one block, or chunks of ``max_block_postings``; an empty shard
    becomes no block. ``positions=(pos_offsets, flat)`` adds the
    parallel positions blocks: posting i's positions are
    ``flat[pos_offsets[i]:pos_offsets[i + 1]]``."""
    offsets = np.asarray(offsets, dtype=np.int64)
    n = np.diff(offsets)
    step = np.full_like(n, max_block_postings) if max_block_postings else np.maximum(n, 1)
    nblk = -(-n // step)
    shard = np.repeat(np.arange(len(n)), nblk)
    first = np.cumsum(nblk) - nblk
    blk = np.arange(len(shard)) - first[shard]
    lo = offsets[shard] + blk * step[shard]
    hi = np.minimum(lo + step[shard], offsets[shard + 1])
    cnt = hi - lo
    n_blocks, n_post = len(shard), int(offsets[-1])
    tfs, dls = np.asarray(tfs), np.asarray(dls)

    # one value stream: [headers | doc deltas | tfs | dls (| counts | pos deltas)]
    streams = [
        cnt,
        _delta_reset(np.asarray(doc_ids, dtype=np.int64), lo),
        tfs.astype(np.int64),
        dls.astype(np.int64),
    ]
    if positions is not None:
        pos_offsets = np.asarray(positions[0], dtype=np.int64)
        flat = np.asarray(positions[1], dtype=np.int64)
        counts = np.diff(pos_offsets)
        streams += [counts, _delta_reset(flat, pos_offsets[:-1][counts > 0])]
    buf, ends = _varint_encode(np.concatenate(streams).astype(_U64))
    cum = np.r_[0, ends]

    # value ranges of each block's pieces; postings streams start at
    # n_blocks + k * n_post
    b = np.arange(n_blocks)
    at = n_blocks + n_post * np.arange(3)[None, :]
    starts = np.column_stack([b, lo[:, None] + at])
    stops = np.column_stack([b + 1, hi[:, None] + at])
    block_offsets, block_data = _gather_blocks(buf, cum, starts, stops)
    pos_block_offsets = pos_block_data = None
    if positions is not None:
        at_c, at_p = n_blocks + 3 * n_post, n_blocks + 4 * n_post
        starts = np.column_stack([b, at_c + lo, at_p + pos_offsets[lo]])
        stops = np.column_stack([b + 1, at_c + hi, at_p + pos_offsets[hi]])
        pos_block_offsets, pos_block_data = _gather_blocks(buf, cum, starts, stops)

    return EncodedBlocks(
        shard=shard,
        blk=blk.astype(np.int32),
        df_seg=cnt,
        cf_seg=np.add.reduceat(streams[2], lo),
        max_tf=np.maximum.reduceat(tfs, lo),
        min_dl=np.minimum.reduceat(dls, lo),
        offsets=block_offsets,
        data=block_data,
        pos_offsets=pos_block_offsets,
        pos_data=pos_block_data,
    )


def encode_postings_block(
    doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray
) -> bytes:
    """Encode one (term, seg) posting shard. doc_ids must be sorted."""
    n = len(doc_ids)
    if n == 0:
        return b"\x00"  # header only: varint n = 0
    return encode_blocks(np.array([0, n]), doc_ids, tfs, dls).data.tobytes()


def encode_positions_block(positions_list) -> bytes:
    """Encode the per-doc position lists of one postings block (same doc
    order as the companion encode_postings_block). Positions within a doc
    are sorted ascending (tokenizer order), so deltas are non-negative
    and small — the same compression regime as the doc-id deltas."""
    n = len(positions_list)
    if n == 0:
        return b"\x00"  # header only: varint n = 0
    arrs = [np.asarray(p, dtype=np.int64) for p in positions_list]
    pos_offsets = np.r_[0, np.cumsum([len(a) for a in arrs])]
    zeros = np.zeros(n, dtype=np.int64)  # postings streams: unused here
    enc = encode_blocks(
        np.array([0, n]), zeros, zeros, zeros,
        positions=(pos_offsets, np.concatenate(arrs)),
    )
    return enc.pos_data.tobytes()


def decode_postings_block(data: bytes):
    """-> (doc_ids int64, tfs int32, dls int32), doc_ids sorted."""
    b = np.frombuffer(data, dtype=np.uint8)
    vals = varint_decode(b)
    n = int(vals[0])
    assert len(vals) == 1 + 3 * n, f"block holds {len(vals) - 1} values, expected {3 * n}"
    deltas = vals[1 : 1 + n]
    doc_ids = np.cumsum(deltas.astype(np.int64))
    tfs = vals[1 + n : 1 + 2 * n].astype(np.int32)
    dls = vals[1 + 2 * n : 1 + 3 * n].astype(np.int32)
    return doc_ids, tfs, dls


def bm25_upper_bound(max_tf: int, min_dl: int, avgdl: float, k1: float, b: float) -> float:
    """Block-max score factor (pre-idf): achieved by the most favorable
    (tf, dl) combination the block admits."""
    tf = float(max_tf)
    dl = float(min_dl)
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def decode_positions_block(data: bytes):
    """-> (counts int64 array, flat_positions int64 array). Doc i's
    positions are flat[offset_i : offset_i + counts[i]] with
    offset = cumsum(counts) - counts — aligned with the doc order of the
    companion decode_postings_block."""
    b = np.frombuffer(data, dtype=np.uint8)
    vals = varint_decode(b)
    n_docs = int(vals[0])
    counts = vals[1 : 1 + n_docs].astype(np.int64)
    deltas = vals[1 + n_docs :].astype(np.int64)
    total = int(counts.sum())
    assert len(deltas) == total, (
        f"positions block holds {len(deltas)} deltas, expected {total}"
    )
    if total == 0:
        return counts, deltas
    glob = np.cumsum(deltas)
    ends = np.cumsum(counts)
    starts = ends - counts
    # undo the global cumsum across doc boundaries: within doc d,
    # flat[j] = glob[j] - (glob[start_d] - deltas[start_d])
    base = np.repeat(glob[starts] - deltas[starts], counts)
    return counts, glob - base
