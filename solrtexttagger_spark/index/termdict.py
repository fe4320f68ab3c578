"""The term dictionary of an index, held on the driver: the analogue of
the reference's in-memory FST term dictionary (SURVEY §1.1; README.md:86-91).

A looked-up term maps to a ``TermInfo``: its global df (None when the
term is absent) and its per-(term, seg) ``df_seg``. On a blocks lookup
for WAND the entry also holds its ``ShardBounds``, the (k1, b)-free
inputs of the exact shard bounds; the driver-local WAND path also keeps
the blocks it fetched. Postings and blocks give equal df entries, and a
one-block-per-shard layout has the bounds of the postings themselves,
so compress_index hands its source index's dictionary on for that
layout; every other index constructor starts a fresh one. The bound is
``MAX_BYTES`` of array and block bytes plus ``ENTRY_BYTES`` per entry;
past it the dictionary resets whole, keeping the entries of the lookup
in flight."""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame, functions as F

from solrtexttagger_spark.plans import term_in

# the key, the TermInfo, a ShardBounds and five ndarray headers
# (tracemalloc: 797 B; 389 B without the bounds)
ENTRY_BYTES = 800
MAX_BYTES = 512 << 20


class ShardBounds(NamedTuple):
    """One element per distinct (seg, max_tf) over the term's blocks, with
    the least min_dl of those blocks: at a fixed tf the BM25 factor falls
    as dl grows, so the max of ``bm25_upper_bound`` over these pairs
    equals the max over the shard's blocks, bit for bit."""

    seg: np.ndarray  # (seg, max_tf)-sorted
    max_tf: np.ndarray
    min_dl: np.ndarray


class TermInfo(NamedTuple):
    df: int | None  # global df; None: the term is absent
    seg: np.ndarray  # one element per (term, seg) shard, seg-sorted
    df_seg: np.ndarray
    bounds: ShardBounds | None  # None: not fetched (postings hold no blocks)


_TYPES = {"seg": "int", "df_seg": "long", "max_tf": "int", "min_dl": "int"}
_I32, _I64 = np.zeros(0, np.int32), np.zeros(0, np.int64)
ABSENT = TermInfo(None, _I32, _I64, ShardBounds(_I32, _I32, _I32))


def _nbytes(entry) -> int:
    if isinstance(entry, TermInfo):
        arrays = [entry.seg, entry.df_seg, *(entry.bounds or ())]
        return ENTRY_BYTES + sum(a.nbytes for a in arrays)
    return ENTRY_BYTES + sum(len(blk) for _seg, blk in entry)


def _fetch_info(rows: DataFrame, terms: list[str], bounds: bool) -> dict[str, TermInfo]:
    """One collect. Postings hold one row per (term, seg) already, so
    they need no exchange; blocks aggregate per (term, seg), or per
    (term, seg, max_tf) when the bounds are wanted."""
    hit = rows.where(term_in(F.col("term"), terms))
    keys = ["term", "seg", *(["max_tf"] if bounds else [])]
    if "postings" in rows.columns:
        shards = hit.select(*keys, "df_seg")
    else:
        shards = hit.groupBy(*keys).agg(
            F.sum("df_seg").alias("df_seg"), *([F.min("min_dl").alias("min_dl")] if bounds else [])
        )
    cols = [c for c in _TYPES if c in shards.columns]
    tbl = (
        shards.select("term", *(F.col(c).cast(_TYPES[c]) for c in cols))
        .toArrow().sort_by([(k, "ascending") for k in keys])
    )
    names = np.array(tbl.column("term").to_pylist(), dtype=object)
    arr = {c: tbl.column(c).fill_null(0).to_numpy() for c in cols}
    got = dict.fromkeys(terms, ABSENT)
    uniq, lo = np.unique(names, return_index=True)
    for term, a, z in zip(uniq, lo, [*lo[1:], len(names)]):
        seg = arr["seg"][a:z]
        first = np.flatnonzero(np.r_[True, seg[1:] != seg[:-1]])  # each shard's first row
        df_seg = np.add.reduceat(arr["df_seg"][a:z], first)
        sb = ShardBounds(*(arr[c][a:z].copy() for c in ("seg", "max_tf", "min_dl"))) if bounds else None
        got[term] = TermInfo(int(df_seg.sum()), seg[first], df_seg, sb)
    return got


def _fetch_blocks(blocks: DataFrame, terms: list[str]) -> dict[str, list]:
    tbl = blocks.where(term_in(F.col("term"), terms)).select("term", "seg", "block").toArrow()
    got: dict[str, list] = {t: [] for t in terms}
    for term, seg, blk in zip(*(tbl.column(c).to_pylist() for c in ("term", "seg", "block"))):
        got[term].append((seg, blk))
    return got


class TermDictionary:
    """The bounded term dictionary of one index; ``nbytes`` is what it
    holds, in bound units."""

    def __init__(self):
        self._info: dict[str, TermInfo] = {}
        self._blocks: dict[str, list[tuple[int, bytes]]] = {}
        self.nbytes = 0

    def cached(self, terms) -> dict[str, TermInfo] | None:
        """The entries of ``terms`` if all are held, else None; no action."""
        return {t: self._info[t] for t in terms} if all(t in self._info for t in terms) else None

    def lookup(self, rows: DataFrame, terms, bounds: bool = False) -> dict[str, TermInfo]:
        """The entries of ``terms``, the missing ones fetched by one collect
        over ``rows`` (the index's postings or blocks). ``bounds=True``
        (blocks only) also refetches the held entries without bounds."""
        fetch = lambda rows, missing: _fetch_info(rows, missing, bounds)
        held = (lambda e: e.bounds is not None) if bounds else (lambda e: True)
        return self._get(self._info, fetch, rows, terms, held)

    def blocks(self, blocks: DataFrame, terms) -> dict[str, list[tuple[int, bytes]]]:
        """{term: [(seg, block)]}, the missing ones fetched by one collect.
        The driver-local WAND scorer decodes every block of a term, so the
        block layout does not change its scores."""
        return self._get(self._blocks, _fetch_blocks, blocks, terms)

    def clear(self) -> None:
        self._info.clear()
        self._blocks.clear()
        self.nbytes = 0

    def _get(self, table: dict, fetch, rows: DataFrame, terms, held=lambda e: True) -> dict:
        terms = sorted(set(terms))
        missing = [t for t in terms if t not in table or not held(table[t])]
        if missing:
            got = fetch(rows, missing)
            for t in missing:  # an entry fetched again replaces the held one
                if t in table:
                    self.nbytes -= _nbytes(table.pop(t))
            added = sum(map(_nbytes, got.values()))
            if self.nbytes + added > MAX_BYTES:  # reset, keeping the terms in flight
                kept = [(tab, {t: tab[t] for t in terms if t in tab}) for tab in (self._info, self._blocks)]
                self.clear()
                for tab, entries in kept:
                    tab.update(entries)
                    self.nbytes += sum(map(_nbytes, entries.values()))
            table.update(got)
            self.nbytes += added
        return {t: table[t] for t in terms}
