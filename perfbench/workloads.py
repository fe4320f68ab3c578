"""The three closed-loop workloads: ``build``, ``query`` and ``tag``.

Each workload has a ``setup`` (inputs, index or gazetteer) and a
``round``: the workload's fixed operation mix, run once. ``warmup_rounds``
untimed rounds are the warm-up; the measured loop runs whole rounds. One
client issues one operation at a time. ``op_types`` are the operations of
a round; an operation outside them runs only in the traced run.

Every operation goes through ``Bench.op``: it is timed, counted as
attempted, and counted as failed if it raises. Output checks run outside
the timed region and count a mismatch as one failed operation; the run
continues either way.
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback
from collections import defaultdict

import pandas as pd
from pyspark.sql import functions as F

from solrtexttagger_spark import (
    bm25_topk,
    build_dict_terms,
    build_index,
    build_tag_dictionary,
    compress_index,
    tag,
    tag_join,
    wand_topk,
    with_doc_ids,
)
from solrtexttagger_spark.index.build import doc_term_rows
from solrtexttagger_spark.index.maintenance import upsert_docs
from solrtexttagger_spark.search.request import LocalRequestHandler, solr_select
from solrtexttagger_spark.search.wand import LocalSearcher

import gen

COLUMNS = ["repo", "path", "commit", "lang", "content"]
KEYWORDS = set(gen.KEYWORDS)
SCORE_TOL = 1e-9
K = 10


class Bench:
    """Shared state of one run: samples per operation type, counts,
    the tracer and the run's scratch directory."""

    def __init__(self, spark, tracer, generator: gen.Generator, workdir: str):
        self.spark = spark
        self.tr = tracer
        self.gen = generator
        self.workdir = workdir
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.counters: dict[str, float] = defaultdict(float)
        self.attempted = 0
        self.failed = 0
        self.recording = False
        self._files = 0

    def op(self, kind: str, fn):
        """Run one timed operation. Returns ``(result, span)``; the result
        is None when the operation raised."""
        self.attempted += 1
        with self.tr.span(kind) as sp:
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception:  # one failed operation; the run goes on
                self.failed += 1
                traceback.print_exc(file=sys.stderr)
                return None, sp
            dt = time.perf_counter() - t0
        if self.recording:
            self.samples[kind].append(dt)
        return out, sp

    def expect(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            print(f"check failed: {what}", file=sys.stderr)

    def parquet(self, rows, columns=COLUMNS) -> str:
        self._files += 1
        path = os.path.join(self.workdir, f"input{self._files:04d}.parquet")
        pd.DataFrame(rows, columns=columns).to_parquet(path, index=False)
        return path

    def read_docs(self, path: str):
        return with_doc_ids(self.spark.read.parquet(path), ["repo", "path"])


def _same_ranking(a: list[tuple[int, float]], b: list[tuple[int, float]]) -> bool:
    """Two top-k pages agree: the same scores rank by rank within
    SCORE_TOL, and the same doc ids above the page's lowest score. Docs
    tied (within SCORE_TOL) at the lowest score may differ, because the
    tie can extend past the page."""
    if len(a) != len(b) or any(abs(sa - sb) > SCORE_TOL for (_, sa), (_, sb) in zip(a, b)):
        return False
    if not a:
        return True
    floor = min(s for _, s in a + b) + SCORE_TOL
    return {d for d, s in a if s > floor} == {d for d, s in b if s > floor}


def _by_query(rows) -> dict[int, list[tuple[int, float]]]:
    out: dict[int, list] = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out[r["query_id"]].append((r["doc_id"], r["score"]))
    return out


class TagWorkload:
    """Tagging: corpus batches stream through ``tag()`` cycling NO_SUB,
    LONGEST_DOMINANT_RIGHT and ALL, then through ``tag_join`` (NO_SUB).
    The gazetteer is built during setup. Index and search stay idle.

    ``build`` runs the same round over its own corpus as one batch; run
    alone (``--workload tag``) it streams three batches of its own."""

    N_FILES = 6000
    BATCHES = 3
    N_NAMES = 2000
    MODES = ("NO_SUB", "LONGEST_DOMINANT_RIGHT", "ALL")
    max_rounds = None
    warmup_rounds = 1

    def __init__(self, b: Bench, trace_layers: bool):
        self.b = b
        self.pos = 0

    def setup(self, corpus: gen.Corpus | None = None, batches: int = BATCHES) -> None:
        b = self.b
        if corpus is None:
            corpus = b.gen.corpus(self.N_FILES)
        n_files = len(corpus.rows)
        self.per = n_files // batches
        self.sizes_ = {"files": n_files, "content_mb": corpus.content_bytes / 1e6,
                       "batch_files": self.per}
        self.batches = []
        for k in range(batches):
            rows = corpus.rows[k * self.per : (k + 1) * self.per]
            ids = set(corpus.doc_ids[k * self.per : (k + 1) * self.per])
            # a Parquet file of the batch's own: no other plan of the run
            # reads it, so Spark serves no other operation from this cache
            texts = b.read_docs(b.parquet(rows)).select(
                F.col("doc_id").alias("qdoc_id"), F.col("content").alias("text")
            ).persist()
            texts.count()
            planted = [p for p in corpus.planted if p[0] in ids]
            self.batches.append((texts, len(rows), planted))
        names = b.gen.gazetteer(corpus, self.N_NAMES)
        self.sizes_["gazetteer_names"] = len(names)
        names_df = b.spark.read.parquet(b.parquet(names, ["id", "name"]))
        with b.tr.span("tagging.dictionary.build") as sp:
            self.dictionary = build_tag_dictionary(names_df)
            sp.attrs["terms"] = len(self.dictionary.term_dict)
        with b.tr.span("tagging.build_dict_terms"):
            self.dict_terms = build_dict_terms(names_df).persist()
            self.dict_terms.count()
        phrase_ids = {
            r["name"]: r["doc_id"]
            for r in self.dictionary.docs_df.where(F.col("id").startswith("phrase")).collect()
        }
        self.planted_tags = {
            k: {(d, s, e, phrase_ids[p]) for d, s, e, p in planted}
            for k, (_t, _n, planted) in enumerate(self.batches)
        }

    def round(self):
        b = self.b
        k = self.pos % len(self.batches)
        self.pos += 1
        texts, n_docs, _planted = self.batches[k]
        results = {}
        for mode in self.MODES:
            res, _ = b.op(f"tagging.tag.{mode}", lambda: tag(
                texts, self.dictionary, overlaps=mode).collect())
            if res is not None:
                results[mode] = res
                if b.recording:
                    b.counters["tags"] += len(res)
                    b.counters["tagged_docs"] += n_docs
        joined, _ = b.op("tagging.tag_join", lambda: tag_join(
            texts, self.dict_terms).collect())
        if joined is not None and "NO_SUB" in results:
            loop = _tag_set(results["NO_SUB"])
            join = _tag_set(joined)
            b.expect(loop == join, f"tag NO_SUB ({len(loop)}) != tag_join ({len(join)}) on batch {k}")
            for name, tags in (("tag", loop), ("tag_join", join)):
                found = {(q, s, e, i) for q, s, e, ids in tags for i in ids}
                missing = self.planted_tags[k] - found
                b.expect(not missing, f"{name} missed {len(missing)} planted phrases on batch {k}")

    def metrics(self) -> dict:
        s = self.b.samples
        tag_s = [x for m in self.MODES for x in s[f"tagging.tag.{m}"]]
        return {
            "tag_docs_per_s": _rate(self.per, tag_s, "docs/s"),
            "tag_join_docs_per_s": _rate(self.per, s["tagging.tag_join"], "docs/s"),
        }

    op_types = tuple(f"tagging.tag.{m}" for m in MODES) + ("tagging.tag_join",)

    def sizes(self) -> dict:
        return self.sizes_


class BuildWorkload:
    """The batch side: build + compress over the corpus, one
    ``upsert_docs`` batch of changed files into the fresh index, then the
    ``tag`` round over the same corpus (gazetteer built during setup).
    Search stays idle."""

    # the calls' cost is mostly Spark's per-job overhead, so a small corpus
    # keeps a round short and two measured rounds fit a run
    N_FILES = 800
    UPSERT_FILES = 200
    max_rounds = None
    # per-call times keep falling for six rounds and more (the driver's
    # query planning warms up), so no affordable warm-up reaches a steady
    # state; every run measures the same rounds of that curve instead
    warmup_rounds = 1

    def __init__(self, b: Bench, trace_layers: bool):
        self.b = b
        self.trace_layers = trace_layers
        self.rounds = 0

    def setup(self) -> None:
        b = self.b
        self.corpus = b.gen.corpus(self.N_FILES)
        self.mb = self.corpus.content_bytes / 1e6
        self.df_total = sum(self.corpus.df.values())
        self.docs = b.read_docs(b.parquet(self.corpus.rows))
        self.tagging = TagWorkload(b, self.trace_layers)
        self.tagging.setup(self.corpus, batches=1)

    def round(self):
        b = self.b
        self.rounds += 1
        if self.trace_layers:
            rows, _sp = b.op("analysis.doc_term_rows", lambda: doc_term_rows(
                self.docs, text_col="content").count())
            if rows is not None:
                b.counters["analysis.rows"] += rows
                b.counters["analysis.docs"] += self.N_FILES
        # Everything cached in a round is dropped before the next one:
        # Spark would otherwise serve the next build's identical plan
        # from this round's cache.
        cached = []
        try:
            idx = self._build(cached)
            if idx is not None:
                part = b.gen.rng.sample(range(self.N_FILES), self.UPSERT_FILES)
                self._upsert(idx, f"zzmarker{self.rounds}", part)
        finally:
            for d in cached:
                d.unpersist()
        self.tagging.round()

    def _build(self, cached: list):
        b = self.b

        def build():
            idx = build_index(self.docs, text_col="content")
            idx.postings.persist().count()
            return idx

        idx, _sp = b.op("index.build", build)
        if idx is None:
            return None
        cached.append(idx.postings)
        self._check_stats(idx)

        def compress():
            ci = compress_index(idx)
            ci.blocks.persist().count()
            return ci

        ci, sp = b.op("index.compress", compress)
        if ci is None:
            return None
        cached.append(ci.blocks)
        if b.recording:
            b.samples["build+compress"].append(
                b.samples["index.build"][-1] + b.samples["index.compress"][-1]
            )
        blocks, block_bytes = ci.blocks.agg(
            F.count("*"), F.sum(F.length("block"))
        ).collect()[0]
        sp.attrs.update(blocks=blocks, block_bytes=block_bytes)
        b.counters["block_bytes"] = block_bytes
        return idx

    def _check_stats(self, idx) -> None:
        n_terms, df_sum = idx.term_stats.agg(F.count("*"), F.sum("df")).collect()[0]
        self.b.expect(
            idx.doc_count == self.N_FILES
            and n_terms == len(self.corpus.df)
            and df_sum == self.df_total,
            f"term_stats ({idx.doc_count} docs, {n_terms} terms, df sum {df_sum}) "
            f"!= generator ({self.N_FILES}, {len(self.corpus.df)}, {self.df_total})",
        )

    def _upsert(self, idx, marker: str, part: list[int]) -> None:
        b = self.b
        rows = [
            (*self.corpus.rows[i][:4], f"# {marker}\n{self.corpus.rows[i][4]}")
            for i in part
        ]
        batch = b.read_docs(b.parquet(rows))

        def upsert():
            new = upsert_docs(idx, batch, text_col="content")
            new.postings.persist().count()
            return new

        new, _sp = b.op("index.upsert", upsert)
        if new is None:
            return
        got = {
            r[0]
            for r in new.postings.where(F.col("term") == marker)
            .select(F.explode("postings.doc_id"))
            .collect()
        }
        new.postings.unpersist()
        want = {self.corpus.doc_ids[i] for i in part}
        b.expect(got == want, f"upsert marker {marker}: {len(got)} ids, want {len(want)}")
        b.expect(new.doc_count == self.N_FILES, f"upsert doc_count {new.doc_count}")

    def metrics(self) -> dict:
        s = self.b.samples
        return {
            "build_mb_per_s": _rate(self.mb, s["build+compress"], "MB/s"),
            "upsert_docs_per_s": _rate(self.UPSERT_FILES, s["index.upsert"], "docs/s"),
            "index_bytes_per_corpus_byte": {
                "value": self.b.counters["block_bytes"] / self.corpus.content_bytes,
                "unit": "ratio",
                "n": 1,
            },
            **self.tagging.metrics(),
        }

    op_types = ("index.build", "index.compress", "index.upsert") + TagWorkload.op_types

    def sizes(self) -> dict:
        return {"files": self.N_FILES, "content_mb": self.mb, "upsert_files": self.UPSERT_FILES,
                "tag_batch_files": self.tagging.per,
                "gazetteer_names": self.tagging.sizes_["gazetteer_names"]}


class QueryWorkload:
    """Read side over an index built and compressed during setup: 20-query
    BM25 batches (segmented, then exploded), single WAND queries,
    ``solr_select`` requests and bursts of warm ``LocalRequestHandler``
    selects. Index writes and tagging stay idle.

    Every query and request of a run is distinct: the streams are drawn
    once from the seed for ``max_rounds`` rounds, and the loop stops when
    they run out. The WAND driver caches therefore keep meeting terms no
    earlier query of the run used (``search.wand.cold_term_share``)."""

    # head queries carry all 37 keywords (df = N each), so their total df
    # passes wand_topk's default local_threshold_postings (100,000) from
    # N = 2,703 on
    N_FILES = 3200
    BATCH = 20
    WAND_PER_ROUND = 3
    SELECT_PER_ROUND = 1
    BURST = 20
    FQ = "lang:java"
    max_rounds = 8
    # the first round after one warm-up round still ran 10-25 % slower
    # than the later ones (JIT); two warm-up rounds take it out
    warmup_rounds = 2

    def __init__(self, b: Bench, trace_layers: bool):
        self.b = b
        self.trace_layers = trace_layers
        self.wand_seen: set[str] = set()

    def setup(self) -> None:
        b = self.b
        corpus = b.gen.corpus(self.N_FILES)
        self.sizes_ = {"files": self.N_FILES, "content_mb": corpus.content_bytes / 1e6}
        self.docs = b.read_docs(b.parquet(corpus.rows)).persist()
        self.docs.count()
        self.idx = build_index(self.docs, text_col="content")
        self.idx.postings.persist().count()
        self.ci = compress_index(self.idx)
        self.ci.blocks.persist().count()
        rounds = self.max_rounds + self.warmup_rounds
        # three head queries in every ten of a batch, one in three WAND calls
        batches = b.gen.queries(rounds * self.BATCH, heads=3, per=10)
        wand_queries = b.gen.queries(rounds * self.WAND_PER_ROUND, heads=1, per=3)
        selects = b.gen.requests(rounds * self.SELECT_PER_ROUND)
        bursts = b.gen.requests(rounds * self.BURST)
        self.batches, self.wand_queries = iter(batches), iter(wand_queries)
        self.selects, self.bursts = iter(selects), iter(bursts)
        # one warm searcher serves the handler and is the reference scorer
        # of the query checks
        terms = set().union(*(gen.analyzed_terms(q) for q in batches + wand_queries))
        terms |= set().union(*(gen.analyzed_terms(p["q"]) for p in selects + bursts))
        self.sizes_["warm_terms"] = len(terms)
        with b.tr.span("search.local.warmup"):
            self.searcher = LocalSearcher(
                self.ci, terms=sorted(terms), positional_index=self.idx
            )
        self.handler = LocalRequestHandler(self.searcher)
        self.handler.prepare_fq(self.docs, self.FQ)
        java = [i for i, r in zip(corpus.doc_ids, corpus.rows) if r[3] == "java"]
        self.java_filter = LocalSearcher.prepare_filter(java)

    def _local(self, q: str) -> list[tuple[int, float]]:
        return [(d, s) for _r, d, s in self.searcher.search(q, k=K)]

    def round(self):
        b = self.b
        batch = [(i, next(self.batches)) for i in range(self.BATCH)]
        seg, _ = b.op("search.bm25.segmented", lambda: bm25_topk(
            self.idx, batch, k=K).collect())
        exp, _ = b.op("search.bm25.exploded", lambda: bm25_topk(
            self.idx, batch, k=K, strategy="exploded").collect())
        if seg is not None and exp is not None:
            seg_q, exp_q = _by_query(seg), _by_query(exp)
            b.expect(
                all(_same_ranking(seg_q[i], exp_q[i]) for i, _q in batch),
                "bm25 segmented != exploded",
            )
            i, q = batch[b.gen.rng.randrange(len(batch))]
            b.expect(_same_ranking(seg_q[i], self._local(q)), f"bm25 != LocalSearcher: {q}")
        for _ in range(self.WAND_PER_ROUND):
            q = next(self.wand_queries)
            stats: dict = {}
            res, sp = b.op("search.wand.single", lambda: wand_topk(
                self.ci, [(0, q)], k=K, prune_stats=stats).collect())
            if res is None:
                continue
            b.expect(_same_ranking(_by_query(res)[0], self._local(q)), f"wand != LocalSearcher: {q}")
            self._wand_counters(q, stats, sp)
        for _ in range(self.SELECT_PER_ROUND):
            params = next(self.selects)
            res, _ = b.op("search.request.select", lambda: solr_select(
                self.idx, self.docs, params).collect())
            if res is not None:
                want = [(d, s) for _r, d, s in self.handler.select(params)]
                got = [(r["doc_id"], r["score"]) for r in sorted(res, key=lambda r: r["rank"])]
                b.expect(_same_ranking(got, want), f"solr_select != LocalRequestHandler: {params}")
        for _ in range(self.BURST):
            params = next(self.bursts)
            b.op("search.request.local", lambda: self.handler.select(params))
            if self.trace_layers and b.recording:
                t0 = time.perf_counter()
                self.searcher.search_boolean(
                    params["q"], k=params["rows"], allowed_docs=self.java_filter
                )
                b.samples["search.local.search_boolean"].append(time.perf_counter() - t0)

    def _wand_counters(self, q: str, stats: dict, sp) -> None:
        # the keywords repeat by design; the identifiers are the stream
        terms = gen.analyzed_terms(q) - KEYWORDS
        cold = terms - self.wand_seen
        self.wand_seen |= terms
        if not self.b.recording:
            return
        c = self.b.counters
        c["wand.terms"] += len(terms)
        c["wand.cold_terms"] += len(cold)
        c["wand.queries"] += 1
        c["wand.distributed"] += 0 if stats.get("local") else 1
        c["wand.segments_total"] += stats.get("segments_total", 0)
        c["wand.segments_scored"] += stats.get("segments_scored", 0)
        if "blocks_total_acc" in stats:
            c["wand.blocks_total"] += stats["blocks_total_acc"].value
            c["wand.blocks_skipped"] += stats["blocks_skipped_acc"].value
        if sp.attrs.get("jobs", 1) == 0:
            c["wand.no_job"] += 1

    def metrics(self) -> dict:
        s = self.b.samples
        out = {
            "bm25_batch_qps": _rate(self.BATCH, s["search.bm25.segmented"], "q/s"),
            "bm25_exploded_qps": _rate(self.BATCH, s["search.bm25.exploded"], "q/s"),
        }
        out.update(_latency("wand_single", s["search.wand.single"], (50, 90)))
        out.update(_latency("select", s["search.request.select"], (50,)))
        out.update(_latency("local", s["search.request.local"], (50, 99)))
        return out

    op_types = (
        "search.bm25.segmented", "search.bm25.exploded", "search.wand.single",
        "search.request.select", "search.request.local",
    )

    def sizes(self) -> dict:
        c = self.b.counters
        return {**self.sizes_, "vocab": gen.VOCAB,
                "wand_distributed_share": c["wand.distributed"] / max(1, c["wand.queries"]),
                "wand_cold_term_share": c["wand.cold_terms"] / max(1, c["wand.terms"])}


def _tag_set(rows) -> set:
    return {(r["qdoc_id"], r["start"], r["end"], tuple(sorted(r["doc_ids"]))) for r in rows}


WORKLOADS = {"build": BuildWorkload, "query": QueryWorkload, "tag": TagWorkload}


# ---------------------------------------------------------------- statistics

def percentile(values: list[float], p: float) -> float:
    xs = sorted(values)
    if not xs:
        return math.nan
    pos = (len(xs) - 1) * p / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """Highest of p90/p99/p99.9 with at least ten samples beyond it."""
    best = None
    for p in (90, 99, 99.9):
        if n * (1 - p / 100) >= 10:
            best = p
    return best


def _rate(work: float, secs: list[float], unit: str) -> dict:
    """Work per second from the median call time, plus the rate at the
    tail percentile of call time when there are enough samples."""
    out = {"value": work / percentile(secs, 50) if secs else math.nan,
           "unit": unit, "n": len(secs)}
    tp = tail_percentile(len(secs))
    if tp is not None:
        out[f"p{tp:g}"] = work / percentile(secs, tp)
    return out


def _latency(name: str, secs: list[float], ps: tuple) -> dict:
    """``<name>_p<P>_ms`` for each requested percentile, with the count."""
    return {
        f"{name}_p{p}_ms": {"value": percentile(secs, p) * 1e3, "unit": "ms", "n": len(secs)}
        for p in ps
    }
