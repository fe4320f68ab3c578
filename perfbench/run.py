"""Benchmark entry point.

    python3 perfbench/run.py --workload {build,query,tag} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Starts Spark on local[nproc] with nproc
shuffle partitions, generates the workload's inputs from the seed, sets up
and runs the workload's untimed warm-up rounds, then runs whole rounds of
the workload's operation mix: at least two, and on until ``--seconds``
have passed.

Standard output: a table of every figure the workload measures, one JSON
line with the full report (figures with unit and sample count, round
times, per-operation medians, sizes, and with ``--trace 1`` the per-layer
table), and as the last line the result object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
result's metrics are the end-to-end ones (``E2E``); with ``--trace 1`` the
per-layer ones (``PER_LAYER``), from a run that records a span around
every engine call. Spans are written to ``perfbench/traces/`` when the run
ends.

Exit code 0 when every output check passed, 1 when one failed, 2 when the
engine cannot be imported or the arguments are wrong.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("build", "query", "tag"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(workdir: str) -> int:
    """Spark on local[nproc]; every scratch file of Spark and its Python
    workers inside ``workdir``; the engine importable by the workers."""
    cpus = os.cpu_count() or 1
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_SHUFFLE_PARTITIONS"] = str(cpus)
    os.environ.pop("SPARK_MASTER", None)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    return cpus


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def layer_table(tracer, b) -> dict:
    """Per-layer numbers from the spans: medians per span name of the wall
    time, self time and Spark numbers, plus the workload's own ratios."""
    from workloads import percentile

    by_name: dict[str, list] = {}
    for sp in tracer.spans:
        by_name.setdefault(sp.name, []).append(sp)
    # operations the loop repeats: leave out their untimed warm-up spans
    by_name = {n: [sp for sp in v if sp.request > 0] or v for n, v in by_name.items()}
    # tag() in any overlap mode is one layer call
    modes = [sp for n, v in by_name.items() if n.startswith("tagging.tag.") for sp in v]
    if modes:
        by_name["tagging.tag"] = modes
    out: dict[str, float] = {}
    for name, spans in sorted(by_name.items()):
        out[f"{name}.n"] = len(spans)
        out[f"{name}.s"] = percentile([sp.s for sp in spans], 50)
        out[f"{name}.self_s"] = percentile([tracer.self_time(sp) for sp in spans], 50)
        for key in sorted({k for sp in spans for k in sp.attrs}):
            vals = [sp.attrs[key] for sp in spans if key in sp.attrs]
            out[f"{name}.{key}"] = percentile(vals, 50)
    for span_metric, name in RENAMED.items():
        if span_metric in out:
            out[name] = out[span_metric]
    s, c = b.samples, b.counters
    if c["analysis.docs"]:
        out["analysis.doc_term_rows.rows_per_doc"] = c["analysis.rows"] / c["analysis.docs"]
    if c["wand.queries"]:
        q = c["wand.queries"]
        out["search.wand.single.no_job_share"] = c["wand.no_job"] / q
        out["search.wand.distributed_share"] = c["wand.distributed"] / q
        out["search.wand.cold_term_share"] = c["wand.cold_terms"] / c["wand.terms"]
        if c["wand.segments_total"]:
            out["search.wand.segments_scored_ratio"] = (
                c["wand.segments_scored"] / c["wand.segments_total"]
            )
        if c["wand.blocks_total"]:
            out["search.wand.blocks_skipped_ratio"] = (
                c["wand.blocks_skipped"] / c["wand.blocks_total"]
            )
    if s["search.local.search_boolean"]:
        sb = percentile(s["search.local.search_boolean"], 50) * 1e3
        out["search.local.search_boolean_ms"] = sb
        out["search.request.local_overhead_ms"] = (
            percentile(s["search.request.local"], 50) * 1e3 - sb
        )
    if c["tagged_docs"]:
        out["tagging.tag.tags_per_doc"] = c["tags"] / c["tagged_docs"]
        calls = sum(len(s[f"tagging.tag.{m}"]) for m in ("NO_SUB", "LONGEST_DOMINANT_RIGHT", "ALL"))
        per_call = c["tagged_docs"] / calls
        for mode in ("NO_SUB", "LONGEST_DOMINANT_RIGHT", "ALL"):
            secs = s[f"tagging.tag.{mode}"]
            if secs:
                out[f"tagging.tag.s_per_1k_docs.{mode}"] = percentile(secs, 50) / per_call * 1e3
    return out


def spark_per_op(tracer, loop_s: float) -> dict:
    """Spark work of the measured loop's operations, per operation, and
    the share of loop time the driver spent outside any Spark job."""
    from spans import SPARK_FIELDS

    ops = [sp for sp in tracer.spans if sp.request > 0 and sp.parent is None]
    tot = {k: sum(sp.attrs.get(k, 0.0) for sp in ops) for k in SPARK_FIELDS}
    n = max(1, len(ops))
    return {
        "spark.jobs_per_op": tot["jobs"] / n,
        "spark.stages_per_op": tot["stages"] / n,
        "spark.exec_run_s_per_op": tot["exec_run_s"] / n,
        "spark.exec_cpu_s_per_op": tot["exec_cpu_s"] / n,
        "spark.shuffle_write_kb_per_op": tot["shuffle_write_bytes"] / 1e3 / n,
        "spark.shuffle_read_kb_per_op": tot["shuffle_read_bytes"] / 1e3 / n,
        "spark.driver_share": tot["driver_s"] / loop_s,
    }


# Every per-operation median has at least two samples. With --seconds
# shorter than two rounds, as in BENCHMARK.json, every run measures exactly
# two rounds on a fast host as on a slow one: a run that fits a third round
# in measures a later, faster point of the warm-up curve.
MIN_ROUNDS = 2

# span metrics reported under the layer's own name
RENAMED = {
    "search.local.warmup.s": "search.local.warmup_s",
    "tagging.dictionary.build.s": "tagging.dictionary.build_s",
    "tagging.dictionary.build.jobs": "tagging.dictionary.jobs",
    "tagging.dictionary.build.terms": "tagging.dictionary.terms",
}

# End-to-end metrics of the result line (--trace 0). Every workload reports
# each of them; round_s is the time of the workload's fixed operation mix,
# and the per-operation figures are in NAMED.
E2E = {"setup_s": "s", "round_s": "s", "driver_peak_rss_mb": "MB"}

# Per-operation end-to-end figures, printed by the workload that measures
# them (table and report line).
NAMED = {
    "build_mb_per_s": "MB/s", "upsert_docs_per_s": "docs/s",
    "index_bytes_per_corpus_byte": "ratio",
    "bm25_batch_qps": "q/s", "bm25_exploded_qps": "q/s",
    "wand_single_p50_ms": "ms", "wand_single_p90_ms": "ms", "select_p50_ms": "ms",
    "local_p50_ms": "ms", "local_p99_ms": "ms",
    "tag_docs_per_s": "docs/s", "tag_join_docs_per_s": "docs/s",
}

# Per-layer metrics of the result line (--trace 1). A layer the workload
# leaves idle reads 0. traced.<metric> is the traced run's end-to-end
# figure: its distance to the untraced run's is the tracing overhead.
PER_LAYER = {
    "session.start_s": "s",
    "analysis.doc_term_rows.s": "s", "analysis.doc_term_rows.exec_cpu_s": "s",
    "analysis.doc_term_rows.rows_per_doc": "count",
    "index.build.s": "s", "index.build.jobs": "count", "index.build.stages": "count",
    "index.build.shuffle_write_bytes": "B", "index.build.exec_run_s": "s",
    "index.build.driver_s": "s",
    "index.compress.s": "s", "index.compress.shuffle_write_bytes": "B",
    "index.compress.blocks": "count", "index.compress.block_bytes": "B",
    "index.upsert.s": "s", "index.upsert.jobs": "count", "index.upsert.stages": "count",
    "index.upsert.shuffle_write_bytes": "B", "index.upsert.driver_s": "s",
    "search.bm25.segmented.s": "s", "search.bm25.segmented.jobs": "count",
    "search.bm25.segmented.shuffle_read_bytes": "B",
    "search.bm25.exploded.s": "s", "search.bm25.exploded.jobs": "count",
    "search.bm25.exploded.stages": "count", "search.bm25.exploded.shuffle_read_bytes": "B",
    "search.wand.single.s": "s", "search.wand.single.jobs": "count",
    "search.wand.single.driver_s": "s", "search.wand.single.no_job_share": "ratio",
    "search.wand.distributed_share": "ratio", "search.wand.cold_term_share": "ratio",
    "search.wand.blocks_skipped_ratio": "ratio", "search.wand.segments_scored_ratio": "ratio",
    "search.local.warmup_s": "s", "search.local.search_boolean_ms": "ms",
    "search.request.select.s": "s", "search.request.select.jobs": "count",
    "search.request.select.stages": "count",
    "search.request.select.shuffle_read_bytes": "B", "search.request.select.driver_s": "s",
    "search.request.local_overhead_ms": "ms",
    "tagging.dictionary.build_s": "s", "tagging.dictionary.jobs": "count",
    "tagging.dictionary.terms": "count",
    "tagging.tag.s_per_1k_docs.NO_SUB": "s",
    "tagging.tag.s_per_1k_docs.LONGEST_DOMINANT_RIGHT": "s",
    "tagging.tag.s_per_1k_docs.ALL": "s",
    "tagging.tag.exec_cpu_s": "s", "tagging.tag.jobs": "count",
    "tagging.tag.tags_per_doc": "count",
    "tagging.build_dict_terms.s": "s",
    "tagging.tag_join.s": "s", "tagging.tag_join.jobs": "count",
    "tagging.tag_join.stages": "count", "tagging.tag_join.shuffle_write_bytes": "B",
    "trace.bookkeeping_share": "ratio",
    **{f"traced.{k}": u for k, u in {**E2E, **NAMED}.items()},
}

def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    try:
        import solrtexttagger_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    workdir = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    spark = None
    try:
        cpus = pin_environment(workdir)
        import gen
        import workloads
        from solrtexttagger_spark import get_spark
        from spans import Tracer

        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench")
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
        b = workloads.Bench(spark, tracer, gen.Generator(args.seed), workdir)
        wl = workloads.WORKLOADS[args.workload](b, trace_layers=bool(args.trace))
        t0 = time.perf_counter()
        wl.setup()
        t1 = time.perf_counter()
        for _ in range(wl.warmup_rounds):  # every operation type, untimed
            wl.round()
        setup_parts = {"session_s": session_s, "prepare_s": t1 - t0,
                       "warmup_s": time.perf_counter() - t1}
        b.recording = True
        setup_s = time.perf_counter() - T_START

        # closed loop, whole rounds: at least MIN_ROUNDS, then on until
        # --seconds have passed; the query streams hold max_rounds
        rounds = 0
        t_loop = time.perf_counter()
        while (rounds < MIN_ROUNDS or time.perf_counter() - t_loop < args.seconds) and (
            wl.max_rounds is None or rounds < wl.max_rounds
        ):
            tracer.new_request()
            wl.round()
            rounds += 1
        loop_s = time.perf_counter() - t_loop

        named = {
            "setup_s": {"value": setup_s, "unit": "s", "n": 1},
            "round_s": {"value": round_time(b.samples, wl.op_types, rounds), "unit": "s",
                        "n": rounds},
            "driver_peak_rss_mb": {
                "value": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
                "unit": "MB", "n": 1,
            },
            **wl.metrics(),
        }
        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cpus": cpus, "loop_s": loop_s, "setup_parts": setup_parts, "sizes": wl.sizes(),
            "attempted": b.attempted, "failed": b.failed, "rounds": rounds,
            "metrics": named,
            "ops": {t: {"n": len(b.samples[t]),
                        "p50_ms": workloads.percentile(b.samples[t], 50) * 1e3}
                    for t in wl.op_types},
        }
        if args.trace:
            layers = {
                **layer_table(tracer, b),
                "session.start_s": session_s,
                **spark_per_op(tracer, loop_s),
                "trace.bookkeeping_share": tracer.bookkeeping_s / loop_s,
                **{f"traced.{k}": m["value"] for k, m in named.items()},
            }
            report["layers"] = layers
            result_metrics = {k: _number(layers.get(k, 0.0)) for k in PER_LAYER}
            units = PER_LAYER
            write_spans(tracer, args)
        else:
            result_metrics = {k: _number(named[k]["value"]) for k in E2E}
            units = E2E

        for name, m in named.items():
            extra = "".join(f"  {k}={v:.6g}" for k, v in m.items() if k.startswith("p"))
            print(f"{args.workload:6s} {name:30s} {m['value']:14.6g} {m['unit']:7s} n={m['n']}{extra}")
        print(f"{args.workload:6s} {'operations':30s} attempted={b.attempted} failed={b.failed}")
        print(json.dumps(report, default=float))
        ok = (b.failed == 0 and bool(rounds)
              and all(math.isfinite(m["value"]) for m in named.values()))
        print(json.dumps({
            "correct": ok,
            "attempted": max(1, b.attempted),
            "failed": min(b.failed, b.attempted),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in result_metrics.items()},
        }))
        return 0 if ok else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, ".work"))
        except OSError:
            pass


def round_time(samples: dict, op_types: tuple, rounds: int) -> float:
    """Time of one round of the workload's operation mix: per operation
    type, its calls per round times its median call time. The medians keep
    one slow call from moving the figure as much as a mean of round times
    would."""
    from workloads import percentile

    if not rounds:
        return math.nan
    return sum(len(samples[t]) / rounds * percentile(samples[t], 50) for t in op_types)


def _number(v: float) -> float:
    """JSON has no NaN: a figure the run could not form reads 0."""
    return v if math.isfinite(v) else 0.0


def write_spans(tracer, args) -> None:
    out_dir = os.path.join(HERE, "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump([sp.as_dict() for sp in tracer.spans], f)


if __name__ == "__main__":
    sys.exit(main())
