#!/usr/bin/env python3
"""Benchmark of the origami_spark batch pipeline.

    python3 perfbench/run.py --workload corpus_build --seed 1 \
        --seconds 20 --trace 0

Runs one workload (see README.md) as a closed loop with one client on
Spark ``local[nproc]``: set-up (session start, seeded input staging,
one untimed full-size warm-up iteration), then whole iterations for
``--seconds`` seconds, each checked for correctness.  The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
breakdown of a separate traced iteration with ``--trace 1``.

Scratch data (input cache, per-run Spark dirs, span files, per-run
diagnostics) lives in ``.perfbench_scratch/`` at the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import uuid

import hostenv
import tracing
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench_scratch")

END_TO_END = {
    "docs_per_s": "docs/s", "resume_s": "s", "setup_s": "s",
    "write_amp": "B/B", "peak_rss_mb": "MB", "ok_share": "share",
}

PER_LAYER = {
    "session.start_s": "s",
    "tokenizer.build_tree_us_p50": "us", "tokenizer.build_tree_us_p99": "us",
    "blocks.extract_page_us_p50": "us", "blocks.extract_page_us_p99": "us",
    "blocks.per_doc": "count",
    "extract_local.doc_us_p50": "us", "extract_local.doc_us_p99": "us",
    "pipeline.fused_self_s": "s", "pipeline.repartition_shuffle_mb": "MB",
    "pipeline.kernel_share": "share",
    "parse.self_s": "s", "parse.blocks_out": "count",
    "layout.self_s": "s", "layout.blocks_in": "count",
    "layout.blocks_kept": "count", "layout.shuffle_mb": "MB",
    "order.self_s": "s", "order.shuffle_mb": "MB",
    "compose.self_s": "s", "compose.shuffle_mb": "MB",
    "runner.commit_s": "s", "runner.bytes_written_mb": "MB",
    "runner.files_written": "count", "runner.resume_rows_computed": "count",
    "runner.resume_rows_skipped": "count",
    "warc.self_s": "s", "warc.mb_in": "MB", "warc.pages_out": "count",
    "warc.skipped_records": "count",
    "text.quality_self_s": "s",
    "dedup.exact_self_s": "s", "dedup.minhash_self_s": "s",
    "dedup.lsh_pairs": "count", "dedup.near_dup_dropped": "count",
    "dedup.paragraph_self_s": "s",
    "components.self_s": "s", "components.edges_in": "count",
    "components.clusters": "count",
    "sinks.export_s": "s", "sinks.bytes_written_mb": "MB",
    "sinks.shards": "count",
    "trace.untraced_wall_s": "s", "trace.traced_wall_s": "s",
    "trace.overhead_s": "s", "trace.uncovered_s": "s",
    "trace.uncovered_share": "share", "trace.sample_docs": "count",
}

SAMPLE_DOCS = 2000
MB = 1e6


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # self-test knobs (selftest.py): tiny inputs, one corrupted output
    p.add_argument("--size", type=int, default=None, help=argparse.SUPPRESS)
    p.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def preflight() -> None:
    """Fail fast, before any side effect, when the program is absent."""
    needed = ["origami_spark/__init__.py", "origami_spark/pipeline.py",
              "jobs/corpus_job.py"]
    missing = [f for f in needed if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        sys.exit(f"perfbench: program sources missing under {ROOT}: "
                 f"{', '.join(missing)}")


def _metric(values: dict, units: dict) -> dict:
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def end_to_end(iters, setup_s) -> dict:
    main = statistics.median(r["main_s"] for r in iters)
    attempted = sum(r["attempted"] for r in iters)
    failed = sum(r["failed"] for r in iters)
    return _metric({
        "docs_per_s": iters[0]["docs"] / main,
        "resume_s": statistics.median(r["resume_s"] for r in iters),
        "setup_s": setup_s,
        "write_amp": (sum(r["written"] for r in iters)
                      / sum(r["input_bytes"] for r in iters)),
        # the first timed iteration's: the JVM's RSS grows as G1 expands
        # the heap, so a later iteration's peak would depend on how many
        # iterations a run fits
        "peak_rss_mb": iters[0]["peak_rss"] / MB,
        "ok_share": 1.0 - failed / attempted,
    }, END_TO_END)


def per_layer(wl, summary, micro, figures, session_s, untraced_s,
              cores) -> dict:
    fn = summary["by_fn"]
    layer = summary["by_layer"]

    def f(name, key="self_s"):
        return fn.get(f"origami_spark.{name}", {}).get(key, 0)

    fused_self = f("pipeline.extract_fused")
    fused_docs = f("pipeline.extract_fused", "rows_out")
    kernel_s = micro["extract_local.doc_us_mean"] / 1e6 * fused_docs / cores
    work, counts, sink = wl.last_work, wl.last_counts, wl.last_sink
    dropped = (counts.get("after_exact_dedup", 0)
               - counts.get("after_near_dup", 0))
    blocks_out = f("pipeline.parse_stage", "rows_out")
    traced_s = summary["traced_wall_s"]
    values = {
        "session.start_s": session_s,
        "tokenizer.build_tree_us_p50": micro["tokenizer.build_tree_us_p50"],
        "tokenizer.build_tree_us_p99": micro["tokenizer.build_tree_us_p99"],
        "blocks.extract_page_us_p50": micro["blocks.extract_page_us_p50"],
        "blocks.extract_page_us_p99": micro["blocks.extract_page_us_p99"],
        "blocks.per_doc": micro["blocks.per_doc"],
        "extract_local.doc_us_p50": micro["extract_local.doc_us_p50"],
        "extract_local.doc_us_p99": micro["extract_local.doc_us_p99"],
        "pipeline.fused_self_s": fused_self,
        "pipeline.repartition_shuffle_mb":
            f("pipeline.extract_fused", "shuffle_bytes") / MB,
        "pipeline.kernel_share": kernel_s / fused_self if fused_self else 0,
        "parse.self_s": layer.get("kernels.parse", 0),
        "parse.blocks_out": blocks_out,
        "layout.self_s": layer.get("operators.layout", 0),
        "layout.blocks_in": blocks_out,
        "layout.blocks_kept": f("operators.layout.refine", "rows_out"),
        "layout.shuffle_mb": f("operators.layout.refine", "shuffle_bytes") / MB,
        "order.self_s": layer.get("operators.order", 0),
        "order.shuffle_mb":
            f("operators.order.rank_blocks", "shuffle_bytes") / MB,
        "compose.self_s": layer.get("operators.compose", 0),
        "compose.shuffle_mb":
            f("operators.compose.compose", "shuffle_bytes") / MB,
        "runner.commit_s": layer.get("plans.runner", 0),
        "runner.bytes_written_mb": work.get("bytes", 0) / MB,
        "runner.files_written": work.get("files", 0),
        "runner.resume_rows_computed": work.get("resume_rows_computed", 0),
        "runner.resume_rows_skipped": work.get("resume_rows_skipped", 0),
        "warc.self_s": layer.get("sources.warc", 0),
        "warc.mb_in": wl.meta.get("warc_bytes", 0) / MB,
        "warc.pages_out": f("sources.warc.read_warc", "rows_out"),
        "warc.skipped_records": figures.get("skipped_records", 0),
        "text.quality_self_s": layer.get("operators.text", 0),
        "dedup.exact_self_s": f("operators.dedup.exact_duplicates"),
        "dedup.minhash_self_s": f("operators.dedup.minhash_lsh_candidates"),
        "dedup.lsh_pairs":
            f("operators.dedup.minhash_lsh_candidates", "rows_out"),
        "dedup.near_dup_dropped": dropped,
        "dedup.paragraph_self_s": f("operators.dedup.paragraph_dedup"),
        "components.self_s": layer.get("operators.components", 0),
        "components.edges_in":
            f("operators.dedup.minhash_lsh_candidates", "rows_out"),
        "components.clusters": max(
            f("operators.components.connected_components", "rows_out")
            - dropped, 0),
        "sinks.export_s": layer.get("sinks", 0),
        "sinks.bytes_written_mb": sink.get("bytes", 0) / MB,
        "sinks.shards": counts.get("shards", 0),
        "trace.untraced_wall_s": untraced_s,
        "trace.traced_wall_s": traced_s,
        "trace.overhead_s": traced_s - untraced_s,
        "trace.uncovered_s": summary["uncovered_s"],
        "trace.uncovered_share": summary["uncovered_s"] / traced_s,
        "trace.sample_docs": micro["sample_docs"],
    }
    return _metric(values, PER_LAYER)


def _iteration(wl, spark, tag, clock, rss) -> dict:
    rss.reset()
    t0 = time.perf_counter()
    r = wl.run_once(spark, tag, clock)
    r["iter_s"] = time.perf_counter() - t0
    r["peak_rss"] = rss.peak()
    r["peak_rss_by_comm"] = rss.peak_by_comm()
    r["failed"] = min(r["failed"], r["attempted"])  # gates can overlap
    return r


def bench(args, rss, run_dir) -> tuple[dict, dict]:
    """-> (result line, diagnostics)."""
    cores = hostenv.cores()
    t0 = time.perf_counter()
    from origami_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}", cores=cores)
    session_s = time.perf_counter() - t0
    try:
        return _bench(args, rss, run_dir, spark, cores, t0, session_s)
    finally:
        stop_spark(spark)


def _bench(args, rss, run_dir, spark, cores, t0, session_s):
    spark.sparkContext.setLogLevel("ERROR")
    wl = WORKLOADS[args.workload](
        os.path.join(SCRATCH, "inputs"), os.path.join(run_dir, "work"),
        args.seed, size=args.size)
    t1 = time.perf_counter()
    wl.stage(spark)
    t2 = time.perf_counter()
    wl.warm_up(spark)
    t3 = time.perf_counter()
    setup_s = t3 - t0
    wl.corrupt = args.corrupt
    diag = {"workload": args.workload, "seed": args.seed, "cores": cores,
            "session_s": session_s, "stage_s": t2 - t1, "warmup_s": t3 - t2,
            "setup_s": setup_s, "trace": args.trace}

    steal0, load0 = hostenv.cpu_jiffies(), hostenv.loadavg()
    if not args.trace:
        # another iteration starts only if one of median length still
        # ends within --seconds
        iters = []
        start = time.perf_counter()
        while not iters or (
                time.perf_counter() - start
                + statistics.median(r["iter_s"] for r in iters)
                <= args.seconds):
            iters.append(_iteration(wl, spark, f"it{len(iters)}",
                                    tracing.Clock(), rss))
        metrics = end_to_end(iters, setup_s)
    else:
        clock = tracing.Clock()
        iters = [_iteration(wl, spark, "untraced", clock, rss)]
        rec = tracing.SpanRecorder(spark, uuid.uuid4().hex[:12], t0)
        rec.record("origami_spark.session.get_spark", "session", t0,
                   t0 + session_s)
        with tracing.patched_layers(rec):
            iters.append(_iteration(wl, spark, "traced", rec, rss))
        micro = tracing.per_doc_timings(wl.sample_htmls(SAMPLE_DOCS), rec)
        rec.attach_io(spark)
        os.makedirs(os.path.join(SCRATCH, "traces"), exist_ok=True)
        span_file = os.path.join(
            SCRATCH, "traces", f"{args.workload}-seed{args.seed}-"
            f"{rec.run_id}.json")
        rec.dump(span_file)
        summary = tracing.summarize(span_file)
        untraced_s = sum(s for _, s in clock.sections)
        metrics = per_layer(wl, summary, micro, wl.layer_figures(spark),
                            session_s, untraced_s, cores)
        diag["span_file"] = span_file
    diag.update({
        "steal_share": hostenv.steal_share(steal0, hostenv.cpu_jiffies()),
        "loadavg_start": load0, "loadavg_end": hostenv.loadavg(),
        "iterations": iters,
    })
    attempted = sum(r["attempted"] for r in iters)
    failed = sum(r["failed"] for r in iters)
    return ({"correct": failed == 0, "attempted": attempted,
             "failed": failed, "metrics": metrics}, diag)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM launched for it, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    preflight()
    run_dir = os.path.join(SCRATCH, "runs",
                           f"{args.workload}-seed{args.seed}-{os.getpid()}")
    hostenv.hermetic(ROOT, run_dir)
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "jobs")]
    try:
        with hostenv.RssSampler() as rss:
            result, diag = bench(args, rss, run_dir)
    finally:
        os.chdir(SCRATCH)
        hostenv.remove_tree(run_dir)
    os.makedirs(os.path.join(SCRATCH, "diag"), exist_ok=True)
    with open(os.path.join(SCRATCH, "diag", os.path.basename(run_dir)
                           + f"-trace{args.trace}.json"), "w") as f:
        json.dump({"result": result, "diag": diag}, f, indent=1)
    print(json.dumps({k: diag[k] for k in
                      ("setup_s", "steal_share", "loadavg_end")}),
          file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
