"""Span recorder, layer wrappers and the per-layer breakdown.

A traced run patches each layer's public entry functions (``LAYERS``)
with a wrapper that opens a span, calls the function, and — when the
result is a DataFrame — caches and counts it inside the span.  Every
layer's output is thus materialized in pipeline order, so a span's
duration minus its children's is that layer's self time.  Each span
also sets its own Spark job group, so the shuffle and output bytes of
the stages it ran are read back from Spark's status store afterwards.

Spans stay in memory and are written to one JSON file when the traced
run ends; self times are then computed from that file.
"""

from __future__ import annotations

import importlib
import json
import statistics
import sys
import time
from contextlib import contextmanager

# (module, public function, layer).  parse_stage lives in pipeline but is
# the only caller of the kernels.parse mapInPandas kernel, so its span
# is that layer's.
LAYERS = [
    ("origami_spark.pipeline", "extract_fused", "pipeline"),
    ("origami_spark.pipeline", "extract_staged", "pipeline"),
    ("origami_spark.pipeline", "parse_stage", "kernels.parse"),
    ("origami_spark.operators.layout", "refine", "operators.layout"),
    ("origami_spark.operators.order", "rank_blocks", "operators.order"),
    ("origami_spark.operators.compose", "compose", "operators.compose"),
    ("origami_spark.plans.runner", "run_stage", "plans.runner"),
    ("origami_spark.sources.warc", "read_warc", "sources.warc"),
    ("origami_spark.operators.text", "quality_score", "operators.text"),
    ("origami_spark.operators.dedup", "exact_duplicates", "operators.dedup"),
    ("origami_spark.operators.dedup", "minhash_lsh_candidates",
     "operators.dedup"),
    ("origami_spark.operators.dedup", "paragraph_dedup", "operators.dedup"),
    ("origami_spark.operators.components", "keep_one_per_component",
     "operators.components"),
    ("origami_spark.operators.components", "connected_components",
     "operators.components"),
    ("origami_spark.sinks", "export_jsonl", "sinks"),
]

ROOT_LAYER = "benchmark"


class Clock:
    """Untraced timing of the benchmark's timed sections."""

    def __init__(self):
        self.sections: list[tuple[str, float]] = []

    @contextmanager
    def section(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.sections.append((name, time.perf_counter() - t0))


class SpanRecorder(Clock):
    """Spans with name, layer, start, end, parent and run id, in seconds
    since ``t0`` (a ``time.perf_counter()`` reading).  Timed sections of
    the benchmark are root spans of layer ``ROOT_LAYER``."""

    def __init__(self, spark, run_id: str, t0: float):
        super().__init__()
        self._sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._t0 = t0

    def record(self, name: str, layer: str, start: float, end: float):
        """A root span for an interval timed before the recorder existed
        (``time.perf_counter()`` readings)."""
        self.spans.append({"id": len(self.spans), "name": name,
                           "layer": layer, "parent": None,
                           "run_id": self.run_id, "group": None,
                           "start": start - self._t0,
                           "end": end - self._t0})

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "layer": layer,
               "parent": parent["id"] if parent else None,
               "run_id": self.run_id,
               "group": f"{self.run_id}-{len(self.spans)}",
               "start": time.perf_counter() - self._t0, "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        before = self._sc.getLocalProperty("spark.jobGroup.id")
        self._sc.setLocalProperty("spark.jobGroup.id", rec["group"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            self._sc.setLocalProperty("spark.jobGroup.id", before)

    @contextmanager
    def section(self, name: str):
        with self.span(name, ROOT_LAYER) as rec:
            yield
        self.sections.append((name, rec["end"] - rec["start"]))

    def attach_io(self, spark) -> None:
        for rec in self.spans:
            if rec["group"]:
                rec["shuffle_write_bytes"], rec["output_bytes"] = group_io(
                    spark, rec["group"])

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f,
                      indent=1)


@contextmanager
def patched_layers(recorder: SpanRecorder):
    """Wrap every ``LAYERS`` function, in its defining module and in
    every origami_spark/job module that imported the same object.  The
    cached outputs are released on exit."""
    from pyspark.sql import DataFrame

    live = []

    def wrap(fn, qualname, layer):
        def traced(*args, **kwargs):
            with recorder.span(qualname, layer) as rec:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = out.cache()
                    rec["rows_out"] = out.count()
                    live.append(out)
            return out
        return traced

    undo = []
    for modname, fname, layer in LAYERS:
        orig = getattr(importlib.import_module(modname), fname)
        wrapper = wrap(orig, f"{modname}.{fname}", layer)
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name.startswith("origami_spark")
                                   or name == "corpus_job"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, wrapper)
                    undo.append((mod, attr, orig))
    try:
        yield
    finally:
        for mod, attr, orig in undo:
            setattr(mod, attr, orig)
        for df in live:
            df.unpersist()


# ---------------------------------------------------------------------------
# Spark's own stage metrics, per job group
# ---------------------------------------------------------------------------

def group_io(spark, group: str) -> tuple[int, int]:
    """(shuffle bytes written, output bytes written) by the completed
    stages of every job run under ``group``."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    gw = sc._gateway
    no_status = gw.jvm.java.util.ArrayList()
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    tracker = sc.statusTracker()
    shuffle = output = 0
    seen = set()
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        for stage in (info.stageIds if info else []):
            if stage in seen:
                continue
            seen.add(stage)
            attempts = store.stageData(stage, False, no_status, False,
                                       no_quantiles)
            for i in range(attempts.size()):
                d = attempts.apply(i)
                if d.status().toString() == "COMPLETE":
                    shuffle += d.shuffleWriteBytes()
                    output += d.outputBytes()
    return shuffle, output


# ---------------------------------------------------------------------------
# self times from the span file
# ---------------------------------------------------------------------------

def self_times(spans: list) -> dict:
    """span id -> duration minus the durations of its direct children
    (the driver is single-threaded, so children never overlap)."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


def summarize(path: str) -> dict:
    """Per-layer and per-function self seconds, bytes and rows from a
    span file, plus the traced wall and the part no layer span covers."""
    with open(path) as f:
        spans = json.load(f)["spans"]
    st = self_times(spans)
    by_layer: dict[str, float] = {}
    by_fn: dict[str, dict] = {}
    for s in spans:
        by_layer[s["layer"]] = by_layer.get(s["layer"], 0.0) + st[s["id"]]
        fn = by_fn.setdefault(s["name"], {"self_s": 0.0, "calls": 0,
                                          "shuffle_bytes": 0,
                                          "output_bytes": 0, "rows_out": 0})
        fn["self_s"] += st[s["id"]]
        fn["calls"] += 1
        fn["shuffle_bytes"] += s.get("shuffle_write_bytes", 0)
        fn["output_bytes"] += s.get("output_bytes", 0)
        fn["rows_out"] += s.get("rows_out", 0)
    wall = sum(s["end"] - s["start"] for s in spans
               if s["parent"] is None and s["layer"] == ROOT_LAYER)
    return {"by_layer": by_layer, "by_fn": by_fn, "traced_wall_s": wall,
            "uncovered_s": by_layer.get(ROOT_LAYER, 0.0)}


# ---------------------------------------------------------------------------
# per-document kernel timings (in-process, one thread)
# ---------------------------------------------------------------------------

def per_doc_timings(htmls: list, recorder: SpanRecorder) -> dict:
    """p50/p99 microseconds of the three per-document rule kernels over
    ``htmls``, plus blocks per document and the mean document time.
    Each kernel's pass over the sample is one span of its layer."""
    from origami_spark.extract_local import extract_document
    from origami_spark.html.blocks import extract_page
    from origami_spark.html.tokenizer import build_tree

    fns = {"tokenizer.build_tree": (build_tree, "html.tokenizer"),
           "blocks.extract_page": (extract_page, "html.blocks"),
           "extract_local.doc": (extract_document, "extract_local")}
    out: dict[str, float] = {"sample_docs": len(htmls)}
    blocks = 0
    for name, (fn, layer) in fns.items():
        us = []
        with recorder.span(f"{fn.__module__}.{fn.__name__}", layer):
            for h in htmls:
                t0 = time.perf_counter_ns()
                r = fn(h)
                us.append((time.perf_counter_ns() - t0) / 1e3)
                if fn is extract_page:
                    blocks += len(r)
        q = statistics.quantiles(us, n=100)
        out[f"{name}_us_p50"] = q[49]
        out[f"{name}_us_p99"] = q[98]
        out[f"{name}_us_mean"] = statistics.fmean(us)
    out["blocks.per_doc"] = blocks / max(len(htmls), 1)
    return out
