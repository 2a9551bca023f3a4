"""The two batch workloads.

Each workload stages its inputs, warms up with one untimed full-size
iteration, and then runs closed-loop iterations (one job at a time)
through ``run_once``.  The timed part of an iteration is wrapped in
``clock.section`` — an untraced stopwatch, or the root span of a traced
run — and everything after it (the correctness gate, byte counts) is
untimed.

``run_once`` returns a dict:

* ``docs`` / ``main_s``: input pages and wall time of the main pass
* ``resume_s``: wall time of the incremental pass over base + delta
* ``attempted`` / ``failed``: pages checked and pages that failed
* ``written`` / ``input_bytes``: bytes written to storage (shuffle files
  plus committed output) and input html bytes
"""

from __future__ import annotations

import os

import inputs
from hostenv import dir_bytes, remove_tree
from tracing import Clock, group_io

DIGEST = ("count(1) AS n", "bit_xor(xxhash64(url, text)) AS d")

# input sizes per workload: an iteration takes 5-15 s on a 4-core host,
# so a run, set-up included, takes about a minute
SIZES = {"staged_extract": 2000, "corpus_build": 2000}


def _digest(df) -> tuple[int, int]:
    row = df.selectExpr(*DIGEST).collect()[0]
    return int(row["n"]), int(row["d"] or 0)


def wrong_urls(out, golden) -> int:
    """Untimed diagnostic: golden urls whose output text is wrong or
    missing, plus output rows for urls not in the input."""
    g = golden.select("url", golden.text.alias("want"))
    j = g.join(out.select("url", "text"), "url", "full_outer")
    return j.filter("want IS NULL OR text IS NULL OR want <> text").count()


class _Workload:
    name = ""

    def __init__(self, cache_root: str, work_root: str, seed: int,
                 size: int | None = None):
        self.cache_root = cache_root
        self.work_root = work_root
        self.seed = seed
        self.size = size or SIZES[self.name]
        self.corrupt = False  # self-test: flip one output text
        # last iteration's layer figures, for the traced run's breakdown
        self.last_work: dict = {}
        self.last_counts: dict = {}
        self.last_sink: dict = {}

    def warm_up(self, spark) -> None:
        """One untimed full-size iteration.  It pays the one-off costs
        (JVM JIT, Spark codegen, Python worker start) of every job the
        timed iterations run.  They hardly depend on the input size: a
        warm-up on a quarter of the input took as long."""
        self.run_once(spark, "warmup", Clock())

    def layer_figures(self, spark) -> dict:
        """Untimed figures the traced run reports beside its spans."""
        return {}

    def sample_htmls(self, limit: int) -> list:
        return inputs.sample_html_pages(f"{self.dir}/base", limit)

    def _maybe_corrupt(self, df):
        if not self.corrupt:
            return df
        from pyspark.sql import functions as F

        first = df.select(F.min("url")).collect()[0][0]
        return df.withColumn("text", F.when(
            F.col("url") == first, F.concat(F.col("text"), F.lit("!")))
            .otherwise(F.col("text")))


class StagedExtract(_Workload):
    """extract_staged into a fresh work dir, then a resume pass over the
    same pages plus a ~10% delta of new doc ids."""

    name = "staged_extract"

    def stage(self, spark):
        self.dir, self.meta = inputs.stage_pages(
            self.cache_root, self.seed, self.size, delta=self.size // 10)
        self.base = spark.read.parquet(f"{self.dir}/base")
        self.full = spark.read.parquet(f"{self.dir}/base",
                                       f"{self.dir}/delta")
        if "golden_full" not in self.meta:
            base, delta = f"{self.dir}/base", f"{self.dir}/delta"
            self.meta["golden_base"] = inputs.golden_digest(spark, base)
            self.meta["golden_full"] = inputs.golden_digest(spark, base,
                                                            delta)
            inputs.write_meta(self.dir, self.meta)

    def run_once(self, spark, tag, clock):
        from pyspark.sql import functions as F

        from origami_spark.pipeline import extract_staged

        wd = os.path.join(self.work_root, tag)
        remove_tree(wd)
        spark.sparkContext.setJobGroup(tag, tag)
        with clock.section("cold"):
            cold = self._maybe_corrupt(extract_staged(
                spark, self.base, wd, run_id=f"{tag}c"))
            got_cold = _digest(cold)
        with clock.section("resume"):
            full = extract_staged(spark, self.full, wd, run_id=f"{tag}r")
            got_full = _digest(full)
        cold_s, resume_s = clock.sections[-2][1], clock.sections[-1][1]
        n, delta = self.meta["n"], self.meta["delta"]
        failed = 0
        if got_cold != tuple(self.meta["golden_base"]):
            failed += wrong_urls(cold, self.base)
        if got_full != tuple(self.meta["golden_full"]):
            failed += wrong_urls(full, self.full)
        # the resume pass must compute exactly the delta rows
        lineage = spark.read.parquet(os.path.join(wd, "_lineage"))
        computed = lineage.filter(
            (F.col("stage") == "s8_compose")
            & (F.col("run_id") == f"{tag}r")).agg(
            F.sum("doc_count")).collect()[0][0] or 0
        failed += abs(computed - delta)
        written, files = dir_bytes(wd)
        self.last_work = {"bytes": written, "files": files,
                          "resume_rows_computed": computed,
                          "resume_rows_skipped": n + delta - computed}
        remove_tree(wd)
        return {"docs": n, "main_s": cold_s, "resume_s": resume_s,
                "attempted": 2 * n + delta, "failed": failed,
                "written": written + group_io(spark, tag)[0],
                "input_bytes": (self.meta["html_bytes_base"]
                                + self.meta["html_bytes_delta"])}


class CorpusBuild(_Workload):
    """read_warc -> build_corpus(near_dup, dedup_paragraphs) -> JSONL."""

    name = "corpus_build"

    def stage(self, spark):
        self.dir, self.meta = inputs.stage_warc(
            self.cache_root, self.seed, self.size)
        self.warc = f"{self.dir}/warc"
        self.expected_rows = inputs.read_expected(self.dir)

    def sample_htmls(self, limit: int) -> list:
        return inputs.sample_html_warc(self.warc, limit)

    def layer_figures(self, spark) -> dict:
        from origami_spark.sources.warc import warc_scan_stats

        return {"skipped_records": warc_scan_stats(spark, self.warc).agg(
            {"skipped_records": "sum"}).collect()[0][0]}

    def _build(self, spark, out_dir):
        from corpus_job import build_corpus

        from origami_spark.sources.warc import read_warc

        return build_corpus(spark, read_warc(spark, self.warc), out_dir,
                            near_dup=True, dedup_paragraphs=True,
                            min_tokens=inputs.MIN_TOKENS)

    def run_once(self, spark, tag, clock):
        out = os.path.join(self.work_root, tag)
        remove_tree(out)
        spark.sparkContext.setJobGroup(tag, tag)
        with clock.section("build"):
            counts = self._build(spark, out)
        wall = clock.sections[-1][1]
        rows = inputs.read_jsonl_rows(out)
        if self.corrupt and rows:
            rows[0] = (rows[0][0], rows[0][1] + "!")
        failed = self.gate(counts, rows)
        written, files = dir_bytes(out)
        self.last_counts = counts
        self.last_sink = {"bytes": written, "files": files}
        remove_tree(out)
        return {"docs": self.meta["n"], "main_s": wall, "resume_s": wall,
                "attempted": self.meta["n"], "failed": failed,
                "written": written + group_io(spark, tag)[0],
                "input_bytes": self.meta["html_bytes"]}

    def gate(self, counts: dict, rows: list) -> int:
        """Pages counted as failed, against the reference the generator
        gives (``reference.expected_corpus``): every per-stage survivor
        count off its expected value, exported rows that are missing,
        unexpected, duplicated or carry the wrong text, and a JSONL line
        count other than ``exported``."""
        failed = sum(abs(counts.get(k, 0) - v)
                     for k, v in self.meta["expected_counts"].items())
        failed += abs(len(rows) - counts["exported"])
        got = dict(rows)
        failed += len(rows) - len(got)
        want = self.expected_rows
        failed += sum(1 for u, t in want.items() if got.get(u) != t)
        failed += sum(1 for u in got if u not in want)
        return failed


WORKLOADS = {w.name: w for w in (StagedExtract, CorpusBuild)}
