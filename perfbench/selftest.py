#!/usr/bin/env python3
"""Self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py [--workload NAME ...]

For each workload it checks that

* an untraced run prints every end-to-end metric of BENCHMARK.json with
  its unit, passes the correctness gate and reports ``ok_share`` 1;
* a traced run prints every per-layer metric with its unit;
* a run whose output has one flipped text fails the gate;

and, once, that the benchmark exits non-zero without printing a result
in a directory that holds only BENCHMARK.json and the benchmark, that
self times are computed from a span file as documented, and that the
``corpus_build`` gate fails a build whose survivor counts or export
differ from the generator's reference.  Takes a few minutes (each run
starts its own Spark session).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = {"staged_extract": 100, "corpus_build": 200}


def _run(workload: str, trace: int, extra=(), cwd=ROOT, script=None):
    cmd = [sys.executable, script or os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--size", str(TINY[workload]), *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                       timeout=300)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def _check_metrics(result: dict, spec: list, label: str) -> list:
    errs = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"{label}: result keys {sorted(result)}")
    want = {m["name"]: m["unit"] for m in spec}
    got = result["metrics"]
    if set(got) != set(want):
        errs.append(f"{label}: metrics differ: missing "
                    f"{sorted(set(want) - set(got))}, extra "
                    f"{sorted(set(got) - set(want))}")
    for name, unit in want.items():
        m = got.get(name, {})
        if m.get("unit") != unit or not isinstance(m.get("value"),
                                                   (int, float)):
            errs.append(f"{label}: {name} = {m}")
    return errs


def check_workload(workload: str, spec: dict) -> list:
    errs = []
    code, res, err = _run(workload, 0)
    if code or res is None:
        return [f"{workload}: exit {code}\n{err[-2000:]}"]
    errs += _check_metrics(res, spec["end_to_end"], f"{workload} trace0")
    if not res["correct"] or res["failed"] or \
            res["metrics"]["ok_share"]["value"] != 1.0:
        errs.append(f"{workload}: clean run failed its gate: {res}")

    code, res, err = _run(workload, 0, ["--corrupt"])
    if code or res is None:
        errs.append(f"{workload} corrupt: exit {code}\n{err[-2000:]}")
    elif res["correct"] or res["failed"] < 1:
        errs.append(f"{workload}: corrupted output passed the gate: {res}")

    code, res, err = _run(workload, 1)
    if code or res is None:
        errs.append(f"{workload} trace1: exit {code}\n{err[-2000:]}")
    else:
        errs += _check_metrics(res, spec["per_layer"], f"{workload} trace1")
        if not res["correct"]:
            errs.append(f"{workload}: traced run failed its gate: {res}")
    return errs


def check_bare_dir() -> list:
    """Only BENCHMARK.json + the benchmark: must exit non-zero, silently."""
    bare = os.path.join(ROOT, ".perfbench_scratch", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        code, res, _ = _run("corpus_build", 0, cwd=bare,
                            script=os.path.join(bare, "perfbench", "run.py"))
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or res is not None:
        return [f"bare dir: exit {code}, result {res}"]
    return []


def check_self_times() -> list:
    sys.path.insert(0, HERE)
    from tracing import self_times

    spans = [{"id": 0, "parent": None, "start": 0.0, "end": 10.0},
             {"id": 1, "parent": 0, "start": 1.0, "end": 5.0},
             {"id": 2, "parent": 1, "start": 2.0, "end": 3.0},
             {"id": 3, "parent": 0, "start": 6.0, "end": 9.0}]
    st = self_times(spans)
    want = {0: 3.0, 1: 3.0, 2: 1.0, 3: 3.0}
    return [] if st == want else [f"self_times {st} != {want}"]


def check_corpus_gate() -> list:
    """The gate against reference outputs, without Spark: the reference
    build passes; an empty export, a lost near copy and a changed text
    each fail."""
    sys.path[:0] = [HERE, ROOT]
    import inputs
    from reference import expected_corpus
    from workloads import CorpusBuild

    counts, rows = expected_corpus(inputs.corpus_records(7, 200))
    wl = CorpusBuild("", "", 7, size=200)
    wl.meta, wl.expected_rows = {"expected_counts": counts}, rows
    good = sorted(rows.items())
    cases = {
        "reference": (counts, good),
        "empty export": ({**counts, "after_para_dedup": 0, "exported": 0},
                         []),
        "near dup missed": ({**counts, "after_near_dup":
                             counts["after_near_dup"] + 1}, good),
        "changed text": (counts, [(good[0][0], good[0][1] + "!")]
                         + good[1:]),
    }
    errs = []
    for label, (c, r) in cases.items():
        failed = wl.gate(c, r)
        if (failed == 0) != (label == "reference"):
            errs.append(f"corpus gate, {label}: failed = {failed}")
    return errs


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="perfbench self-test")
    p.add_argument("--workload", action="append", choices=sorted(TINY))
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errs = check_self_times() + check_corpus_gate() + check_bare_dir()
    for w in args.workload or sorted(TINY):
        errs += check_workload(w, spec)
        print(f"{w}: done", file=sys.stderr)
    for e in errs:
        print("FAIL", e)
    print("selftest:", "FAILED" if errs else "ok")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
