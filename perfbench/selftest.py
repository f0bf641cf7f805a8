"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py

Runs each workload of BENCHMARK.json at a tiny size in one Spark JVM, once
untraced and once traced, and fails (exit code 1) unless

* every metric BENCHMARK.json names is emitted, with its unit, and nothing
  else is, and the output checks pass;
* no span's children cover more time than the span, so no self time is
  negative;
* assembly reconciles: ways in = rings out + ways dropped.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

TINY = {
    # enough zones that the sampled PIP check has hits to compare
    "pip_flagship": dict(n_docs=4000, n_zones=200, n_groups=2, n_points=3000,
                         radius_scale=1.5, partitions=2),
    "convert_commit": dict(n_docs=1500, n_zones=24, n_groups=3, n_points=600,
                           radius_scale=1.5, partitions=2),
}


def check_result(spec: dict, result: dict, trace: int) -> list[str]:
    errors = []
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        errors.append(f"metrics differ from BENCHMARK.json: missing {set(want) - set(got)}, "
                      f"extra {set(got) - set(want)}, units {[k for k in want if got.get(k, want[k]) != want[k]]}")
    if not all(isinstance(v["value"], float) for v in result["metrics"].values()):
        errors.append("a metric value is not a number")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        errors.append(f"run not correct: {result['correct']}, {result['failed']}/{result['attempted']}")
    return errors


def check_spans(spans: list[dict]) -> list[str]:
    errors = []
    for s in spans:
        kids = [c for c in spans if c["parent"] == s["name"]]
        covered = sum(c["end_s"] - c["start_s"] for c in kids)
        if covered > (s["end_s"] - s["start_s"]) + 1e-6:
            errors.append(f"children of span {s['name']} cover more than the span")
        for c in kids:
            if c["start_s"] < s["start_s"] or c["end_s"] > s["end_s"]:
                errors.append(f"span {c['name']} lies outside its parent {s['name']}")
    return errors


def main() -> int:
    sys.path[:0] = [HERE, ROOT]
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(ROOT, ".bench_work", f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    errors: list[str] = []
    bench = None
    try:
        for w in spec["workloads"]:
            for trace in (0, 1):
                args = argparse.Namespace(workload=w["name"], seed=7, seconds=0.0, trace=trace)
                spark = bench.spark if bench is not None else None
                bench = run.Bench(args, work)
                bench.spark = spark
                bench.w.sizes = TINY[w["name"]]
                result = bench.run()
                where = f"{w['name']} trace={trace}: "
                errors += [where + e for e in check_result(spec, result, trace)]
                if trace:
                    errors += [where + e for e in check_spans(bench.report["spans"])]
                    m = {k: v["value"] for k, v in result["metrics"].items()}
                    if m["assemble.ways_in"] != m["assemble.rings_out"] + m["assemble.dropped"]:
                        errors.append(where + "assemble does not reconcile: ways in "
                                      f"{m['assemble.ways_in']} != rings out {m['assemble.rings_out']}"
                                      f" + dropped {m['assemble.dropped']}")
                print(where + ("ok" if not errors else "; ".join(errors)), flush=True)
    finally:
        if bench is not None:
            bench.close()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # only when no run uses it
            os.rmdir(os.path.dirname(work))
    for e in errors:
        print("FAIL", e)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
