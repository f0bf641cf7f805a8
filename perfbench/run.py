"""Benchmark of record for osm_to_netex_spark.

    python3 perfbench/run.py --workload pip_flagship --seed 1 --seconds 8 --trace 0

Run from the root of a checkout.  One process, one Spark session on
``local[3]``, closed loop: each iteration starts when the previous one has
fully materialized its result.  The corpus is generated from ``--seed`` with
the package's own generator and written as parquet under ``.bench_work/``,
which the run removes when it ends.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics of a separate traced iteration.  The last line of stdout
is one JSON object; the line before it is a report with the host and
lineage stamp, every iteration's time, the output checks and, when traced,
the spans.  See README.md beside this file for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# a fixed-size heap (-Xms = -Xmx): a growing heap's size follows GC
# heuristics, which made peak RSS vary by a quarter between runs
JVM_HEAP = "2g"
# session start and input generation are repeated and their median
# reported; the first repetition also pays for the JVM start
SETUP_REPS = 3
MIN_ITERATIONS = 3
SCALING_ITERATIONS = 2

# the end-to-end time is CPU time, not wall time: on a shared host the
# hypervisor's steal time moved the wall time of identical runs by up to
# half, and their CPU seconds by a tenth (see README.md)
END_TO_END = {
    "cpu_s": "s",
    "setup_s": "s",
    "peak_rss_mib": "MiB",
    "stored_bytes_per_input_byte": "ratio",
}

# span name -> per-layer metric holding its self time
SPAN_METRICS = {
    "documents": "documents.scan_s",
    "extract": "extract.self_s",
    "cells": "cells.self_s",
    "cache": "cache.materialize_s",
    "assemble": "assemble.self_s",
    "cover": "cover.self_s",
    "pip": "pip.self_s",
    "knn": "knn.self_s",
    "zones": "zones.self_s",
    "groups": "groups.self_s",
    "tile_assign": "tile_assign.self_s",
    "catalog": "catalog.commit_s",
    "render": "render.self_s",
}

PER_LAYER = {
    "wall_s": "s",
    "docs_per_s": "docs/s",
    "cpu_cores_busy": "cores",
    "jit_cpu_s": "s",
    "documents.scan_s": "s",
    "documents.bytes_read": "bytes",
    "extract.self_s": "s",
    "extract.spans_in": "count",
    "extract.nodes_out": "count",
    "extract.ways_out": "count",
    "extract.parse_nulls": "count",
    "cells.self_s": "s",
    "cells.computed": "count",
    "cache.materialize_s": "s",
    "cache.bytes": "bytes",
    "assemble.self_s": "s",
    "assemble.ways_in": "count",
    "assemble.rings_out": "count",
    "assemble.dropped": "count",
    "assemble.refs_missing": "count",
    "assemble.broadcast_bytes": "bytes",
    "cover.self_s": "s",
    "cover.interior": "count",
    "cover.boundary": "count",
    "pip.self_s": "s",
    "pip.candidates": "count",
    "pip.hits": "count",
    "pip.hit_ratio": "ratio",
    "pip.raycast_share": "ratio",
    "zones.self_s": "s",
    "zones.out": "count",
    "zones.rejected": "count",
    "groups.self_s": "s",
    "groups.out": "count",
    "render.self_s": "s",
    "tile_assign.self_s": "s",
    "tile_assign.shuffle_bytes": "bytes",
    "catalog.commit_s": "s",
    "catalog.bytes_written": "bytes",
    "catalog.files_written": "count",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.tasks": "count",
    "trace.overhead_s": "s",
    "scaling_eff_1to4": "ratio",
    "failed_ratio": "ratio",
}

# printed only by knn_link, which is run by hand (see README.md)
KNN_LAYER = {
    "knn.self_s": "s",
    "knn.candidates": "count",
    "knn.resolved_round1_ratio": "ratio",
    "knn.escalated_quays": "count",
    "knn.fallback_quays": "count",
    "knn.candidates_per_row": "ratio",
    "knn.partition_skew": "ratio",
}


class Stopwatch:
    """Seconds spent inside `timed` blocks: wall, Spark-JVM CPU, the JVM's
    JIT compiler CPU and this Python process's CPU."""

    def __init__(self, probe) -> None:
        self.probe = probe
        self.wall = 0.0
        self.cpu = 0.0
        self.jit = 0.0
        self.py_cpu = 0.0

    @contextlib.contextmanager
    def timed(self):
        c0, j0, p0 = self.probe.cpu_s(), self.probe.jit_cpu_s(), time.process_time()
        t0 = time.perf_counter()
        yield
        self.wall += time.perf_counter() - t0
        self.py_cpu += time.process_time() - p0
        self.cpu += self.probe.cpu_s() - c0
        self.jit += self.probe.jit_cpu_s() - j0

    @property
    def work_cpu(self) -> float:
        """CPU seconds of the result outside the JIT compiler: the Spark
        JVM's other threads plus the Python driver."""
        return self.cpu - self.jit + self.py_cpu


class Bench:
    def __init__(self, args, work: str) -> None:
        from workloads import WORKLOADS

        self.args = args
        self.work = work
        self.w = WORKLOADS[args.workload](args.seed)
        self.spark = None
        self.report: dict = {"workload": args.workload, "seed": args.seed}

    # -- session ------------------------------------------------------------
    def session(self, cores: int):
        from osm_to_netex_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            app_name=f"perfbench-{self.w.name}",
            cores=cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.memory": JVM_HEAP,
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Xms{JVM_HEAP} -XX:-UseDynamicNumberOfCompilerThreads "
                    f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}"
                ),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def setup(self):
        """Session and inputs SETUP_REPS times, then the warm-up iterations.

        Returns the inputs, the warm-up result's digest and the set-up time:
        the median session-and-inputs repetition plus the warm-up."""
        from plan import JvmProbe

        times = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            spark = self.session(min(self.w.cores, len(os.sched_getaffinity(0))))
            inputs = self.w.make_inputs(spark, os.path.join(self.work, f"inputs-{rep}"))
            times.append(time.perf_counter() - t0)
            if rep:
                shutil.rmtree(os.path.join(self.work, f"inputs-{rep - 1}"))
        t0 = time.perf_counter()
        digests = set()
        for i in range(self.w.warmup):
            res = self.w.run(spark, inputs, self.work, f"warm{i}", Stopwatch(JvmProbe(spark)))
            self.w.cleanup(self.work, f"warm{i}")
            digests.add(res.digest)
        warm = time.perf_counter() - t0
        if len(digests) != 1:
            raise RuntimeError(f"warm-up iterations disagree: {digests}")
        self.report.update(setup_reps_s=times, warmup_s=warm)
        return inputs, res.digest, statistics.median(times) + warm

    # -- closed loop ----------------------------------------------------------
    def measure(self, inputs, reference: tuple, seconds: float, min_iterations: int) -> dict:
        from plan import JvmProbe

        spark = self.spark
        probe = JvmProbe(spark)
        stages0 = probe.stage_totals()
        ticks0 = probe.host_cpu_ticks()
        walls, cpus, cpu, jit, stored, last = [], [], 0.0, 0.0, [], None
        failed = 0
        t_start = time.perf_counter()
        i = 0
        while i < min_iterations or time.perf_counter() - t_start < seconds:
            sw = Stopwatch(probe)
            try:
                res = self.w.run(spark, inputs, self.work, i, sw)
                last = res
                ok = res.digest == reference
                if not ok:
                    print(f"iteration {i}: digest {res.digest} != {reference}", file=sys.stderr)
                stored.append(res.stored_bytes)
            except Exception:  # keep measuring; the run reports it as failed
                traceback.print_exc()
                ok = False
            failed += not ok
            walls.append(sw.wall)
            cpus.append(sw.work_cpu)
            cpu += sw.cpu
            jit += sw.jit
            if i:
                self.w.cleanup(self.work, i - 1)
            i += 1
        totals = probe.stage_totals(stages0["last_stage"])
        ticks = [b - a for a, b in zip(ticks0, probe.host_cpu_ticks())]
        self.report["host_steal_share"] = ticks[1] / ticks[0] if ticks[0] else 0.0
        return {
            "walls": walls,
            "cpus": cpus,
            "jvm_cpu_s": cpu,
            "jit_cpu_s": jit,
            "failed": failed,
            "stored_bytes": statistics.median(stored) if stored else 0,
            "stage_totals": totals,
            "peak_rss_mib": probe.peak_rss_mib(),
            "last": last,
        }

    # -- traced run -----------------------------------------------------------
    def traced(self, inputs, untraced_median: float) -> dict:
        from spans import Tracer

        tr = Tracer()
        m = self.w.traced(self.spark, inputs, tr, self.work)
        self.report["spans"] = tr.dump()
        self_times = tr.self_times()
        m.update({metric: self_times[span] for span, metric in SPAN_METRICS.items() if span in self_times})
        m["trace.overhead_s"] = (tr.spans[0].end - tr.spans[0].start) - untraced_median
        return m

    def scaling(self, inputs, reference: tuple) -> float:
        """(1-core time ÷ 4-core time) ÷ 4 on the same inputs and JVM."""
        from plan import JvmProbe

        medians = {}
        for cores in (4, 1):
            spark = self.session(cores)
            probe = JvmProbe(spark)
            walls = []
            for i in range(SCALING_ITERATIONS):
                sw = Stopwatch(probe)
                res = self.w.run(spark, inputs, self.work, f"scale{cores}-{i}", sw)
                if res.digest != reference:
                    raise RuntimeError(f"the {cores}-core leg gave a different result")
                walls.append(sw.wall)
            medians[cores] = statistics.median(walls)
        return medians[1] / medians[4] / 4

    # -- whole run --------------------------------------------------------------
    def run(self) -> dict:
        args = self.args
        t_start = time.perf_counter()
        inputs, reference, setup_s = self.setup()
        t_stamp = time.perf_counter()
        self.report["stamp"] = stamp(self.spark, self.w, args.seed)
        self.report["stamp_s"] = time.perf_counter() - t_stamp
        self.report["setup_total_s"] = t_stamp - t_start
        self.report["digest"] = list(reference)
        # the traced profile needs only an untraced reference iteration
        if args.trace:
            meas = self.measure(inputs, reference, 0.0, 1)
        else:
            meas = self.measure(inputs, reference, args.seconds, MIN_ITERATIONS)
        walls = meas["walls"]
        attempted, failed = len(walls), meas["failed"]
        t0 = time.perf_counter()
        if meas["last"] is None:
            raise RuntimeError("every measured iteration failed")
        errors = self.w.check(self.spark, inputs, meas["last"])
        self.report.update(iterations_s=walls, iterations_cpu_s=meas["cpus"], checks=errors or "ok",
                           check_s=time.perf_counter() - t0)
        if errors:
            failed = attempted
        wall = statistics.median(walls)
        timing = {
            "wall_s": wall,
            "docs_per_s": inputs.n_docs / wall,
            "cpu_cores_busy": meas["jvm_cpu_s"] / sum(walls),
            "jit_cpu_s": meas["jit_cpu_s"] / attempted,
        }
        if args.trace:
            units = dict(PER_LAYER, **(KNN_LAYER if self.w.name == "knn_link" else {}))
            metrics = {k: 0.0 for k in units}
            metrics.update(timing)
            metrics.update(self.traced(inputs, wall))
            tot = meas["stage_totals"]
            metrics.update({
                "spark.shuffle_bytes": tot["shuffle_bytes"] / attempted,
                "spark.spill_bytes": tot["spill_bytes"] / attempted,
                "spark.gc_s": tot["gc_s"] / attempted,
                "spark.tasks": tot["tasks"] / attempted,
                "failed_ratio": failed / attempted,
            })
            if self.w.name == "pip_flagship":
                metrics["scaling_eff_1to4"] = self.scaling(inputs, reference)
        else:
            self.report.update(timing)
            metrics = {
                "cpu_s": statistics.median(meas["cpus"]),
                "setup_s": setup_s,
                "peak_rss_mib": meas["peak_rss_mib"],
                "stored_bytes_per_input_byte": meas["stored_bytes"] / inputs.input_bytes,
            }
            units = END_TO_END
        self.report["failed_ratio"] = failed / attempted
        return {
            "correct": not errors and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }

    def close(self) -> None:
        """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def stamp(spark, w, seed: int) -> dict:
    """Host and lineage of a result.  Figures recorded on another host
    class (e.g. the older 32-vCPU BENCH_r0x files) are not a baseline."""
    config = {"workload": w.name, "sizes": w.sizes, "cores": w.cores,
              "jvm_heap": JVM_HEAP, "setup_reps": SETUP_REPS,
              "warmup_iterations": w.warmup, "min_iterations": MIN_ITERATIONS}
    src = hashlib.sha256()
    for d in ("osm_to_netex_spark", "perfbench"):
        for dirpath, dirs, names in sorted(os.walk(os.path.join(ROOT, d))):
            dirs.sort()
            for n in sorted(names):
                if n.endswith(".py"):
                    with open(os.path.join(dirpath, n), "rb") as fh:
                        src.update(n.encode() + fh.read())
    try:
        git = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=30).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        git = None
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {
        "host_class": f"{os.cpu_count()}cpu-{round(mem / 2**30)}GiB",
        "nproc": os.cpu_count(),
        "cpus_usable": len(os.sched_getaffinity(0)),
        "mem_total_mib": round(mem / 2**20),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "git_commit": git,
        "source_sha256": src.hexdigest(),
        "seed": seed,
        "config_sha256": hashlib.sha256(json.dumps(config, sort_keys=True).encode()).hexdigest(),
        "config": config,
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["pip_flagship", "convert_commit", "knn_link"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "osm_to_netex_spark")):
        print("perfbench: the osm_to_netex_spark package is not in this checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # keep the temporary files of Python, the JVM launcher and Spark inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path[:0] = [HERE, ROOT]

    bench = None
    try:
        bench = Bench(args, work)
        result = bench.run()
    finally:
        t0 = time.perf_counter()
        if bench is not None:
            bench.close()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # only when no other run uses it
            os.rmdir(os.path.dirname(work))
    bench.report["close_s"] = time.perf_counter() - t0
    print(json.dumps({"report": bench.report}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
