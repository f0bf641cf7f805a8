"""Run a DataFrame to a fully materialized result and read what ran.

`materialize` runs ``queryExecution().toRdd().count()``: the physical plan
is already fixed, so no column is pruned the way a bare ``count()`` prunes
them.  `walk` then walks the executed plan of that same QueryExecution,
unwrapping AQE query stages, cached relations and reused exchanges, and
reads every node's SQL metrics; `execute` does both.  `observe` wraps a
DataFrame in a digest observation, which the walk reads back from its
CollectMetrics node.

`JvmProbe` reads the Spark JVM's CPU time, its JIT compiler threads' CPU
time, peak RSS and the status store's stage totals (shuffle, spill, GC,
tasks) so callers can take deltas.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F


@dataclass
class PlanNode:
    name: str
    metrics: dict[str, int]
    # CollectMetrics nodes: observation name -> collected values
    observed: dict | None = None
    # shuffle stages: bytes per reduce partition (AQE map output statistics)
    partition_bytes: list[int] = field(default_factory=list)


@dataclass
class PlanRun:
    rows: int
    nodes: list[PlanNode]
    # rows out of each input of the outermost Union, in order
    union_rows: list[int] = field(default_factory=list)

    def observed(self, name: str) -> dict:
        for n in self.nodes:
            if n.observed and n.observed.get("__name") == name:
                return n.observed
        raise KeyError(f"no observation {name!r} in the executed plan")

    def total(self, node_name: str, metric: str) -> int:
        return sum(n.metrics.get(metric, 0) for n in self.nodes if n.name == node_name)


def observe(df: DataFrame, name: str, sample=None) -> DataFrame:
    """Attach an order-independent digest of every column of ``df``.

    Hashing every column keeps Catalyst from pruning any of them, so the
    digest also witnesses that the whole result was computed.  Rows that
    satisfy the ``sample`` condition are also collected, as sorted JSON, so
    an output check can read them from the measured run itself."""
    from pyspark.sql.types import MapType

    # maps have no stable hash: hash their sorted entries instead
    cols = [
        F.array_sort(F.map_entries(f.name)) if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in df.schema.fields
    ]
    h = F.xxhash64(*cols)
    aggs = [
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(h).alias("xor"),
        F.sum(F.pmod(h, F.lit(2147483647))).alias("sum"),
    ]
    if sample is not None:
        picked = F.collect_list(F.when(sample, F.struct(*df.columns)))
        aggs.append(F.to_json(F.sort_array(picked)).alias("sample"))
    return df.observe(name, *aggs)


def materialize(df: DataFrame):
    """Run ``df`` to a fully materialized result; returns (QueryExecution, rows)."""
    qe = df._jdf.queryExecution()
    return qe, int(qe.toRdd().count())


def walk(qe, rows: int, read_metrics: bool = True, into_cache: bool = True) -> PlanRun:
    """Walk the executed plan of a QueryExecution that `materialize` ran.

    With ``read_metrics=False`` only observations and shuffle partition
    sizes are read.  With ``into_cache=False`` the plans that built
    persisted inputs are not walked, so the metrics cover only this
    execution's own operators; a persisted DataFrame's own cached plan,
    which its first execution builds, is still walked."""
    run = PlanRun(rows=rows, nodes=[])
    _walk(qe.executedPlan(), run, read_metrics, into_cache)
    return run


def execute(df: DataFrame, read_metrics: bool = True, into_cache: bool = True) -> PlanRun:
    qe, rows = materialize(df)
    return walk(qe, rows, read_metrics, into_cache)


# operators that only wrap the plan under them
_WRAPPERS = {
    "AdaptiveSparkPlanExec", "ResultQueryStageExec", "TableCacheQueryStageExec",
    "InMemoryTableScanExec", "ColumnarToRowExec", "InputAdapter", "WholeStageCodegenExec",
}


def _unwrap(n):
    cls = n.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return n.executedPlan()
    if cls.endswith("QueryStageExec"):
        return n.plan()
    return None


def _first_rows(n) -> int:
    """numOutputRows of the topmost operator under ``n`` that counts rows."""
    while n is not None:
        opt = n.metrics().get("numOutputRows")
        if opt.isDefined():
            return int(opt.get().value())
        inner = _unwrap(n)
        n = inner if inner is not None else (n.children().apply(0) if n.children().size() else None)
    return 0


def _walk(node, run: PlanRun, read_metrics: bool, into_cache: bool) -> None:
    out = run.nodes
    seen: set[int] = set()
    # (node, reached from the root through wrappers only)
    stack = [(node, True)]
    while stack:
        n, top = stack.pop()
        cls = n.getClass().getSimpleName()
        # a cached relation or reused exchange appears under every reader;
        # its metrics accumulate once, so count each physical node once
        pid = int(n.id())
        if pid in seen:
            continue
        seen.add(pid)
        metrics: dict[str, int] = {}
        if read_metrics:
            keys = n.metrics().keySet().mkString("\n")
            for k in filter(None, keys.split("\n")):
                metrics[k] = int(n.metrics().get(k).get().value())
        pn = PlanNode(name=n.nodeName(), metrics=metrics)
        if cls == "CollectMetricsExec":
            row = n.collectedMetrics()
            names = list(row.schema().fieldNames())
            pn.observed = {k: row.get(i) for i, k in enumerate(names)}
            pn.observed["__name"] = n.name()
        if cls == "ShuffleQueryStageExec":
            stats = n.mapStats()
            if stats.isDefined():
                pn.partition_bytes = [int(b) for b in stats.get().bytesByPartitionId()]
        if cls == "UnionExec" and not run.union_rows:
            kids = n.children()
            run.union_rows = [_first_rows(kids.apply(i)) for i in range(kids.size())]
        out.append(pn)
        top = top and cls in _WRAPPERS
        inner = _unwrap(n)
        if inner is not None:
            stack.append((inner, top))
        elif cls == "InMemoryTableScanExec" and (into_cache or top):
            stack.append((n.relation().cachedPlan(), False))
        kids = n.children()
        for i in range(kids.size()):
            stack.append((kids.apply(i), top))


def cached_bytes(spark) -> int:
    """Bytes all persisted data occupies in memory plus on disk; take the
    difference around one persist to size that DataFrame's cache."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


class JvmProbe:
    """CPU seconds, peak RSS and stage totals of the Spark JVM."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._proc = jvm.java.lang.ProcessHandle.current()
        self.pid = int(self._proc.pid())

    def cpu_s(self) -> float:
        return self._proc.info().totalCpuDuration().get().toNanos() / 1e9

    def jit_cpu_s(self) -> float:
        """CPU seconds of the JIT compiler threads so far.  They must live as
        long as the JVM (-XX:-UseDynamicNumberOfCompilerThreads): the time of
        a thread that exits is no longer listed."""
        total = 0
        task_dir = f"/proc/{self.pid}/task"
        for tid in os.listdir(task_dir):
            try:
                with open(os.path.join(task_dir, tid, "stat")) as fh:
                    stat = fh.read()
            except OSError:  # the thread exited
                continue
            # "C1 CompilerThread0" and "C2 CompilerThread0", cut to 15 chars
            if " CompilerThre" in stat[stat.index("(") + 1:stat.rindex(")")]:
                fields = stat[stat.rindex(")") + 2:].split()
                total += int(fields[11]) + int(fields[12])  # utime + stime
        return total / os.sysconf("SC_CLK_TCK")

    @staticmethod
    def host_cpu_ticks() -> tuple[int, int]:
        """(all, steal) CPU ticks of the host so far; steal is time the
        hypervisor ran something else while this machine wanted a CPU."""
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
        return sum(fields), fields[7] if len(fields) > 7 else 0

    def peak_rss_mib(self) -> float:
        with open(f"/proc/{self.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from the JVM's /proc status")

    def stage_totals(self, after_stage: int = -1) -> dict:
        """Sums over stages with id > ``after_stage``; also the last stage id."""
        gw = self.sc._gateway
        stages = self.sc._jsc.sc().statusStore().stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0), None
        )
        out = {"shuffle_bytes": 0, "spill_bytes": 0, "gc_s": 0.0, "tasks": 0, "last_stage": after_stage}
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = int(s.stageId())
            if sid <= after_stage:
                continue
            out["last_stage"] = max(out["last_stage"], sid)
            out["shuffle_bytes"] += int(s.shuffleWriteBytes())
            out["spill_bytes"] += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
            out["gc_s"] += int(s.jvmGcTime()) / 1000.0
            out["tasks"] += int(s.numCompleteTasks())
        return out
