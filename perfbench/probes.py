"""Measurements taken from outside the engine: the process tree's CPU
time and resident memory from /proc, and Spark's own status and metric
stores read through py4j."""

from __future__ import annotations

import os
import re
import threading
import time

from bench import tree_pids
from spans import covered

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[bytes] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            data = fh.read()
    except OSError:
        return None
    # comm may hold spaces or parentheses: split after the last ')'
    return data[data.rfind(b")") + 2:].split()


def _cpu_ticks(pid: int, with_children: bool) -> int:
    """utime+stime of `pid`, plus that of its reaped children."""
    f = _stat_fields(pid)
    if f is None:
        return 0
    ticks = int(f[11]) + int(f[12])
    return ticks + int(f[13]) + int(f[14]) if with_children else ticks


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by `root` and its live descendants,
    including descendants that have already exited and been reaped."""
    return sum(_cpu_ticks(p, True) for p in tree_pids(root)) / _HZ


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read()
    except OSError:
        return b""


def python_worker_cpu_s(root: int) -> float:
    """CPU seconds used so far by the PySpark daemons under `root` and
    their workers (live or reaped)."""
    total = 0
    for pid in tree_pids(root):
        if b"pyspark.daemon" in _cmdline(pid):
            total += sum(_cpu_ticks(p, p == pid) for p in tree_pids(pid))
    return total / _HZ


def tree_rss_mb(pids: set[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", "rb") as fh:
                total += int(fh.read().split()[1])
        except (OSError, IndexError):
            continue
    return total * _PAGE / 2**20


class RssSampler:
    """Peak resident memory of a process tree, sampled on a thread while
    `active` is set.  The tree's members are re-read once a second."""

    def __init__(self, root: int, interval: float = 0.1) -> None:
        self.root, self.interval = root, interval
        self.peak_mb = 0.0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _run(self) -> None:
        pids, listed = set(), 0.0
        while not self._stop.wait(self.interval):
            if not self.active.is_set():
                continue
            if time.monotonic() - listed > 1.0:
                pids, listed = tree_pids(self.root), time.monotonic()
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pids))


# ---------------------------------------------------------------------------
# Spark status and metric stores
# ---------------------------------------------------------------------------

def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _opt(option):
    return option.get() if option.isDefined() else None


#: what `SparkProbe.end` returns for each script
SPARK_METRICS = (
    "catalyst.rule_s", "catalyst.rule_runs", "catalyst.rule_effective",
    "catalyst.plan_nodes", "codegen.compiles", "codegen.compile_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_gap_s",
    "executor.run_s", "executor.cpu_s", "executor.gc_s", "scan.input_mb",
    "sources.written_mb", "shuffle.read_mb", "shuffle.write_mb", "shuffle.spill_mb",
    "python.worker_cpu_s", "python.sent_mb", "python.recv_mb", "python.rows_returned",
)


class SparkProbe:
    """Per-script readings of Spark's AppStatusStore, SQL status store,
    RuleExecutor metering and codegen metrics, and of the PySpark
    workers' CPU time.  `begin` before a script and `end` after it; `end`
    returns that script's SPARK_METRICS."""

    def __init__(self, spark, root_pid: int) -> None:
        self.root_pid = root_pid
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self._jsc = self.sc._jsc.sc()
        self._gateway = self.sc._gateway
        self._app = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._rules = self.jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor
        codegen = self.jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._compile = codegen.METRIC_COMPILATION_TIME()
        self._before: dict = {}

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)
        rules = self._rules.getCurrentMetrics()
        self._before = {
            "rule_ns": rules.time(), "rule_runs": rules.numRuns(),
            "rule_effective": rules.numEffectiveRuns(),
            "compiles": self._compile.getCount(),
            "executions": self._sql.executionsCount(),
            "worker_cpu_s": python_worker_cpu_s(self.root_pid),
        }

    def end(self, group: str, start_epoch: float, end_epoch: float, sql_results: list) -> dict:
        """`sql_results` are the DataFrames `SparkSession.sql` returned
        during the script; their analyzed plans are measured here."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        self.sc.setJobGroup(None, None)
        b = self._before
        rules = self._rules.getCurrentMetrics()
        compiles = self._compile.getCount() - b["compiles"]
        out = {
            "python.worker_cpu_s": python_worker_cpu_s(self.root_pid) - b["worker_cpu_s"],
            # one line per operator of the analyzed plan, subqueries included
            "catalyst.plan_nodes": sum(
                len(df._jdf.queryExecution().analyzed().treeString().splitlines())
                for df in sql_results),
            "catalyst.rule_s": (rules.time() - b["rule_ns"]) / 1e9,
            "catalyst.rule_runs": rules.numRuns() - b["rule_runs"],
            "catalyst.rule_effective": rules.numEffectiveRuns() - b["rule_effective"],
            "codegen.compiles": compiles,
            # the histogram keeps a decaying sample, so this is an estimate
            "codegen.compile_s": compiles * self._compile.getSnapshot().getMean() / 1e3,
        }
        jobs = [j for j in _seq(self._app.jobsList(None)) if _opt(j.jobGroup()) == group]
        intervals, stage_ids = [], set()
        for j in jobs:
            sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
            if sub is not None and done is not None:
                intervals.append((sub.getTime() / 1e3, done.getTime() / 1e3))
            stage_ids.update(_seq(j.stageIds()))
        out["spark.jobs"] = len(jobs)
        out["spark.driver_gap_s"] = driver_gap(start_epoch, end_epoch, intervals)
        out.update(self._stage_totals(stage_ids))
        out.update(self._python_metrics({j.jobId() for j in jobs}, b["executions"]))
        return {k: out[k] for k in SPARK_METRICS}

    def _stage_totals(self, stage_ids: set[int]) -> dict:
        quantiles = self._gateway.new_array(self.jvm.double, 0)
        no_tasks = self.jvm.java.util.ArrayList()
        stages = [attempt for sid in sorted(stage_ids)
                  for attempt in _seq(self._app.stageData(sid, False, no_tasks, False, quantiles))
                  if str(attempt.status()) == "COMPLETE"]
        mb = 2**20
        return {
            "spark.stages": len(stages),
            "spark.tasks": sum(s.numCompleteTasks() for s in stages),
            "executor.run_s": sum(s.executorRunTime() for s in stages) / 1e3,
            "executor.cpu_s": sum(s.executorCpuTime() for s in stages) / 1e9,
            "executor.gc_s": sum(s.jvmGcTime() for s in stages) / 1e3,
            "scan.input_mb": sum(s.inputBytes() for s in stages) / mb,
            "sources.written_mb": sum(s.outputBytes() for s in stages) / mb,
            "shuffle.read_mb": sum(s.shuffleReadBytes() for s in stages) / mb,
            "shuffle.write_mb": sum(s.shuffleWriteBytes() for s in stages) / mb,
            "shuffle.spill_mb": sum(s.memoryBytesSpilled() + s.diskBytesSpilled()
                                    for s in stages) / mb,
        }

    def _python_metrics(self, job_ids: set[int], first_execution: int) -> dict:
        """Python exec nodes' SQL metrics, over the SQL executions that
        ran any of `job_ids`."""
        out = {"python.sent_mb": 0.0, "python.recv_mb": 0.0, "python.rows_returned": 0}
        count = self._sql.executionsCount() - first_execution
        if count <= 0:
            return out
        for ex in _seq(self._sql.executionsList(first_execution, count)):
            ran = {int(k) for k in _seq(ex.jobs().keys().toSeq())}
            if not ran & job_ids:
                continue
            values = self._sql.executionMetrics(ex.executionId())
            for node in _seq(self._sql.planGraph(ex.executionId()).allNodes()):
                if "Python" not in node.name() and "Pandas" not in node.name() \
                        and "Arrow" not in node.name():
                    continue
                for m in _seq(node.metrics()):
                    text = _opt(values.get(m.accumulatorId()))
                    if text is None:
                        continue
                    if m.name() == "data sent to Python workers":
                        out["python.sent_mb"] += parse_size_mb(text)
                    elif m.name() == "data returned from Python workers":
                        out["python.recv_mb"] += parse_size_mb(text)
                    elif m.name() == "number of output rows":
                        out["python.rows_returned"] += parse_count(text)
        return out


def driver_gap(start: float, end: float, job_intervals: list[tuple[float, float]]) -> float:
    """Wall time of [start, end] during which no job of the script ran."""
    return (end - start) - covered(job_intervals, start, end)


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_SIZE = re.compile(r"([0-9.]+) (B|KiB|MiB|GiB|TiB)")


def parse_size_mb(text: str) -> float:
    """The total of a size SQL metric as Spark renders it: either
    '12.3 KiB' or 'total (min, med, max ...)\\n12.3 KiB (...)'."""
    m = _SIZE.search(text.split("\n")[-1])
    return float(m.group(1)) * _UNITS[m.group(2)] / 2**20 if m else 0.0


def parse_count(text: str) -> int:
    m = re.search(r"[0-9][0-9,]*", text.split("\n")[-1])
    return int(m.group(0).replace(",", "")) if m else 0
