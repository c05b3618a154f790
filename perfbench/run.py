"""Layered benchmark of the streamingpro_spark script engine.

Run from the repository root:

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

One driver thread submits MLSQL scripts to one `Engine.execute`, one at
a time: a closed loop with a single client, on a pinned local[k]
session (k = min(CORES, nproc), shuffle partitions = k, fixed driver
memory).  The run generates its inputs from `--seed`, sets the engine
up SETUPS times (session, Engine, prepared state, warm-up) and reports
the median set-up, runs an untimed warm pass when the workload has one,
then timed passes over the workload's scripts until `--seconds` of
passes have been measured.  Every distinct script it ran is then
checked against its oracle.

`--trace 0` prints the end-to-end metrics, from plain passes:
  setup_s       median set-up time (session, Engine, prepared state, warm-up)
  pass_s        median wall time of one pass over the workload's scripts
  script_p50_s  median latency of one script (execute plus its forcing write)
  script_tail_s script latency at the highest percentile with ten samples
                above it (the maximum when there are fewer samples)
  cpu_s         median CPU seconds of the process tree (this Python
                process, the JVM, the Python workers) per pass
  peak_rss_mb   peak resident memory of that tree during the passes
Failed scripts and output mismatches are counted in `failed`.

`--trace 1` alternates plain and traced passes and prints the
per-layer metrics of the traced ones (means per pass), plus the tracing
overhead (traced minus plain pass time).

The last line of stdout is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`; the line before it is the full
report (environment stamp, host load per pass, every sample).  The exit
code is 0 only when every script ran and every output matched.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(1, REPO)

import datagen  # noqa: E402
import probes  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

#: local[k] with k = min(CORES, nproc)
CORES = 4
DRIVER_MEMORY = "2g"
#: TPC-H scale factor of the generated star schema and events table
SCALE = 0.03
DOCUMENTS = 1000
#: set-ups per run; setup_s is their median.  The first one runs in a
#: cold JVM; a third set-up of lake_day would not fit the run's budget.
#: Traced runs set up as often, so their passes run as warm as plain ones.
SETUPS = 2
MIN_PLAIN_PASSES = 2
#: no pass starts after this many seconds of the run, once the minimum is met
PASS_DEADLINE_S = 120.0


def session_conf(cores: int, tmp: str, traced: bool):
    from pyspark import SparkConf
    conf = SparkConf().setMaster(f"local[{cores}]").setAppName("perfbench").setAll([
        ("spark.driver.memory", DRIVER_MEMORY),
        ("spark.sql.shuffle.partitions", str(cores)),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.ui.enabled", "false"),
        ("spark.ui.showConsoleProgress", "false"),
        ("spark.local.dir", tmp),
        ("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse")),
        # a fixed, pre-touched heap: resident memory then does not
        # depend on when the collector chose to grow the heap.  No perf
        # data file, which the JVM would write outside java.io.tmpdir.
        ("spark.driver.extraJavaOptions",
         f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData"),
    ])
    if traced:
        # keep every job, stage and SQL execution of the run readable
        for key in ("spark.ui.retainedJobs", "spark.ui.retainedStages",
                    "spark.sql.ui.retainedExecutions"):
            conf.set(key, "1000000")
    return conf


def code_state() -> dict:
    """Git sha and dirty flag when the tree is a git checkout, and a hash
    of the engine's sources either way."""
    h = hashlib.sha256()
    files = [os.path.join(REPO, "__spark_entry__.py")]
    for root, _dirs, names in os.walk(os.path.join(REPO, "streamingpro_spark")):
        files += [os.path.join(root, n) for n in names if n.endswith(".py")]
    for path in sorted(files):
        with open(path, "rb") as fh:
            h.update(fh.read())
    out = {"source_hash": h.hexdigest()[:16], "git_sha": None, "git_dirty": None}
    if os.path.isdir(os.path.join(REPO, ".git")):
        def git(*args):
            return subprocess.run(["git", "-C", REPO, *args], capture_output=True,
                                  text=True, timeout=30).stdout.strip()
        out["git_sha"] = git("rev-parse", "HEAD")
        out["git_dirty"] = bool(git("status", "--porcelain"))
    return out


class Run:
    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.tmp = os.path.join(work, "tmp")
        os.makedirs(self.tmp)
        self.cores = min(CORES, len(os.sched_getaffinity(0)), 8)
        self.pid = os.getpid()
        self.failures: list[str] = []
        self.attempted = 0
        self.setups: list[float] = []
        self.passes: list[stats.PassRecord] = []
        self.distinct: dict[str, workloads.Script] = {}
        self.tracer = spans.Tracer()
        self.sql_results: list = []
        self.report: dict = {}
        self.spark = self.eng = self.probe = None

    # -- set-up ---------------------------------------------------------
    def setup(self, conf, wl, rep: int) -> float:
        from pyspark.sql import SparkSession
        from streamingpro_spark import Engine
        state = os.path.join(self.work, f"state{rep}")
        t0 = time.perf_counter()
        self.spark = SparkSession.builder.config(conf=conf).getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.eng = Engine(self.spark)
        wl.prepare(self.eng, state)
        self.eng.execute(
            f"load parquet.`{wl.inputs['documents']}` as warm_docs;\n"
            "select count(*) as n from warm_docs as warm_out;"
        ).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    def teardown_session(self) -> None:
        if self.eng is not None:
            self.eng.close()
        if self.spark is not None:
            self.spark.stop()
        self.spark = self.eng = None

    # -- scripts ---------------------------------------------------------
    def submit(self, wl, script: workloads.Script) -> float | None:
        """Run one script end to end; None when it raised."""
        self.attempted += 1
        self.distinct.setdefault(script.text, script)
        t0 = time.perf_counter()
        try:
            df = self.eng.execute(script.text)
            if wl.force_noop:
                with self.tracer.span("force", "force"):
                    df.write.mode("overwrite").format("noop").save()
        except Exception as e:  # a failed script is a result, not a crash
            self.failures.append(f"{script.name}: {type(e).__name__}: {str(e)[:300]}")
            traceback.print_exc(file=sys.stderr)
            return None
        return time.perf_counter() - t0

    def submit_traced(self, wl, script: workloads.Script, sid: str, layers: dict) -> float | None:
        """`submit` with the engine instrumented; adds the script's
        Spark-side metrics to `layers`."""
        self.tracer.script = sid
        self.probe.begin(sid)
        e0 = time.time()
        with spans.instrument(self.tracer, self.sql_results), self.tracer.span(sid, "script"):
            elapsed = self.submit(wl, script)
        for k, v in self.probe.end(sid, e0, time.time(), self.sql_results).items():
            layers[k] = layers.get(k, 0) + v
        self.sql_results.clear()
        return elapsed

    def check(self, wl, con, script: workloads.Script) -> None:
        try:
            problem = wl.verify(self.eng, con, script)
        except Exception as e:  # a crashed check is a failed check
            problem = f"{type(e).__name__}: {str(e)[:300]}"
        if problem:
            self.failures.append(f"{script.name}: output mismatch: {problem}")

    # -- passes ------------------------------------------------------------
    def timed_pass(self, wl, index: int, traced: bool, sampler) -> stats.PassRecord:
        from bench import LOAD_QUIET_EXT_CPUS, probe_host
        wl.before_pass()
        scripts = wl.scripts(index)
        # both heaps collected before the window; the probe's sleep lets the JVM settle
        gc.collect()
        self.spark._jvm.System.gc()
        pre = probe_host(0.2)
        layers: dict = {}
        counts0 = dict(self.tracer.counts)
        first_span = len(self.tracer.spans)
        cpu0 = probes.tree_cpu_s(self.pid)
        if not traced:
            sampler.active.set()
        t0 = time.perf_counter()
        timings = []
        for i, s in enumerate(scripts):
            sid = f"p{index}.{i}.{s.name}"
            t = (self.submit_traced(wl, s, sid, layers) if traced else self.submit(wl, s))
            if t is not None:
                timings.append((s.name, t))
        wall = time.perf_counter() - t0
        sampler.active.clear()
        cpu = probes.tree_cpu_s(self.pid) - cpu0
        post = probe_host(0.1)
        ext = (-1.0 if min(pre["ext_cpus"], post["ext_cpus"]) < 0
               else max(pre["ext_cpus"], post["ext_cpus"]))
        if traced:
            new = self.tracer.spans[first_span:]
            layers.update(spans.layer_totals(new, {sp.script for sp in new}))
            for k in spans.COUNTS:
                layers[k] = self.tracer.counts[k] - counts0.get(k, 0)
        return stats.PassRecord(index, traced, wall, cpu, timings, ext,
                                ext < 0 or ext > LOAD_QUIET_EXT_CPUS, layers)

    # -- the run -------------------------------------------------------------
    def execute(self) -> dict:
        import duckdb
        from pyspark import SparkContext
        args = self.args
        started = time.perf_counter()
        settings = {"cores": self.cores, "scale": SCALE, "documents": DOCUMENTS,
                    "driver_memory": DRIVER_MEMORY}
        t = time.perf_counter()
        inputs = datagen.write_inputs(os.path.join(self.work, "inputs"), args.seed,
                                      SCALE, DOCUMENTS)
        self.report["datagen_s"] = time.perf_counter() - t
        wl = workloads.WORKLOADS[args.workload](inputs, args.seed)

        conf = session_conf(self.cores, self.tmp, bool(args.trace))
        t = time.perf_counter()
        SparkContext._ensure_initialized(conf=conf)
        self.report["jvm_launch_s"] = time.perf_counter() - t
        for rep in range(SETUPS):
            if rep:
                self.teardown_session()
                shutil.rmtree(os.path.join(self.work, f"state{rep - 1}"), ignore_errors=True)
            self.setups.append(self.setup(conf, wl, rep))
        if args.trace:
            self.probe = probes.SparkProbe(self.spark, self.pid)

        con = duckdb.connect()
        for name, path in inputs.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        checked: set[str] = set()
        if wl.warm_pass:
            # untimed; collecting and checking each script here doubles as
            # the output check of these scripts
            t = time.perf_counter()
            for script in wl.scripts(0):
                self.attempted += 1
                self.check(wl, con, script)
                checked.add(script.text)
            self.report["warm_pass_s"] = time.perf_counter() - t

        with probes.RssSampler(self.pid) as sampler:
            measured, index = 0.0, 1
            while True:
                plain = sum(not p.traced for p in self.passes)
                traced = bool(args.trace) and plain > len(self.passes) - plain
                rec = self.timed_pass(wl, index, traced, sampler)
                self.passes.append(rec)
                measured += rec.wall_s
                index += 1
                plain = sum(not p.traced for p in self.passes)
                enough = (plain >= (1 if args.trace else MIN_PLAIN_PASSES)
                          and (not args.trace or len(self.passes) >= 2 * plain))
                late = time.perf_counter() - started > PASS_DEADLINE_S
                if self.failures or (enough and (measured >= args.seconds or late)):
                    break
            peak_rss = sampler.peak_mb

        for text, script in self.distinct.items():
            if text not in checked:
                self.check(wl, con, script)
                checked.add(text)
        con.close()

        if args.trace:
            residual = max(map(abs, spans.execute_residuals(self.tracer.spans)), default=0.0)
            if residual > 1e-6:
                self.failures.append(f"layer self times miss Engine.execute by {residual}s")
            os.makedirs(os.path.join(REPO, ".perfbench"), exist_ok=True)
            trace_path = os.path.join(
                REPO, ".perfbench", f"trace-{args.workload}-seed{args.seed}.json")
            self.tracer.dump(trace_path)
            self.report["trace_file"] = os.path.relpath(trace_path, REPO)
            self.report["estimates"] = {
                "codegen.compile_s": "compiles times the mean of Spark's decaying "
                                     "compile-time histogram",
                "python.sent_mb": "summed from sizes as Spark renders them (3 digits)",
                "python.recv_mb": "summed from sizes as Spark renders them (3 digits)",
            }
            values = stats.per_layer(self.passes)
        else:
            values = stats.end_to_end(self.passes, self.setups, peak_rss)
            self.report["script_tail_percentile"] = values.pop("_script_tail_pct")
            self.report["script_samples"] = values.pop("_script_samples")

        sc = self.spark.sparkContext
        self.report.update({
            "workload": args.workload,
            "seed": args.seed,
            "stamp": {
                "master": sc.master,
                "defaultParallelism": sc.defaultParallelism,
                "nproc": len(os.sched_getaffinity(0)),
                "driver_memory": sc.getConf().get("spark.driver.memory"),
                "spark": self.spark.version,
                "pyarrow": __import__("pyarrow").__version__,
                "python": platform.python_version(),
                "script_hash": workloads.script_hash(args.workload, settings),
                **code_state(),
            },
            "settings": settings,
            "setup_samples_s": self.setups,
            "passes": [{"index": p.index, "traced": p.traced, "wall_s": p.wall_s,
                        "cpu_s": p.cpu_s, "ext_cpus": p.ext_cpus, "hot": p.hot,
                        "scripts": p.scripts} for p in self.passes],
            "hot_passes": [p.index for p in self.passes if p.hot],
            "scripts_checked": len(checked),
            "failures": self.failures,
            "error_rate": len(self.failures) / max(self.attempted, 1),
        })
        return values


def shutdown(run: Run | None) -> None:
    """Stop the session, the JVM and its Python workers, and wait for
    every process this run started to end."""
    from pyspark import SparkContext
    if run is not None:
        run.teardown_session()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = SparkContext._jvm = None
    me = os.getpid()
    deadline = time.monotonic() + 30
    while probes.tree_pids(me) - {me} and time.monotonic() < deadline:
        time.sleep(0.2)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # fails here, before any work, when run outside a checkout of the engine
    import streamingpro_spark  # noqa: F401
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]

    base = os.path.join(REPO, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=base)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    run = None
    try:
        run = Run(args, work)
        values = run.execute()
    finally:
        shutdown(run)
        shutil.rmtree(work, ignore_errors=True)
    metrics = stats.metrics_block(declared, values)
    failed = len(run.failures)
    result = {"correct": failed == 0, "attempted": run.attempted, "failed": failed,
              "metrics": metrics}
    sys.stderr.flush()
    print(json.dumps({"perfbench": run.report}))
    print(json.dumps(result))
    sys.stdout.flush()
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
