"""Extraction benchmark: one workload per run, in a fresh process.

    python3 perfbench/run.py --workload checkpoint_commit --seed 1 \\
        --seconds 10 --trace 0

A run writes its workload's corpus (cached under ``.perfbench/corpora``,
outside all timing), sets the Spark session up once (``setup_s``: from
the ``get_spark()`` call, which launches the JVM, to the end of a warm-up
pass of the workload's operation over a few other docs), runs the
workload's untimed passes over its main input, then times passes until
``--seconds`` have passed (at least ``MIN_PASSES``), and checks the
output against the oracle. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``:

- ``--trace 0``: the end-to-end metrics ``docs_per_s``, ``cpu_ms_per_doc``,
  ``setup_s`` and ``peak_rss_mb``;
- ``--trace 1``: the per-layer metrics (see ``PER_LAYER``). Timed passes
  run untraced and traced in turn; the traced ones read Spark's status
  store after the action, and the ratio of the two medians, less one, is
  ``trace.overhead_frac``. Every doc is checked, not a sample.

``attempted`` and ``failed`` count docs checked and docs that failed, so
the error rate is ``failed / attempted``. The lines before the JSON repeat
every metric with its unit and the run's context (cores, pyspark version,
driver memory, seed, host speed probe).
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "document_parser_private_spark"
WORK = os.path.join(ROOT, ".perfbench")
MIN_PASSES = 2      # timed passes per run, even past --seconds
DRIVER_MEM = "2g"   # the package defaults to 48g; a run needs far less
BURN_LOOPS = 3_000_000

END_TO_END = {"docs_per_s": "docs/s", "cpu_ms_per_doc": "ms",
              "setup_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "scan.tasks": "count", "scan.files": "count", "scan.bytes": "B",
    "scan.time_s": "s", "scan.rows_per_doc": "rows/doc",
    "resume.tasks": "count", "resume.rows_per_doc": "rows/doc",
    "resume.bytes_to_python_per_doc": "B/doc",
    "resume.bytes_from_python_per_doc": "B/doc",
    "resume.python_start_s": "s", "resume.python_init_s": "s",
    "resume.python_run_ms_per_doc": "ms",
    "semantics.classify_us": "us", "semantics.layout_us": "us",
    "semantics.sections_us": "us", "semantics.skills_us": "us",
    "semantics.education_us": "us", "semantics.experience_us": "us",
    "semantics.projects_us": "us",
    "functions.codegen_s": "s",
    "pipeline.shuffle_bytes": "B", "pipeline.task_s_p50": "s",
    "pipeline.task_s_max": "s", "pipeline.task_skew": "ratio",
    "checkpoint.commit_s_p50": "s", "checkpoint.commit_s_max": "s",
    "checkpoint.jobs": "count", "checkpoint.bytes_written": "B",
    "checkpoint.files_written": "count",
    "stream.batches": "count", "stream.batch_s": "s",
    "stream.python_run_s": "s", "stream.rows_per_doc": "rows/doc",
    "host.burn_ms": "ms", "trace.overhead_frac": "fraction",
}


def burn_ms() -> float:
    """Wall time of a fixed single-thread loop: a host speed probe."""
    t = time.perf_counter()
    s = 0
    for i in range(BURN_LOOPS):
        s += i
    return (time.perf_counter() - t) * 1e3


def become_subreaper() -> None:
    """Make orphaned descendants (Python workers whose daemon exited)
    children of this process, so the final reap waits for them too."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    PR_SET_CHILD_SUBREAPER = 36
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap_descendants(procstat, timeout: float = 30.0) -> None:
    """Wait until no descendant process is left, killing stragglers after
    half of ``timeout``."""
    deadline = time.monotonic() + timeout
    killed = False
    while True:
        while True:  # collect exited children
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        left = procstat.descendants()
        if not left:
            return
        if not killed and time.monotonic() > deadline - timeout / 2:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running: {left}")
        time.sleep(0.1)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Run:
    """One benchmark run of one workload."""

    def __init__(self, args, run_dir: str):
        from perfbench import workloads

        self.args = args
        self.workload = workloads.WORKLOADS[args.workload]
        self.run_dir = run_dir
        self.cores = len(os.sched_getaffinity(0))
        self.outs = 0

    def fresh_out(self) -> str:
        """A new output directory; the one before the last is removed, so
        the last pass's output stays for the check."""
        self.outs += 1
        shutil.rmtree(f"{self.run_dir}/out{self.outs - 2}", ignore_errors=True)
        return f"{self.run_dir}/out{self.outs}"

    def session(self):
        from document_parser_private_spark.session import get_spark

        return get_spark(
            app_name="perfbench", cores=self.cores,
            shuffle_partitions=self.cores,
            extra_conf={
                # one scan task per input file, as bench.py reads shards
                "spark.sql.files.openCostInBytes": "16777216",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": f"{self.run_dir}/local",
                "spark.sql.warehouse.dir": f"{self.run_dir}/warehouse",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.run_dir}/tmp -XX:-UsePerfData",
            })

    def execute(self) -> dict:
        from perfbench import corpora, layers, procstat
        from perfbench import sparkmetrics as M

        args, wl = self.args, self.workload
        result = {"burn_ms": burn_ms()}
        main, warm = wl.layouts(args.seed)
        cache = os.path.join(WORK, "corpora")
        os.makedirs(cache, exist_ok=True)
        in_dir = corpora.materialize(cache, main)
        warm_dir = corpora.materialize(cache, warm)
        n = main.n
        rng = random.Random(args.seed)
        # before Spark starts: it makes the docs on a forked pool
        sample = layers.semantics_sample(main, rng) if args.trace else None

        spark = None
        with procstat.Sampler() as sampler:
            try:
                t0 = time.perf_counter()
                spark = self.session()
                t1 = time.perf_counter()
                wl.warm_up(spark, warm_dir, self.fresh_out())
                result["setup"] = (t1 - t0, time.perf_counter() - t1)
                for _ in range(wl.warm_passes):
                    wl.run(spark, in_dir, self.fresh_out())

                walls, cpus, plain, traced, layer = [], [], [], [], {}
                begin = time.perf_counter()
                min_passes = 4 if args.trace else MIN_PASSES
                while (len(walls) < min_passes
                       or time.perf_counter() - begin < args.seconds):
                    out = self.fresh_out()
                    # untraced and traced passes in the order U T T U, so a
                    # steady drift in pass times cancels out of the overhead
                    tracing = bool(args.trace) and len(walls) % 4 in (1, 2)
                    before = M.last_execution_id(spark) if tracing else None
                    cpu0, _ = procstat.tree_usage()
                    t = time.perf_counter()
                    wl.run(spark, in_dir, out)
                    cpus.append(procstat.tree_usage()[0] - cpu0)
                    if tracing:
                        execs = M.executions_since(spark, before)
                        layer = self.trace_pass(spark, execs, out, n)
                    walls.append(time.perf_counter() - t)
                    (traced if tracing else plain).append(walls[-1])
                result["walls"], result["cpus"] = walls, cpus

                if args.trace:
                    # before the check, whose oracle calls would fill the
                    # semantics module's caches with these very docs
                    layer.update(layers.semantics_layers(sample))
                    layer["trace.overhead_frac"] = (
                        statistics.median(traced) / statistics.median(plain) - 1)
                    result["layer"] = layer
                attempted, failed, problems = wl.verify(
                    spark, in_dir, out, rng, every_doc=bool(args.trace))
                result.update(attempted=attempted, failed=failed,
                              problems=problems)
            finally:
                if spark is not None:
                    stop_spark(spark)
        result["peak_rss_mb"] = sampler.peak_mb
        result["n_docs"] = n
        return result

    def trace_pass(self, spark, execs, out: str, n: int) -> dict:
        """Per-layer metrics of one traced pass; 0 for layers the
        workload does not run."""
        from perfbench import layers

        layer = dict.fromkeys(PER_LAYER, 0.0)
        layer.update(layers.spark_layers(spark, execs, n))
        layer.update(self.workload.layer_metrics(execs, out, n))
        return layer


def report(args, result: dict, cores: int) -> dict:
    """Print the metric lines and return the final JSON object."""
    import pyspark

    context = (f"workload={args.workload} seed={args.seed} nproc={os.cpu_count()} "
               f"master=local[{cores}] pyspark={pyspark.__version__} "
               f"driver_mem={DRIVER_MEM} host.burn_ms={result['burn_ms']:.1f}")
    n = result["n_docs"]
    if args.trace:
        layer = result["layer"]
        layer["session.start_s"], layer["session.warmup_s"] = result["setup"]
        layer["host.burn_ms"] = result["burn_ms"]
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {
            "docs_per_s": n / statistics.median(result["walls"]),
            "cpu_ms_per_doc": 1e3 * statistics.median(result["cpus"]) / n,
            "setup_s": sum(result["setup"]),
            "peak_rss_mb": result["peak_rss_mb"],
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    failed = len(result["failed"])
    lines = [f"{k} = {v['value']:.6g} {v['unit']}" for k, v in metrics.items()]
    lines.append(f"error_rate = {failed / result['attempted']:.6g} fraction "
                 f"({failed} of {result['attempted']} docs failed)")
    lines.append("pass_s = " + " ".join(f"{w:.3f}" for w in result["walls"]))
    lines.append("pass_cpu_s = " + " ".join(f"{c:.2f}" for c in result["cpus"]))
    lines.append("setup_s (start, warm-up) = ({:.3f}, {:.3f})".format(*result["setup"]))
    for line in lines:
        print(f"[{context}] {line}")
    for p in result["problems"]:
        print(f"perfbench: {p}", file=sys.stderr)
    if failed:
        print(f"perfbench: failed docs: {result['failed'][:20]}", file=sys.stderr)
    return {"correct": failed == 0 and not result["problems"],
            "attempted": result["attempted"], "failed": failed,
            "metrics": metrics}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("checkpoint_commit", "stream_drain"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ beside perfbench/ in {ROOT}",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    # Python workers import the package from this checkout; Spark, the
    # JVM and Python's tempfile write only under the run directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # spark-submit's short-lived launcher JVM, which builds the driver's
    # command line, takes its options from here
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}")
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    become_subreaper()
    try:
        from perfbench import procstat
        try:
            run = Run(args, run_dir)
            result = run.execute()
        finally:
            reap_descendants(procstat)
        out = report(args, result, run.cores)
    except ImportError as e:
        print(f"perfbench: cannot import the package: {e}", file=sys.stderr)
        return 2
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
