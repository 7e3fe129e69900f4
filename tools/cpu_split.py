"""Where a perfbench workload's CPU goes: each pass's CPU, split by process
and by JVM thread group.

    python tools/cpu_split.py --workload stream_drain --seed 31 --passes 6

Runs the workload as ``perfbench/run.py`` does (same corpus cache, session
and warm-up), then times ``--passes`` passes. Around each pass it reads,
from /proc and for this process's own tree only:

- ``driver_py``: this process (the Spark driver's Python side);
- ``workers_py``: every other Python process, i.e. the PySpark daemon and
  its workers, with the CPU of workers reaped during the pass;
- ``jvm_jit``, ``jvm_exec``, ``jvm_gc``: the JVM's C1/C2 compiler threads,
  executor task threads and GC threads;
- ``jvm_driver``: the driver's control-plane threads: py4j's ``Thread-N``
  (the Python driver's calls), the DAG scheduler, the adaptive query
  stage and shuffle-exchange threads and the listener bus;
- ``jvm_other``: the rest of the JVM's CPU (its process total less the
  four groups), which also absorbs what a thread burnt after the last
  sample before it exited; threads are sampled every ``SAMPLE_S``;
- ``other``: any other process in the tree.

Prints one line per pass in ms of CPU per doc, then the median of each
group over the passes.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import procstat  # noqa: E402

SAMPLE_S = 0.5
GROUPS = ("driver_py", "workers_py", "jvm_jit", "jvm_exec", "jvm_gc",
          "jvm_driver", "jvm_other", "other")
# JVM thread names (their first 15 characters) -> group
THREAD_PREFIXES = (
    ("C1 CompilerThre", "jvm_jit"), ("C2 CompilerThre", "jvm_jit"),
    ("Executor task l", "jvm_exec"),
    ("GC Thread", "jvm_gc"), ("G1 ", "jvm_gc"),
    ("Thread-", "jvm_driver"), ("dag-scheduler-e", "jvm_driver"),
    ("ResultQueryStag", "jvm_driver"), ("shuffle-exchang", "jvm_driver"),
    ("spark-listener-", "jvm_driver"),
)


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None  # exited since it was listed


def thread_group(comm: str) -> str | None:
    for prefix, group in THREAD_PREFIXES:
        if comm.startswith(prefix):
            return group
    return None


class Tree:
    """CPU ticks of this process's tree, by group."""

    def __init__(self):
        self.root = os.getpid()
        # (tid, start time) -> (group, ticks): a recycled tid is a new key
        self.threads: dict[tuple[int, int], tuple[str, int]] = {}
        self.lock = threading.Lock()

    def processes(self) -> dict[int, tuple[str, int]]:
        """pid -> (command name, CPU ticks with reaped children's)."""
        stats = procstat.read_stats()
        out = {}
        for pid in procstat.tree_pids(stats, self.root):
            comm = _read(f"/proc/{pid}/comm")
            if comm is not None:
                out[pid] = (comm.strip(), stats[pid]["cpu_ticks"])
        return out

    def sample_threads(self, procs: dict[int, tuple[str, int]]) -> None:
        """Record the latest ticks of the JVM's grouped threads."""
        seen = {}
        for pid, (comm, _) in procs.items():
            if comm != "java":
                continue
            for tid in os.listdir(f"/proc/{pid}/task"):
                text = _read(f"/proc/{pid}/task/{tid}/stat")
                if text is None:
                    continue
                group = thread_group(text[text.index("(") + 1:text.rindex(")")])
                if group:
                    f = text[text.rindex(")") + 2:].split()
                    seen[int(tid), int(f[19])] = (group, int(f[11]) + int(f[12]))
        with self.lock:
            self.threads.update(seen)

    def poll(self, stop: threading.Event) -> None:
        while not stop.wait(SAMPLE_S):
            self.sample_threads(self.processes())

    def snapshot(self) -> tuple[dict, dict]:
        """(ticks per process group, ticks of the grouped JVM threads)."""
        procs = self.processes()
        groups = dict.fromkeys(GROUPS, 0)
        for pid, (comm, ticks) in procs.items():
            if pid == self.root:
                groups["driver_py"] += ticks
            elif comm.startswith("python"):
                groups["workers_py"] += ticks
            elif comm == "java":
                groups["jvm_other"] += ticks
            else:
                groups["other"] += ticks
        self.sample_threads(procs)
        with self.lock:
            return groups, dict(self.threads)


def split(before, after) -> dict[str, int]:
    """Ticks per group between two snapshots. A thread first seen after
    `before` was born during the pass, so it starts from 0."""
    (g0, t0), (g1, t1) = before, after
    out = {k: g1[k] - g0[k] for k in GROUPS}
    for key, (group, ticks) in t1.items():
        base = t0.get(key, (group, 0))[1]
        out[group] += ticks - base
        out["jvm_other"] -= ticks - base
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("checkpoint_commit", "stream_drain"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--passes", type=int, default=6)
    args = p.parse_args(argv)

    from perfbench import corpora
    from perfbench import run as R

    run_dir = os.path.join(R.WORK, f"cpu-split-{os.getpid()}")
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [q for q in os.environ.get("PYTHONPATH", "").split(os.pathsep) if q])
    os.environ["SPARK_DRIVER_MEM"] = R.DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    R.become_subreaper()
    tree, stop = Tree(), threading.Event()
    sampler = threading.Thread(target=tree.poll, args=(stop,), daemon=True)
    spark = None
    try:
        run = R.Run(args, run_dir)
        wl = run.workload
        main_layout, warm_layout = wl.layouts(args.seed)
        cache = os.path.join(R.WORK, "corpora")
        os.makedirs(cache, exist_ok=True)
        in_dir = corpora.materialize(cache, main_layout)
        warm_dir = corpora.materialize(cache, warm_layout)
        spark = run.session()
        wl.warm_up(spark, warm_dir, run.fresh_out())
        for _ in range(wl.warm_passes):
            wl.run(spark, in_dir, run.fresh_out())
        sampler.start()
        n, rows = main_layout.n, []
        print("pass " + " ".join(f"{g:>10}" for g in GROUPS) + "  (ms/doc)")
        for i in range(args.passes):
            before = tree.snapshot()
            wl.run(spark, in_dir, run.fresh_out())
            ticks = split(before, tree.snapshot())
            rows.append({g: 1e3 * t / procstat.CLK_TCK / n
                         for g, t in ticks.items()})
            print(f"{i:4d} " + " ".join(f"{rows[-1][g]:10.3f}" for g in GROUPS),
                  flush=True)
        print(" med " + " ".join(
            f"{statistics.median(r[g] for r in rows):10.3f}" for g in GROUPS))
    finally:
        stop.set()
        if spark is not None:
            R.stop_spark(spark)
        R.reap_descendants(procstat)
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
