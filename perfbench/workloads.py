"""The workloads: their inputs, one timed operation, and the check of
that operation's output.

Each workload calls one public entry point of the package:

- ``checkpoint_commit``: ``plans.checkpoint.run_with_checkpoint`` over a
  few large files sorted by doc size, with a giant-doc tail;
- ``stream_drain``: ``streaming.stream.run_stream_to_parquet`` drained
  with ``availableNow``.

A workload has a main input, timed, and a warm-up input of a few other
docs, which the set-up runs through the workload's own operation,
untimed.
"""

from __future__ import annotations

import glob
import os
import random
import statistics
from collections import Counter

import pyarrow.parquet as pq

from document_parser_private_spark.plans.checkpoint import run_with_checkpoint
from document_parser_private_spark.streaming.stream import run_stream_to_parquet

from perfbench import checks
from perfbench import sparkmetrics as M
from perfbench.corpora import Layout

SAMPLE_DOCS = 200  # docs compared field by field in an untraced run
WARM_DOCS = 64     # docs of the set-up's warm-up pass
WARM_FILES = 4     # their files, one task each, so several Python workers start


class Workload:
    name = ""
    table = ""  # directory of the output table under a pass's output dir
    n_docs = 0
    files = 0
    giants = 0
    sort_by_size = False
    # untimed passes over the main input after the set-up
    warm_passes = 0

    def layouts(self, seed: int) -> tuple[Layout, Layout]:
        """(main, warm-up) inputs for ``seed``; warm-up docs follow the
        main docs, so no doc is in both, and hold no giants."""
        return (
            Layout(self.name, 0, self.n_docs, seed, self.giants, self.files,
                   self.sort_by_size),
            Layout(self.name, self.n_docs, WARM_DOCS, seed, 0, WARM_FILES),
        )

    def run(self, spark, in_dir: str, out_dir: str) -> None:
        """The timed operation: all docs of ``in_dir`` through the package."""
        raise NotImplementedError

    def warm_up(self, spark, warm_dir: str, out_dir: str) -> None:
        """The set-up's untimed pass: the workload's operation over the
        warm-up docs, which starts the Python workers, imports the package
        in them and compiles the operation's plans."""
        self.run(spark, warm_dir, out_dir)

    def output_rows(self, spark, out_dir: str, doc_ids):
        """Output rows of the docs ``doc_ids`` (all rows if None) as dicts,
        plus the doc id of every output row (for the missing and duplicate
        check)."""
        out = spark.read.parquet(f"{out_dir}/{self.table}")
        ids = [r["doc_id"] for r in out.select("doc_id").collect()]
        if doc_ids is not None:
            out = out.where(out.doc_id.isin(doc_ids))
        rows = out.collect()
        return [r.asDict(recursive=True) for r in rows], ids

    def structure_problems(self, spark, in_dir: str, out_dir: str) -> list[str]:
        """Checks of the output beyond per-doc rows; [] when all hold."""
        return []

    def layer_metrics(self, execs: list[M.Execution], out_dir: str,
                      n_docs: int) -> dict[str, float]:
        """Metrics of the workload's own layer for one traced pass."""
        return {}

    def verify(self, spark, in_dir: str, out_dir: str, rng: random.Random,
               every_doc: bool) -> tuple[int, list[str], list[str]]:
        """(docs attempted, failed doc ids, structural problems).

        Every input doc is checked for being present exactly once; all of
        them, or a ``SAMPLE_DOCS`` sample drawn from ``rng``, are also
        compared field by field with the oracle."""
        inputs = read_docs(in_dir)
        picked = inputs if every_doc else rng.sample(inputs, min(SAMPLE_DOCS, len(inputs)))
        rows, all_ids = self.output_rows(
            spark, out_dir, None if every_doc else [d["doc_id"] for d in picked])
        problems = self.structure_problems(spark, in_dir, out_dir)
        if len(all_ids) != len(inputs):
            problems.append(f"{len(all_ids)} output rows for {len(inputs)} docs")
        counts = Counter(all_ids)
        failed = {d["doc_id"] for d in inputs if counts[d["doc_id"]] != 1}
        procs = len(os.sched_getaffinity(0)) if every_doc else 1
        failed.update(checks.failed_docs(rows, checks.expected(picked, procs)))
        return len(inputs), sorted(failed), problems


def read_docs(in_dir: str) -> list[dict]:
    """The corpus rows of ``in_dir``, in file order."""
    return pq.read_table(sorted(glob.glob(f"{in_dir}/*.parquet"))).to_pylist()


class CheckpointCommit(Workload):
    name = "checkpoint_commit"
    table = "extracted"
    n_docs = 960
    files = 2
    giants = 24  # 2.5%, above the corpus's 1% default
    sort_by_size = True

    def run(self, spark, in_dir, out_dir):
        run_with_checkpoint(spark.read.parquet(in_dir), out_dir,
                            parts_per_commit=4)

    def structure_problems(self, spark, in_dir, out_dir):
        parts = pq.read_table(in_dir, columns=["part"]).column("part").to_pylist()
        done = Counter(r["part"] for r in spark.read.parquet(f"{out_dir}/lineage")
                       .where("status = 'done'").collect())
        problems = [f"part {p} marked done {done[p]} times"
                    for p in sorted(set(parts) | set(done)) if done[p] != 1]
        docs = spark.read.parquet(f"{out_dir}/metrics").groupBy().sum("doc_count").first()[0]
        if docs != len(parts):
            problems.append(f"metrics doc_count sums to {docs}, input has {len(parts)}")
        return problems

    def layer_metrics(self, execs, out_dir, n_docs):
        commits = {(r["started_at"], r["finished_at"]) for r in
                   pq.read_table(f"{out_dir}/lineage").to_pylist()}
        spans = [b - a for a, b in commits]
        return {
            "checkpoint.commit_s_p50": statistics.median(spans),
            "checkpoint.commit_s_max": max(spans),
            "checkpoint.jobs": len({j for e in execs for j in e.jobs}),
            # bytes of the extraction output only: the metrics and lineage
            # files hold a random run id and wall-clock times, so their
            # sizes vary by a few bytes from run to run
            "checkpoint.bytes_written": data_files(f"{out_dir}/extracted")[1],
            "checkpoint.files_written": data_files(out_dir)[0],
        }


class StreamDrain(Workload):
    name = "stream_drain"
    table = "data"
    n_docs = 12288
    files = 8
    giants = 123  # the corpus's 1% default
    # a first pass over the main input takes about 1.7x a later one (the
    # per-worker lru_caches of semantics fill with these docs' lines)
    warm_passes = 1

    def run(self, spark, in_dir, out_dir):
        run_stream_to_parquet(spark, in_dir, f"{out_dir}/{self.table}",
                              f"{out_dir}/ckpt")

    def layer_metrics(self, execs, out_dir, n_docs):
        udf = "ArrowEvalPython"  # the pandas layout and sections UDFs
        batches = [e.wall_s for e in execs if M.node_stages([e], udf)]
        return {
            "stream.batches": len([f for f in os.listdir(f"{out_dir}/ckpt/commits")
                                   if f.isdigit()]),
            "stream.batch_s": statistics.median(batches),
            "stream.python_run_s": M.metric_sum(execs, udf, "time to run Python workers"),
            "stream.rows_per_doc": M.metric_sum(execs, udf, "number of output rows") / n_docs,
        }


WORKLOADS = {w.name: w for w in (CheckpointCommit(), StreamDrain())}


def data_files(out_dir: str) -> tuple[int, int]:
    """(count, bytes) of the parquet data files written under ``out_dir``."""
    files = [os.path.join(d, f) for d, _, fs in os.walk(out_dir) for f in fs
             if f.endswith(".parquet")]
    return len(files), sum(os.path.getsize(f) for f in files)
