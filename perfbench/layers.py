"""Per-layer metrics of a traced run, all taken from outside the package.

- Spark layers (scan, the ``operators.resume`` MapInArrow node, the
  native projections, ``plans.pipeline``'s Python stages) come from the
  SQL metrics and task durations of the executions one timed pass ran.
- ``plans.checkpoint`` and ``streaming.stream`` add what their output
  directories record: lineage commit times, files written, batches (see
  ``Workload.layer_metrics``).
- ``semantics`` is timed single-threaded, by calling its public functions
  on a seeded sample of the workload's docs.

A metric of a layer that the workload does not run is 0.
"""

from __future__ import annotations

import random
import statistics
import time

from document_parser_private_spark import corpus as C
from document_parser_private_spark import oracle
from document_parser_private_spark import semantics as S

from perfbench import sparkmetrics as M
from perfbench.corpora import Layout

PYTHON_NODES = ("MapInArrow", "ArrowEvalPython")
SEMANTICS_DOCS = 200


def spark_layers(spark, execs: list[M.Execution], n_docs: int) -> dict[str, float]:
    """Scan, resume, functions and pipeline metrics of one pass."""
    scan = "Scan parquet"
    resume = "MapInArrow"
    python_stages = set().union(*(M.node_stages(execs, p) for p in PYTHON_NODES))
    tasks = M.task_durations(spark, python_stages)
    p50 = statistics.median(tasks) if tasks else 0.0
    return {
        "scan.tasks": len(M.task_durations(spark, M.node_stages(execs, scan))),
        "scan.files": M.metric_sum(execs, scan, "number of files read"),
        "scan.bytes": M.metric_sum(execs, scan, "size of files read"),
        "scan.time_s": M.metric_sum(execs, scan, "scan time"),
        "scan.rows_per_doc": M.metric_sum(execs, scan, "number of output rows") / n_docs,
        "resume.tasks": len(M.task_durations(spark, M.node_stages(execs, resume))),
        "resume.rows_per_doc": M.metric_sum(execs, resume, "number of output rows") / n_docs,
        "resume.bytes_to_python_per_doc":
            M.metric_sum(execs, resume, "data sent to Python workers") / n_docs,
        "resume.bytes_from_python_per_doc":
            M.metric_sum(execs, resume, "data returned from Python workers") / n_docs,
        "resume.python_start_s": M.metric_sum(execs, resume, "time to start Python workers"),
        "resume.python_init_s":
            M.metric_sum(execs, resume, "time to initialize Python workers"),
        "resume.python_run_ms_per_doc":
            1e3 * M.metric_sum(execs, resume, "time to run Python workers") / n_docs,
        "functions.codegen_s": M.metric_sum(execs, "WholeStageCodegen", "duration"),
        "pipeline.shuffle_bytes": M.metric_sum(execs, "Exchange", "shuffle bytes written"),
        "pipeline.task_s_p50": p50,
        "pipeline.task_s_max": max(tasks, default=0.0),
        "pipeline.task_skew": max(tasks) / p50 if p50 else 0.0,
    }


def semantics_sample(layout: Layout, rng: random.Random) -> list[dict]:
    """``SEMANTICS_DOCS`` corpus rows of ``layout`` drawn with ``rng``, with
    giants in the layout's proportion, so every seed times the same mix."""
    docs = layout.docs()
    plain, giants = docs[:layout.n - layout.giants], docs[layout.n - layout.giants:]
    k = min(SEMANTICS_DOCS, layout.n)
    g = round(k * layout.giants / layout.n)
    return C.docs_to_rows(rng.sample(plain, k - g) + rng.sample(giants, g))


def semantics_layers(docs: list[dict]) -> dict[str, float]:
    """µs per doc of each public ``semantics`` phase over ``docs``
    (corpus rows), after an untimed pass over a few of them that fills
    module caches."""
    lower, v2c, index = oracle.build_skill_index()
    phases = ("classify", "layout", "sections", "skills", "education",
              "experience", "projects")

    def one_pass(docs) -> dict[str, int]:
        ns = dict.fromkeys(phases, 0)
        for d in docs:
            t0 = time.perf_counter_ns()
            kept, _ = oracle.classify_keep(d["spans"])
            t1 = time.perf_counter_ns()
            ordered = oracle.reading_order(kept)
            t2 = time.perf_counter_ns()
            secs = oracle.sections_of([dict(s, offset=i) for i, s in enumerate(ordered)])
            t3 = time.perf_counter_ns()
            S.extract_skills(secs.get("skills", ""), lower, v2c, index)
            t4 = time.perf_counter_ns()
            S.extract_education_entries(secs.get("education", ""))
            t5 = time.perf_counter_ns()
            S.extract_experience_entries(
                secs.get("experience", ""), skill_lower_index=lower,
                skill_var2canon=v2c, skill_index=index)
            t6 = time.perf_counter_ns()
            S.extract_project_entries(
                secs.get("projects", ""), skill_lower_index=lower,
                skill_var2canon=v2c, skill_index=index)
            t7 = time.perf_counter_ns()
            for phase, a, b in zip(phases, (t0, t1, t2, t3, t4, t5, t6),
                                   (t1, t2, t3, t4, t5, t6, t7)):
                ns[phase] += b - a
        return ns

    one_pass(docs[:20])
    ns = one_pass(docs)
    return {f"semantics.{p}_us": ns[p] / 1e3 / len(docs) for p in phases}
