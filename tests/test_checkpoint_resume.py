"""Checkpoint/resume correctness (north_rule): kill mid-run, rerun,
assert only pending partitions are processed and final output is
identical to an uninterrupted run."""

import os
import re
from collections import Counter, defaultdict

import pytest

from document_parser_private_spark.oracle import expected_rows
from document_parser_private_spark.plans.checkpoint import (
    _lineage_done,
    read_metrics,
    run_with_checkpoint,
)


def _collect_extracted(spark, out_dir):
    rows = spark.read.parquet(f"{out_dir}/extracted").collect()
    return sorted(
        (r["doc_id"], r["part"], r["blocks_kept"], r["clean_spans_json"])
        for r in rows
    )


def test_full_run_then_noop_resume(spark, corpus_df, tmp_path):
    out = str(tmp_path / "out")
    r1 = run_with_checkpoint(corpus_df, out, parts_per_commit=3)
    assert sorted(r1["processed_parts"]) == list(range(8))
    assert r1["skipped_parts"] == []
    data1 = _collect_extracted(spark, out)
    assert len(data1) == corpus_df.count()

    # rerun: everything already checkpointed -> nothing processed
    r2 = run_with_checkpoint(corpus_df, out, parts_per_commit=3)
    assert r2["processed_parts"] == []
    assert sorted(r2["skipped_parts"]) == list(range(8))
    assert _collect_extracted(spark, out) == data1


def test_kill_midway_resume_identical(spark, corpus_df, tmp_path):
    out_a = str(tmp_path / "killed")
    out_b = str(tmp_path / "clean")

    # uninterrupted reference run
    run_with_checkpoint(corpus_df, out_b, parts_per_commit=3)
    expected = _collect_extracted(spark, out_b)

    # killed run: fails after 1 commit (3 parts done)
    with pytest.raises(RuntimeError, match="simulated failure"):
        run_with_checkpoint(
            corpus_df, out_a, parts_per_commit=3, fail_after_commits=1
        )
    done_after_kill = {
        r["part"]
        for r in spark.read.parquet(f"{out_a}/lineage").collect()
    }
    assert len(done_after_kill) == 3

    # resume processes exactly the remaining partitions
    r = run_with_checkpoint(corpus_df, out_a, parts_per_commit=3)
    assert sorted(r["skipped_parts"]) == sorted(done_after_kill)
    assert sorted(r["processed_parts"]) == sorted(
        set(range(8)) - done_after_kill
    )
    assert _collect_extracted(spark, out_a) == expected


def test_metrics_side_table(spark, corpus_df, tmp_path):
    out = str(tmp_path / "m")
    run_with_checkpoint(corpus_df, out, parts_per_commit=8)
    metrics = spark.read.parquet(f"{out}/metrics").collect()
    assert {r["part"] for r in metrics} == set(range(8))
    total_docs = sum(r["doc_count"] for r in metrics)
    assert total_docs == corpus_df.count()
    assert all(r["blocks_dropped"] >= 0 for r in metrics)


def test_metrics_survive_orphan_window(spark, corpus_df, tmp_path):
    """Kill between the metrics write and the lineage commit: the resume
    re-processes the group and overwrites its metrics partitions, so the
    raw metrics table is exact, like the read_metrics view."""
    out = str(tmp_path / "orphan")
    with pytest.raises(RuntimeError, match="between metrics write"):
        run_with_checkpoint(
            corpus_df, out, parts_per_commit=3, fail_before_lineage=1
        )
    # killed before the first lineage append: metrics/ but no lineage/
    assert read_metrics(spark, out).collect() == []
    # resume (fresh run_id) completes all 8 partitions
    run_with_checkpoint(corpus_df, out, parts_per_commit=3)

    raw = spark.read.parquet(f"{out}/metrics").collect()
    clean = read_metrics(spark, out).collect()
    n_docs = corpus_df.count()
    for rows in (raw, clean):
        assert sum(r["doc_count"] for r in rows) == n_docs
        assert sorted(r["part"] for r in rows) == list(range(8))


@pytest.mark.parametrize("kill", [{"fail_after_commits": 1},
                                  {"fail_before_lineage": 1}])
def test_metrics_match_committed_data_and_lineage_after_resume(
        spark, corpus_df, tmp_path, kill):
    """After a kill and a resume, each part's one metrics row recounts
    its committed extracted/part=<p> data and carries the run_id of the
    part's lineage 'done' row."""
    out = str(tmp_path / "invariant")
    with pytest.raises(RuntimeError, match="simulated failure"):
        run_with_checkpoint(corpus_df, out, parts_per_commit=3, **kill)
    run_with_checkpoint(corpus_df, out, parts_per_commit=3)

    recount = defaultdict(lambda: [0, 0, 0])
    for r in spark.read.parquet(f"{out}/extracted").collect():
        c = recount[r["part"]]
        c[0] += 1
        c[1] += r["blocks_kept"]
        c[2] += r["blocks_dropped"]
    done_run = {
        r["part"]: r["run_id"]
        for r in spark.read.parquet(f"{out}/lineage").collect()
        if r["status"] == "done"
    }
    metrics = spark.read.parquet(f"{out}/metrics").collect()
    assert sorted(r["part"] for r in metrics) == list(range(8))
    for r in metrics:
        p = r["part"]
        assert [r["doc_count"], r["blocks_kept"],
                r["blocks_dropped"]] == recount[p], p
        assert r["run_id"] == done_run[p], p


def test_checkpoint_forces_dynamic_overwrite(spark, corpus_df, tmp_path):
    """run_with_checkpoint must not rely on the session having
    partitionOverwriteMode=dynamic — under 'static' a resume would wipe
    committed partitions."""
    out = str(tmp_path / "static")
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
        with pytest.raises(RuntimeError, match="simulated failure"):
            run_with_checkpoint(
                corpus_df, out, parts_per_commit=3, fail_after_commits=1
            )
        run_with_checkpoint(corpus_df, out, parts_per_commit=3)
        assert len(_collect_extracted(spark, out)) == corpus_df.count()
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def _last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    it = store.executionsList().iterator()
    last = -1
    while it.hasNext():
        last = max(last, it.next().executionId())
    return last


def _plan_nodes(spark, after_id: int) -> dict[int, list[tuple[str, str]]]:
    """Plan-graph (name, description) of the nodes of every SQL execution
    with id > after_id, read from the SQL status store once the listener
    bus has drained."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    out = {}
    it = store.executionsList().iterator()
    while it.hasNext():
        e = it.next()
        if e.executionId() > after_id:
            nodes = store.planGraph(e.executionId()).allNodes().iterator()
            found = []
            while nodes.hasNext():
                node = nodes.next()
                found.append((node.name().strip(), node.desc()))
            out[e.executionId()] = found
    return out


def _job_descriptions(spark, after_job: int) -> dict[int, str | None]:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark.sparkContext._jsc.sc().statusStore()
    out = {}
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        if j.jobId() > after_job:
            d = j.description()
            out[j.jobId()] = d.get() if d.isDefined() else None
    return out


@pytest.fixture(scope="module")
def traced_run(spark, corpus_df, tmp_path_factory):
    """One run over 8 parts with parts_per_commit=3 (3 commit groups),
    under a caller's own job description, with the SQL plans and job
    descriptions it left in the status stores."""
    out = str(tmp_path_factory.mktemp("traced") / "out")
    sc = spark.sparkContext
    after_exec = _last_execution_id(spark)
    after_job = max(_job_descriptions(spark, -1), default=-1)
    sc.setJobDescription("caller's label")
    try:
        res = run_with_checkpoint(corpus_df, out, parts_per_commit=3)
        description_after = sc.getLocalProperty("spark.job.description")
    finally:
        sc.setJobDescription(None)
    nodes = _plan_nodes(spark, after_exec)
    return {
        "out": out,
        "run_id": res["run_id"],
        "plans": {i: [name for name, _ in ns] for i, ns in nodes.items()},
        # output columns of each MapInArrow node, from its description
        # "MapInArrow fused(<inputs>)#n, [<outputs>], <isBarrier>"
        "kernel_outputs": [
            [re.sub(r"#\d+$", "", c.strip())
             for c in re.search(r"\[([^\]]*)\]", desc).group(1).split(",")]
            for ns in nodes.values() for name, desc in ns
            if name.startswith("MapInArrow")
        ],
        "jobs": _job_descriptions(spark, after_job),
        "description_after": description_after,
    }


def test_metrics_and_lineage_counts_match_oracle(spark, corpus_rows,
                                                 traced_run):
    """Each part's metrics row sums the oracle's per-doc counts, and its
    lineage row carries the part's input doc count."""
    want = defaultdict(lambda: [0, 0, 0])
    for row, exp in zip(corpus_rows, expected_rows(corpus_rows)):
        w = want[row["part"]]
        w[0] += 1
        w[1] += exp["blocks_kept"]
        w[2] += exp["blocks_dropped"]
    out = traced_run["out"]
    metrics = {
        r["part"]: [r["doc_count"], r["blocks_kept"], r["blocks_dropped"]]
        for r in spark.read.parquet(f"{out}/metrics").collect()
    }
    assert metrics == dict(want)
    lineage = {
        r["part"]: r["doc_count"]
        for r in spark.read.parquet(f"{out}/lineage").collect()
    }
    assert lineage == {p: w[0] for p, w in want.items()}


def test_one_kernel_pass_per_commit_group_and_no_join(traced_run):
    plans = traced_run["plans"]
    kernel_runs = [i for i, names in plans.items()
                   if any(n.startswith("MapInArrow") for n in names)]
    assert len(kernel_runs) == 3, plans
    joins = [n for names in plans.values() for n in names if "Join" in n]
    assert joins == [], plans


def test_commit_group_kernels_build_only_committed_columns(traced_run):
    """The commit-group kernels extract skills, which a commit writes,
    and none of the entities it does not write."""
    outputs = traced_run["kernel_outputs"]
    assert len(outputs) == 3
    for cols in outputs:
        assert cols == ["doc_id", "part", "clean_spans", "blocks_kept",
                        "blocks_dropped", "sections", "skills"], cols


def test_commit_group_jobs_are_labelled(traced_run):
    """Every job of a commit group carries its label; jobs outside the
    groups keep the caller's description, which the run restores."""
    rid = traced_run["run_id"]
    labels = {
        f"checkpoint run={rid} parts={g}"
        for g in ([0, 1, 2], [3, 4, 5], [6, 7])
    }
    seen = set(traced_run["jobs"].values())
    assert labels <= seen
    assert seen <= labels | {"caller's label"}
    assert traced_run["description_after"] == "caller's label"


def test_commit_group_job_counts(traced_run):
    """Each commit group runs five jobs. The metrics are written from
    the read-back aggregate, with no job that collects them to the
    driver. Read back with no schema, the committed counts would add a
    sixth that infers it from a parquet footer."""
    rid = traced_run["run_id"]
    per_label = Counter(traced_run["jobs"].values())
    assert [per_label[f"checkpoint run={rid} parts={g}"]
            for g in ([0, 1, 2], [3, 4, 5], [6, 7])] == [5, 5, 5], per_label


def test_broken_ledger_is_not_read_as_empty(spark, corpus_df, tmp_path):
    """A corrupt lineage file must fail the run and the metrics view,
    not make the run recompute every part as if nothing were done; side
    tables whose first append was killed before committing a file are
    empty."""
    out = tmp_path / "broken"
    (out / "lineage").mkdir(parents=True)
    (out / "lineage" / "part-00000.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        run_with_checkpoint(corpus_df, str(out), parts_per_commit=3)
    assert not os.path.exists(out / "extracted")
    (out / "metrics").mkdir()
    (out / "metrics" / "part-00000.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        read_metrics(spark, str(out)).collect()

    killed = tmp_path / "killed_first_append"
    (killed / "lineage" / "_temporary" / "0").mkdir(parents=True)
    (killed / "metrics" / "_temporary" / "0").mkdir(parents=True)
    assert _lineage_done(spark, str(killed)) == set()
    assert read_metrics(spark, str(killed)).collect() == []
    assert _lineage_done(spark, str(tmp_path / "missing")) == set()
