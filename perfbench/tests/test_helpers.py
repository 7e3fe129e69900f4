"""Tests of the benchmark's own helpers; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from document_parser_private_spark import corpus as C  # noqa: E402
from document_parser_private_spark.corpus import docs_to_rows  # noqa: E402
from perfbench import checks, corpora, procstat  # noqa: E402
from perfbench.sparkmetrics import metric_stage, parse_metric  # noqa: E402

PER_TASK = ("total (min, med, max (stageId: taskId))\n"
            "1.6 m (12 ms, 212 ms, 1.9 s (stage 3.0: task 41))")


@pytest.mark.parametrize("text, value", [
    ("70.0 MiB", 70.0 * 2**20),
    ("1080.4 KiB", 1080.4 * 2**10),
    ("512 B", 512.0),
    ("1.6 m", 96.0),
    ("10 ms", 0.01),
    ("20,000", 20000.0),
    ("1,234,567", 1234567.0),
    ("0", 0.0),
    (PER_TASK, 96.0),
    ("total (min, med, max (stageId: taskId))\n30.8 MiB (151.5 KiB, 201.8 KiB, "
     "282.6 KiB (stage 1.0: task 1))", 30.8 * 2**20),
])
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_parse_metric_rejects_unknown_text():
    with pytest.raises(ValueError):
        parse_metric("12 parsecs")
    with pytest.raises(ValueError):
        parse_metric("n/a")


def test_metric_stage():
    assert metric_stage(PER_TASK) == 3
    assert metric_stage("20,000") is None


def test_size_sorted_writer(tmp_path):
    docs = [C.make_doc(i, seed=3, skew_frac=0.2) for i in range(50)]
    files = corpora.write_docs(str(tmp_path / "c"), docs, 3, sort_by_size=True)
    assert len(files) == 3
    rows = [r for f in files for r in pq.read_table(f).to_pylist()]
    sizes = [r["byte_size"] for r in rows]
    assert sizes == sorted(sizes)
    assert sorted(r["doc_id"] for r in rows) == sorted(d.doc_id for d in docs)
    assert sizes[-1] > 10 * sizes[len(sizes) // 2]  # the giant tail is last
    assert rows == sorted(docs_to_rows(docs),
                          key=lambda r: (r["byte_size"], r["doc_id"]))


def test_unsorted_writer_keeps_doc_order(tmp_path):
    docs = [C.make_doc(i, seed=3) for i in range(10)]
    files = corpora.write_docs(str(tmp_path / "c"), docs, 4)
    rows = [r for f in files for r in pq.read_table(f).to_pylist()]
    assert rows == docs_to_rows(docs)


def test_cache_key_names_every_input():
    base = corpora.Layout("w", 0, 100, 1, 2, 4, True)
    variants = [
        corpora.Layout("v", 0, 100, 1, 2, 4, True),
        corpora.Layout("w", 1, 100, 1, 2, 4, True),
        corpora.Layout("w", 0, 101, 1, 2, 4, True),
        corpora.Layout("w", 0, 100, 2, 2, 4, True),
        corpora.Layout("w", 0, 100, 1, 3, 4, True),
        corpora.Layout("w", 0, 100, 1, 2, 5, True),
        corpora.Layout("w", 0, 100, 1, 2, 4, False),
    ]
    keys = {corpora.cache_key(v) for v in variants}
    assert corpora.cache_key(base) not in keys and len(keys) == len(variants)
    assert corpora.cache_key(base) == corpora.cache_key(
        corpora.Layout("w", 0, 100, 1, 2, 4, True))


def test_layout_has_a_fixed_giant_tail():
    for seed in (1, 2, 3):
        docs = corpora.Layout("w", 0, 60, seed, 4, 2).docs()
        assert len(docs) == len({d.doc_id for d in docs}) == 60
        big = [d for d in docs if len(d.spans) > 100]
        assert len(big) == 4
        assert all(corpora.GIANT_SPANS[0] <= len(d.spans) <= corpora.GIANT_SPANS[1]
                   for d in big)
    assert corpora.Layout("w", 0, 20, 7, 2, 2).docs() == \
        corpora.Layout("w", 0, 20, 7, 2, 2).docs()


def test_pool_makes_the_same_docs_as_one_process():
    layout = corpora.Layout("w", 0, 600, 3, 3, 2)
    docs = layout.docs()
    assert docs[:597] == [C.make_doc(i, seed=3, skew_frac=0.0) for i in range(597)]
    assert docs[597:] == corpora.giant_docs(3, 3)


def test_unsorted_layout_spreads_giants_over_files(tmp_path):
    assert corpora.spread_tail(list("abcdefXY"), 2) == list("abcXdefY")
    assert corpora.spread_tail(list("abc"), 0) == list("abc")
    path = corpora.materialize(str(tmp_path), corpora.Layout("w", 0, 80, 5, 4, 4))
    for f in sorted(os.listdir(path)):
        spans = pq.read_table(os.path.join(path, f)).column("spans").to_pylist()
        assert sum(len(s) > 100 for s in spans) == 1


def test_materialize_reuses_cache(tmp_path):
    layout = corpora.Layout("w", 0, 12, 5, 1, 2)
    path = corpora.materialize(str(tmp_path), layout)
    stamp = os.stat(path).st_mtime_ns
    assert corpora.materialize(str(tmp_path), layout) == path
    assert os.stat(path).st_mtime_ns == stamp
    assert os.listdir(tmp_path) == [os.path.basename(path)]


def test_parse_stat_handles_odd_command_names():
    line = ("4242 (a (b) c) S 17 4242 17 0 -1 4194560 100 0 0 0 "
            "30 7 5 2 20 0 1 0 900 1000 250 18446744073709551615")
    s = procstat.parse_stat(line)
    assert s == {"ppid": 17, "cpu_ticks": 30 + 7 + 5 + 2, "vsize": 1000,
                 "rss_pages": 250}


def test_child_in_parent_address_space_is_not_counted_twice():
    def proc(ppid, vsize, rss):
        return {"ppid": ppid, "vsize": vsize, "rss_pages": rss}
    stats = {1: proc(0, 9000, 500),
             2: proc(1, 9000, 510),   # mid-spawn, read a bit later
             3: proc(1, 4000, 500),   # exec'd: another address space
             4: proc(1, 9000, 200)}   # not the parent's RSS
    assert [p for p in stats if procstat.shares_parent_memory(stats, p)] == [2]


def test_tree_pids_follows_descendants_only():
    stats = {1: {"ppid": 0}, 10: {"ppid": 1}, 11: {"ppid": 10},
             12: {"ppid": 11}, 20: {"ppid": 1}}
    assert sorted(procstat.tree_pids(stats, 10)) == [10, 11, 12]
    assert procstat.tree_pids(stats, 99) == []


def test_tree_usage_counts_reaped_children():
    cpu0, rss = procstat.tree_usage()
    assert rss > 1
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"
    subprocess.run([sys.executable, "-c", burn], check=True)
    cpu1, _ = procstat.tree_usage()
    assert cpu1 - cpu0 >= 0.4


def test_tree_usage_sees_live_children():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert child.pid in procstat.descendants()
        with procstat.Sampler(interval=0.05) as s:
            pass
        assert s.peak_mb >= procstat.tree_usage()[1] * 0.5
    finally:
        child.kill()
        child.wait()
    assert child.pid not in procstat.descendants()


def test_checks_accept_json_output_and_flag_differences():
    docs = docs_to_rows([C.make_doc(i, seed=9) for i in range(30)])
    golden = checks.expected(docs)
    assert checks.expected(docs, procs=2) == golden
    rows = []
    for d in docs:
        g = golden[d["doc_id"]]
        rows.append({
            "doc_id": d["doc_id"],
            "blocks_kept": g["blocks_kept"],
            "blocks_dropped": g["blocks_dropped"],
            "summary": g["summary"],
            # the sinks write to_json strings, which drop null fields
            "clean_spans_json": json.dumps([
                {k: v for k, v in zip(("kind", "text", "media_ref", "offset"), s)
                 if v is not None} for s in g["clean_spans"]]),
            "sections_json": json.dumps(
                {k: v for k, v in g["sections"].items() if v is not None}),
            "contact_json": json.dumps(g["contact"]),
            "skills_json": json.dumps(g["skills"]),
        })
    assert checks.failed_docs(rows, golden) == []
    rows[3] = dict(rows[3], summary="changed")
    assert checks.failed_docs(rows, golden) == [docs[3]["doc_id"]]
    assert checks.failed_docs(rows[:-1] + rows[:1], golden) == sorted(
        [docs[3]["doc_id"], docs[-1]["doc_id"], docs[0]["doc_id"]],
        key=[d["doc_id"] for d in docs].index)
