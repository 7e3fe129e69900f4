"""tools/cpu_split.py's accounting, on hand-made /proc snapshots."""

import importlib.util
import os

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "tools", "cpu_split.py")
_spec = importlib.util.spec_from_file_location("cpu_split", _PATH)
cpu_split = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(cpu_split)


def test_thread_groups():
    g = cpu_split.thread_group
    assert g("C2 CompilerThre") == g("C1 CompilerThre") == "jvm_jit"
    assert g("Executor task l") == "jvm_exec"
    assert g("GC Thread#3") == g("G1 Conc#0") == "jvm_gc"
    assert (g("Thread-4") == g("dag-scheduler-e") == g("ResultQueryStag")
            == g("shuffle-exchang") == g("spark-listener-") == "jvm_driver")
    assert g("VM Thread") is None


def test_split_moves_thread_cpu_out_of_jvm_other():
    """A JVM's process total minus its grouped threads is jvm_other; a
    thread first seen after the pass began counts from 0."""
    groups0 = dict.fromkeys(cpu_split.GROUPS, 0)
    groups1 = dict(groups0, jvm_other=100, workers_py=7)
    before = (groups0, {(1, 5): ("jvm_jit", 10)})
    after = (groups1, {(1, 5): ("jvm_jit", 40), (2, 9): ("jvm_exec", 25)})
    out = cpu_split.split(before, after)
    assert out["jvm_jit"] == 30
    assert out["jvm_exec"] == 25
    assert out["jvm_other"] == 100 - 30 - 25
    assert out["workers_py"] == 7
    assert sum(out.values()) == 107
