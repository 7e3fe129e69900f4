"""Plan-shape regression gate (r5 VERDICT #5 / PLANS.md §21).

DAG fan-out bugs — a multi-referenced DataFrame recomputed per
reference — are invisible in results and cheap at bench scale, which
is exactly how they survive to production. This pins the FileScan
count of each composite query's physical plan at sf0.001. Queries
whose results are eagerly localCheckpoint-ed pin at 0 (the checkpoint
truncates the visible plan; a regression that DROPS the checkpoint
shows up as a jump to >= 1).

Ceilings are the audited r6 values (tools/plan_audit.py) plus one
scan of slack on the non-checkpointed entries, except the queries that
read each input once (PLANS.md §22, §28), which pin their read count
with no slack. At sf0.1, where `__spark_entry__._read` spreads every
documents read, those queries also pin one round-robin exchange per
read: a second read would pay a second spread.

The live plans of the queries whose operators run a batch builder
(operators/batch.map_docs) also pin their MapInArrow count, with no
slack: one Python crossing per builder call.
"""

import pytest

import __spark_entry__ as E

SF_DIR = "/root/testdata/sf0.001"
SF01_DIR = "/root/testdata/sf0.1"

# query -> max allowed FileScan occurrences in executedPlan().toString()
SCAN_CEILINGS = {
    # eager-checkpointed composites (visible plan is the checkpoint)
    "jaccard_on_candidates": 0,
    "semantic_dedup": 0,
    "cross_corpus_dedup": 0,
    "triangle_count": 0,
    "event_funnel": 0,
    "cohort_retention": 0,
    "pagerank": 0,
    "lm_score": 0,
    "bm25_terms": 0,
    "hll_distinct": 0,
    "cm_heavy_hitters": 0,
    # live plans (+1 slack over the audited count)
    "jaccard_pairs": 1,
    "substring_dedup": 3,
    "textstats": 2,
    "simhash": 2,
    "minhash": 2,
    "minhash_candidates": 0,  # r6: reps persisted, result checkpointed
    "repetition_stats": 4,
    "ivf_topk": 3,
    # pinned without slack: one documents scan, its truth from a window
    "eval_metrics": 1,
}
# query -> documents reads, pinned without slack: the silent docs ride
# the one pass, no join restores them (decontaminate's benchmark slice,
# strip_boilerplate's line dictionary and mixture_sample's source counts
# are the second read)
ONE_PASS_READS = {
    "lexical_stats": 1,
    "exact_dedup": 1,
    "decontaminate": 2,
    "strip_boilerplate": 2,
    "mixture_sample": 2,
}
SCAN_CEILINGS.update(ONE_PASS_READS)

# query -> max allowed MapInArrow nodes (decontaminate builds grams for
# the corpus and for the benchmark side)
MAP_IN_ARROW_CEILINGS = {
    "textstats": 1,
    "simhash": 1,
    "minhash": 1,
    "repetition_stats": 1,
    "decontaminate": 2,
    "substring_dedup": 1,
}


@pytest.mark.parametrize("name", sorted(SCAN_CEILINGS))
def test_scan_count_within_budget(spark, name):
    plan = _plan(spark, name, SF_DIR)
    scans = plan.count("FileScan")
    assert scans <= SCAN_CEILINGS[name], (
        f"{name}: {scans} FileScans > pinned {SCAN_CEILINGS[name]} — "
        "a subtree is being recomputed per reference (PLANS.md §21) or "
        "an eager checkpoint was dropped"
    )
    crossings = plan.count("MapInArrow")
    assert crossings <= MAP_IN_ARROW_CEILINGS.get(name, crossings), (
        f"{name}: {crossings} MapInArrow nodes > pinned "
        f"{MAP_IN_ARROW_CEILINGS.get(name)} — a batch builder crosses "
        "into Python more than once"
    )


def _plan(spark, name, sf_dir):
    return (E.queries()[name](spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString())


@pytest.mark.parametrize("name", sorted(ONE_PASS_READS))
def test_one_spread_per_read_at_sf01(spark, name):
    plan = _plan(spark, name, SF01_DIR)
    reads = ONE_PASS_READS[name]
    assert plan.count("FileScan") == reads
    assert plan.count("RoundRobinPartitioning") == reads, (
        f"{name}: each documents read should pay exactly one spread "
        "exchange")
