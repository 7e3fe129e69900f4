"""Dump `.explain("formatted")` for declared queries to files.

Usage: python tools/dump_plans.py OUT_DIR SUFFIX [query ...]
Writes OUT_DIR/<query>_<SUFFIX>.txt for each query (all queries when
none given). The final action of a query never runs, but building it
can: queries that checkpoint an intermediate eagerly (localCheckpoint —
e.g. lm_score, bm25_terms, cm_heavy_hitters, minhash_candidates) and
bloom_prune's plan-time collect() execute those parts at the chosen
scale factor (SPARK_GRAFT_SF_DIR, default sf0.1).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)

    from document_parser_private_spark.session import get_spark
    import __spark_entry__ as E

    spark = get_spark(app_name="dump_plans", cores=int(
        os.environ.get("SPARK_GRAFT_CPUS", "32")))
    qs = E.queries()
    for name in (names or qs):
        df = qs[name](spark, sf_dir)
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print("wrote", name, flush=True)


if __name__ == "__main__":
    main()
