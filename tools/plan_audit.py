"""Plan-shape audit: FileScan / Exchange counts for every driver query.

Catches DAG fan-out bugs (PLANS.md §21): a DataFrame referenced by N
downstream branches is recomputed N times — invisible in results and
cheap at bench scale, catastrophic at 100 TB. Run after composing
operators; anything whose scan count exceeds the number of distinct
tables it logically reads deserves a persist/checkpoint look.

The session is `get_spark()`'s default (local[$SPARK_GRAFT_CPUS], or
every core), so the spread exchanges that `__spark_entry__._read` adds
are the ones bench.py and the tests see; `spread` counts them.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")


def main() -> None:
    from document_parser_private_spark.session import get_spark
    import __spark_entry__ as entry

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:] or list(entry.queries())
    spark = get_spark()
    qs = entry.queries()
    rows = []
    for name in names:
        try:
            plan = (
                qs[name](spark, sf_dir)
                ._jdf.queryExecution().executedPlan().toString()
            )
            rows.append((plan.count("FileScan"), plan.count("Exchange"),
                         plan.count("BroadcastExchange"),
                         plan.count("RoundRobinPartitioning"), name))
        except Exception as exc:  # surface, keep sweeping
            rows.append((-1, -1, -1, -1, f"{name}  ERR {exc}"))
    print(f"{'scans':>5} {'exch':>5} {'bcast':>5} {'spread':>6}  query")
    for s, x, b, r, n in sorted(rows, reverse=True):
        print(f"{s:5d} {x:5d} {b:5d} {r:6d}  {n}")


if __name__ == "__main__":
    main()
