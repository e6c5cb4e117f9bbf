"""Registry-wide physical-plan audit: for every registered query, count the
plan features that matter at 100 TB (exchanges, corpus scans, broadcast vs
sort-merge joins, Python boundaries, cartesian products) and write a markdown
table. Run on a quiet machine at sf0.001:

    python tools/plan_audit.py > PLAN_AUDIT.md

Iterative-training queries (bench SKIP_TRAINING) are skipped — their cost is
solver iterations, not a query plan. Queries that materialize intermediates
at construction (localCheckpoint/scalar collects) run those small jobs at
sf0.001; the audited plan is the final consumer plan.
"""

from __future__ import annotations

import re
import sys


def main() -> None:
    sf = "/root/testdata/sf0.001"
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .appName("plan-audit")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry
    from bench import SKIP_TRAINING

    rows = []
    for name, fn in entry.queries().items():
        if name in SKIP_TRAINING:
            continue
        try:
            df = fn(spark, sf)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # surface loudly, don't abort the audit
            rows.append((name, None, f"ERROR: {type(e).__name__}: {e}"))
            continue
        feat = {
            "exch": len(re.findall(r"Exchange (hash|range)partitioning", plan)),
            "scan": plan.count("Scan parquet"),
            "bhj": plan.count("BroadcastHashJoin"),
            "smj": plan.count("SortMergeJoin"),
            "py": plan.count("MapInPandas") + plan.count("ArrowEvalPython"),
            "cart": plan.count("CartesianProduct")
            + plan.count("BroadcastNestedLoopJoin"),
        }
        rows.append((name, feat, ""))

    print("# Plan audit (auto-generated by tools/plan_audit.py at sf0.001)")
    print()
    print(
        "Static physical-plan feature counts per registered query — the"
        " shapes the 100 TB design arguments in COVERAGE.md claim."
        " `exch` = hash/range exchanges, `scan` = parquet scans visible in"
        " the final plan (checkpoint-materialized passes not included),"
        " `bhj`/`smj` = broadcast vs sort-merge joins, `py` = Arrow Python"
        " boundaries, `cart` = cartesian/nested-loop joins (should be 0"
        " everywhere except documented broadcast-1-row frames and the"
        " complete-catalog recall of the recommend queries, where each"
        " requested user row meets the broadcast item catalog once — above"
        " `ann_item_threshold` items the LSH equi-join takes over)."
    )
    print()
    print("| query | exch | scan | bhj | smj | py | cart |")
    print("|---|---|---|---|---|---|---|")
    for name, feat, err in sorted(
        rows, key=lambda r: -(r[1]["exch"] if r[1] else 99)
    ):
        if feat is None:
            print(f"| {name} | {err} | | | | | |")
        else:
            print(
                f"| {name} | {feat['exch']} | {feat['scan']} | {feat['bhj']} |"
                f" {feat['smj']} | {feat['py']} | {feat['cart']} |"
            )


if __name__ == "__main__":
    main()
