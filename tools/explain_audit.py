"""Physical-plan audit: the scale-discipline feedback loop.

For each query of the benchmark's ad-hoc panel (perfbench/workloads.py)
or each named query, capture the Catalyst FORMATTED plan and
count the markers that matter at 100 TB:

- Exchange            -> shuffles (each is a full network pass)
- BroadcastHashJoin   -> dimension joins that avoid shuffling facts
- SortMergeJoin       -> shuffle joins (fine for fact-fact, a smell
                         for small dims)
- BroadcastNestedLoop -> non-equi joins; only OK with a tiny side
- PushedFilters       -> predicates reaching the parquet scan
- python              -> Arrow/Python eval nodes (must stay at the
                         edges: model scoring, media decode, vector
                         math — never in relational hot paths)

Usage: python tools/explain_audit.py [sf_dir] [query ...]
Prints one summary line per query and, with -v, the full plans.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "-v"]
    verbose = "-v" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    from etl_pipelines_spark.session import get_spark
    from etl_pipelines_spark.queries import REGISTRY
    from perfbench.workloads import panel

    spark = get_spark()
    names = args[1:] if len(args) > 1 else panel()
    print(f"{'query':28s} {'exchanges':>9s} {'bhj':>4s} {'smj':>4s} "
          f"{'bnlj':>5s} {'pushed':>7s} {'python':>8s}")
    for name in names:
        df = REGISTRY[name].spark(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        # count detail-section headers only — the formatted dump also
        # repeats every node once in the tree rendering
        nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
        n_ex = nodes.count("Exchange")
        n_bhj = nodes.count("BroadcastHashJoin")
        n_smj = nodes.count("SortMergeJoin")
        n_bnlj = nodes.count("BroadcastNestedLoopJoin")
        pushed = len(re.findall(r"PushedFilters: \[(?!\])", plan))
        n_py = sum(
            nodes.count(n)
            for n in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                      "FlatMapGroupsInPandas", "MapInArrow")
        )
        print(f"{name:28s} {n_ex:9d} {n_bhj:4d} {n_smj:4d} "
              f"{n_bnlj:5d} {pushed:7d} {n_py:8d}")
        if verbose:
            print(plan)


if __name__ == "__main__":
    main()
