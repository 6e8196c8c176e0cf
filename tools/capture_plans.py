"""Capture .explain("formatted") for registry queries into files.

Usage: python tools/capture_plans.py <outdir> <suffix> [query ...]
Writes <outdir>/<query>_<suffix>.txt per query. With no query list,
captures the benchmark's ad-hoc query panel (perfbench/workloads.py)
plus the heavy wh-pipeline model twins.

The session runs local[$SPARK_GRAFT_CPUS] with small file splits, so
sf0.1 scans fan out the way they do on a multi-core box (AQE runtime
re-optimization is additionally disclosed in OPTIMIZATION_r12.md where
it matters).
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    os.makedirs(outdir, exist_ok=True)
    from pyspark.sql import SparkSession
    from etl_pipelines_spark import session as _session
    from etl_pipelines_spark.queries import REGISTRY
    from perfbench.workloads import panel

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("capture_plans")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    _session.configure(spark)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(2 * 1024 * 1024))
    spark.conf.set("spark.sql.files.openCostInBytes", str(256 * 1024))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    names = sys.argv[3:] or (
        panel()
        + ["spv_price_outliers", "mkt_affiliate_payout", "master_subscription",
           "top_products", "mon_table_stats"]
    )
    for name in names:
        df = REGISTRY[name].spark(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"MARKER wrote {path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
