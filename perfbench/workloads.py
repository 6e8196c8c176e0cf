"""The benchmark's workloads.

Each workload has a set-up step (``prepare``, timed and repeated by the
runner), a unit of measured work (``op``, repeated), a reset done
before every op outside the timed region, and ``verify``, which checks
the outputs and returns ``(attempted, failed, problems)``.

- ``nightly_rebuild``: one night of the reference's schedule. The
  31-model warehouse DAG (``build_warehouse_pipeline(
  parallel_within_group=True)``) builds a fresh warehouse from the events
  before a seeded cutoff day (the full load); then that day's events land
  as files, with re-delivered duplicates, drain through
  ``run_incremental_upsert`` and refresh the event chain with
  ``run_incremental_event_chain`` (the incremental load). DAG concurrency
  and bulk writes decide the first part; small, partition-scoped merges
  and per-job, per-file costs decide the second.
- ``adhoc_mix``: one closed-loop client runs a fixed, family-stratified
  panel of registry queries over the seeded inputs; one op is one query,
  built and executed into a ``noop`` sink. ``verify`` collects its rows
  by a second execution, after the measured ops, for the oracle check. Read-only: no DAG, no writers, so it is the
  control for pipeline and writer changes.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from etl_pipelines_spark.operators.cacheutil import unpersist_tracked
from etl_pipelines_spark.plans.model import RunContext
from etl_pipelines_spark.plans.warehouse import (
    build_warehouse_pipeline,
    ods_events,
    run_incremental_event_chain,
)
from etl_pipelines_spark.queries import REGISTRY
from etl_pipelines_spark.sources.catalog import Catalog
from etl_pipelines_spark.streaming.incremental import run_incremental_upsert

from . import checks, inputs

RUN_DATE = dt.date(1998, 8, 2)

# Every registry-promoted model and the registry query it must equal
# (the pipeline adds write modes and layer order, never semantics).
PROMOTED = {
    "ods.allocation": "ops_allocation",
    "ods.track_events": "wh_track_events",
    "dwh.page_views": "wh_page_views",
    "dwh.sessions_mart": "wh_sessions_mart",
    "dwh.sessions_union": "sessions_union_stitch",
    "master.subscription": "master_subscription",
    "master_historical.subscription_historical": "master_subscription",
    "master_historical.customer_scd2": "scd2_history",
    "dwh.shipment_funnel": "ops_shipment_funnel",
    "dwh.collection_curves": "fin_collection_curves",
    "dwh.payment_retries": "pay_retry_payments",
    "dwh.luxco_report": "luxco_multigrain_union",
    "dwh.spv_price_outliers": "spv_price_outliers",
    "dwh.gc_account_balance": "gc_account_balance",
    "dwh.gc_wallet_expansion": "gc_wallet_expansion",
    "dwh.affiliate_payout": "mkt_affiliate_payout",
    "dwh.order_attribution": "braze_order_attribution",
    "dwh.rfm_segmentation": "dm_rfm_segmentation",
    "reporting.top_products": "top_products",
    "reporting.sustainability_seasonality": "sust_seasonality",
    "mon.table_stats": "mon_table_stats",
}
EVENT_CHAIN = ("ods.events", "ods.track_events", "dwh.sessions_mart")

FAMILIES = ("rel", "textops", "multimodal", "ml", "quality", "functions", "compat")
_FAMILY_OF_PREFIX = {
    "txt": "textops", "dd": "textops", "corpus": "textops",
    "mm": "multimodal",
    "ml": "ml", "ann": "ml", "emb": "ml",
    "mon": "quality",
    "f": "functions",
    "compat": "compat",
}
PANEL_SIZE = 24


def family(query: str) -> str:
    """The module family a registry query exercises, by name prefix;
    everything without a dedicated prefix is relational."""
    return _FAMILY_OF_PREFIX.get(query.split("_")[0], "rel")


def panel(size: int = PANEL_SIZE) -> "list[str]":
    """A fixed family-stratified panel of registry queries in a fixed
    order: each family gets a quota proportional to its size (at least
    one), filled with queries spaced evenly through its registry order,
    and the families take turns. The panel and its order do not depend
    on the seed: in a fresh JVM a query's latency depends on its
    position (the first ten run two to three times slower than they do
    later), so a seeded order would move the percentiles more than any
    change worth measuring. Seeds change the data."""
    by_family = {f: [] for f in FAMILIES}
    for name in REGISTRY:
        by_family[family(name)].append(name)
    total = len(REGISTRY)
    quota = {f: max(1, round(size * len(q) / total)) for f, q in by_family.items()}
    while sum(quota.values()) > size:
        quota[max(quota, key=quota.get)] -= 1
    while sum(quota.values()) < size:
        quota[max(by_family, key=lambda f: len(by_family[f]) / quota[f])] += 1
    picked = {
        f: [by_family[f][int((j + 0.5) * len(by_family[f]) / quota[f])]
            for j in range(quota[f])]
        for f in FAMILIES
    }
    # interleave: the k-th query of a family with quota q sits at k/q
    order = sorted(
        ((j + 0.5) / quota[f], FAMILIES.index(f), name)
        for f in FAMILIES for j, name in enumerate(picked[f]))
    return [name for _, _, name in order]


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class Workload:
    """Base: ``min_ops`` is the least number of ops one run measures."""

    name = ""
    min_ops = 1

    def __init__(self, spark, work_dir: str, seed: int, tracer):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.tracer = tracer
        self.reps = 0

    def prepare(self) -> None:
        raise NotImplementedError

    def reset(self, i: int) -> None:
        """Outside the timed region, before op ``i``."""

    def op(self, i: int) -> dict:
        raise NotImplementedError

    def verify(self) -> "tuple[int, int, list[str]]":
        raise NotImplementedError


class NightlyRebuild(Workload):
    """One op is one night of the reference's schedule: the full DAG
    over the events before the cutoff day, then the cutoff day's events
    land as files, drain through the deduplicating file stream into the
    raw events table and refresh the event chain incrementally."""

    name = "nightly_rebuild"

    def __init__(self, *args):
        super().__init__(*args)
        self.model_results = []

    def prepare(self) -> None:
        self.reps += 1
        rep = _fresh(os.path.join(self.work, f"rep{self.reps}"))
        tables = inputs.generate(self.seed)
        cutoff, base, full, landing = inputs.split_increment(tables["events"], self.seed)
        self.cutoff = cutoff
        self.base_src = os.path.join(rep, "base")
        self.full_src = os.path.join(rep, "full")
        inputs.write_source({**tables, "events": base}, self.base_src)
        inputs.write_source({**tables, "events": full}, self.full_src)
        self.landing_files = _fresh(os.path.join(rep, "landing"))
        for i, tab in enumerate(landing):
            inputs.pq.write_table(tab, os.path.join(self.landing_files, f"day-{i}.parquet"))

    def reset(self, i: int) -> None:
        # only the last night's warehouse is checked
        shutil.rmtree(os.path.join(self.work, f"op{i - 1}"), ignore_errors=True)
        op_dir = _fresh(os.path.join(self.work, f"op{i}"))
        # the stream merges into the raw events table: work on a copy
        self.src = shutil.copytree(self.base_src, os.path.join(op_dir, "src"))
        self.wh = os.path.join(op_dir, "wh")
        self.checkpoint = os.path.join(op_dir, "checkpoint")
        self.landing = shutil.copytree(self.landing_files, os.path.join(op_dir, "landing"))

    def op(self, i: int) -> dict:
        ctx = RunContext(
            spark=self.spark,
            catalog=Catalog(self.spark, self.wh),
            source_dir=self.src,
            run_date=RUN_DATE,
        )
        self.ctx = ctx
        t0 = time.perf_counter()
        pipe = build_warehouse_pipeline(parallel_within_group=True)
        self.results = self.tracer.pipeline_run(pipe, ctx)
        self.model_results += [(i, r) for r in self.results]
        t1 = time.perf_counter()
        self.tracer.incremental_upsert(
            run_incremental_upsert, self.spark, self.landing,
            os.path.join(self.src, "events.parquet"), self.checkpoint,
        )
        self.tracer.event_chain(run_incremental_event_chain, ctx, self.cutoff, EVENT_CHAIN)
        return {"rebuild_s": t1 - t0, "increment_s": time.perf_counter() - t1}

    def verify(self):
        """Every model of every night succeeded; in the last night's
        warehouse, every promoted table equals its registry query (the
        two event-chain marts over base plus day, the rest over the base
        the DAG read) and ods.events equals a from-scratch build of its
        model over base plus day."""
        problems = [f"night {i}: model {r.name} failed"
                    for i, r in self.model_results if r.status != "success"]
        chain = set(EVENT_CHAIN)
        full_ctx = RunContext(
            spark=self.spark, catalog=Catalog(self.spark, self.wh),
            source_dir=self.full_src, run_date=RUN_DATE,
        )

        def reference(table):
            if table == "ods.events":
                return "a from-scratch build", lambda: ods_events(full_ctx)
            src = self.full_src if table in chain else self.base_src
            query = PROMOTED[table]
            return f"registry {query}", lambda: REGISTRY[query].spark(self.spark, src)

        def check(table):
            what, want = reference(table)
            drop = ("date",) if table.startswith(
                "master_historical.subscription") else ()
            try:
                same = checks.same_rows(self.ctx.read(table), want(), drop)
            except Exception as e:  # a check that cannot run has failed
                return f"{table}: {type(e).__name__}: {e}"[:300]
            return None if same else f"{table} != {what}"

        tables = list(EVENT_CHAIN) + sorted(t for t in PROMOTED if t not in chain)
        with ThreadPoolExecutor(max_workers=4) as ex:
            problems += [p for p in ex.map(check, tables) if p]
        unpersist_tracked(blocking=True)
        return len(self.model_results) + len(tables), len(problems), problems


class AdhocMix(Workload):
    name = "adhoc_mix"
    min_ops = PANEL_SIZE

    def prepare(self) -> None:
        self.reps += 1
        self.src = os.path.join(self.work, f"src{self.reps}")
        shutil.rmtree(self.src, ignore_errors=True)
        inputs.write_source(inputs.generate(self.seed), self.src)
        self.sequence = panel()
        self.outputs = []

    def op(self, i: int) -> dict:
        name = self.sequence[i % len(self.sequence)]
        t0 = time.perf_counter()
        df = self.tracer.query_spark(name, REGISTRY[name].spark, self.spark, self.src)
        t1 = time.perf_counter()
        self.tracer.query_exec(name, family(name), df)
        t2 = time.perf_counter()
        self.outputs.append((name, df))
        return {"query": name, "family": family(name),
                "plan_s": t1 - t0, "exec_s": t2 - t1}

    def verify(self):
        def collect(df):
            try:
                return df.collect(), None
            except Exception as e:  # a result that cannot be read has failed
                return None, f"{type(e).__name__}: {e}"[:300]

        with ThreadPoolExecutor(max_workers=4) as ex:
            collected = list(ex.map(collect, [df for _, df in self.outputs]))
        con = checks.duckdb_views(self.src)
        problems = []
        for (name, df), (rows, error) in zip(self.outputs, collected):
            p = error or checks.oracle_problem(df.columns, rows, con, REGISTRY[name].oracle)
            if p:
                problems.append(f"{name}: {p}")
        con.close()
        unpersist_tracked(blocking=True)
        return len(self.outputs), len(problems), problems


WORKLOADS = {w.name: w for w in (NightlyRebuild, AdhocMix)}
