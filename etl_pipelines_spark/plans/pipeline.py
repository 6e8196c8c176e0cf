"""Pipeline runner — the engine's answer to the reference's Airflow
fullload DAG (bi-airflow-prod/dags/pipeline/fullload/
dag_fullload_pipeline.py:43-80): task groups with dependency edges
(``TaskGroup.after``), each a list of models, executed with per-model
retries and the ``trigger_rule='all_done'`` semantics (a failed model
does not stop its dependents; dag_fullload_pipeline.py:75-76).

One scheduler runs every pipeline: a group's models go to a shared
worker pool the moment all of its upstream groups have finished, so
independent subtrees overlap and Spark's FAIR scheduler interleaves
their jobs across the cluster. ``parallel_within_group`` only sets the
pool width: one worker runs the models one at a time, in the order
their groups become ready (listed order among groups ready together),
six run them side by side.
"""

from __future__ import annotations

import datetime as dt
import time
import traceback
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field

from .model import Model, ModelResult, RunContext, TaskGroup

# Pool width of a parallel run. Not wider: back-to-back rebuilds on a
# throttling host drift by up to 40% at any width, so local A/Bs cannot
# separate 6, 8 and 10, and the one 32-core measurement that could read
# 20.2 s at 10 against 12.0 s at 6. A wider pool raises exactly the
# sustained demand such a host punishes.
_PARALLEL_WIDTH = 6


@dataclass
class Pipeline:
    name: str
    groups: list[TaskGroup] = field(default_factory=list)
    retries: int = 1
    parallel_within_group: bool = False

    def _deps(self) -> "dict[str, set[str]]":
        """Upstream group names per group. A group with ``after=None``
        depends on every group listed before it (the flat chain); an
        explicit ``after`` may name only groups listed earlier."""
        deps: dict[str, set[str]] = {}
        seen: set[str] = set()
        for i, g in enumerate(self.groups):
            d = (
                {x.name for x in self.groups[:i]}
                if g.after is None
                else set(g.after)
            )
            unknown = d - seen
            if unknown:
                raise ValueError(
                    f"group {g.name}: unknown/later dependency {sorted(unknown)}"
                )
            deps[g.name] = d
            seen.add(g.name)
        return deps

    def run(self, ctx: RunContext) -> list[ModelResult]:
        # The 64 KiB AQE coalescing floor (session.py) exists to
        # restore fan-out for ONE CPU-dense query on an otherwise
        # idle cluster. A DAG run is the opposite regime: many
        # models' jobs already fill the machine, and sub-MiB fan-out
        # only adds task-scheduling overhead (measured r12, paired
        # A/B on the 31-model rebuild: 64k floor +2-4 s vs 1 MiB at
        # every alternation). Pin the byte-sized floor for the DAG's
        # duration and restore the caller's value after — regime-
        # dependent, not core-count-dependent, so it holds on a real
        # cluster running hundreds of concurrent models.
        _FLOOR_KEY = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
        try:
            prior_floor = ctx.spark.conf.get(_FLOOR_KEY)
        except Exception:
            prior_floor = None
        ctx.spark.conf.set(_FLOOR_KEY, "1m")
        try:
            results = self._run_dag(ctx)
        finally:
            if prior_floor is not None:
                ctx.spark.conf.set(_FLOOR_KEY, prior_floor)
            else:
                ctx.spark.conf.unset(_FLOOR_KEY)
        # Models cache()/localCheckpoint() intermediates (the
        # reference's TEMP TABLE idiom); their tables are parquet
        # now, so the blocks are dead weight — leave the session
        # clean rather than letting 31 models' caches linger.
        # unpersist_tracked also drains the tracked-cache registry so
        # repeated pipeline runs don't grow the reference list
        # (ADVICE r8 cache-lifecycle item).
        from ..operators.cacheutil import unpersist_tracked

        unpersist_tracked()
        try:
            ctx.spark.catalog.clearCache()
        except Exception:
            pass
        return results

    def _run_dag(self, ctx: RunContext) -> list[ModelResult]:
        """Airflow-faithful DAG execution: a group's models are
        submitted to the shared worker pool the moment every group
        it depends on has finished — independent subtrees overlap
        instead of waiting at a global level barrier (the fullload
        DAG's trigger_rule/dependency semantics,
        dag_fullload_pipeline.py:43-80). Results come back in
        completion order."""
        deps = self._deps()
        results: list[ModelResult] = []
        done_groups: set[str] = set()
        remaining = {g.name: len(g.models) for g in self.groups}
        pending = list(self.groups)
        future_group: dict = {}
        width = _PARALLEL_WIDTH if self.parallel_within_group else 1

        with ThreadPoolExecutor(max_workers=width) as ex:

            def submit_ready() -> None:
                nonlocal pending
                progressed = True
                while progressed:
                    progressed = False
                    ready = [
                        g for g in pending if deps[g.name] <= done_groups
                    ]
                    if not ready:
                        return
                    pending = [g for g in pending if g not in ready]
                    for g in ready:
                        if not g.models:  # empty group: complete now
                            done_groups.add(g.name)
                            progressed = True
                            continue
                        for m in g.models:
                            fut = ex.submit(self._run_model, m, ctx)
                            future_group[fut] = g.name

            submit_ready()
            while future_group:
                done, _ = wait(
                    set(future_group), return_when=FIRST_COMPLETED
                )
                # submission order, so a one-worker run is reproducible
                for fut in [f for f in future_group if f in done]:
                    gname = future_group.pop(fut)
                    results.append(fut.result())
                    remaining[gname] -= 1
                    if remaining[gname] == 0:
                        done_groups.add(gname)
                submit_ready()
        return results

    def _run_model(self, model: Model, ctx: RunContext) -> ModelResult:
        t0 = time.perf_counter()
        last_err: str | None = None
        for attempt in range(1, self.retries + 2):
            try:
                model.materialize(ctx)
                return ModelResult(
                    model.name,
                    "success",
                    round(time.perf_counter() - t0, 3),
                    attempt,
                )
            except Exception:
                last_err = traceback.format_exc(limit=5)
        return ModelResult(
            model.name,
            "failed",
            round(time.perf_counter() - t0, 3),
            self.retries + 1,
            last_err,
        )


def backfill(
    pipeline: Pipeline,
    ctx: RunContext,
    start: "dt.date",
    end: "dt.date",
) -> "dict[dt.date, list[ModelResult]]":
    """Airflow-catchup semantics over the Pipeline: run every
    execution date in [start, end] IN ORDER, each under its own
    RunContext (reference: the fullload DAG backfilling a snapshot
    range after an outage).

    Order matters and is honored: later dates may read tables the
    earlier dates wrote (ctx.read). Idempotence comes from the write
    modes themselves — snapshot models dynamic-partition-overwrite
    their own date only, upsert models last-write-win on keys, so
    re-running any sub-range converges to the same state (tested:
    tests/test_backfill.py). A failed date records its results and
    the backfill continues (trigger_rule='all_done' across dates);
    inspect the returned map to re-run just the failed dates."""
    import dataclasses

    out: "dict[dt.date, list[ModelResult]]" = {}
    day = start
    while day <= end:
        day_ctx = dataclasses.replace(ctx, run_date=day)
        out[day] = pipeline.run(day_ctx)
        day = day + dt.timedelta(days=1)
    return out
