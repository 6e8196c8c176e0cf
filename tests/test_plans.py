from __future__ import annotations

import datetime as dt
import threading
import time
from dataclasses import dataclass, field

import pytest
from pyspark.sql import functions as F

from etl_pipelines_spark.plans import (
    Model,
    Pipeline,
    RunContext,
    TaskGroup,
    build_warehouse_pipeline,
)
from etl_pipelines_spark.quality import (
    expression,
    freshness,
    no_duplicates,
    no_missing_dates,
    row_count,
    run_checks,
)
from etl_pipelines_spark.sources.catalog import Catalog

RUN_DATE = dt.date(1998, 8, 2)


@pytest.fixture()
def ctx(spark, sf_dir, tmp_path):
    return RunContext(
        spark=spark,
        catalog=Catalog(spark, str(tmp_path / "wh")),
        source_dir=sf_dir,
        run_date=RUN_DATE,
    )


class TestWarehousePipeline:
    def test_full_run_builds_all_layers(self, ctx):
        pipe = build_warehouse_pipeline()
        results = pipe.run(ctx)
        status = {r.name: r.status for r in results}
        assert all(s == "success" for s in status.values()), status
        # every table readable, master matches source customer count
        n_cust = ctx.source("customer").count()
        assert ctx.read("master.customer").count() == n_cust
        hist = ctx.read("master_historical.customer_historical")
        assert hist.filter(F.col("date") == F.lit(RUN_DATE.isoformat())).count() == n_cust
        # no duplicate monitors fired
        assert ctx.read("mon.customer_duplicates").count() == 0

    def test_snapshot_is_idempotent_and_accumulates(self, ctx):
        pipe = build_warehouse_pipeline()
        pipe.run(ctx)
        hist_group = next(
            g for g in pipe.groups if g.name == "master_historical"
        )
        hist_model = hist_group.models[0]
        # re-run same day: no double rows
        n1 = ctx.read("master_historical.customer_historical").count()
        hist_model.materialize(ctx)
        assert ctx.read("master_historical.customer_historical").count() == n1
        # next day: one more snapshot partition
        ctx2 = RunContext(ctx.spark, ctx.catalog, ctx.source_dir,
                          RUN_DATE + dt.timedelta(days=1))
        hist_model.materialize(ctx2)
        hist = ctx.read("master_historical.customer_historical")
        assert hist.count() == 2 * n1
        assert hist.select("date").distinct().count() == 2

    def test_events_upsert_is_idempotent(self, ctx):
        pipe = build_warehouse_pipeline()
        pipe.run(ctx)
        n1 = ctx.read("ods.events").count()
        pipe.groups[0].models[0].materialize(ctx)  # replay W2 upsert
        assert ctx.read("ods.events").count() == n1

    def test_failure_continues_with_all_done(self, ctx):
        def boom(_ctx):
            raise RuntimeError("synthetic failure")

        pipe = Pipeline(
            name="p",
            groups=[
                TaskGroup("g1", [Model("t.bad", boom)]),
                TaskGroup("g2", [Model(
                    "t.good", lambda c: c.source("region"))]),
            ],
            retries=0,
        )
        results = pipe.run(ctx)
        assert [r.status for r in results] == ["failed", "success"]
        assert ctx.read("t.good").count() == 5

    def test_promoted_models_hash_equal_their_registry_queries(self, ctx):
        """Every registry-promoted model's MATERIALIZED table must be
        value-identical to the registry query it was promoted from
        (sorted-row comparison ≅ the driver's hash gate) — the
        pipeline adds write modes and layer order, never semantics.
        Snapshot models carry the extra run-date partition column,
        compared after dropping it."""
        from etl_pipelines_spark.queries import REGISTRY

        promoted = {
            "ods.allocation": "ops_allocation",
            "ods.track_events": "wh_track_events",
            "dwh.page_views": "wh_page_views",
            "dwh.sessions_mart": "wh_sessions_mart",
            "dwh.sessions_union": "sessions_union_stitch",
            "master.subscription": "master_subscription",
            "master_historical.subscription_historical":
                "master_subscription",
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
        pipe = build_warehouse_pipeline()
        results = pipe.run(ctx)
        status = {r.name: r.status for r in results}
        assert all(s == "success" for s in status.values()), status
        # the pipeline contains every promoted table exactly once
        model_names = [m.name for g in pipe.groups for m in g.models]
        assert len(model_names) == len(set(model_names))
        assert set(promoted) <= set(model_names)

        def canon(df, drop=()):
            cols = sorted(c for c in df.columns if c not in drop)
            return sorted(
                repr(tuple(r[c] for c in cols)) for r in df.collect()
            )

        for table, query in promoted.items():
            want = canon(REGISTRY[query].spark(ctx.spark, ctx.source_dir))
            drop = (
                ("date",)
                if table.startswith("master_historical.subscription")
                else ()
            )
            got = canon(ctx.read(table), drop=drop)
            assert got == want, f"{table} != registry {query}"

    def test_mixed_validity_dup_group_keeps_latest_valid(
        self, spark, tmp_path
    ):
        """r6 advice (queries.py wh_track_events_core): the registry
        form filters invalid rows BEFORE its event_id dedup, so when
        a duplicate group's LATEST row is invalid but an older row is
        valid, the event must survive into the layered track_events
        table (latest-valid row), while plain ods readers still see
        the latest row. The synthetic corpus never mixes validity in
        a dup group — this is the targeted fixture."""
        from etl_pipelines_spark import queries as Q
        from etl_pipelines_spark.plans import warehouse as W

        t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
        t1 = dt.datetime(2024, 1, 1, 11, 0, 0)
        rows = [
            # dup group: latest row invalid JSON, older row valid
            (1, t1, 7, "click", 5.0, "{not json"),
            (1, t0, 7, "click", 3.0, '{"k": 40}'),
            # dup group: both valid — latest wins everywhere
            (2, t1, 8, "click", 9.0, '{"k": 70}'),
            (2, t0, 8, "click", 1.0, '{"k": 10}'),
            # dup group: all rows invalid — track_events drops it
            (3, t1, 9, "error", 2.0, "oops"),
            (3, t0, 9, "error", 4.0, "nope"),
        ]
        src = tmp_path / "src"
        src.mkdir()
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        ).write.parquet(str(src / "events.parquet"))
        ctx = RunContext(
            spark=spark,
            catalog=Catalog(spark, str(tmp_path / "wh")),
            source_dir=str(src),
            run_date=RUN_DATE,
        )
        pipe = build_warehouse_pipeline()
        ods_model = next(
            m for g in pipe.groups for m in g.models
            if m.name == "ods.events"
        )
        ods_model.materialize(ctx)
        # plain readers: latest row per event_id, validity-blind
        plain = {
            r["event_id"]: r["value"]
            for r in W._ev(ctx).collect()
        }
        assert plain == {1: 5.0, 2: 9.0, 3: 2.0}
        # layered track_events ≡ registry form (filter-then-dedup):
        # event 1 survives via its OLDER valid row, event 3 is gone
        layered = W.ods_track_events(ctx)
        registry = Q.wh_track_events(spark, str(src))
        canon = lambda df: sorted(  # noqa: E731
            repr(tuple(r[c] for c in sorted(df.columns)))
            for r in df.collect()
        )
        assert canon(layered) == canon(registry)
        got = {r["event_id"]: r["amount"] for r in layered.collect()}
        assert got == {1: 3.0, 2: 9.0}

    def test_incremental_event_chain_matches_full_rebuild(
        self, spark, sf_dir, tmp_path
    ):
        """r6 verdict #7: a trailing-window incremental run of the
        event chain (ods.events → track_events → sessions) through
        the W2 writer must (a) hash-match the full rebuild, (b) push
        the window predicate into the raw parquet scan, (c) prune
        the track_events read to trailing event_date partitions, and
        (d) leave pre-window event_date partitions' files untouched
        on disk."""
        import os

        from etl_pipelines_spark.plans import warehouse as W
        from etl_pipelines_spark.queries import load

        ev = load(spark, sf_dir, "events")
        max_d = ev.select(F.max(F.to_date("ts"))).first()[0]
        cutoff = max_d - dt.timedelta(days=3)

        # day-1 source: events strictly before the cutoff, other
        # tables shared with the real source dir
        src1 = tmp_path / "src_day1"
        src1.mkdir()
        ev.filter(F.to_date("ts") < F.lit(cutoff.isoformat())).write \
            .parquet(str(src1 / "events.parquet"))
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "documents", "embeddings"):
            os.symlink(f"{sf_dir}/{t}.parquet", src1 / f"{t}.parquet")

        def mkctx(srcdir, whdir):
            return RunContext(
                spark=spark,
                catalog=Catalog(spark, str(whdir)),
                source_dir=str(srcdir),
                run_date=RUN_DATE,
            )

        # day-1 full build, then the incremental catch-up run
        ctx_inc = mkctx(src1, tmp_path / "wh_inc")
        assert all(
            r.status == "success"
            for r in build_warehouse_pipeline().run(ctx_inc)
        )
        ods_path = ctx_inc.catalog.path("ods.events")
        pre_parts = {
            d: sorted(os.listdir(os.path.join(ods_path, d)))
            for d in os.listdir(ods_path)
            if d.startswith("event_date=")
        }
        # (b) pushdown: the raw window scan carries a ts filter
        raw_plan = load(
            spark, str(sf_dir), "events", ts_since=cutoff
        )._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in raw_plan and \
            "GreaterThanOrEqual(ts" in raw_plan, raw_plan
        # (c) partition prune on the materialized trailing read
        te_in = W._ev(ctx_inc, valid=True).filter(
            F.col("event_date") >= F.lit(cutoff.isoformat())
        )
        te_plan = te_in._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(event_date" in te_plan
        ctx_inc2 = mkctx(sf_dir, tmp_path / "wh_inc")
        W.run_incremental_event_chain(ctx_inc2, cutoff)
        # (d) pre-window partitions untouched byte-for-byte listing
        post_parts = {
            d: sorted(os.listdir(os.path.join(ods_path, d)))
            for d in os.listdir(ods_path)
            if d.startswith("event_date=")
        }
        for d, files in pre_parts.items():
            part_date = d.split("=", 1)[1]
            if part_date < cutoff.isoformat():
                assert post_parts[d] == files, f"{d} was rewritten"

        # (a) equality with the from-scratch full rebuild
        ctx_full = mkctx(sf_dir, tmp_path / "wh_full")
        assert all(
            r.status == "success"
            for r in build_warehouse_pipeline().run(ctx_full)
        )

        def canon(df):
            cols = sorted(df.columns)
            return sorted(
                repr(tuple(r[c] for c in cols)) for r in df.collect()
            )

        for table in ("ods.events", "ods.track_events",
                      "dwh.sessions_mart"):
            assert canon(ctx_inc2.read(table)) == canon(
                ctx_full.read(table)
            ), f"incremental {table} != full rebuild"

    def test_parallel_group_matches_sequential(self, ctx):
        pipe = build_warehouse_pipeline(parallel_within_group=True)
        results = pipe.run(ctx)
        assert all(r.status == "success" for r in results)
        kpi = ctx.read("dwh.daily_kpi")
        assert kpi.filter(F.col("n_orders") < 0).count() == 0
        assert kpi.count() == kpi.select("date").distinct().count()


@dataclass
class _LoggedModel(Model):
    """A model that records when it ran instead of building a table."""

    log: dict = field(default_factory=dict)

    def materialize(self, ctx: RunContext) -> None:
        start = time.perf_counter()
        time.sleep(0.3)
        self.log[self.name] = (start, time.perf_counter())


class TestScheduler:
    """The one pipeline scheduler, at both pool widths, on a diamond of
    TaskGroup.after edges: a -> {b, empty} -> c, plus d after the empty
    group alone."""

    GROUPS = {  # name: (models, after)
        "a": (["a1", "a2"], []),
        "b": (["b1"], ["a"]),
        "empty": ([], ["a"]),
        "c": (["c1", "c2"], ["b", "empty"]),
        "d": (["d1"], ["empty"]),
    }

    def _upstream(self, group: str) -> set:
        out = set()
        for dep in self.GROUPS[group][1]:
            out |= {dep} | self._upstream(dep)
        return out

    @pytest.mark.parametrize("parallel", [False, True])
    def test_diamond_respects_edges(self, ctx, parallel):
        log: dict = {}
        pipe = Pipeline(
            name="diamond",
            groups=[
                TaskGroup(
                    g,
                    [_LoggedModel(m, lambda c: None, log=log) for m in ms],
                    after=after,
                )
                for g, (ms, after) in self.GROUPS.items()
            ],
            retries=0,
            parallel_within_group=parallel,
        )
        box: dict = {}
        runner = threading.Thread(
            target=lambda: box.setdefault("results", pipe.run(ctx))
        )
        runner.start()
        runner.join(timeout=60)
        assert not runner.is_alive(), "scheduler stalled"

        results = box["results"]
        assert sorted(r.name for r in results) == sorted(log)
        assert all(r.status == "success" for r in results)
        assert len(log) == 6  # every model of every non-empty group ran
        for g, (models, _after) in self.GROUPS.items():
            upstream_end = max(
                (log[m][1] for u in self._upstream(g)
                 for m in self.GROUPS[u][0]),
                default=0.0,
            )
            for m in models:
                assert log[m][0] >= upstream_end, (m, g)
        if parallel:
            # d waits on the empty group only, so it overlaps b
            assert log["d1"][0] < log["b1"][1]
        else:
            # one worker: one model at a time, results in run order
            spans = [log[r.name] for r in results]
            assert all(
                end <= nxt for (_, end), (nxt, _) in zip(spans, spans[1:])
            )

    @pytest.mark.parametrize(
        "groups",
        [
            [TaskGroup("x", [], after=["nope"])],
            [TaskGroup("x", [], after=["y"]), TaskGroup("y", [])],
        ],
        ids=["unknown", "later"],
    )
    def test_bad_dependency_raises(self, ctx, groups):
        with pytest.raises(ValueError, match="unknown/later dependency"):
            Pipeline(name="bad", groups=groups).run(ctx)


class TestQualityChecks:
    def test_checks_pass_on_clean_table(self, ctx):
        build_warehouse_pipeline().run(ctx)
        df = ctx.read("master.customer")
        results = run_checks(
            df,
            [
                no_duplicates(["c_custkey"]),
                row_count(min_rows=1),
                expression("n_orders >= 0", name="non_negative_orders"),
                freshness("last_order_at", max_age_days=36500),
            ],
            table="master.customer",
            run_date=RUN_DATE,
        )
        assert all(r.passed for r in results), [
            (r.check, r.observed) for r in results
        ]

    def test_checks_fail_on_violations(self, spark, ctx):
        df = spark.createDataFrame(
            [(1, "2020-01-01"), (1, "2020-01-03")], ["id", "d"]
        ).withColumn("d", F.to_date("d"))
        results = run_checks(
            df,
            [
                no_duplicates(["id"]),
                no_missing_dates("d"),
                freshness("d", max_age_days=1),
                row_count(min_rows=3),
            ],
            table="t",
            run_date=dt.date(2020, 1, 10),
        )
        assert [r.passed for r in results] == [False, False, False, False]
        by_name = {r.check: r for r in results}
        assert by_name["no_missing_dates"].observed == 1  # 2020-01-02


class TestMaterializedView:
    def _mv(self):
        from etl_pipelines_spark.plans import MaterializedView

        return MaterializedView(
            name="reporting.order_totals",
            build=lambda ctx: ctx.read("staging.orders_seed")
            .groupBy("o_orderstatus")
            .count(),
        )

    def _seed(self, ctx, n):
        ctx.source("orders").limit(n).write.mode("overwrite").parquet(
            ctx.catalog.path("staging.orders_seed")
        )

    def test_stale_read_then_refresh(self, ctx):
        """CREATE MV -> source changes -> reads stay stale -> REFRESH
        recomputes (the staging_price_collection.ods_amazon.sql /
        SPV-Union source.sql lifecycle)."""
        import os

        mv = self._mv()
        os.makedirs(os.path.dirname(ctx.catalog.path("staging.orders_seed")),
                    exist_ok=True)
        self._seed(ctx, 100)
        assert mv.ensure(ctx) is True
        before = mv.read(ctx).agg({"count": "sum"}).first()[0]
        assert before == 100
        # underlying table doubles; the MV must NOT see it yet
        self._seed(ctx, 200)
        assert mv.ensure(ctx) is False  # IF NOT EXISTS: no rebuild
        assert mv.read(ctx).agg({"count": "sum"}).first()[0] == 100
        mv.refresh(ctx)
        assert mv.read(ctx).agg({"count": "sum"}).first()[0] == 200

    def test_read_before_build_raises(self, ctx):
        import pytest as _pytest

        with _pytest.raises(FileNotFoundError):
            self._mv().read(ctx)


def test_load_ts_since_rejects_non_events_tables(spark, tmp_path):
    """ts_since is the events trailing-window contract (raw nanos ts
    pushdown); on any other table it must loud-stop instead of
    binding to an unrelated (or missing) ts column (ADVICE r7)."""
    import datetime as dt

    import pytest as _pytest

    from etl_pipelines_spark.queries import load

    with _pytest.raises(ValueError, match="events trailing-window"):
        load(spark, "/root/testdata/sf0.001", "orders",
             ts_since=dt.date(1998, 8, 1))
