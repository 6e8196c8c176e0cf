"""Model + run-context abstractions — the engine's unit of work.

A reference "model" is one .sql file: a chain of temp tables ending
in a transactional swap into a schema-qualified target
(3_master/customer.sql:2-336). Here a model is a Python function
``build(ctx) -> DataFrame`` plus a declarative write mode (SURVEY.md
§2.2 W1-W5); the runner materializes it through
``sources.writers``. Temp-table staging maps to plain intermediate
DataFrames (Catalyst inlines them) with ``.cache()`` only when a
stage is reused downstream (SURVEY.md §4 staging row).

Determinism: ``RunContext.run_date`` is the single logical clock —
the reference's 2,118 ``current_date`` call sites all become
``ctx.run_date`` (SURVEY.md §4 item 5).
"""

from __future__ import annotations

import datetime as dt
import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..sources import writers
from ..sources.catalog import Catalog


@dataclass
class RunContext:
    """Everything a model build function may depend on."""

    spark: SparkSession
    catalog: Catalog
    source_dir: str
    run_date: dt.date

    def source(self, table: str) -> DataFrame:
        """Read a driver-provided source parquet (the raw/landing
        zone; plays the role of the reference's Spectrum external
        schemas)."""
        from ..queries import load  # late import to avoid a cycle

        return load(self.spark, self.source_dir, table)

    def read(self, name: str) -> DataFrame:
        """Read a warehouse table built earlier in the pipeline."""
        return self.catalog.read(name)

    def run_date_lit(self):
        from pyspark.sql import functions as F

        return F.lit(self.run_date.isoformat()).cast("date")


@dataclass
class Model:
    """One warehouse table: name, build function, write mode.

    ``write`` ∈ {full_refresh, append, snapshot, upsert} — the four
    reference refresh patterns (W1/append/W4/W2).
    """

    name: str  # "schema.table"
    build: Callable[[RunContext], DataFrame]
    write: str = "full_refresh"
    keys: list[str] | None = None  # upsert merge keys
    partition_by: list[str] | None = None
    date_col: str = "date"  # snapshot partition column

    def materialize(self, ctx: RunContext) -> None:
        df = self.build(ctx)
        path = ctx.catalog.path(self.name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        if self.write == "full_refresh":
            writers.full_refresh(df, path, self.partition_by)
        elif self.write == "append":
            writers.append(df, path, self.partition_by)
        elif self.write == "snapshot":
            writers.snapshot(
                df, path, ctx.run_date.isoformat(), self.date_col
            )
        elif self.write == "upsert":
            if not self.keys:
                raise ValueError(f"model {self.name}: upsert requires keys")
            writers.upsert(ctx.spark, df, path, self.keys, self.partition_by)
        else:
            raise ValueError(f"model {self.name}: unknown write mode {self.write}")


@dataclass
class ModelResult:
    name: str
    status: str  # "success" | "failed"
    seconds: float
    attempts: int
    error: str | None = None


@dataclass
class TaskGroup:
    """Set of models, mirroring one pipeline_config.json entry (a
    Datawarehouse-ETL directory). Models inside a group are submitted
    in listed order (the reference's 00_/01_ file-name prefixes), but
    they run one after another only on a one-worker pipeline; a
    parallel pipeline runs them side by side, so models in one group
    must not read each other — put a reader in a downstream group.

    ``after`` declares which groups this one depends on — the
    pipeline_config.json dependency edges that Airflow uses to run
    independent subtrees CONCURRENTLY (dag_fullload_pipeline.py
    builds task-group edges, not a flat chain). ``None`` means
    "after every group listed before me" (the conservative flat
    chain); an explicit list lets the runner schedule independent
    layers side by side."""

    name: str
    models: list[Model] = field(default_factory=list)
    after: list[str] | None = None
