"""Tracing for the benchmark's per-layer run.

Spans are recorded only here, in the benchmark, around the calls it
makes into each layer's public functions:

- ``queries.REGISTRY[...].spark`` (construction) and the execution of
  the frame it returns into a ``noop`` sink;
- ``plans.pipeline.Pipeline.run`` and each ``plans.model.Model.build``;
- ``sources.writers.{full_refresh,snapshot,upsert,append}``;
- ``plans.warehouse.run_incremental_event_chain``;
- ``streaming.incremental.run_incremental_upsert``;
- ``operators.cacheutil.tracked_cache``.

Functions the program calls internally (writers, ``tracked_cache``) are
wrapped by replacing the module attribute while the ops are measured.
Each span sets its own Spark job group, so the per-stage metrics the
status REST API reports can be attributed per call; a
``StreamingQueryListener`` records micro-batch progress. Spans stay in
memory and are written out once, by ``report``.
"""

from __future__ import annotations

import contextlib
import inspect
import itertools
import json
import os
import statistics
import sys
import threading
import time
import urllib.request

GROUP_KEY = "spark.jobGroup.id"
WRITE_MODES = ("full_refresh", "snapshot", "upsert", "append")
LAYERS = (
    "op", "queries.spark", "queries.exec", "pipeline.run", "model.build",
    "writers.full_refresh", "writers.snapshot", "writers.upsert",
    "writers.append", "incremental.chain", "streaming.upsert",
    "cache.tracked_cache",
)


_UNITS = {
    "pipeline.overlap": "ratio", "spark.core_util": "ratio",
    "trace.overhead_ratio": "ratio", "writers.bytes_written": "bytes",
    "spark.shuffle_bytes": "bytes", "spark.spill_bytes": "bytes",
}


def unit_of(metric: str) -> str:
    """The unit of a per-layer metric, from its name."""
    if metric in _UNITS:
        return _UNITS[metric]
    if metric.endswith("_ms"):
        return "ms"
    return "s" if metric.endswith("_s") else "count"


def _noop(df) -> None:
    """Execute ``df`` in full, discarding its rows."""
    df.write.mode("overwrite").format("noop").save()


class NullTracer:
    """The untraced run's hooks: each calls straight through."""

    def install(self) -> None:
        pass

    def uninstall(self) -> None:
        pass

    @contextlib.contextmanager
    def op(self, i: int):
        yield

    def pipeline_run(self, pipe, ctx):
        return pipe.run(ctx)

    def query_spark(self, name, fn, spark, src):
        return fn(spark, src)

    def query_exec(self, name, family, df):
        _noop(df)

    def incremental_upsert(self, fn, *args):
        return fn(*args)

    def event_chain(self, fn, ctx, since, tables):
        return fn(ctx, since)


def _files(path: str) -> "dict[str, list[str]]":
    """Leaf directory -> sorted data-file names under a table path."""
    out = {}
    for d, _, names in os.walk(path):
        data = sorted(n for n in names if not n.startswith((".", "_")))
        if data:
            out[d] = data
    return out


def _parquet_rows(files: "list[str]") -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in files if f.endswith(".parquet"))


def _listener(progress: list, terminated: list):
    """A StreamingQueryListener that appends each progress report and
    the id of each terminated query to the given lists."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            progress.append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            terminated.append(str(event.id))

    return Listener()


class Tracer:
    """The traced run's hooks: the same calls, inside spans."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []
        self.run_id = "setup"
        self.counts = {"cache.tracked": 0, "writers.files_written": 0,
                       "writers.bytes_written": 0,
                       "incremental.partitions_rewritten": 0,
                       "incremental.rows_rewritten": 0}
        self.pipelines: list[tuple] = []
        self.instrument_s = 0.0
        self._patched: list[tuple] = []
        self.progress: list = []
        self.terminated: list = []
        self.streams_started = 0

    # --- spans -----------------------------------------------------------
    def _stack(self) -> "list[int]":
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        sid = next(self._ids)
        # a span opened on a worker thread (pipeline pool, streaming
        # callback) belongs to the innermost span open on the main thread
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        group = f"pb/{self.run_id}/{name}/{sid}"
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, group)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev)
            with self._lock:
                self.spans.append({"id": sid, "name": name, "start": start,
                                   "end": end, "parent": parent,
                                   "run": self.run_id, "group": group, **attrs})

    @contextlib.contextmanager
    def op(self, i: int):
        self.run_id = f"op{i}"
        try:
            with self.span("op"):
                yield
        finally:
            self.run_id = "post"

    def _wrap(self, name: str, fn, **attrs):
        def wrapped(*args, **kwargs):
            with self.span(name, **attrs):
                return fn(*args, **kwargs)
        return wrapped

    # --- module patching ---------------------------------------------------
    def _patch(self, obj, attr: str, new) -> None:
        self._patched.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, new)

    def install(self) -> None:
        from etl_pipelines_spark.operators import cacheutil
        from etl_pipelines_spark.sources import writers

        for mode in WRITE_MODES:
            self._patch(writers, mode, self._writer(mode, getattr(writers, mode)))
        orig = cacheutil.tracked_cache

        def tracked_cache(df):
            with self._lock:
                self.counts["cache.tracked"] += 1
            with self.span("cache.tracked_cache"):
                return orig(df)

        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("etl_pipelines_spark")
                    and getattr(mod, "tracked_cache", None) is orig):
                self._patch(mod, "tracked_cache", tracked_cache)
        self.spark.streams.addListener(_listener(self.progress, self.terminated))

    def uninstall(self) -> None:
        while self._patched:
            obj, attr, orig = self._patched.pop()
            setattr(obj, attr, orig)

    def _writer(self, mode: str, fn):
        sig = inspect.signature(fn)

        def wrapped(*args, **kwargs):
            path = sig.bind(*args, **kwargs).arguments["path"]
            since = time.time()
            with self.span(f"writers.{mode}"):
                out = fn(*args, **kwargs)
            t0 = time.perf_counter()
            n = size = 0
            for d, names in _files(path).items():
                for f in names:
                    st = os.stat(os.path.join(d, f))
                    if st.st_mtime >= since:
                        n += 1
                        size += st.st_size
            with self._lock:
                self.counts["writers.files_written"] += n
                self.counts["writers.bytes_written"] += size
                self.instrument_s += time.perf_counter() - t0
            return out
        return wrapped

    # --- hooks the workloads call ------------------------------------------
    def pipeline_run(self, pipe, ctx):
        for g in pipe.groups:
            for m in g.models:
                m.build = self._wrap("model.build", m.build, model=m.name)
        t0 = time.perf_counter()
        with self.span("pipeline.run"):
            results = pipe.run(ctx)
        self.pipelines.append((pipe, results, time.perf_counter() - t0))
        return results

    def query_spark(self, name, fn, spark, src):
        with self.span("queries.spark", query=name):
            return fn(spark, src)

    def query_exec(self, name, family, df):
        with self.span("queries.exec", query=name, family=family):
            _noop(df)

    def incremental_upsert(self, fn, *args):
        self.streams_started += 1
        with self.span("streaming.upsert"):
            return fn(*args)

    def event_chain(self, fn, ctx, since, tables):
        t0 = time.perf_counter()
        paths = [ctx.catalog.path(t) for t in tables]
        before = [_files(p) for p in paths]
        self.instrument_s += time.perf_counter() - t0
        with self.span("incremental.chain"):
            out = fn(ctx, since)
        t0 = time.perf_counter()
        for p, pre in zip(paths, before):
            for d, names in _files(p).items():
                if pre.get(d) != names:
                    self.counts["incremental.partitions_rewritten"] += 1
                    self.counts["incremental.rows_rewritten"] += _parquet_rows(
                        [os.path.join(d, n) for n in names])
        self.instrument_s += time.perf_counter() - t0
        return out

    # --- results -----------------------------------------------------------
    def _rest(self, path: str):
        url = self.sc.uiWebUrl.rstrip("/")
        app = self.sc.applicationId
        with urllib.request.urlopen(f"{url}/api/v1/applications/{app}/{path}",
                                    timeout=60) as r:
            return json.load(r)

    def spark_groups(self) -> "dict[str, dict]":
        """Per job group: jobs, stages, tasks and stage metrics summed
        over the stages that ran (skipped stages excluded)."""
        jobs = self._rest("jobs")
        stages = {(s["stageId"], s["attemptId"]): s for s in self._rest("stages")}
        by_stage: dict[int, list] = {}
        for s in stages.values():
            by_stage.setdefault(s["stageId"], []).append(s)
        out: dict[str, dict] = {}
        for j in jobs:
            g = out.setdefault(j.get("jobGroup") or "none", {
                "jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0, "gc_ms": 0,
                "shuffle_bytes": 0, "spill_bytes": 0})
            g["jobs"] += 1
            for sid in j["stageIds"]:
                for s in by_stage.get(sid, []):
                    if s["status"] == "SKIPPED":
                        continue
                    g["stages"] += 1
                    g["tasks"] += s["numTasks"]
                    g["run_ms"] += s["executorRunTime"]
                    g["gc_ms"] += s["jvmGcTime"]
                    g["shuffle_bytes"] += s["shuffleWriteBytes"]
                    g["spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
        return out

    def self_times(self, spans: "list[dict]") -> "dict[str, float]":
        """Per layer: span time minus the part of it child spans cover."""
        children: dict[int, list] = {}
        for s in spans:
            children.setdefault(s["parent"], []).append(s)
        out = {layer: 0.0 for layer in LAYERS}
        for s in spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["name"]] += s["end"] - s["start"] - covered
        return out

    def wall_shares(self, spans: "list[dict]") -> "dict[str, float]":
        """Per layer: the share of the ops' wall time spent in it. Each
        instant is split evenly between the spans that are open and have
        no open child at that instant, so the shares sum to the wall time
        even where the pipeline runs models concurrently."""
        open_children: dict[int, int] = {}
        edges = sorted(
            [(s["start"], 1, s) for s in spans] + [(s["end"], -1, s) for s in spans],
            key=lambda e: (e[0], -e[1]))
        active: dict[int, dict] = {}
        out = {layer: 0.0 for layer in LAYERS}
        prev = None
        for t, kind, s in edges:
            if prev is not None and t > prev:
                leaves = [a for a in active.values() if not open_children.get(a["id"])]
                for a in leaves:
                    out[a["name"]] += (t - prev) / len(leaves)
            prev = t
            if kind == 1:
                active[s["id"]] = s
                if s["parent"] in active:
                    open_children[s["parent"]] = open_children.get(s["parent"], 0) + 1
            else:
                active.pop(s["id"], None)
                if s["parent"] in active:
                    open_children[s["parent"]] -= 1
        return out

    def wait_streams(self, timeout: float = 10.0) -> None:
        deadline = time.monotonic() + timeout
        while len(self.terminated) < self.streams_started and time.monotonic() < deadline:
            time.sleep(0.05)

    def report(self, cores: int, model_names: "list[str]", families, trace_path: str) -> dict:
        """Per-layer metrics over the measured ops; writes spans and the
        per-group Spark metrics to ``trace_path``."""
        self.wait_streams()
        spans = [s for s in self.spans if s["run"].startswith("op")]
        groups = self.spark_groups()
        measured = {g: m for g, m in groups.items() if g.startswith("pb/op")}
        m: dict[str, float] = {}

        def span_s(name):
            return [s["end"] - s["start"] for s in spans if s["name"] == name]

        def p50(xs):
            return statistics.median(xs) if xs else 0.0

        plan_groups = [g for g in measured if "/queries.spark/" in g]
        m["queries.plan_s"] = p50(span_s("queries.spark"))
        m["queries.eager_jobs"] = sum(measured[g]["jobs"] for g in plan_groups)
        for f in families:
            m[f"queries.{f}.exec_s"] = p50([
                s["end"] - s["start"] for s in spans
                if s["name"] == "queries.exec" and s["family"] == f])

        model_s = {n: 0.0 for n in model_names}
        model_sum = wall = critical = attempts = 0.0
        for pipe, results, pipe_wall in self.pipelines:
            secs = {r.name: r.seconds for r in results}
            for r in results:
                model_s[r.name] = model_s.get(r.name, 0.0) + r.seconds
                attempts += r.attempts
            model_sum += sum(secs.values())
            wall += pipe_wall
            finish: dict[str, float] = {}
            for g in pipe.groups:
                deps = [x.name for x in pipe.groups[:pipe.groups.index(g)]] \
                    if g.after is None else g.after
                finish[g.name] = max((finish[d] for d in deps), default=0.0) + max(
                    (secs.get(mm.name, 0.0) for mm in g.models), default=0.0)
            critical += max(finish.values(), default=0.0)
        m["pipeline.model_sum_s"] = model_sum
        m["pipeline.overlap"] = model_sum / wall if wall else 0.0
        m["pipeline.critical_path_s"] = critical
        m["pipeline.attempts"] = attempts
        for n in model_names:
            m[f"model.{n}_s"] = model_s.get(n, 0.0)
        m["model.build_s"] = sum(span_s("model.build"))

        for mode in WRITE_MODES:
            m[f"writers.{mode}_s"] = sum(span_s(f"writers.{mode}"))
        for k in ("writers.files_written", "writers.bytes_written",
                  "incremental.partitions_rewritten", "incremental.rows_rewritten"):
            m[k] = self.counts[k]

        def dur(p, key):
            return p.durationMs.get(key, 0) if p.durationMs else 0

        prog = self.progress
        m["streaming.batches"] = sum(1 for p in prog if p.numInputRows > 0)
        m["streaming.input_rows"] = sum(p.numInputRows for p in prog)
        m["streaming.trigger_ms"] = sum(dur(p, "triggerExecution") for p in prog)
        m["streaming.add_batch_ms"] = sum(dur(p, "addBatch") for p in prog)
        m["streaming.planning_ms"] = sum(dur(p, "queryPlanning") for p in prog)
        m["streaming.state_rows"] = sum(
            so.numRowsTotal for p in prog for so in (p.stateOperators or []))
        m["cache.tracked"] = self.counts["cache.tracked"]

        tot = {k: sum(g[k] for g in measured.values())
               for k in ("jobs", "stages", "tasks", "run_ms", "gc_ms",
                         "shuffle_bytes", "spill_bytes")}
        op_wall = sum(span_s("op"))
        m["spark.jobs"] = tot["jobs"]
        m["spark.stages"] = tot["stages"]
        m["spark.tasks"] = tot["tasks"]
        m["spark.shuffle_bytes"] = tot["shuffle_bytes"]
        m["spark.spill_bytes"] = tot["spill_bytes"]
        m["spark.gc_s"] = tot["gc_ms"] / 1000.0
        m["spark.core_util"] = tot["run_ms"] / 1000.0 / (op_wall * cores) if op_wall else 0.0

        for layer, v in self.self_times(spans).items():
            m[f"self.{layer}_s"] = v
        for layer, v in self.wall_shares(spans).items():
            m[f"wall.{layer}_s"] = v
        m["trace.spans"] = len(spans)
        m["trace.instrument_s"] = self.instrument_s

        with open(trace_path, "w") as f:
            json.dump({"spans": self.spans, "spark_groups": groups}, f)
        return m
