"""Benchmark for the etl_pipelines_spark engine.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload nightly_rebuild --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Workloads (see ``workloads.py``): ``nightly_rebuild`` and ``adhoc_mix``;
``all`` runs both in one process and prints one row per workload.
Spark runs on ``local[<cores>]`` with the cores this process may use.

A run: start the session, warm it up, repeat the workload's set-up
``SETUP_REPS`` times (inputs from ``--seed``), then repeat its unit of
work until at least ``min_ops`` ops and ``--seconds`` seconds have been
measured, then check every output. Outside the timers, the tracked
caches are released (blocking) after every op, the JVM collects garbage
before every night and every pass over the query panel, and every night
starts from a fresh warehouse dir and a fresh copy of its inputs.

``--trace 0`` prints the end-to-end metrics: ``setup_s`` (session start
and warm-up plus the median set-up), the median and 75th percentile of
the op times, ops per second and the peak RSS of the process tree (the
JVM and the Python workers). ``--trace 1`` prints the per-layer metrics
of a traced run (see ``trace.py``) and its overhead against an untraced
run of the same workload, seed, ``--seconds`` and code: the record an
earlier untraced run left in this checkout if its code key (a hash of
the program and benchmark sources) matches, else one made first in a
child process. ``--workload all`` runs the workloads one after another,
each in its own session, exactly as the single-workload runs do.
The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. Everything the run writes
stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")
SETUP_REPS = 3
# A 2g heap let G1 grow the heap by a different amount in each run
# (peak RSS spread 13-15% over seeds); the inputs need far less.
DRIVER_MEMORY = "1g"
WORKLOAD_NAMES = ("nightly_rebuild", "adhoc_mix")
END_TO_END = {
    "setup_s": "s", "op_p50_s": "s", "op_p75_s": "s",
    "ops_per_s": "1/s", "peak_rss_mb": "MB",
}


def _percentile(xs: "list[float]", q: float) -> float:
    """Linear-interpolated percentile (q in [0, 1])."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and the Python workers), sampled every ``period`` s."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _tree_rss_kb(root: int) -> int:
        parent, rss = {}, {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            rss[int(pid)] = int(line.split()[1])
                            break
            except (OSError, ValueError, IndexError):
                continue
        tree, frontier = {root}, [root]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier += kids
        return sum(rss.get(p, 0) for p in tree)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb(me))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, self._tree_rss_kb(os.getpid()))


def _jvm_gc_s(spark) -> float:
    """Seconds the driver JVM (which runs the tasks too) has spent in GC."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def _cpu_steal() -> "tuple[int, int]":
    """Stolen and total CPU jiffies of the machine since boot: time the
    hypervisor gave this VM's CPUs to others."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def _java_opts(work: str) -> str:
    return f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"


def _prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and make the
    program importable in the Python workers Spark starts."""
    os.environ["PYTHONPATH"] = ROOT + (
        os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else "")
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # Spark's launcher JVM, too, must leave no perf-data file in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = _java_opts(work)


def _session(work: str, cores: int, traced: bool):
    from etl_pipelines_spark.session import get_spark

    conf = {
        "spark.sql.shuffle.partitions": str(cores),
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.driver.extraJavaOptions": _java_opts(work),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
        })
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched (it exits when its
    stdin closes), and wait for it. The next session launches a JVM of
    its own."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _warm_up(spark) -> None:
    """First scan and first Arrow round trip through a Python worker, run
    side by side: the one-off JVM and worker start-up no measured op
    should pay."""
    from perfbench import inputs

    scan = threading.Thread(target=lambda: spark.read.parquet(
        os.path.join(inputs.CORPUS, "region.parquet")).count())
    scan.start()
    spark.range(100_000).mapInPandas(lambda it: it, schema="id long") \
        .write.mode("overwrite").format("noop").save()
    scan.join()


def _box(cores: int, spark, inherited_local_dirs) -> dict:
    import duckdb
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return {
        "nproc": cores,
        "master": spark.sparkContext.master,
        "spark_local_dirs": os.environ.get("SPARK_LOCAL_DIRS"),
        "spark_local_dirs_inherited": inherited_local_dirs,
        "pyspark": pyspark.__version__,
        "java": (java.stderr or java.stdout).splitlines()[0] if (java.stderr or java.stdout) else "",
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
    }


def run_workload(name: str, spark, work: str, seed: int, seconds: float,
                 tracer, session_s: float, warmup_s: float,
                 baseline: bool = False) -> dict:
    """Set up, measure and verify one workload in a live session. A
    ``baseline`` run only times the ops: one set-up, no output checks."""
    from etl_pipelines_spark.operators.cacheutil import unpersist_tracked
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[name](spark, os.path.join(work, name), seed, tracer)
    os.makedirs(wl.work, exist_ok=True)
    prep = []
    for _ in range(1 if baseline else SETUP_REPS):
        t0 = time.perf_counter()
        wl.prepare()
        prep.append(time.perf_counter() - t0)
    unpersist_tracked(blocking=True)

    ops, infos, op_failures = [], [], []
    tracer.install()
    gc0, (steal0, total0) = _jvm_gc_s(spark), _cpu_steal()
    try:
        with RssSampler() as rss:
            t_start = time.perf_counter()
            i = 0
            while i < wl.min_ops or time.perf_counter() - t_start < seconds:
                wl.reset(i)
                if i % wl.min_ops == 0:  # a night, or a pass over the panel
                    spark._jvm.System.gc()
                    gc.collect()
                t0 = time.perf_counter()
                try:
                    with tracer.op(i):
                        infos.append(wl.op(i))
                except Exception as e:  # an op that fails is counted, not fatal
                    op_failures.append(f"op {i}: {type(e).__name__}: {e}"[:500])
                ops.append(time.perf_counter() - t0)
                unpersist_tracked(blocking=True)
                i += 1
    finally:
        tracer.uninstall()
    measure_s = time.perf_counter() - t_start
    steal1, total1 = _cpu_steal()
    jvm_gc_s = _jvm_gc_s(spark) - gc0
    t0 = time.perf_counter()
    attempted, failed, problems = (0, 0, []) if baseline else wl.verify()
    verify_s = time.perf_counter() - t0
    return {
        "workload": name, "seed": seed, "ops": ops, "infos": infos,
        "session_s": session_s, "warmup_s": warmup_s, "prepare_s": prep,
        "setup_s": session_s + warmup_s + statistics.median(prep),
        "measure_s": measure_s, "verify_s": verify_s, "jvm_gc_s": jvm_gc_s,
        "cpu_steal": (steal1 - steal0) / max(total1 - total0, 1),
        "peak_rss_mb": rss.peak_kb / 1024.0,
        "attempted": attempted + len(ops),
        "failed": failed + len(op_failures),
        "problems": op_failures + problems,
    }


def end_to_end(r: dict) -> dict:
    ops = r["ops"]
    return {
        "setup_s": r["setup_s"],
        "op_p50_s": statistics.median(ops),
        "op_p75_s": _percentile(ops, 0.75),
        "ops_per_s": len(ops) / sum(ops),
        "peak_rss_mb": r["peak_rss_mb"],
    }


def _row(r: dict) -> str:
    """The run in the vocabulary of the workload: rebuild_s and
    increment_s (the two parts of a night), or query_p50_s / query_p90_s
    / queries_per_s."""
    e = end_to_end(r)
    ops = r["ops"]
    cols = [f"setup_s={e['setup_s']:.3f} s"]
    if r["workload"] == "nightly_rebuild":
        parts = [i for i in r["infos"] if "rebuild_s" in i]
        cols.append(f"night_s={e['op_p50_s']:.3f} s")
        if parts:
            cols += [f"rebuild_s={statistics.median(i['rebuild_s'] for i in parts):.3f} s",
                     f"increment_s={statistics.median(i['increment_s'] for i in parts):.3f} s"]
    else:
        cols += [f"query_p50_s={e['op_p50_s']:.3f} s",
                 f"query_p75_s={e['op_p75_s']:.3f} s",
                 f"query_p90_s={_percentile(ops, 0.9):.3f} s",
                 f"queries_per_s={e['ops_per_s']:.3f} 1/s",
                 f"n={len(ops)}"]
    cols += [f"failed_ratio={r['failed'] / r['attempted']:.4f} ({r['failed']}/{r['attempted']})",
             f"peak_rss_mb={e['peak_rss_mb']:.1f} MB"]
    return f"{r['workload']:<16} " + "  ".join(cols)


def _code_key(args) -> str:
    """What an untraced record must match to serve as a traced run's
    baseline: workload, seed and ``--seconds``, and the content of every
    program and benchmark source file."""
    h = hashlib.sha256(f"{args.workload} {args.seed} {args.seconds}".encode())
    paths = [os.path.join(ROOT, "BENCHMARK.json")]
    for top in ("etl_pipelines_spark", "perfbench"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            paths += [os.path.join(d, f) for f in sorted(files) if not f.endswith(".pyc")]
    for path in paths:
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        if os.path.exists(path):
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _record_path(workload: str, seed: int) -> str:
    return os.path.join(OUT, "results", f"{workload}-s{seed}-trace0.json")


def _write_record(args, r: dict) -> None:
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(_record_path(args.workload, args.seed), "w") as f:
        json.dump({**end_to_end(r), "code_key": _code_key(args),
                   "cpu_steal": r["cpu_steal"], "ops": r["ops"],
                   "infos": [{k: v for k, v in i.items() if isinstance(v, (str, float))}
                             for i in r["infos"]]}, f)


def _untraced_record(args) -> "tuple[dict, str]":
    """The end-to-end record of an untraced run of this workload, seed,
    ``--seconds`` and code, and which run made it: the one this checkout
    has, if its code key matches, else a baseline run made now in a
    child process."""
    path = _record_path(args.workload, args.seed)
    key = _code_key(args)
    if os.path.exists(path):
        with open(path) as f:
            rec = json.load(f)
        if rec.get("code_key") == key:
            return rec, "earlier untraced run, same seed and code"
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
         "--baseline"],
        check=True, stdout=subprocess.DEVNULL, cwd=ROOT)
    with open(path) as f:
        return json.load(f), "baseline run made now, same seed and code"


def _measure(name: str, args, cores: int,
             inherited_local_dirs) -> "tuple[dict, dict, dict | None]":
    """One workload in a session of its own: the run's record, the box
    it ran on and, for a traced run, its per-layer metrics."""
    from perfbench.trace import NullTracer, Tracer

    work = os.path.join(OUT, f"work-{name}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    t0 = time.perf_counter()
    spark = _session(work, cores, bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        _warm_up(spark)
        warmup_s = time.perf_counter() - t0
        tracer = Tracer(spark) if args.trace else NullTracer()
        r = run_workload(name, spark, work, args.seed, args.seconds, tracer,
                         session_s, warmup_s, baseline=args.baseline)
        box = _box(cores, spark, inherited_local_dirs)
        metrics = None
        if args.trace:
            from perfbench.workloads import FAMILIES, build_warehouse_pipeline

            models = [m.name for g in build_warehouse_pipeline().groups for m in g.models]
            os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
            metrics = tracer.report(
                cores, models, FAMILIES,
                os.path.join(OUT, "results", f"{name}-s{args.seed}-trace.json"))
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    return r, box, metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--baseline", action="store_true",
                    help="only time the ops and record them for a traced run's "
                         "overhead (one set-up, no output checks, no result line)")
    args = ap.parse_args(argv)
    if args.workload == "all" and (args.trace or args.baseline):
        ap.error("--workload all prints end-to-end metrics only (--trace 0)")
    if args.baseline and args.trace:
        ap.error("--baseline is an untraced run (--trace 0)")
    if not os.path.isdir(os.path.join(ROOT, "etl_pipelines_spark")):
        print(f"perfbench: no etl_pipelines_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.trace import unit_of

    untraced, basis = _untraced_record(args) if args.trace else (None, None)
    cores = len(os.sched_getaffinity(0))
    inherited_local_dirs = os.environ.get("SPARK_LOCAL_DIRS")
    names = WORKLOAD_NAMES if args.workload == "all" else (args.workload,)
    results = []
    for name in names:
        r, box, metrics = _measure(name, args, cores, inherited_local_dirs)
        results.append(r)
    if args.baseline:
        _write_record(args, r)
        return 0
    print(json.dumps({"box": box}))
    for r in results:
        for p in r["problems"]:
            print(f"{r['workload']}: FAILED {p}", file=sys.stderr)
        print(_row(r))
        print(f"{r['workload']:<16} phases: session_s={r['session_s']:.2f} "
              f"warmup_s={r['warmup_s']:.2f} prepare_s="
              + "/".join(f"{x:.2f}" for x in r["prepare_s"])
              + f" measure_s={r['measure_s']:.2f} verify_s={r['verify_s']:.2f} "
              f"jvm_gc_s={r['jvm_gc_s']:.2f} cpu_steal={r['cpu_steal']:.3f} "
              f"ops_s=" + "/".join(f"{x:.2f}" for x in r["ops"][:8]))
    if args.trace:
        e = end_to_end(r)
        metrics["trace.overhead_ratio"] = e["op_p50_s"] / untraced["op_p50_s"] - 1.0
        for kind in ("self", "wall"):
            print(f"{kind} time by layer (s): " + ", ".join(
                f"{k[len(kind) + 1:-2]}={v:.3f}" for k, v in metrics.items()
                if k.startswith(kind + ".") and v))
        print(f"traced op_p50_s={e['op_p50_s']:.3f} untraced={untraced['op_p50_s']:.3f} "
              f"({basis}) overhead={metrics['trace.overhead_ratio']:+.3f}; "
              f"cpu_steal traced={r['cpu_steal']:.3f} untraced={untraced['cpu_steal']:.3f}")
        out = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
    elif args.workload == "all":
        out = {x["workload"]: {k: {"value": v, "unit": END_TO_END[k]}
                               for k, v in end_to_end(x).items()} for x in results}
    else:
        _write_record(args, r)
        out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in end_to_end(r).items()}
    attempted = sum(x["attempted"] for x in results)
    failed = sum(x["failed"] for x in results)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
