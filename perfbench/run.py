#!/usr/bin/env python3
"""Registry benchmark: end-to-end pass times and a per-layer split.

One client calls ``REGISTRY[name].fn(spark, data_dir)`` for each query of a
workload on one ``local[nproc]`` session, one call at a time (a closed
loop), and times each call until every row of its result exists
(``df.write.format("noop")``).  Run from the root of a checkout:

    python3 perfbench/run.py --workload relational --seed 1 --seconds 25 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  Progress and
warnings go to standard error; each run also writes a JSON artifact under
``.perfbench_work/runs/``.  NOTES.md defines every metric.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import random
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path[:0] = [ROOT, HERE]

import probes  # noqa: E402
from oracle import Expected, digest  # noqa: E402
from workloads import DATA_DIR, WORKLOADS  # noqa: E402

#: Fewest warm passes a run makes, however short ``--seconds`` is.
MIN_PASSES = 3
#: Share of the warm passes that only warm the JVM up and are not measured.
WARMUP_SHARE = 1 / 3
#: Drift guard: the last warm pass may be this much slower than the first.
DRIFT_LIMIT = 0.25

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "query_geomean_s": "s",
}
PER_LAYER = {
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.wall_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.idle_core_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.failed_tasks": "count",
    "sources.input_bytes": "bytes",
    "sources.input_rows": "count",
    "sources.output_bytes": "bytes",
    "sources.output_rows": "count",
    "registry.persisted_rdds": "count",
    "registry.cached_bytes": "bytes",
    "udf.python_rows": "count",
    "udf.python_bytes": "bytes",
    "streaming.batches": "count",
    "streaming.state_rows": "count",
    "streaming.commit_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "scratch.bytes": "bytes",
    "failed_frac": "ratio",
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------- machine


def machine() -> dict:
    """Session sizing for this machine, exported before Spark starts: one
    local core per CPU, a driver heap of a quarter of physical memory (at
    most 4 GiB), and every Spark, JVM and Python temporary directory inside
    the checkout's work directory."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    heap_mb = max(1024, min(4096, mem_kb // 1024 // 4))
    dirs = {k: os.path.join(WORK, k) for k in ("spark-local", "tmp", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mb}m",
        SPARK_LOCAL_DIRS=dirs["spark-local"],
        TMPDIR=dirs["tmp"],
        # every JVM Spark starts, its launcher included: temporary files in
        # the work directory, and the perf-data file that would otherwise go
        # to /tmp kept in memory
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs['tmp']} -XX:+PerfDisableSharedMem",
    )
    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "cpus": cpus,
        "mem_total_mb": mem_kb // 1024,
        "driver_heap_mb": heap_mb,
        "spark_local_dirs": os.path.relpath(dirs["spark-local"], ROOT),
        "tmpdir": os.path.relpath(dirs["tmp"], ROOT),
        "warehouse": os.path.relpath(dirs["warehouse"], ROOT),
    }


def open_session() -> tuple[object, dict]:
    """Import the package and start its session until it answers a query.
    Returns the session and the time of each step."""
    t0 = time.perf_counter()
    from dask_expr_rapids_spark import get_spark

    t1 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )
    t2 = time.perf_counter()
    spark.range(1).collect()
    t3 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {"import_s": t1 - t0, "get_spark_s": t2 - t1, "first_job_s": t3 - t2, "setup_s": t3 - t0}


def close_session(spark) -> None:
    """Stop the session, its JVM and the JVM's Python workers, and wait
    until every one of them has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    children = probes.descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    for pid in probes.wait_gone(children, 20):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    probes.wait_gone(children, 10)


def scratch_bytes() -> int:
    """Bytes under the package's per-process scratch roots, wherever the
    package put them.  The package removes the roots at interpreter exit."""
    from dask_expr_rapids_spark import scratch

    return probes.dir_bytes(*scratch._ROOTS.values())


# --------------------------------------------------------------- calls


class Runner:
    """Calls registry queries one at a time and keeps the counts."""

    def __init__(self, spark, data_dir: str, expected):
        from dask_expr_rapids_spark.queries import REGISTRY
        from dask_expr_rapids_spark.queries.registry import release_caches

        self.spark, self.data_dir, self.expected = spark, data_dir, expected
        self.registry, self.release = REGISTRY, release_caches
        self.attempted = self.failed = 0
        self.errors: dict[str, str] = {}
        self.verdicts: dict[str, str] = {}

    def fresh(self) -> None:
        """Each timed call pays for its own persists and garbage."""
        self.release()
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def call(self, name: str, tracer=None):
        """One timed call; returns ``(seconds, df)`` or ``(None, None)``
        when it raised.  With a tracer, the call also plans the frame in a
        span of its own and the tracer records the spans."""
        self.fresh()
        self.attempted += 1
        q = self.registry[name]
        try:
            t0, e0 = time.perf_counter(), time.time()
            df = q.fn(self.spark, self.data_dir)
            t1, e1 = time.perf_counter(), time.time()
            if tracer is not None:
                df._jdf.queryExecution().executedPlan()
            t2, e2 = time.perf_counter(), time.time()
            df.write.format("noop").mode("overwrite").save()
            t3, e3 = time.perf_counter(), time.time()
        except Exception as exc:  # noqa: BLE001 - a failing query is a result
            self.failed += 1
            self.errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            log(f"FAILED {name}: {self.errors[name]}")
            return None, None
        if tracer is not None:
            tracer.record(name, (t0, t1, t2, t3), (e0, e1, e2, e3))
        return t3 - t0, df

    def check(self, name: str, df) -> None:
        """Compare the call's rows with the DuckDB oracle, outside timing."""
        try:
            got = digest(df.toPandas())
            want = self.expected.get(name, self.registry[name].sql)
        except Exception as exc:  # noqa: BLE001
            self.verdicts[name] = f"error: {type(exc).__name__}: {exc}"[:500]
        else:
            self.verdicts[name] = "rows-only" if want is None else ("match" if got == want else "MISMATCH")
        if self.verdicts[name] not in ("match", "rows-only"):
            self.failed += 1
            log(f"WRONG {name}: {self.verdicts[name]}")


class Tracer:
    """Spans and status-store counts per traced call (traced run only)."""

    def __init__(self, spark, cores: int):
        self.store = probes.StatusStore(spark)
        self.stream = probes.StreamingStats()
        spark.streams.addListener(self.stream)
        self.cores = cores
        self.calls: list[dict] = []

    def begin_pass(self) -> None:
        """Drop what untraced calls left in the stores."""
        self.store.read()
        self.stream.take()
        self.calls = []

    def record(self, name: str, t: tuple, epoch: tuple) -> None:
        got = self.store.read()
        n_rdds, cached = self.store.persisted()
        windows = {"build": (epoch[0], epoch[1]), "plan": (epoch[1], epoch[2]), "exec": (epoch[2], epoch[3])}

        def window_of(ms: int | None) -> str | None:
            if ms is None:
                return None
            s = ms / 1e3
            for w, (a, b) in windows.items():
                # status-store times have millisecond resolution
                if a - 0.002 <= s <= b + 0.002:
                    return w
            return None

        job_window = {j["jobId"]: window_of(j.get("submissionTime")) for j in got["jobs"]}
        late_jobs = [
            j["jobId"]
            for j in got["jobs"]
            if j.get("completionTime") is None or j["completionTime"] / 1e3 > epoch[3] + 0.002
        ]
        stage_window: dict[str, list] = {"build": [], "plan": [], "exec": []}
        orphans = []
        for s in got["stages"]:
            ws = {job_window.get(j) for j in s.get("jobIds", [])} or {None}
            if len(ws) != 1 or None in ws:
                orphans.append(s["stageId"])
            else:
                stage_window[ws.pop()].append(s)
        build = probes.stage_totals(stage_window["build"])
        exec_ = probes.stage_totals(stage_window["exec"])
        whole = probes.stage_totals(got["stages"])
        spans = {"build": t[1] - t[0], "plan": t[2] - t[1], "exec": t[3] - t[2]}
        self.calls.append(
            {
                "query": name,
                "wall_s": t[3] - t[0],
                "spans": spans,
                "jobs": {w: sorted(j for j, jw in job_window.items() if jw == w) for w in windows},
                "unattributed_jobs": sorted(j for j, jw in job_window.items() if jw is None),
                "late_jobs": late_jobs,
                "unattributed_stages": orphans,
                "build_stages": build,
                "exec_stages": exec_,
                "all_stages": whole,
                "persisted_rdds": n_rdds,
                "cached_bytes": cached,
                "udf": got["udf"],
                "streaming": self.stream.take(),
            }
        )

    def pass_metrics(self) -> dict:
        c = self.calls
        total = lambda f: sum(f(x) for x in c)  # noqa: E731
        exec_wall = total(lambda x: x["spans"]["exec"])
        return {
            "queries.build_s": total(lambda x: x["spans"]["build"]),
            "queries.build_jobs": total(lambda x: len(x["jobs"]["build"])),
            "catalyst.plan_s": total(lambda x: x["spans"]["plan"]),
            "exec.wall_s": exec_wall,
            "exec.jobs": total(lambda x: len(x["jobs"]["exec"])),
            "exec.stages": total(lambda x: x["exec_stages"]["stages"]),
            "exec.tasks": total(lambda x: x["exec_stages"]["tasks"]),
            "exec.task_s": total(lambda x: x["exec_stages"]["task_s"]),
            "exec.idle_core_s": exec_wall * self.cores - total(lambda x: x["exec_stages"]["task_s"]),
            "exec.gc_s": total(lambda x: x["exec_stages"]["gc_s"]),
            "exec.shuffle_read_bytes": total(lambda x: x["exec_stages"]["shuffle_read_bytes"]),
            "exec.shuffle_write_bytes": total(lambda x: x["exec_stages"]["shuffle_write_bytes"]),
            "exec.spill_bytes": total(lambda x: x["exec_stages"]["spill_bytes"]),
            "exec.failed_tasks": total(lambda x: x["all_stages"]["failed_tasks"]),
            "sources.input_bytes": total(lambda x: x["all_stages"]["input_bytes"]),
            "sources.input_rows": total(lambda x: x["all_stages"]["input_rows"]),
            "sources.output_bytes": total(lambda x: x["all_stages"]["output_bytes"]),
            "sources.output_rows": total(lambda x: x["all_stages"]["output_rows"]),
            "registry.persisted_rdds": total(lambda x: x["persisted_rdds"]),
            "registry.cached_bytes": total(lambda x: x["cached_bytes"]),
            "udf.python_rows": total(lambda x: x["udf"]["rows"]),
            "udf.python_bytes": total(lambda x: x["udf"]["bytes"]),
            "streaming.batches": total(lambda x: x["streaming"]["batches"]),
            "streaming.state_rows": total(lambda x: x["streaming"]["state_rows"]),
            "streaming.commit_ms": total(lambda x: x["streaming"]["commit_ms"]),
            "streaming.add_batch_ms": total(lambda x: x["streaming"]["add_batch_ms"]),
        }

    def self_checks(self) -> dict:
        """Every job and stage of the pass belongs to one span of one call.
        (The three spans tile each call by construction: they are adjacent
        intervals of one clock.)"""
        return {
            "unattributed_jobs": sum(len(x["unattributed_jobs"]) for x in self.calls),
            "late_jobs": sum(len(x["late_jobs"]) for x in self.calls),
            "unattributed_stages": sum(len(x["unattributed_stages"]) for x in self.calls),
        }


def query_medians(passes: list[dict]) -> dict[str, float]:
    """Each query's median time over ``passes``; queries that failed in
    any of them are left out."""
    names = passes[0]["queries"]
    return {
        n: statistics.median(p["queries"][n] for p in passes)
        for n in names
        if all(p["queries"].get(n) for p in passes)
    }


def geomean(xs: list[float]) -> float:
    if not xs:
        return 0.0
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def count_noop_gap(runner: Runner, name: str, reps: int = 3) -> dict:
    """Median time of ``count()`` and of the ``noop`` write on one query."""
    times: dict[str, list[float]] = {"count": [], "noop": []}
    q = runner.registry[name]
    for _ in range(reps):
        for how in ("count", "noop"):
            runner.fresh()
            t0 = time.perf_counter()
            df = q.fn(runner.spark, runner.data_dir)
            if how == "count":
                df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
            times[how].append(time.perf_counter() - t0)
    c, n = statistics.median(times["count"]), statistics.median(times["noop"])
    return {"query": name, "count_s": c, "noop_s": n, "noop_over_count": n / c}


# --------------------------------------------------------------- main


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=25)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "dask_expr_rapids_spark", "__init__.py")):
        log(f"no dask_expr_rapids_spark package next to {os.path.relpath(HERE)}; run from a checkout")
        return 2
    args = parse_args(argv)
    env = machine()
    wl = WORKLOADS[args.workload]
    stamps = [("start", time.perf_counter())]
    ticks0 = probes.cpu_ticks()
    data_dir = DATA_DIR
    expected = Expected(
        os.path.join(WORK, f"oracle-{os.path.basename(data_dir)}.json"), data_dir, os.path.join(WORK, "duckdb-tmp")
    )

    spark, setup = open_session()
    log(f"setup {setup['setup_s']:.2f}s")
    rss = probes.RssSampler()
    rss.start()
    runner = Runner(spark, data_dir, expected)
    tracer = Tracer(spark, env["cpus"]) if args.trace else None
    rng = random.Random(args.seed)
    me = os.getpid()
    stamps.append(("session", time.perf_counter()))

    try:
        # cold pass: the first call of each query in this session, in the
        # workload's own order (whichever query runs first pays the
        # session's shared warm-up); each result is checked against the
        # oracle right after it is timed
        cold: dict[str, float | None] = {}
        for name in wl.queries:
            cold[name], df = runner.call(name)
            if df is not None:
                runner.check(name, df)
        expected.close()
        stamps.append(("cold_pass", time.perf_counter()))

        # warm passes, about --seconds of them; in the traced run every
        # other pass is traced, so the two kinds alternate under the same
        # conditions
        passes: list[dict] = []
        n_passes = max(MIN_PASSES, round(args.seconds / wl.nominal_pass_s))
        n_warmup = int(n_passes * WARMUP_SHARE)
        for i in range(n_passes):
            traced = tracer is not None and i >= n_warmup and (i - n_warmup) % 2 == 1
            if traced:
                tracer.begin_pass()
            per_query = {}
            t0, c0 = time.perf_counter(), probes.cpu_ticks()
            for name in rng.sample(wl.queries, len(wl.queries)):
                per_query[name], _ = runner.call(name, tracer if traced else None)
            wall = time.perf_counter() - t0
            rec = {
                "warmup": i < n_warmup,
                "traced": traced,
                "wall_s": wall,
                "steal_share": probes.steal_share(c0, probes.cpu_ticks()),
                "pass_s": sum(v for v in per_query.values() if v is not None),
                "queries": per_query,
                "scratch_bytes": scratch_bytes(),
                "rss_bytes": probes.descendants_rss_bytes(me),
            }
            if traced:
                rec["layers"] = tracer.pass_metrics()
                rec["calls"] = tracer.calls
                rec["self_checks"] = tracer.self_checks()
            passes.append(rec)
            log(f"pass {len(passes)}{' traced' if traced else ''}: {rec['pass_s']:.3f}s")
        stamps.append(("warm_passes", time.perf_counter()))
        gap = count_noop_gap(runner, wl.gap_query) if tracer is not None else None
        stamps.append(("count_vs_noop", time.perf_counter()))
    finally:
        peak = rss.stop()
        if tracer is not None:
            spark.streams.removeListener(tracer.stream)
        close_session(spark)
        stamps.append(("teardown", time.perf_counter()))

    plain = [p for p in passes if not p["traced"] and not p["warmup"]]
    first, last = plain[0], plain[-1]
    drift = {
        "pass_s": last["pass_s"] / first["pass_s"] - 1,
        "scratch_bytes": last["scratch_bytes"] - first["scratch_bytes"],
        "rss_bytes": last["rss_bytes"] - first["rss_bytes"],
    }
    drift["flagged"] = drift["pass_s"] > DRIFT_LIMIT
    if drift["flagged"]:
        log(f"DRIFT: last warm pass {drift['pass_s']:+.0%} against the first")

    warm = query_medians(plain)
    end_to_end = {
        "setup_s": setup["setup_s"],
        "cold_pass_s": sum(v for v in cold.values() if v is not None),
        "warm_pass_s": sum(warm.values()),
        "query_geomean_s": geomean(list(warm.values())),
    }
    artifact = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "machine": env,
        "steal_share": probes.steal_share(ticks0, probes.cpu_ticks()),
        "data": os.path.relpath(data_dir, ROOT),
        "setup": setup,
        "cold_pass": cold,
        "verdicts": runner.verdicts,
        "errors": runner.errors,
        "passes": passes,
        "drift": drift,
        "peak_rss_mb": peak / 2**20,
        "phases_s": {b[0]: b[1] - a[1] for a, b in zip(stamps, stamps[1:])},
        "end_to_end": end_to_end,
    }
    if tracer is not None:
        traced = [p for p in passes if p["traced"] and not p["warmup"]]
        layers = {k: statistics.median(p["layers"][k] for p in traced) for k in traced[0]["layers"]}
        layers["peak_rss_mb"] = peak / 2**20
        layers["session.start_s"] = setup["get_spark_s"]
        layers["scratch.bytes"] = passes[-1]["scratch_bytes"]
        layers["failed_frac"] = runner.failed / runner.attempted
        layers["trace.overhead_s"] = sum(query_medians(traced).values()) - end_to_end["warm_pass_s"]
        artifact["per_layer"] = layers
        artifact["count_vs_noop"] = gap
        artifact["self_checks"] = checks = {k: sum(p["self_checks"][k] for p in traced) for k in traced[0]["self_checks"]}
        for k, n in checks.items():
            if n:
                log(f"ATTRIBUTION: {n} {k.replace('_', ' ')} over the traced passes")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": end_to_end[k], "unit": u} for k, u in END_TO_END.items()}

    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    path = os.path.join(WORK, "runs", f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    log(f"artifact {os.path.relpath(path, ROOT)}")

    correct = not runner.errors and all(v in ("match", "rows-only") for v in runner.verdicts.values())
    print(json.dumps({"correct": correct, "attempted": runner.attempted, "failed": runner.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
