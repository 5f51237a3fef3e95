#!/usr/bin/env python3
"""spark-graft benchmark: one process, one workload, one seed.

    python3 perfbench/run.py --workload chat_graph --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each exists):
  chat_graph       closed loop, 1 client: MATCH patterns, depth-3 k-hops,
                   NL questions over HTTP /chat and registry keys over /query
  bulletin_ingest  batches of generated bulletins: ingest_xml -> merge ->
                   write_atomic, a verification read, a delete_batch
                   rollback and its read, compact (an idempotent re-merge
                   is checked during warm-up)
  analytics_sf01   repeated passes over the 19 bench.HEADLINE keys and 3
                   extended rows on generated sf0.1 tables (not in
                   BENCHMARK.json: one checked pass takes over a minute)
  all              the three above in turn

Every input is generated from ``--seed`` inside ``.perfbench/`` under the
checkout root. Outputs are checked against answers computed without the
engine (ElementTree / plain Python / DuckDB); a wrong output is a failed
op. The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The command exits 1 on any wrong
output and 2 when the package under test is missing.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "graph_database_project_spark"
WORKLOADS = ("chat_graph", "bulletin_ingest")     # listed in BENCHMARK.json
EXTRA_WORKLOADS = ("analytics_sf01",)             # run on request only


def configure_env(work: str) -> dict:
    """Environment every Spark process of the run inherits: the checkout on
    the Python workers' path (mapInPandas unpickles package functions),
    one core per host CPU, shuffle partitions sized to them, a driver heap
    that fits a small host, and all scratch space inside the run's work
    directory."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
        "SPARK_GRAFT_CPUS": str(cpus),
        # session.py's own sizing rule: about twice the executor cores
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(2 * cpus),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "-Djava.io.tmpdir={tmp} '
            '-XX:-UsePerfData" --conf spark.ui.showConsoleProgress=false '
            'pyspark-shell'),
    }
    os.environ.update(env)
    return env


def host_info() -> dict:
    import platform

    import pyspark
    return {"nproc": len(os.sched_getaffinity(0)),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__}


def start_spark():
    from graph_database_project_spark.session import get_spark
    return get_spark("perfbench")


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 work: str, t_start: float) -> dict:
    """Set up one workload, measure it, tear it down. ``setup_s`` runs from
    ``t_start`` (process start, for the first workload) to the first timed
    op."""
    from perfbench import workloads
    from perfbench.stats import OpLog
    from perfbench.trace import Tracer

    wl = workloads.make(name, seed, work)
    t_session = time.perf_counter()
    spark = start_spark()
    wl.session_s = time.perf_counter() - t_session
    steps = {"import": t_session - t_start, "session": wl.session_s}
    tracer = Tracer(spark, trace)
    log = OpLog()
    try:
        wl.build(spark)
        t0 = time.perf_counter()
        wl.warm_up(log)
        wl.setup_steps["warm_up"] = time.perf_counter() - t0
        setup_s = time.perf_counter() - t_start
        wl.measure(tracer, seconds, log)
        layers, not_here = {}, set()
        if trace:
            # a layer the workload does not have reads 0; one it has but
            # never reached reads NaN, which fails the run
            got = wl.layer_metrics(tracer)
            names = workloads.PER_LAYER if name in WORKLOADS else got
            layers = {k: (got.get(k, 0.0), workloads.unit_of(k)) for k in names}
            not_here = set(layers) - set(got)
        extra = wl.report_extra()
    finally:
        wl.close()
        stop_spark(spark)
    return {"workload": name, "summary": log.summary(wl.TAIL_Q),
            "setup_s": setup_s, "steps": {**steps, **wl.setup_steps},
            "layers": layers, "not_here": not_here, "extra": extra,
            "errors": log.errors,
            "by_kind": log.by_kind,
            "tracer": tracer}


def e2e_metrics(res: dict) -> dict:
    s = res["summary"]
    return {"setup_s": (res["setup_s"], "s"),
            "ops_per_s": (s["ops_per_s"], "1/s"),
            "p50_ms": (s["p50_ms"], "ms"),
            "tail_ms": (s["tail_ms"], "ms")}


def print_report(res: dict, seed: int, trace: bool, env: dict,
                 load: tuple) -> None:
    s = res["summary"]
    p = lambda *a: print("#", *a)  # noqa: E731
    p(f"workload={res['workload']} seed={seed} trace={int(trace)} "
      f"nproc={env['host']['nproc']} python={env['host']['python']} "
      f"pyspark={env['host']['pyspark']}")
    p("env " + " ".join(f"{k}={v}" for k, v in sorted(env["vars"].items())
                        if k.startswith("SPARK_")))
    p(f"loadavg before={load[0]} after={load[1]}")
    p(f"setup_s={res['setup_s']:.4f} s  n=1  ("
      + " ".join(f"{k}={v:.3f}" for k, v in res["steps"].items()) + ")")
    p(f"ops_per_s={s['ops_per_s']:.4f} 1/s  median of {s['cycles']} cycle "
      f"rates, completed={s['samples']}")
    p(f"p50_ms={s['p50_ms']:.4f} ms  n={s['samples']}")
    p(f"tail_ms={s['tail_ms']:.4f} ms  p{s['tail_percentile']} "
      f"n={s['samples']} beyond={s['tail_beyond']}")
    p(f"failed_ratio={s['failed_ratio']:.4f}  failed={s['failed']} "
      f"attempted={s['attempted']}")
    for k, v in res["by_kind"].items():
        p(f"op {k}: n={len(v)} median_ms={statistics.median(v) * 1e3:.1f}")
    for k, (v, unit, n) in res["extra"].items():
        p(f"{k}={v:.6g} {unit}  n={n}")
    for k, (v, unit) in sorted(res["layers"].items()):
        p(f"layer {k}=" + ("n/a (0 in the JSON line)" if k in res["not_here"]
                           else f"{v:.6g} {unit}"))
    if trace:
        for k, v in sorted(res["tracer"].self_times().items()):
            p(f"self_time {k}={v:.4f} s")
    for e in res["errors"]:
        p(f"FAILED OP: {e}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + EXTRA_WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found next to "
              f"{os.path.relpath(HERE, os.getcwd())}", file=sys.stderr)
        return 2
    names = (WORKLOADS + EXTRA_WORKLOADS if args.workload == "all"
             else (args.workload,))
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    env_vars = configure_env(work)
    sys.path[:0] = [ROOT]
    os.chdir(work)       # stray files (warehouse, derby) land in the work dir
    env = {"vars": env_vars, "host": host_info()}
    trace = bool(args.trace)
    results = []
    try:
        for name in names:
            load0 = os.getloadavg()
            res = run_workload(name, args.seed, args.seconds, trace,
                               os.path.join(work, name),
                               T_START if not results else time.perf_counter())
            load = (tuple(round(x, 2) for x in load0),
                    tuple(round(x, 2) for x in os.getloadavg()))
            print_report(res, args.seed, trace, env, load)
            if trace:
                res["tracer"].dump(
                    os.path.join(base, f"trace-{name}-s{args.seed}.json"),
                    {"layers": res["layers"], "summary": res["summary"],
                     "env": env, "loadavg": load})
            results.append(res)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(r["summary"]["attempted"] for r in results)
    failed = sum(r["summary"]["failed"] for r in results)
    metrics = {}
    for r in results:
        prefix = "" if len(results) == 1 else r["workload"] + "."
        src = (r["layers"] if trace else e2e_metrics(r))
        for k, (v, unit) in src.items():
            metrics[prefix + k] = {"value": v, "unit": unit}
    correct = failed == 0 and all(
        math.isfinite(m["value"]) for m in metrics.values())
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
