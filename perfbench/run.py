#!/usr/bin/env python3
"""Benchmark of the forecast engine, one workload per run.

    python3 perfbench/run.py --workload forecast_service --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The run pins its environment, builds its
inputs from ``--seed`` under ``.perfbench_work/`` (removed at exit), sets
up a Spark session several times and reports the median of the warm
set-ups, measures the workload for ``--seconds`` in whole passes, checks
every output, and prints one JSON object as the last line of stdout:

- ``--trace 0``: the end-to-end metrics (``END_TO_END``);
- ``--trace 1``: the per-layer metrics (``PER_LAYER``), from spans around
  the calls into each layer and from Spark's status store; the spans, the
  self time per span name and the traced end-to-end figures are written
  to ``.perfbench_out/trace-<workload>-seed<seed>.json``.

Exit codes: 0 when every output is correct, 1 when a check failed (the
JSON still prints), 2 when the program cannot be imported or the arguments
are wrong, 3 when the run passes its deadline.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
OUT = ROOT / ".perfbench_out"
SETUP_REPS = 6  # the first launches the JVM; setup_s is the median of the rest
DEADLINE_S = 170

END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "op_p50_ms": "ms", "op_p90_ms": "ms"}
PER_LAYER = {
    "setup.session_s": "s", "setup.datagen_s": "s", "setup.warmup_s": "s", "setup.cold_s": "s",
    "op.build_ms": "ms", "op.build_self_ms": "ms", "op.action_ms": "ms",
    "trace.uncovered_share": "ratio",
    "spark.jobs_per_op": "count", "spark.build_jobs_per_op": "count",
    "spark.stages_per_op": "count", "spark.tasks_per_op": "count",
    "spark.executor_run_ms_per_op": "ms", "spark.executor_cpu_ms_per_op": "ms",
    "spark.shuffle_write_bytes_per_op": "bytes", "spark.parallelism": "ratio",
    "spark.task_skew": "ratio", "spark.job_wall_share": "ratio",
    "service.hit_p50_ms": "ms", "service.hit_p90_ms": "ms",
    "service.refit_p50_ms": "ms", "service.refit_p90_ms": "ms",
    "service.train_p50_ms": "ms", "service.train_p90_ms": "ms",
    "api.result_frame_ms": "ms",
    "cache.hit_ratio": "ratio", "cache.read_ms": "ms", "cache.load_model_ms": "ms",
    "cache.write_ms": "ms", "cache.reads_per_op": "count", "cache.writes_per_op": "count",
    "cache.bytes_written_per_op": "bytes",
    "sources.scan_ms": "ms", "sources.scans_per_op": "count", "sources.rows_per_op": "count",
    "models.fit_ms": "ms", "models.forecast_ms": "ms",
    "models.fits_per_op": "count", "models.forecasts_per_op": "count",
    "lineage.release_ms": "ms", "lineage.released_per_op": "count",
}
# plus query.<name>.construct_ms and query.<name>.execute_ms for each query
# of the mix (``per_layer_units``)


def pin_environment() -> dict[str, str]:
    """Fix what the timings depend on, before numpy or the JVM start:
    ``local[nproc]`` with the shuffle width at nproc, one BLAS thread per
    Python worker (nproc workers x 1 thread <= nproc), the repo root on the
    workers' PYTHONPATH, and every scratch directory inside the checkout."""
    nproc = len(os.sched_getaffinity(0))
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True)
    submit = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp}",
        "--conf", f"spark.sql.warehouse.dir={WORK / 'warehouse'}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", "spark.ui.retainedJobs=100000",
        "--conf", "spark.ui.retainedStages=100000",
        "pyspark-shell",
    ]
    env = {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "OPENBLAS_NUM_THREADS": "1", "OMP_NUM_THREADS": "1", "MKL_NUM_THREADS": "1",
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable, "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": str(tmp), "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit),
    }
    for k in ("SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_MASTER", "PYSPARK_GATEWAY_PORT"):
        os.environ.pop(k, None)
    os.environ.update(env)
    return env


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that will not stop is killed
            proc.kill()
            proc.wait()


def percentile(values: list[float], q: int) -> float:
    """The q-th percentile (q in 10..90 by 10) as ``statistics.quantiles``
    gives it with the inclusive method, which never reaches past the
    smallest or largest sample; with one sample, that sample."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[q // 10 - 1]


def run_window(wl, seconds: float, tracer) -> dict:
    """Closed loop: the next operation starts when the previous one and
    its output check are done.  The window ends at the first pass boundary
    (``wl.PASS`` operations) after ``seconds``, once ``wl.MIN_PASSES``
    passes are done, so every pass holds the workload's whole mix.  Each
    operation leaves a record: its latency, its pass, whether it passed."""
    ops, bench_s = [], 0.0
    start = time.perf_counter()
    start_ms = time.time() * 1000.0
    i = 0
    while (i % wl.PASS or i // wl.PASS < wl.MIN_PASSES
           or time.perf_counter() - start < seconds):
        tracer.op = f"op{i}"
        t0 = time.perf_counter()
        value, error = None, None
        try:
            with tracer.span("op"):
                value = wl.op(i)
        except Exception as exc:  # noqa: BLE001 - counted as a failed operation
            error = exc
        t1 = time.perf_counter()
        if error is None:
            try:
                ok = wl.check(i, value)
            except Exception as exc:  # noqa: BLE001 - a check that raises fails
                error = exc
        if error is not None:
            ok = wl.fail(f"op {i}: {type(error).__name__}: {error}"[:400])
        if not ok:
            wl.op_failed()
        ops.append({"latency_s": t1 - t0, "pass": i // wl.PASS, "ok": ok})
        wl.after_op()
        tracer.op = None
        bench_s += time.perf_counter() - t1
        i += 1
    wall = time.perf_counter() - start
    return {"ops": ops, "wall_s": wall, "busy_s": wall - bench_s, "start_ms": start_ms}


def end_to_end(setup_s: float, window: dict, wl) -> dict[str, float]:
    lat = wl.samples(window["ops"]) or [float("nan")]
    return {"setup_s": setup_s,
            "ops_per_s": sum(o["ok"] for o in window["ops"]) / window["busy_s"],
            "op_p50_ms": 1000.0 * percentile(lat, 50),
            "op_p90_ms": 1000.0 * percentile(lat, 90)}


def per_layer_units() -> dict[str, str]:
    from workloads import QueryMix

    return {**PER_LAYER, **{f"query.{q}.{part}_ms": "ms" for q in QueryMix.QUERIES
                            for part in ("construct", "execute")}}


def per_query(tracer, names: list[str]) -> dict[str, tuple[float, float]]:
    """query name -> median construct and execute seconds over its runs
    (operation i ran query ``names[i]``)."""
    spans = {(s["op"], s["name"]): s["end"] - s["start"] for s in tracer.spans
             if s["op"] and s["name"] in ("operators.construct", "action")}
    runs: dict[str, tuple[list, list]] = {}
    for i, name in enumerate(names):
        c, x = spans.get((f"op{i}", "operators.construct")), spans.get((f"op{i}", "action"))
        if c is not None and x is not None:
            runs.setdefault(name, ([], []))[0].append(c)
            runs[name][1].append(x)
    return {q: (statistics.median(c), statistics.median(x)) for q, (c, x) in sorted(runs.items())}


def per_layer(wl, tracer, setups, window, spark) -> tuple[dict, dict]:
    """Per-layer metrics of a traced run, plus detail for the trace file.
    Module times are the total time of the spans around each module's
    calls, per operation; they are 0 on a workload that never reaches it."""
    from spans import spark_jobs

    n = max(1, len(window["ops"]))
    warm = setups[1:]
    med = lambda k: statistics.median(s[k] for s in warm)  # noqa: E731
    st = tracer.self_times()
    total = lambda k: st.get(k, {}).get("total_s", 0.0)  # noqa: E731
    ms = lambda *names: 1000.0 * sum(total(k) for k in names) / n  # noqa: E731
    build = "operators.construct" if "operators.construct" in st else "build"
    c = tracer.counts
    jobs = spark_jobs(spark, window["start_ms"])
    in_ops = [j for j in jobs if j["group"] and j["group"].startswith("op")]
    skews = [s for j in in_ops for s in j["skews"]]
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    classes = getattr(wl, "classes", [])
    by_class = {}
    for cls in ("hit", "refit", "train"):
        lat = [o["latency_s"] for o, k in zip(window["ops"], classes) if k == cls and o["ok"]]
        if lat:
            by_class[cls] = {"n": len(lat), "p50_ms": 1000 * percentile(lat, 50),
                             "p90_ms": 1000 * percentile(lat, 90)}
    queries = per_query(tracer, getattr(wl, "names", []))
    m = {
        "setup.session_s": med("session_s"), "setup.datagen_s": med("datagen_s"),
        "setup.warmup_s": med("warmup_s"), "setup.cold_s": setups[0]["total_s"],
        "op.build_ms": ms(build),
        "op.build_self_ms": 1000.0 * sum(v["self_s"] for k, v in st.items()
                                        if k in ("build", "operators.construct",
                                                 "api.forecast_one",
                                                 "cache.forecast_with_cache")) / n,
        "op.action_ms": ms("action"),
        "trace.uncovered_share": 1.0 - total("op") / window["wall_s"],
        "spark.jobs_per_op": len(in_ops) / n,
        "spark.build_jobs_per_op": sum(not j["group"].endswith(":action") for j in in_ops) / n,
        "spark.stages_per_op": sum(j["stages"] for j in in_ops) / n,
        "spark.tasks_per_op": sum(j["tasks"] for j in in_ops) / n,
        "spark.executor_run_ms_per_op": sum(j["run_ms"] for j in jobs) / n,
        "spark.executor_cpu_ms_per_op": sum(j["cpu_ms"] for j in jobs) / n,
        "spark.shuffle_write_bytes_per_op": sum(j["shuffle_write_bytes"] for j in jobs) / n,
        "spark.parallelism": sum(j["run_ms"] for j in jobs) / (1000.0 * window["busy_s"] * cores),
        "spark.task_skew": statistics.median(skews) if skews else 1.0,
        "spark.job_wall_share": sum(j["wall_ms"] or 0 for j in in_ops) / (1000.0 * window["busy_s"]),
        **{f"service.{cls}_{p}_ms": by_class.get(cls, {}).get(f"{p}_ms", 0.0)
           for cls in ("hit", "refit", "train") for p in ("p50", "p90")},
        "api.result_frame_ms": ms("api.result_frame"),
        "cache.hit_ratio": classes.count("hit") / len(classes) if classes else 0.0,
        "cache.read_ms": ms("cache.read"), "cache.load_model_ms": ms("cache.load_model"),
        "cache.write_ms": ms("cache.write", "cache.write_model"),
        "cache.reads_per_op": c["cache.read.calls"] / n,
        "cache.writes_per_op": (c["cache.write.calls"] + c["cache.write_model.calls"]) / n,
        "cache.bytes_written_per_op": c["cache.bytes_written"] / n,
        "sources.scan_ms": ms("sources.scan"),
        "sources.scans_per_op": c["sources.scan.calls"] / n,
        "sources.rows_per_op": c["sources.rows"] / n,
        "models.fit_ms": ms("models.fit"), "models.forecast_ms": ms("models.forecast"),
        "models.fits_per_op": c["models.fit.calls"] / n,
        "models.forecasts_per_op": c["models.forecast.calls"] / n,
        "lineage.release_ms": ms("lineage.release"),
        "lineage.released_per_op": c["lineage.released"] / n,
    }
    for q in per_layer_units():
        if q.startswith("query."):
            _, name, part = q.split(".")
            m[q] = 1000.0 * queries.get(name, (0.0, 0.0))[part == "execute_ms"]
    detail = {"self_times": st, "latency_by_class": by_class,
              "queries": getattr(wl, "names", []),
              "per_query_s": {q: {"construct": cx[0], "execute": cx[1]}
                              for q, cx in queries.items()},
              "spark_jobs": {"window": len(jobs), "in_ops": len(in_ops),
                             "gc_ms": sum(j["gc_ms"] for j in jobs)}}
    return m, detail


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    shutil.rmtree(WORK, ignore_errors=True)
    env = pin_environment()
    sys.path[:0] = [str(HERE), str(ROOT)]
    try:
        from qrapids_forecast_r_script_spark.session import get_spark
        from spans import Tracer, install, trace_session
        from workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        shutil.rmtree(WORK, ignore_errors=True)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(WORKLOADS)}", file=sys.stderr)
        shutil.rmtree(WORK, ignore_errors=True)
        return 2

    def deadline(signum, frame):
        raise TimeoutError(f"run passed its {DEADLINE_S} s deadline")

    signal.signal(signal.SIGALRM, deadline)
    signal.alarm(DEADLINE_S)
    tracer = Tracer(bool(args.trace))
    if tracer.enabled:
        install(tracer)
    spark = None
    try:
        setups = []
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            wl = WORKLOADS[args.workload](args.seed, tracer)
            wl.generate(spark, str(WORK / f"input{rep}"))
            t2 = time.perf_counter()
            wl.warm_up()
            t3 = time.perf_counter()
            setups.append({"session_s": t1 - t0, "datagen_s": t2 - t1,
                           "warmup_s": t3 - t2, "total_s": t3 - t0})
        setup_s = statistics.median(s["total_s"] for s in setups[1:])
        trace_session(tracer, spark)
        wl.prepare()
        window = run_window(wl, args.seconds, tracer)
        wl.finish()
        e2e = end_to_end(setup_s, window, wl)
        if tracer.enabled:
            metrics, detail = per_layer(wl, tracer, setups, window, spark)
            units = per_layer_units()
        else:
            metrics, units = e2e, END_TO_END
        signal.alarm(0)
    except TimeoutError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 3
    finally:
        signal.alarm(0)
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)

    ops = window["ops"]
    attempted = len(ops) + wl.extra_attempted
    failed = min(attempted, len(wl.failures))
    correct = failed == 0 and len(ops) > 0
    for msg in wl.failures[:20]:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    n = len(wl.samples(ops))
    samples = {"setup_s": SETUP_REPS - 1, "ops_per_s": sum(o["ok"] for o in ops),
               "op_p50_ms": n, "op_p90_ms": n}
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"ops={len(ops)} passes={ops[-1]['pass'] + 1 if ops else 0} "
          f"failed={failed}/{attempted} window={window['wall_s']:.2f}s "
          f"busy={window['busy_s']:.2f}s cores={env['SPARK_GRAFT_CPUS']}")
    for k, v in metrics.items():
        print(f"#   {k:44s} {v:14.6g} {units[k]:6s}"
              + (f" samples={samples[k]}" if k in samples else ""))
    if tracer.enabled:
        OUT.mkdir(exist_ok=True)
        path = OUT / f"trace-{args.workload}-seed{args.seed}.json"
        tracer.dump(str(path), {"workload": args.workload, "seed": args.seed,
                                "setups": setups, "end_to_end_traced": e2e,
                                "per_layer": metrics, "window": window,
                                **detail})
        print(f"# trace written to {path.relative_to(ROOT)}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
