"""Tracing for the benchmark's traced mode (``--trace 1``).

Spans are recorded from the benchmark's own files only: ``install`` wraps
the package's public functions where their callers look them up, and the
workloads open spans around their calls into the package.  Nothing inside
the package changes.  Spans stay in memory and are written out when the
run ends.

A monkeypatch in this process does not reach Spark's Python workers (they
import the package fresh), so executor-side work is read from Spark's
status store instead (``spark_jobs``).
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import Counter, defaultdict


class Tracer:
    """In-memory spans: name, start, end, parent and the op id of the
    request or query that caused them.  Disabled, ``span`` costs one
    generator frame and records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self.op: str | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        """Counts are kept for operations only, not for set-up."""
        if self.enabled and self.op is not None:
            self.counts[name] += n

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a spanned version.  ``on_result``
        sees (args, kwargs, result) to record counts."""
        inner = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name):
                result = inner(*args, **kwargs)
            tracer.count(name + ".calls")
            if on_result is not None:
                on_result(args, kwargs, result)
            return result

        wrapped.__wrapped__ = inner
        setattr(owner, attr, wrapped)

    def self_times(self) -> dict[str, dict]:
        """Per span name, over the spans inside operations: calls, total
        and self seconds (a span's time minus the part its children cover)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = defaultdict(lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        for s in self.spans:
            if s["op"] is None:
                continue
            d = s["end"] - s["start"]
            agg = out[s["name"]]
            agg["calls"] += 1
            agg["total_s"] += d
            agg["self_s"] += d - child[s["id"]]
        return dict(out)

    def ops_with(self, name: str) -> Counter:
        """op id -> number of ``name`` spans inside that op."""
        return Counter(s["op"] for s in self.spans if s["name"] == name and s["op"])

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "counts": dict(self.counts), "spans": self.spans}, f)


def install(tracer: Tracer) -> None:
    """Wrap the service path's layer boundaries where their callers look
    them up: ``Engine.forecast``, ``ForecastStore`` methods, and the
    ``fit_method`` / ``forecast_fitted`` names that ``forecast/cache.py``
    binds at import."""
    import os

    from qrapids_forecast_r_script_spark.engine import Engine
    from qrapids_forecast_r_script_spark.forecast import cache

    tracer.wrap(Engine, "forecast", "api.forecast_one")
    store = cache.ForecastStore
    tracer.wrap(store, "load_forecast", "cache.read")
    tracer.wrap(store, "load_model", "cache.load_model")
    tracer.wrap(store, "save_model", "cache.write_model",
                lambda a, k, r: tracer.count("cache.bytes_written",
                                             os.path.getsize(a[0].model_path(*a[1:4]))))
    tracer.wrap(store, "save_forecast", "cache.write",
                lambda a, k, r: tracer.count("cache.bytes_written",
                                             os.path.getsize(a[0].cache_path(*a[1:4]))))
    tracer.wrap(cache, "fit_method", "models.fit")
    tracer.wrap(cache, "forecast_fitted", "models.forecast")

    inner = store.forecast_with_cache

    def forecast_with_cache(self, name, index, method, frequency, horizon, compute_series):
        def scan():
            with tracer.span("sources.scan"):
                pdf = compute_series()
            tracer.count("sources.scan.calls")
            tracer.count("sources.rows", len(pdf))
            return pdf
        with tracer.span("cache.forecast_with_cache"):
            return inner(self, name, index, method, frequency, horizon, scan)

    forecast_with_cache.__wrapped__ = inner
    store.forecast_with_cache = forecast_with_cache


def trace_session(tracer: Tracer, spark) -> None:
    """Span ``createDataFrame`` on this session object: inside
    ``forecast_one`` that is the result-frame build."""
    if tracer.enabled:
        tracer.wrap(spark, "createDataFrame", "api.result_frame")


def _opt(o):
    return o.get() if o.isDefined() else None


def spark_jobs(spark, since_ms: float) -> list[dict]:
    """Jobs submitted since ``since_ms`` (epoch ms), with their stages'
    executor metrics, from the status store (it stays populated with
    ``spark.ui.enabled=false``)."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    stages = {}
    slist = store.stageList(jvm.java.util.ArrayList(), False, False,
                            sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())
    quantiles = sc._gateway.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    for i in range(slist.size()):
        st = slist.apply(i)
        sid, att = st.stageId(), st.attemptId()
        skew = None
        if st.numTasks() >= 2:
            summary = _opt(store.taskSummary(sid, att, quantiles))
            if summary is not None:
                run = summary.executorRunTime()
                med, mx = run.apply(0), run.apply(1)
                skew = mx / med if med > 0 else None
        stages[sid] = {"tasks": st.numTasks(), "run_ms": st.executorRunTime(),
                       "cpu_ms": st.executorCpuTime() / 1e6, "gc_ms": st.jvmGcTime(),
                       "shuffle_write_bytes": st.shuffleWriteBytes(), "skew": skew}
    jobs = []
    jlist = store.jobsList(jvm.java.util.ArrayList())
    for i in range(jlist.size()):
        j = jlist.apply(i)
        sub = _opt(j.submissionTime())
        if sub is None or sub.getTime() < since_ms:
            continue
        ids = j.stageIds()
        jstages = [stages[ids.apply(k)] for k in range(ids.size()) if ids.apply(k) in stages]
        done = _opt(j.completionTime())
        jobs.append({"job": j.jobId(), "group": _opt(j.jobGroup()),
                     "wall_ms": (done.getTime() - sub.getTime()) if done is not None else None,
                     "stages": len(jstages), **{k: sum(s[k] for s in jstages) for k in
                     ("tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_write_bytes")},
                     "skews": [s["skew"] for s in jstages if s["skew"] is not None]})
    return jobs
