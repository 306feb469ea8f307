"""The benchmark's workloads.

Each workload has the same shape:

- ``generate(spark, dir)``: write the seeded inputs and open them;
- ``warm_up()``: a fixed small amount of the workload's own work, so the
  JVM, the Python workers and lazy imports are warm before timing;
- ``prepare()``: untimed work that must come before the window (the
  query warm pass that is checked against the DuckDB oracles);
- ``op(i)``: one timed operation, returning a value for ``check``;
- ``check(i, value)``: True when the operation's output is correct;
- ``finish()``: checks over the whole run, and traced-mode assertions.

Operations come in passes of ``PASS``, each holding the workload's whole
mix once; the timed window ends on a pass boundary, after at least
``MIN_PASSES`` passes.

An operation that raises, or whose output fails its check, is a failed
operation: a change that makes fits fail fast cannot read as a speed-up.
"""

from __future__ import annotations

import math
import os

import numpy as np

import gen
from spans import Tracer

FREQ = 7
BAND_KEYS = ("lower2", "lower1", "mean", "upper1", "upper2")


def bands_ok(rows, horizon: int) -> bool:
    """``horizon`` rows, steps 1..horizon, finite and ordered 95/80 bands."""
    if len(rows) != horizon or [r["step"] for r in rows] != list(range(1, horizon + 1)):
        return False
    for r in rows:
        v = [r[k] for k in BAND_KEYS]
        if not all(math.isfinite(x) for x in v) or any(a > b for a, b in zip(v, v[1:])):
            return False
    return True


class Workload:
    name = ""
    PASS = 1
    MIN_PASSES = 1

    def __init__(self, seed: int, tracer: Tracer):
        self.seed = seed
        self.tracer = tracer
        self.spark = None
        self.failures: list[str] = []
        self.extra_attempted = 0

    def timed(self, label: str, fn):
        """Run ``fn`` under a span; in traced mode its Spark jobs carry a
        job group ``<op>:<label>`` so the status store can attribute them."""
        if self.tracer.enabled:
            group = f"{self.tracer.op}:{label}"
            self.spark.sparkContext.setJobGroup(group, group)
        with self.tracer.span(label):
            return fn()

    def prepare(self) -> None:
        pass

    def after_op(self) -> None:
        pass

    def op_failed(self) -> None:
        pass

    def samples(self, ops: list[dict]) -> list[float]:
        """The latencies the percentiles are taken over: those of the
        operations that passed their check."""
        return [o["latency_s"] for o in ops if o["ok"]]

    def finish(self) -> None:
        pass

    def fail(self, msg: str) -> bool:
        self.failures.append(msg)
        return False


# --- forecast_service -----------------------------------------------------

class ForecastService(Workload):
    """One client in a closed loop: each request waits for the previous
    reply, like the reference's Rserve caller.  The seeded stream varies
    series, method and horizon; the benchmark replays the cache rules
    (R:104-124) itself to know each request's class:

    - hit: model and a cache at least ``horizon`` long (R:109-110);
    - refit: model, cache too short: load, forecast, overwrite (R:112-114);
    - train: no model: scan, fit, save, prime the cache at 14 (R:117).

    Every pass of 10 requests holds 5 hits, 3 refits and 2 trains in a
    seeded order, so the class mix is the same on every seed and in every
    run.  Hits and refits go to THETA/STL keys, whose forecast is cheap,
    so both sit in one latency mode of 20-60 ms; trains (THETA, STL, ETS,
    ETSDAMPED, in turn) scan and fit, 150-400 ms.  With the window cut on
    pass boundaries, p50 lies among the hits and refits and p90 at the
    middle of the trains, never between the two modes."""

    name = "forecast_service"
    N_SERIES = 400
    N_PRETRAINED = 16          # series with THETA and STL models at start
    CACHED_METHODS = ("THETA", "STL")
    TRAIN_METHODS = ("THETA", "STL", "ETS", "ETSDAMPED")
    BLOCK = ("train",) * 2 + ("refit",) * 3 + ("hit",) * 5
    PASS = len(BLOCK)
    WARM_HITS = 25
    MAX_HORIZON = 56

    def generate(self, spark, in_dir: str) -> None:
        from qrapids_forecast_r_script_spark.engine import Engine
        from qrapids_forecast_r_script_spark.forecast.cache import ForecastStore
        import pandas as pd

        self.spark = spark
        os.makedirs(in_dir)
        self.series = gen.make_metrics(self.seed, self.N_SERIES)
        path = os.path.join(in_dir, "qr_metrics.parquet")
        gen.write_metrics(self.series, path)
        self.artifact_dir = os.path.join(in_dir, "artifacts")
        self.engine = Engine(spark, spark.read.parquet(path), artifact_dir=self.artifact_dir)
        self.store = ForecastStore(self.artifact_dir)
        keys = list(self.series)
        self.rng = np.random.default_rng([self.seed, 3])
        order = self.rng.permutation(len(keys))
        pretrained = [keys[i] for i in order[:self.N_PRETRAINED]]
        # trains cycle through the methods in a fixed order
        self.untrained = [(keys[i], self.TRAIN_METHODS[j % len(self.TRAIN_METHODS)])
                          for j, i in enumerate(order[self.N_PRETRAINED:])]
        self.untrained.reverse()
        self.block: list[str] = []
        # the model store the service starts from: trained through the
        # package's own store, as a previous client session would have
        self.cached: dict = {}      # (name, index, method) -> last written bands
        for (name, index) in pretrained:
            days, y = self.series[(name, index)]
            pdf = pd.DataFrame({"name": name, "index": index,
                                "evaluationDate": days.astype("datetime64[D]"), "value": y})
            for m in self.CACHED_METHODS:
                self.store.forecast_with_cache(name, index, m, FREQ, 14, lambda: pdf)
                self.cached[(name, index, m)] = self.store.load_forecast(name, index, m)
        self.classes: list[str] = []

    def _next_request(self):
        rng = self.rng
        if not self.block:
            self.block = [self.BLOCK[j] for j in rng.permutation(len(self.BLOCK))]
        cls = self.block.pop()
        if cls == "train":
            if not self.untrained:
                raise RuntimeError(f"all {self.N_SERIES} series are trained: "
                                   "the window is too long for N_SERIES")
            (name, index), m = self.untrained.pop()
            return "train", (name, index, m), int(rng.integers(1, 29))
        keys = list(self.cached)
        if cls == "refit":
            growable = [k for k in keys if len(self.cached[k]["mean"]) < self.MAX_HORIZON]
            # a run fast enough to grow every cache to MAX_HORIZON (several
            # hundred refits) sends hits instead
            if growable:
                keys = growable
            else:
                cls = "hit"
        key = keys[int(rng.integers(0, len(keys)))]
        have = len(self.cached[key]["mean"])
        if cls == "refit":
            return "refit", key, int(rng.integers(have + 1, min(have + 7, self.MAX_HORIZON) + 1))
        return "hit", key, int(rng.integers(1, have + 1))

    def warm_up(self) -> None:
        # a train (its key leaves the stream), a refit, then hits: the
        # request path's JVM and Python code is warm before timing
        (name, index), m = self.untrained.pop()
        self.engine.forecast(name, index, m, horizon=5).collect()
        keys = list(self.cached)
        name, index, m = keys[0]
        self.engine.forecast(name, index, m, horizon=20).collect()
        self.cached[keys[0]] = self.store.load_forecast(name, index, m)
        for j in range(self.WARM_HITS):
            name, index, m = keys[j % len(keys)]
            self.engine.forecast(name, index, m, horizon=7).collect()

    def op(self, i: int):
        cls, key, h = self._next_request()
        self.classes.append(cls)
        self.last_key = key
        name, index, m = key
        df = self.timed("build", lambda: self.engine.forecast(name, index, m, horizon=h))
        rows = self.timed("action", df.collect)
        return cls, key, h, rows

    def op_failed(self) -> None:
        # the program may or may not have written this key: stop using it
        self.cached.pop(self.last_key, None)

    def check(self, i: int, value) -> bool:
        cls, key, h, rows = value
        rows = sorted(rows, key=lambda r: r["step"])
        if not bands_ok(rows, h) or any((r["name"], r["index"], r["method"]) != key for r in rows):
            return self.fail(f"request {i} {cls} {key} h={h}: bad rows")
        got = {k: np.array([r[k] for r in rows]) for k in BAND_KEYS}
        if cls == "hit":
            want = self.cached[key]
            if any(not np.array_equal(got[k], np.asarray(want[k])[:h]) for k in BAND_KEYS):
                return self.fail(f"request {i} hit {key} h={h}: not the cached prefix")
        elif cls == "refit":
            self.cached[key] = got
        else:
            # the cache now holds what training wrote (the prime, or the
            # horizon forecast when h > 14): read it back outside the timer
            if key[2] in self.CACHED_METHODS:
                self.cached[key] = self.store.load_forecast(*key)
        return True

    def finish(self) -> None:
        if not self.tracer.enabled:
            return
        # the calls the traced run observed must match each replayed class
        t = self.tracer
        scans, fits = t.ops_with("sources.scan"), t.ops_with("models.fit")
        writes, loads = t.ops_with("cache.write"), t.ops_with("cache.load_model")
        for i, cls in enumerate(self.classes):
            op = f"op{i}"
            seen = (scans[op] > 0, fits[op] > 0, writes[op] > 0, loads[op] > 0)
            want = {"hit": (False, False, False, False),
                    "refit": (False, False, True, True),
                    "train": (True, True, True, False)}[cls]
            if seen != want:
                self.fail(f"request {i}: replayed class {cls} but traced calls "
                          f"scan/fit/write/load_model = {seen}")


# --- query_mix -------------------------------------------------------------

class QueryMix(Workload):
    """Registered queries from ``__spark_entry__.queries()`` over seeded
    test-data-shaped tables: a TPC-H aggregate, a text dedup, a
    lineage-cutting MinHash dedup whose cost is mostly construction, a
    grouped-map forecast query and a streaming replay.  One checked warm
    pass, then timed passes, each running every query once in a seeded
    order; ``lineage.release_stale`` runs between queries, outside the
    timer.  The percentiles are over pass times: a pass sums the same
    queries every time, so it has no rank to flip.  ``names`` records which
    query each operation ran, for the trace."""

    name = "query_mix"
    QUERIES = ("q1_pricing_summary", "dedup_exact", "minhash_lsh_pairs",
               "forecast_snaive_events", "events_stream_tumbling_1h")
    PASS = len(QUERIES)
    # a pass takes about 3 s on a quiet host, so a 15 s window holds five;
    # when the host is slow the window waits for them
    MIN_PASSES = 5
    WARM_QUERY = "q1_pricing_summary"

    def generate(self, spark, in_dir: str) -> None:
        import __spark_entry__ as entry

        self.spark = spark
        self.dir = in_dir
        gen.write_tables(self.seed, in_dir)
        registry = entry.queries()
        self.queries = {n: registry[n] for n in self.QUERIES}
        self.rng = np.random.default_rng([self.seed, 5])
        self.order: list[str] = []
        self.rows: dict[str, int] = {}
        self.names: list[str] = []

    def warm_up(self) -> None:
        self._run(self.WARM_QUERY)
        self.release()

    def _run(self, name: str):
        return self.queries[name](self.spark, self.dir).toArrow()

    def release(self) -> None:
        from qrapids_forecast_r_script_spark.lineage import release_stale
        with self.tracer.span("lineage.release"):
            n = release_stale(self.spark)
        self.tracer.count("lineage.released", n)

    def prepare(self) -> None:
        """The checked warm pass: every query against its DuckDB oracle,
        compared by ``tools/strict_audit.py``'s strict comparison."""
        import duckdb
        import __spark_entry__ as entry
        from tools.strict_audit import TABLE_NAMES, strict_compare

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.dir, t + '.parquet')}')")
        for name in self.QUERIES:
            self.extra_attempted += 1
            try:
                got = self._run(name).to_pandas()
                problems = strict_compare(got, con.execute(oracles[name]).arrow().to_pandas())
            except Exception as exc:  # noqa: BLE001 - a failed query is counted, not fatal
                problems = [f"{type(exc).__name__}: {exc}"[:300]]
            self.release()
            if problems:
                self.fail(f"warm pass {name}: {problems}")
            else:
                self.rows[name] = len(got)
        con.close()

    def op(self, i: int):
        if i % self.PASS == 0:
            self.order = [self.QUERIES[j] for j in self.rng.permutation(self.PASS)]
        name = self.order[i % self.PASS]
        self.names.append(name)
        q = self.queries[name]
        df = self.timed("operators.construct", lambda: q(self.spark, self.dir))
        table = self.timed("action", df.toArrow)
        return name, table.num_rows

    def after_op(self) -> None:
        self.release()

    def samples(self, ops: list[dict]) -> list[float]:
        """One sample per pass in which every query passed its check."""
        passes: dict[int, list[dict]] = {}
        for o in ops:
            passes.setdefault(o["pass"], []).append(o)
        return [sum(o["latency_s"] for o in p) for p in passes.values()
                if len(p) == self.PASS and all(o["ok"] for o in p)]

    def check(self, i: int, value) -> bool:
        name, n = value
        if self.rows.get(name) != n:
            return self.fail(f"query {i} {name}: {n} rows, warm pass had {self.rows.get(name)}")
        return True


WORKLOADS = {w.name: w for w in (ForecastService, QueryMix)}
