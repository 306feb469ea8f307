"""BAGGEDETS replicate fan-out — the second straggler of the same shape.

``fit_bagged_ets`` (``models/bagged.py``, reference semantics
``TimeSeriesFunctions_GPL_0.5.1.R:204-219``) fits ETS on 100 bootstrap
replicates inside ONE task — at 10k points that is ~100 × the ~6 s ETS
fit ≈ 10 minutes in a single task, strictly worse than the HYBRID
straggler SCALE.md budgeted.  The bootstrap is deterministically seeded
per series (``seeded_rng(*seed_key, "mbb")``) and replicate generation
is cheap relative to the fit (one STL decomposition + block resampling),
so each Spark task can regenerate the replicate list locally and fit
exactly ONE member — bit-identical to the member the sequential loop
fits.

Plan shape mirrors ``hybrid_fanout``: JVM series assembly (shared
``_assemble_series``) → JVM replicate explosion → range spread → one
``mapInPandas`` fit stage → one ``cogroup`` of each series with its
members, whose per-series call stacks the member point forecasts in
replicate order and hands them to the model's own ``envelope`` (mean +
min/max, the single band duplicated into both pairs, R:216-217).  A
failed member NaNs the series through ``api.forecast_or_nan``, the rule
the single-task path applies, so the rows equal
``forecast_batch(..., "BAGGEDETS")`` bit for bit
(``tests/test_bagged_fanout.py``).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from .. import schemas
from .api import forecast_or_nan
from .hybrid_fanout import _assemble_series
from .models.bagged import NUM_REPLICATES, envelope
from .models.common import DEGENERATE_ERRORS

_REP_RESULT = T.StructType([
    T.StructField("name", T.StringType()),
    T.StructField("index", T.StringType()),
    T.StructField("rep", T.LongType()),
    # 'member' (points set) | 'fail' (a member fit/forecast degenerated
    # → the sequential path would raise out of fit_bagged_ets and NaN
    # the series, so the per-series combine does too)
    T.StructField("kind", T.StringType()),
    T.StructField("points", T.ArrayType(T.DoubleType())),
])


def _run_members(frequency: int, horizon: int):
    """One row in = one bootstrap member: regenerate the seeded
    replicate list (cheap: one STL + block resampling), fit ETS on
    member ``rep`` only, emit its point forecast."""
    m = max(1, int(frequency))
    h = int(horizon)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from collections import OrderedDict

        from .models.bagged import mbb_bootstrap
        from .models.common import seeded_rng
        from .models.ets import fit_ets
        # Bounded LRU, NOT an unbounded per-partition dict (ADVICE r6):
        # a full replicate list is ~100×n×8 bytes (~8 MB at 10k points),
        # and the cache lives for the whole partition — unbounded it
        # retains one list per distinct series the partition ever sees,
        # an executor OOM with many series.  repartitionByRange keeps
        # each series' reps contiguous, so 2 entries cover the seam
        # between adjacent series; a miss only re-runs the cheap
        # STL+block-resample generation, never a fit.
        reps_cache: OrderedDict[tuple, list] = OrderedDict()

        def replicates(key, y):
            if key not in reps_cache:
                # EXACTLY the batch path's stream: fit_and_forecast_pdf
                # passes seed_key=(name, index, method) into
                # fit_bagged_ets, which seeds (*seed_key, "mbb")
                rng = seeded_rng(key[0], key[1], "BAGGEDETS", "mbb")
                reps_cache[key] = mbb_bootstrap(y, m, NUM_REPLICATES, rng)
                while len(reps_cache) > 2:
                    reps_cache.popitem(last=False)
            reps_cache.move_to_end(key)
            return reps_cache[key]

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                y = np.asarray(r.y, float)
                try:
                    series = replicates((r.name, r.index), y)[r.rep]
                    member = fit_ets(series, m, damped=None)
                    pts = np.asarray(member.point_forecast(h), float)
                    rows.append({"name": r.name, "index": r.index,
                                 "rep": int(r.rep), "kind": "member",
                                 "points": [float(v) for v in pts]})
                except DEGENERATE_ERRORS:
                    rows.append({"name": r.name, "index": r.index,
                                 "rep": int(r.rep), "kind": "fail",
                                 "points": None})
            yield pd.DataFrame(rows, columns=[f.name for f in _REP_RESULT])

    return fn


def _combine(horizon: int):
    """The per-series stage: the series' members in, its forecast rows
    out."""
    h = int(horizon)

    def fn(key, _series: pd.DataFrame, members: pd.DataFrame) -> pd.DataFrame:
        def bands():
            if (members["kind"] == "fail").any():
                raise ValueError("a bagged ETS member degenerated")
            points = members.sort_values("rep")["points"]
            return envelope(np.array([np.asarray(p, dtype=float)
                                      for p in points]))

        return forecast_or_nan(str(key[0]), str(key[1]), "BAGGEDETS", h,
                               bands)

    return fn


def bagged_fanout_batch(spark: SparkSession, metrics: DataFrame,
                        frequency: int = 7, horizon: int = 14) -> DataFrame:
    """Drop-in for ``forecast_batch(..., "BAGGEDETS")`` output: the
    same (name, index, method, step, 5 bands) rows."""
    from ..session import shuffle_width
    h = int(horizon)
    series = _assemble_series(metrics, h).localCheckpoint()
    units = (series
             .withColumn("rep", F.explode(F.sequence(
                 F.lit(0), F.lit(NUM_REPLICATES - 1))))
             .select("name", "index", "rep", "y"))
    # Range spread, not round-robin (ADVICE r6): every series has
    # exactly NUM_REPLICATES reps, so ranges of (name, index, rep) are
    # balanced AND each partition sees a contiguous rep-chunk of few distinct
    # series — the bounded replicate cache in _run_members then hits on
    # almost every row instead of regenerating per interleaved row.
    members = (units
               .repartitionByRange(shuffle_width(spark),
                                   "name", "index", "rep")
               .mapInPandas(_run_members(frequency, h),
                            schema=_REP_RESULT))
    key = ["name", "index"]
    return (series.select(*key).groupBy(*key)
            .cogroup(members.groupBy(*key))
            .applyInPandas(_combine(h), schema=schemas.FORECAST))
