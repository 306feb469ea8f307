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
fits, making the reassembled ensemble exactly equal
(``tests/test_bagged_fanout.py``).

Plan shape mirrors ``hybrid_fanout``: JVM series assembly (shared
``_assemble_series``) → JVM replicate explosion → round-robin spread →
one ``mapInPandas`` fit boundary → JVM ensemble reassembly
(mean/min/max envelope per step, the reference's single band duplicated
into both pairs, R:216-217).  NaN members poison the whole series step
exactly like numpy's mean/min/max do sequentially (Arrow nullifies NaN
array elements, and Spark's min would otherwise skip what numpy
propagates — same class of fix as the hybrid combine, r6 review).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from .. import schemas
from .hybrid_fanout import _assemble_series
from .models.bagged import NUM_REPLICATES
from .models.common import DEGENERATE_ERRORS

_REP_RESULT = T.StructType([
    T.StructField("name", T.StringType()),
    T.StructField("index", T.StringType()),
    T.StructField("rep", T.LongType()),
    # 'member' (points set) | 'fail' (a member fit/forecast degenerated
    # → the sequential path would raise out of fit_fn / NaN the series,
    # so the batch combine NaNs every step of the series)
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


def bagged_fanout_batch(spark: SparkSession, metrics: DataFrame,
                        frequency: int = 7, horizon: int = 14) -> DataFrame:
    """Drop-in for ``forecast_batch(..., "BAGGEDETS")`` output: the
    same (name, index, method, step, 5 bands) rows — ensemble mean +
    min/max envelope, single band duplicated (R:216-217)."""
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
                            schema=_REP_RESULT)
               .localCheckpoint())  # two consumers (fail scan + combine)
    poisoned = (members.where(F.col("kind") == "fail")
                .select("name", "index").distinct())
    nan = F.lit(float("nan"))
    z = (members.where(F.col("kind") == "member")
         .join(poisoned, ["name", "index"], "left_anti")
         .select("name", "index",
                 F.posexplode("points").alias("pos", "v"))
         # Arrow nullifies NaN array elements; numpy's mean/min/max all
         # propagate NaN sequentially, so restore it before aggregating
         .withColumn("v", F.coalesce("v", nan)))
    has_nan = F.max(F.when(F.isnan("v"), 1).otherwise(0)) == 1
    combined = (z.groupBy("name", "index", F.col("pos").alias("step"))
                .agg(F.when(has_nan, nan)
                     .otherwise(F.avg("v")).alias("mean"),
                     # Spark orders NaN greatest, so min() would skip a
                     # NaN member numpy propagates — the has_nan guard
                     # covers all three aggregates
                     F.when(has_nan, nan)
                     .otherwise(F.min("v")).alias("lower"),
                     F.when(has_nan, nan)
                     .otherwise(F.max("v")).alias("upper")))
    full = (series.select("name", "index")
            .withColumn("step",
                        F.explode(F.sequence(F.lit(0), F.lit(h - 1)))))
    return (full.join(combined, ["name", "index", "step"], "left")
            .select("name", "index",
                    F.lit("BAGGEDETS").alias("method"),
                    (F.col("step") + 1).cast("int").alias("step"),
                    F.coalesce("lower", nan).alias("lower1"),
                    F.coalesce("lower", nan).alias("lower2"),
                    F.coalesce("mean", nan).alias("mean"),
                    F.coalesce("upper", nan).alias("upper1"),
                    F.coalesce("upper", nan).alias("upper2"))
            # .to() aligns type AND nullability with the grouped-UDF
            # path so the forecast_batch dispatch is schema-invisible
            .to(schemas.FORECAST))
