"""Materialized-intermediate release discipline (r10, VERDICT r9 item 3).

Round 9's lineage cuts left ~135 ``localCheckpoint()`` / ``persist()``
sites with NO ``unpersist`` anywhere.  In the driver's 405-query x
3-rep single-JVM bench every query construction therefore leaves its
materialized blocks in the block manager (and, for the ranked helper's
``persist()``, an entry in the SQL CacheManager) for the remainder of
the run: thousands of dead RDDs accumulate, the CacheManager's
plan-equality lookup walks an ever-growing entry list on EVERY
subsequent query's planning, and — the r9 honesty flag — bench reps
2-3 of a ranked-family query plan-match rep 1's still-live cache entry
and measure a cache read instead of computing from parquet.

:func:`release_stale` is called at SEQUENTIAL HARNESS BOUNDARIES ONLY
— ``bench.py`` between timed reps, ``perfbench`` between queries —
points where, by the harness's own construct -> action -> construct
-> action structure, every materialized intermediate from previous
invocations is dead.  It
must NOT be wired into the product surface (``__spark_entry__.
queries()``): query construction/execution is legitimately concurrent
(guide §2.6 — independent jobs submitted from a thread pool; the
oracle-parity pytest pool does exactly that), and a cross-thread
release can drop localCheckpoint blocks (unrecoverable — lineage is
truncated) or clear the persisted ranged layout out from under an
in-flight ``exact_ntile`` two-pass consumer (measured: a 0-row
``nb_calibration_curve`` under the parity pool when this hook briefly
lived at query entry).

This is a RELEASE discipline, not result caching: nothing is ever
persisted across bench reps or driver runs — strictly the reverse.
Each timed rep starts with an empty SQL cache and an empty (or
near-empty) block manager, so every rep computes from the parquet
inputs.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def release_stale(spark: SparkSession) -> int:
    """Unpersist every persistent RDD and clear the SQL cache; return
    #RDDs released.

    Call ONLY from a sequential harness between one query's action and
    the next query's construction (module docstring).

    Never raises: a release failure must not take down a bench run.
    """
    released = 0
    try:
        jsc = spark.sparkContext._jsc
        jmap = jsc.getPersistentRDDs()
        for rid in jmap.keySet().toArray():
            rdd = jmap.get(rid)
            if rdd is not None:
                rdd.unpersist(False)
                released += 1
        # SQL CacheManager entries (the ranked-helper persist() sites).
        # Entries are recompute-safe (InMemoryRelation keeps full
        # lineage), and at a harness boundary nothing is in flight:
        # clearing stops the CacheManager entry list from growing for
        # the whole suite and makes each bench rep recompute from
        # parquet (VERDICT r9 item 4 — honest ranked-family medians).
        spark.catalog.clearCache()
    except Exception:  # noqa: BLE001 — release is best-effort
        pass
    return released
