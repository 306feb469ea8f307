#!/usr/bin/env python
"""Generate PLANS.md: measured physical-plan shape for every benched
query (``bench.run_list``) plus three plan-only extras, at a given
scale dir (default sf0.01).

Each row is produced by ``plans.plan_report`` AFTER executing the query
(collect), so AQE's final plan is what gets recorded — shuffle count,
broadcast joins, codegen spans, Python-operator count, pushed-filter
scans.  This is the artifact that ties SCALE.md's design claims to the
plans Spark actually ran.

Usage: python tools/gen_plans_report.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entrymod
    from bench import run_list
    from qrapids_forecast_r_script_spark.plans import plan_report
    from qrapids_forecast_r_script_spark.session import get_spark

    spark = get_spark("plan-report")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    # plan-only extras, all in bench's EXCLUDED_ITERATIVE_FITS (the
    # all-method backtest re-fits all 10 models — 3 bench reps of that
    # is pure fit time, and the fit cost is series-count-bound, not
    # SF-bound), but whose plan shape still belongs in this artifact.
    extra = ["forecast_method_backtest",
             # the hybrid fan-out's plan shape (unit explosion → one
             # mapInPandas fit stage → one per-series cogroup combine)
             # is the point of the operator — record it even though its
             # bench cost is fit-bound, not SF-bound, like the backtest
             "forecast_hybrid_fanout_events",
             "forecast_baggedets_fanout_events"]

    rows = []
    for name in run_list(qs) + extra:
        df = qs[name](spark, sf_dir)
        df.collect()          # finalize AQE so the recorded plan is the real one
        rep = plan_report(df)
        rows.append((name, rep))

    out = [
        "# PLANS — measured physical-plan shapes (benched queries)",
        "",
        f"Generated by `tools/gen_plans_report.py` at `{sf_dir}`, after",
        "execution (AQE-final plans).  Columns: shuffle exchanges, broadcast",
        "joins, whole-stage-codegen spans, Python-boundary operators, scans",
        "with pushed filters / total scans, cartesian products (must be 0).",
        "",
        "| query | shuffles | bcast joins | codegen spans | python ops |"
        " pushed/scans | cartesian |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, r in rows:
        out.append(
            f"| {name} | {r['shuffles']} | {r['broadcast_joins']} |"
            f" {r['codegen_spans']} | {r['python_ops']} |"
            f" {r['pushed_filters']}/{r['scans']} |"
            f" {'YES ⚠' if r['cartesian'] else '0'} |")
    out += [
        "",
        "Reading guide: `python ops` is non-zero only where the design",
        "budgets it (grouped forecast fitting incl. the all-method",
        "backtest, multimodal extraction, and the two documented",
        "API-surface demos: the UDTF chunker and the cogrouped as-of",
        "alignment — SCALE.md §Python boundary budget).  Streaming queries execute",
        "through their memory-sink table, so their row reports the final",
        "batch read; the streaming micro-batch plans are asserted in",
        "tests/test_plan_shapes.py and tests/test_streaming_stateful.py.",
        "Iterative queries (dedup_clusters) return a localCheckpoint-ed",
        "result, so their row shows the post-checkpoint read — the",
        "per-iteration join plans are asserted in their own tests.",
    ]
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
        fh.write("\n".join(out) + "\n")
    print(f"wrote PLANS.md ({len(rows)} queries)")


if __name__ == "__main__":
    main()
