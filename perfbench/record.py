#!/usr/bin/env python3
"""Record steadiness and traced runs of the benchmark.

    python3 perfbench/record.py steady --seeds 1-10 [--workloads a,b] [--out NAME]
    python3 perfbench/record.py traced --seed 11 [--workloads a,b] [--out NAME]

``steady`` runs every workload once per seed (untraced) and reports, per
end-to-end metric, the median, the quartiles as ``statistics.quantiles(v,
n=4)`` gives them, and the spread (Q3 - Q1) / median, next to the bound
in ``BENCHMARK.json``.  ``traced`` runs each workload untraced and then
traced on one seed and reports the per-layer metrics, the self time per
span name, and the tracing overhead per end-to-end metric.  Results go to
``perfbench/results/<NAME>.json`` and ``.md``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    elapsed = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if p.returncode in (0, 1) and lines else None
    if result is None or not result["correct"]:
        sys.stderr.write(p.stdout[-3000:] + p.stderr[-3000:])
    print(f"{workload} seed={seed} trace={trace} rc={p.returncode} {elapsed:.1f}s "
          + (json.dumps({k: round(v["value"], 4) for k, v in result["metrics"].items()})
             if result and not trace else ""), flush=True)
    return {"workload": workload, "seed": seed, "trace": trace, "rc": p.returncode,
            "elapsed_s": elapsed, "result": result}


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        a, b = text.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in text.split(",")]


def steady(bench: dict, workloads: list[str], seeds: list[int]) -> tuple[dict, str]:
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = [run(w, s, bench["run_seconds"], 0) for w in workloads for s in seeds]
    table, lines = {}, ["| workload | metric | median | Q1 | Q3 | spread | bound/3 | bound |",
                        "|---|---|---|---|---|---|---|---|"]
    for w in workloads:
        ok = [r["result"] for r in runs if r["workload"] == w and r["result"]]
        table[w] = {}
        for name, bound in bounds.items():
            v = [r["metrics"][name]["value"] for r in ok]
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / statistics.median(v)
            table[w][name] = {"values": v, "median": statistics.median(v), "q1": q1, "q3": q3,
                              "spread": spread, "bound": bound}
            lines.append(f"| {w} | {name} | {statistics.median(v):.4g} | {q1:.4g} | {q3:.4g} | "
                         f"{spread:.3f} | {bound / 3:.3f} | {bound} |")
        bad = [r for r in runs if r["workload"] == w and (not r["result"] or not r["result"]["correct"])]
        table[w]["_runs"] = {"n": len(ok), "incorrect": len(bad),
                             "elapsed_s": [round(r["elapsed_s"], 1) for r in runs if r["workload"] == w]}
    total = sum(r["elapsed_s"] for r in runs)
    lines.append("")
    lines.append(f"{len(runs)} runs, {total:.0f} s in all, mean {total / len(runs):.1f} s per run.")
    return {"seeds": seeds, "workloads": table}, "\n".join(lines)


def traced(bench: dict, workloads: list[str], seed: int) -> tuple[dict, str]:
    out, lines = {}, []
    for w in workloads:
        plain = run(w, seed, bench["run_seconds"], 0)
        tr = run(w, seed, bench["run_seconds"], 1)
        trace = json.loads((ROOT / ".perfbench_out" / f"trace-{w}-seed{seed}.json").read_text())
        e2e_plain = {k: v["value"] for k, v in plain["result"]["metrics"].items()}
        e2e_traced = trace["end_to_end_traced"]
        overhead = {k: e2e_traced[k] / e2e_plain[k] - 1.0 for k in e2e_plain}
        out[w] = {"per_layer": {k: v["value"] for k, v in tr["result"]["metrics"].items()},
                  "self_times": trace["self_times"], "latency_by_class": trace["latency_by_class"],
                  "setups": trace["setups"],
                  "window": {k: v for k, v in trace["window"].items() if k != "ops"},
                  "spark_jobs": trace["spark_jobs"], "end_to_end_untraced": e2e_plain,
                  "end_to_end_traced": e2e_traced, "tracing_overhead": overhead}
        busy = trace["window"]["busy_s"]
        lines += [f"### {w} (seed {seed})", "",
                  "Self time per span name over the timed window "
                  f"(busy {busy:.2f} s, {len(trace['window']['ops'])} operations):", "",
                  "| span | calls | total s | self s | self share of busy |", "|---|---|---|---|---|"]
        for name, v in sorted(trace["self_times"].items(), key=lambda kv: -kv[1]["self_s"]):
            lines.append(f"| {name} | {v['calls']} | {v['total_s']:.3f} | {v['self_s']:.3f} | "
                         f"{v['self_s'] / busy:.3f} |")
        if trace["latency_by_class"]:
            lines += ["", "Latency by request class: " + ", ".join(
                f"{c} n={v['n']} p50 {v['p50_ms']:.1f} ms p90 {v['p90_ms']:.1f} ms"
                for c, v in trace["latency_by_class"].items())]
        if trace["queries"]:
            lines += ["", "Per query, median over the passes (s):", "",
                      "| query | construct | execute |", "|---|---|---|"]
            for name, v in trace["per_query_s"].items():
                lines.append(f"| {name} | {v['construct']:.3f} | {v['execute']:.3f} |")
        lines += ["", "Tracing overhead (traced / untraced - 1): " + ", ".join(
            f"{k} {v:+.3f}" for k, v in overhead.items()), "",
                  "| per-layer metric | value |", "|---|---|"]
        lines += [f"| {k} | {v:.6g} |" for k, v in out[w]["per_layer"].items()]
        lines.append("")
    return {"seed": seed, "workloads": out}, "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("steady", "traced"))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seed", type=int, default=11)
    ap.add_argument("--workloads")
    ap.add_argument("--out")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    if args.mode == "steady":
        data, md = steady(bench, workloads, seeds_arg(args.seeds))
    else:
        data, md = traced(bench, workloads, args.seed)
    print(md)
    if args.out:
        (HERE / "results").mkdir(exist_ok=True)
        (HERE / "results" / f"{args.out}.json").write_text(json.dumps(data, indent=1) + "\n")
        (HERE / "results" / f"{args.out}.md").write_text(md + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
