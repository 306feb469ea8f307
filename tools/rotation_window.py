#!/usr/bin/env python
"""Derive the next driver FRONT_WINDOW from the committed artifacts.

Its output is the committed ``__spark_entry__.FRONT_WINDOW``; the
registry itself never reads the artifacts.  Usable from r8 onward:

* **Drain era** (never-driver-checked oracled backlog non-empty): the
  window is first-signal — the next ``cap - n_reverify`` backlog names
  in merged-registry order, followed by ``n_reverify`` re-verify slots
  drawn from Tier-1 (drift-exposed) greens, oldest-green-first.
* **Rotation era** (backlog empty): Tier 1 fills ~10 slots with the
  drift-exposed surfaces (streaming, stateful, recursive-CTE — the
  queries that touch Spark internals that move between versions),
  oldest-green-first; Tier 2 fills the rest with the remaining oracled
  registry oldest-green-first, ties broken by merged-registry order, so
  every query is re-checked at least once every ~ceil(N/40) rounds.

"Oldest-green-first" = ascending by the LAST round that produced a
PASSING driver row for the query (never-passed counts as round 0); the
round number comes from the ``CORRECTNESS_r{N}.json`` filenames, so
landing a new artifact advances the cursor with no manual edits.

Failure semantics (ADVICE r7, medium #1): a driver row counts toward
"checked/green" only when it PASSED (rows+schema matched, no error,
hash not red).  A query whose LATEST driver row is a failure is the
single most urgent kind of signal, so it sorts to the FRONT — of the
backlog in the drain era (a failed query re-enters the backlog until
it passes) and of both tiers in the rotation era — never to the back
the old any-row semantics produced.

Usage::

    python tools/rotation_window.py [--cap 50] [--reverify 3]

Prints a ready-to-paste ``FRONT_WINDOW = [...]`` block plus a summary
to stderr.  Pure stdlib + the repo's own registry; no Spark session is
started (queries are never executed, only named).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

# Tier-1 drift-exposed surfaces.  Streaming/stateful names are derived
# from their modules; the recursive-CTE family (driver-side unrolled /
# localCheckpointed recursions over Spark state) is pinned by name —
# there is no shared engine helper to introspect.
RECURSIVE_CTE = [
    "ucb1_replay_policy",
    "hmm_forward_filter",
    "hmm_smoothed_posterior",
    "hmm_baum_welch_step",
    "hmm_viterbi_path",
]


def _streaming_names() -> list[str]:
    from qrapids_forecast_r_script_spark.streaming import queries as sq
    from qrapids_forecast_r_script_spark.streaming import stateful
    names: list[str] = []
    for reg in (sq.QUERIES, sq.EXTRA_QUERIES, stateful.QUERIES,
                stateful.EXTRA_QUERIES):
        names.extend(reg)
    return names


def _row_passed(row: object) -> bool:
    """True iff a driver CORRECTNESS row is a pass: no error, rows and
    schema matched, and the value hash not explicitly red.  Rows-only
    entries (``err: no_oracle``) and typed failures both return False —
    neither is a green signal (ADVICE r7, medium #1)."""
    return (isinstance(row, dict)
            and row.get("err") is None
            and row.get("rows_match") is True
            and row.get("schema_match") is True
            and row.get("hash_match") is not False)


def driver_history(repo: str = HERE) -> dict[str, dict]:
    """query name -> {"last_pass": N, "last_row": N, "failed_latest": bool}.

    ``last_pass`` is the highest round with a PASSING row (0 = never
    passed); ``last_row`` the highest round with ANY row;
    ``failed_latest`` is True when the most recent row is a failure —
    those queries jump to the front of every ordering; ``ever_failed``
    is True when ANY historic row failed — an empirical drift marker
    that prioritizes a query within re-verify pools even after it
    re-greened (e.g. events_sliding_1h_30m: r2 schema-red, r3 green)."""
    hist: dict[str, dict] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue  # malformed (e.g. a bare list) must not break us
        for name, row in rows.items():
            h = hist.setdefault(
                name, {"last_pass": 0, "last_row": 0,
                       "failed_latest": False, "ever_failed": False})
            if rnd >= h["last_row"]:
                h["last_row"] = rnd
                h["failed_latest"] = not _row_passed(row)
            if _row_passed(row):
                h["last_pass"] = max(h["last_pass"], rnd)
            elif row is not None and not (isinstance(row, dict)
                                          and row.get("err") == "no_oracle"):
                # a typed failure (not a rows-only no_oracle entry)
                h["ever_failed"] = True
    return hist


def last_checked_round(repo: str = HERE) -> dict[str, int]:
    """query name -> highest round with a PASSING driver row (missing =
    never passed).  Pass-only by design: a failed check is not
    'checked' for scheduling purposes — it must re-enter the queue."""
    return {n: h["last_pass"] for n, h in driver_history(repo).items()
            if h["last_pass"] > 0}


def derive_window(cap: int = 50, n_reverify: int = 3,
                  repo: str = HERE) -> dict:
    import __spark_entry__ as E

    all_q = list(E.queries())
    all_o = E.oracle_sql()
    oracled = [n for n in all_q if n in all_o]
    hist = driver_history(repo)
    seen = {n: h["last_pass"] for n, h in hist.items() if h["last_pass"]}
    failed_latest = {n for n, h in hist.items() if h["failed_latest"]}
    ever_failed = {n for n, h in hist.items() if h["ever_failed"]}
    order = {n: i for i, n in enumerate(all_q)}

    # backlog = never-PASSED oracled queries PLUS any query whose
    # LATEST row is a failure — even one that passed in an earlier
    # round (a standing regression must re-enter the queue, not wait
    # out the drain era in a tier-1-only re-verify pool); failures
    # jump to the very front — a standing failure is the most urgent
    # re-check there is
    backlog = sorted((n for n in oracled
                      if n not in seen or n in failed_latest),
                     key=lambda n: (n not in failed_latest, order[n]))
    tier1_all = [n for n in (_streaming_names() + RECURSIVE_CTE)
                 if n in all_o]
    # re-verify priority: standing failures first, then ever-failed
    # (empirically drift-exposed even after re-greening), then
    # oldest-green-first; merged order breaks ties
    green_key = lambda n: (n not in failed_latest, n not in ever_failed,
                           seen.get(n, 0), order[n])

    n_reverify = min(n_reverify, cap)
    if backlog:
        first_signal = backlog[:max(0, cap - n_reverify)]
        pool = sorted((n for n in tier1_all if n in seen), key=green_key)
        reverify = [n for n in pool if n not in first_signal][:n_reverify]
        window = first_signal + reverify
        # transition round: a nearly-drained backlog must not waste
        # verification slots — backfill the remainder with the
        # rotation-era ordering (oldest-green-first over the rest)
        if len(window) < cap:
            rest = sorted((n for n in oracled if n not in window),
                          key=green_key)
            window += rest[:cap - len(window)]
        era = "drain"
    else:
        tier1 = sorted(tier1_all, key=green_key)[:min(10, cap)]
        rest = sorted((n for n in oracled if n not in tier1), key=green_key)
        window = tier1 + rest[:max(0, cap - len(tier1))]
        era = "rotation"

    return {"era": era, "window": window, "backlog_size": len(backlog),
            "n_oracled": len(oracled), "n_tier1": len(tier1_all)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cap", type=int, default=50)
    ap.add_argument("--reverify", type=int, default=3)
    args = ap.parse_args()
    res = derive_window(args.cap, args.reverify)
    print(f"# era={res['era']} backlog={res['backlog_size']} "
          f"oracled={res['n_oracled']} tier1={res['n_tier1']}",
          file=sys.stderr)
    print("FRONT_WINDOW = [")
    for n in res["window"]:
        print(f'    "{n}",')
    print("]")


if __name__ == "__main__":
    main()
