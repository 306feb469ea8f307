"""Driver-window allocation guard.

The per-round driver hash-checks only the FIRST ~50 entries of
``__spark_entry__.queries()`` — the ordering is deliberate signal
allocation.  Round 9's window is TOOL-DERIVED (`tools/rotation_window.py`
at the r01-r08 artifact state, re-run after the 10 r9 registrations
landed — the r8 precedent: register first, THEN freeze): 27
first-signal slots (the ENTIRE never-passed oracled backlog — the 10
r8-new registrations, then the 7-query r8 window spill, then the 10 r9
registrations, in module order) + 3 tier-1 re-verify slots
(`events_sliding_1h_30m` ever-failed-first, then the two oldest tier-1
greens) + 20 TRANSITION backfill slots in the rotation-era
ordering (the two r1 hash-red drift markers `q12_shipmode_priority`/
`events_zscore_outliers` first, then oldest-green-first).  This is the
last drain-era round: a green r9 artifact empties the backlog and r10
flips to era="rotation" (the handoff-simulation test below pins that).
A registry edit that silently reorders, un-oracles, or re-allocates the
window would cost a round of correctness signal; this file pins the
contract.

STATE-SENSITIVITY FIX (r7 verdict, What's wrong #1): the window is a
function of the artifact set it was derived FROM — rounds < 8.  Every
assertion here that replays the derivation does so against a FROZEN
copy of exactly those artifacts in a temp repo (the 7f56f67 pattern),
so the driver depositing CORRECTNESS_r08.json (or any later round) in
the live repo can never redden this suite.  Live-repo assertions are
restricted to things that are invariant under new artifacts (ordering
of the pinned list itself, oracle coverage).

Failure semantics (ADVICE r7, medium #1): "checked" everywhere below
means a PASSING driver row (rows+schema matched, err null, hash not
red) — a failed check re-enters the backlog rather than counting as
seen.
"""

import glob
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

import __spark_entry__ as E
from tools.rotation_window import _row_passed, derive_window, driver_history

WINDOW = 50

# The round whose window this file pins.  The derivation's input is the
# artifact set of rounds < CURRENT_ROUND; artifacts from CURRENT_ROUND
# or later (deposited by the driver AFTER the window was frozen) must
# not affect any assertion here.
CURRENT_ROUND = 9
# Every slot past the 27-name backlog head is a re-verify/backfill slot
# (previously green at planning time): the 3 tier-1 re-verify picks plus
# the 20 transition-backfill names (see the window-policy comment).
N_FIRST_SIGNAL_IN_ORDER = 27
TIER1_RE_VERIFY = ("events_sliding_1h_30m", "events_session_windows",
                   "events_stream_dedup_hourly")
RE_VERIFY_SLOTS = set(E.FRONT_WINDOW[N_FIRST_SIGNAL_IN_ORDER:])
PROMOTED_SLOTS: set[str] = set()  # no out-of-order promotion this round

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _artifact_paths(max_round: int | None) -> list[str]:
    out = []
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        if max_round is not None and int(m.group(1)) >= max_round:
            continue
        out.append(path)
    return out


@pytest.fixture()
def frozen_repo(tmp_path):
    """A temp repo holding EXACTLY the artifact set the r9 window was
    derived from (rounds < CURRENT_ROUND) — the derivation replayed
    against it is immune to driver deposits in the live repo."""
    for p in _artifact_paths(max_round=CURRENT_ROUND):
        shutil.copy(p, tmp_path)
    return str(tmp_path)


def _checked(max_round: int | None = None) -> set[str]:
    """Names with a PASSING driver row, optionally restricted to
    planning-time rounds (< max_round)."""
    checked: set[str] = set()
    for path in _artifact_paths(max_round):
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        checked |= {n for n, r in rows.items() if _row_passed(r)}
    return checked


def test_front_window_matches_declared_allocation():
    # the first len(FRONT_WINDOW) entries are exactly the declared list,
    # in order — capability-invariant (no conditional registration may
    # shift a slot, ADVICE r2)
    qs = list(E.queries())
    assert qs[:len(E.FRONT_WINDOW)] == E.FRONT_WINDOW


_KEYS_SCRIPT = """
import json, sys
import __spark_entry__ as E
print(json.dumps({"q": list(E.queries()), "o": list(E.oracle_sql()),
                  "rotation_loaded": "tools.rotation_window" in sys.modules}))
"""


def _registry_keys(root: str) -> dict:
    out = subprocess.run([sys.executable, "-c", _KEYS_SCRIPT], cwd=root,
                         capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_queries_are_a_pure_function_of_the_code(tmp_path):
    """queries() and oracle_sql() read no CORRECTNESS artifact: they never
    load the rotation tool, and a checkout copy without any
    CORRECTNESS_r*.json builds the same keys in the same order."""
    live = _registry_keys(ROOT)
    assert not live["rotation_loaded"]
    shutil.copy(os.path.join(ROOT, "__spark_entry__.py"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "qrapids_forecast_r_script_spark"),
                    tmp_path / "qrapids_forecast_r_script_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    bare = _registry_keys(str(tmp_path))
    assert bare["q"] == live["q"] == list(E.queries())
    assert bare["o"] == live["o"] == list(E.oracle_sql())


def test_window_is_exactly_fifty():
    assert len(E.FRONT_WINDOW) == WINDOW
    assert len(set(E.FRONT_WINDOW)) == WINDOW  # no duplicate slots
    # the declared tier-1 re-verify picks sit directly behind the
    # backlog head, in the tool's priority order
    tier1_pos = N_FIRST_SIGNAL_IN_ORDER
    assert tuple(E.FRONT_WINDOW[tier1_pos:tier1_pos + 3]) == TIER1_RE_VERIFY


def test_window_is_fully_oracled():
    """Every window query must carry an exact DuckDB oracle — zero
    rows-only slots (standing policy since r5 verdict item 1)."""
    qs, oracles = E.queries(), E.oracle_sql()
    window = list(qs)[:WINDOW]
    rows_only = [n for n in window if n not in oracles]
    assert not rows_only, rows_only


def test_first_signal_slots_never_passed_before():
    """Every slot OUTSIDE the declared re-verify set goes to a query
    that has never had a PASSING driver row in any planning-time round
    (an undeclared re-check would burn first-signal capacity)."""
    checked = _checked(max_round=CURRENT_ROUND)
    rechecks = [n for n in E.FRONT_WINDOW
                if n in checked and n not in RE_VERIFY_SLOTS]
    assert not rechecks, rechecks


def test_re_verify_slots_are_actually_previously_green():
    """The rotation slots must RE-verify — each declared re-verify
    query needs a prior-round PASSING row; spending a rotation slot on
    a never-checked query would mislabel first-signal as re-verify."""
    checked = _checked(max_round=CURRENT_ROUND)
    not_prior = [n for n in RE_VERIFY_SLOTS if n not in checked]
    assert not not_prior, not_prior
    assert RE_VERIFY_SLOTS <= set(E.FRONT_WINDOW)


def test_ever_failed_re_verify_slots_lead_their_pools(frozen_repo):
    """The tool's ever-failed priority must pull every historic driver
    failure into this window ahead of same-age and older greens.
    Frozen artifact set: later driver rows can't change the r9 planning
    facts."""
    from tools.rotation_window import RECURSIVE_CTE, _streaming_names

    hist = driver_history(repo=frozen_repo)
    ever_failed_oracled = {
        n for n, h in hist.items()
        if h["ever_failed"] and n in E.oracle_sql()}
    # the full historic-failure census as of r9 planning: the r2
    # schema-red sliding window + the two r1 hash-reds (int64 vs
    # HUGEINT typing), all re-greened the following round — r8 added
    # no new failures (50/50 green)
    assert ever_failed_oracled == {"events_sliding_1h_30m",
                                   "q12_shipmode_priority",
                                   "events_zscore_outliers"}
    # the sliding window is the single tier-1 ever-failed member and
    # must LEAD the tier-1 re-verify picks; the two r1 hash-reds lead
    # the rotation-ordered transition backfill directly behind them
    tier1 = set(_streaming_names()) | set(RECURSIVE_CTE)
    assert ever_failed_oracled & tier1 == {"events_sliding_1h_30m"}
    assert E.FRONT_WINDOW[N_FIRST_SIGNAL_IN_ORDER] == "events_sliding_1h_30m"
    assert E.FRONT_WINDOW[N_FIRST_SIGNAL_IN_ORDER + 3:
                          N_FIRST_SIGNAL_IN_ORDER + 5] == [
        "q12_shipmode_priority", "events_zscore_outliers"]


def test_window_follows_registry_order_of_the_backlog():
    """The first-signal slots are the ENTIRE never-passed oracled
    backlog in MODULE-REGISTRY order (all 27 fit this round — the 10
    r8-new registrations, the 7-query r8 window spill, then the 10 r9
    registrations; the r9 names were registered BEFORE the window was
    frozen, the r8 precedent, so they take first-signal slots and a
    green r9 empties the backlog completely).  The derivation is
    recomputed from the module blocks WITHOUT the pin block — a
    registry insertion that would silently skip a backlog query changes
    the recomputed head and fails this test."""
    # round-9 additions (the full <= +10 budget, each strict-audited on
    # registration AND inside the frozen window): nonparametric trend +
    # randomness diagnostics, the forecastability entropy feature, A/B
    # effect size + exact randomization inference, the distributed-
    # order-statistic showcases (exact quantiles, Lorenz curve),
    # vocabulary richness + growth, and the DKW ECDF band
    r9_additions = {
        "series_mann_kendall", "series_turning_points",
        "series_spectral_entropy", "ab_cliffs_delta",
        "ab_permutation_test", "orders_exact_price_quantiles",
        "customer_lorenz_curve", "vocab_chao1_richness",
        "corpus_heaps_law", "events_dkw_ecdf_band",
    }
    assert len(r9_additions) <= 10, "freeze budget exceeded"
    checked = _checked(max_round=CURRENT_ROUND)
    oracles = E.oracle_sql()
    # module order = the merged blocks, the front-window pin block (index
    # 0) excluded.
    module_order: dict[str, object] = {}
    for qs_block, _ in E._registries()[1:]:
        module_order.update(qs_block)
    backlog = [n for n in module_order
               if n not in checked and n in oracles]
    # the tool's merged order respects the pin block that existed when
    # it ran, so the backlog comes out COHORT-ordered: the carried r8
    # names (pinned at the head at derivation time) in module order,
    # then the r9 registrations in module order — the exact order r10's
    # derivation will also see, since the new pin block now encodes it
    expected = ([n for n in backlog if n not in r9_additions]
                + [n for n in backlog if n in r9_additions])
    first_signal = E.FRONT_WINDOW[:N_FIRST_SIGNAL_IN_ORDER]
    assert first_signal == expected, (
        "first-signal slots must be exactly the never-passed oracled "
        "backlog, cohort-ordered (carried r8 backlog then r9 "
        "additions, module order within each cohort)")


# ---------------------------------------------------------------------------
# tools/rotation_window.py — the self-advancing cursor (r6 verdict item 5)


def test_rotation_tool_replays_the_pinned_window_from_frozen_artifacts(
        frozen_repo):
    """The ENTIRE pinned window — first-signal head AND re-verify tail —
    must equal the tool's derivation at the artifact state it was
    frozen from (rounds < CURRENT_ROUND, frozen_repo fixture).  Run
    against the frozen copy, this can never be reddened by the driver
    depositing r08+ artifacts in the live repo (r7 verdict, What's
    wrong #1)."""
    res = derive_window(cap=WINDOW, n_reverify=3, repo=frozen_repo)
    assert res["era"] == "drain"
    assert res["window"] == E.FRONT_WINDOW


def test_rotation_tool_failed_rows_do_not_count_as_checked(tmp_path):
    """ADVICE r7 medium #1: a query whose only driver row is a FAILURE
    must stay in the backlog (and jump to its front), not count as
    checked and sort to the rotation's back."""
    oracles = E.oracle_sql()
    ok = {"rows_match": True, "schema_match": True, "hash_match": True,
          "spark_rows": 1, "oracle_rows": 1, "err": None}
    bad = {"rows_match": True, "schema_match": False, "hash_match": False,
           "spark_rows": 1, "oracle_rows": 1, "err": None}
    names = list(oracles)
    failed = names[37]  # arbitrary non-head oracled query
    rows = {n: ok for n in names if n != failed}
    rows[failed] = bad
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(rows))
    res = derive_window(cap=WINDOW, n_reverify=3, repo=str(tmp_path))
    assert res["era"] == "drain", "a failed-only query must re-enter backlog"
    assert res["backlog_size"] == 1
    assert res["window"][0] == failed, (
        "the standing failure must lead the next window")


def test_rotation_tool_green_then_failed_reenters_backlog_front(tmp_path):
    """r8 review finding: a query that PASSED in an earlier round and
    FAILED in its latest row is a standing regression — it must
    re-enter the backlog at its very front (not sit out the drain era
    because the tier-1-only re-verify pool can't reach it)."""
    oracles = E.oracle_sql()
    ok = {"rows_match": True, "schema_match": True, "hash_match": True,
          "spark_rows": 1, "oracle_rows": 1, "err": None}
    bad = {"rows_match": True, "schema_match": True, "hash_match": False,
           "spark_rows": 1, "oracle_rows": 1, "err": None}
    names = list(oracles)
    regressed = "q1_pricing_summary"  # r1-green, non-tier1 — the
    #                                   reviewer's simulated case
    assert regressed in oracles
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({n: ok for n in names}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({regressed: bad}))
    res = derive_window(cap=WINDOW, n_reverify=3, repo=str(tmp_path))
    assert res["era"] == "drain"
    assert res["backlog_size"] == 1
    assert res["window"][0] == regressed


def test_registry_hedge_includes_standing_regressions(tmp_path):
    """``rotation_window.driver_history`` skips a malformed artifact: a
    bare-list CORRECTNESS file must not break the derivation."""
    for p in _artifact_paths(max_round=None):
        shutil.copy(p, tmp_path)
    (tmp_path / "CORRECTNESS_r97.json").write_text(
        json.dumps(["a", "bare", "list"]))
    hist = driver_history(repo=str(tmp_path))
    assert "a" not in hist  # list artifact skipped, no crash


def test_rotation_tool_failed_then_green_gets_reverify_priority(tmp_path):
    """A query that failed once and later re-greened (the
    events_sliding_1h_30m shape) outranks never-failed same-age greens
    for re-verify slots — the ever-failed drift marker."""
    from tools.rotation_window import RECURSIVE_CTE, _streaming_names

    oracles = E.oracle_sql()
    tier1 = [n for n in (_streaming_names() + RECURSIVE_CTE)
             if n in oracles]
    ok = {"rows_match": True, "schema_match": True, "hash_match": True,
          "spark_rows": 1, "oracle_rows": 1, "err": None}
    bad = {"rows_match": True, "schema_match": False, "hash_match": False,
           "spark_rows": 1, "oracle_rows": 1, "err": None}
    flaky = tier1[-1]  # youngest-positioned tier-1 name: worst case for
    #                    plain oldest-green ordering
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({n: (bad if n == flaky else ok) for n in oracles}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({flaky: ok}))
    res = derive_window(cap=WINDOW, n_reverify=3, repo=str(tmp_path))
    assert res["era"] == "rotation"
    # rotation era: tier-1 sorts ever-failed first despite the r2
    # (younger) green
    assert res["window"][0] == flaky


def test_rotation_tool_rotation_era_tiers(tmp_path):
    """Once every oracled query has a passing driver row, the tool
    flips to the rotation era: tier-1 (streaming/stateful/recursive-
    CTE) fills the first ~10 slots, the rest is oldest-green-first, and
    the cursor advances as newer CORRECTNESS files land."""
    from tools.rotation_window import RECURSIVE_CTE, _streaming_names

    oracles = E.oracle_sql()
    row = {"rows_match": True, "schema_match": True, "hash_match": True,
           "spark_rows": 1, "oracle_rows": 1, "err": None}
    # round 1: everything green; round 2: a specific tier-2 slice
    # re-greened — those names must drop to the window's tail
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({n: row for n in oracles}))
    regreened = sorted(oracles)[:60]
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({n: row for n in regreened}))
    res = derive_window(cap=WINDOW, n_reverify=3, repo=str(tmp_path))
    assert res["era"] == "rotation"
    assert res["backlog_size"] == 0
    assert len(res["window"]) == WINDOW
    tier1 = res["window"][:10]
    tier1_pool = set(_streaming_names()) | set(RECURSIVE_CTE)
    assert set(tier1) <= tier1_pool
    # tier 2 is oldest-green-first: r2-regreened names may appear only
    # after every r1-only name has been consumed — with 300+ r1-only
    # names and a 40-slot tier 2, none should appear at all
    tier2 = res["window"][10:]
    assert not (set(tier2) & set(regreened)), (
        "recently-re-greened queries must sort behind older greens")


def test_rotation_tool_drain_backfills_transition_round(tmp_path):
    """When the backlog is smaller than the window, the drain era must
    backfill the remaining slots with rotation-ordered greens instead
    of emitting a short window (the r9 transition round)."""
    oracles = E.oracle_sql()
    row = {"rows_match": True, "schema_match": True, "hash_match": True,
           "spark_rows": 1, "oracle_rows": 1, "err": None}
    names = list(oracles)
    # everything green except 7 stragglers
    leftover = names[-7:]
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({n: row for n in names if n not in leftover}))
    res = derive_window(cap=WINDOW, n_reverify=3, repo=str(tmp_path))
    assert res["era"] == "drain"
    assert res["backlog_size"] == 7
    assert len(res["window"]) == WINDOW
    assert set(res["window"][:7]) == set(leftover)
    assert len(set(res["window"])) == WINDOW  # no duplicates


def test_rotation_tool_r10_handoff_enters_rotation_era(frozen_repo):
    """The r9-close simulation (r8 verdict item 3): simulate this
    round's driver run landing (every FRONT_WINDOW name green in a
    synthetic r09 artifact) ON TOP OF the frozen r01-r08 set.  The 27
    first-signal slots are the ENTIRE remaining backlog, so the next
    derivation must flip to era="rotation" and emit exactly what the
    window-policy comment promises: tier-1 drift-exposed surfaces
    (streaming / stateful / recursive-CTE) oldest-green-first in the
    first ~10 slots, then tier-2 oldest-green over the rest of the
    oracled registry.  Run against the frozen fixture so real driver
    deposits can't perturb the simulated state."""
    from tools.rotation_window import RECURSIVE_CTE, _streaming_names

    row = {"rows_match": True, "schema_match": True, "hash_match": True,
           "spark_rows": 1, "oracle_rows": 1, "err": None}
    with open(os.path.join(frozen_repo, "CORRECTNESS_r09.json"), "w") as fh:
        fh.write(json.dumps({n: row for n in E.FRONT_WINDOW}))
    # checked-set == exactly what the frozen + simulated artifacts hold
    checked: set[str] = set()
    for p in glob.glob(os.path.join(frozen_repo, "CORRECTNESS_r*.json")):
        with open(p) as fh:
            checked |= {n for n, r in json.load(fh).items()
                        if _row_passed(r)}
    oracles = E.oracle_sql()
    assert all(n in checked for n in oracles), (
        "a green r9 window must leave zero never-passed oracled queries")
    res = derive_window(cap=WINDOW, n_reverify=3, repo=frozen_repo)
    assert res["era"] == "rotation"
    assert res["backlog_size"] == 0
    assert len(res["window"]) == WINDOW
    assert len(set(res["window"])) == WINDOW
    # tier 1: drift-exposed surfaces fill the first min(10, |tier1|)
    # slots, every one previously green
    tier1_pool = {n for n in (_streaming_names() + RECURSIVE_CTE)
                  if n in oracles}
    n_tier1 = min(10, len(tier1_pool))
    head = res["window"][:n_tier1]
    assert set(head) <= tier1_pool
    # within tier 1, the ever-failed drift marker leads even though it
    # was just re-greened in the simulated r9 (ever-failed outranks
    # green age in every re-verify pool)
    assert head[0] == "events_sliding_1h_30m"
    # tier 2: ever-failed drift markers first (the two r1 hash-reds
    # lead even though the simulated r9 just re-greened them), then
    # oldest-green-first — non-ever-failed r9 re-greens (last_pass=9)
    # must not appear before every older green is consumed; with 340+
    # older greens and ~40 tier-2 slots, none appear at all
    tier2 = res["window"][n_tier1:]
    assert tier2[:2] == ["q12_shipmode_priority", "events_zscore_outliers"]
    r9_greens = set(E.FRONT_WINDOW) - tier1_pool - set(tier2[:2])
    assert not (set(tier2) & r9_greens), (
        "just-re-greened queries must sort behind older greens")
    assert all(n in checked for n in res["window"])
