"""bench.py stdout contract (r6 verdict item 2).

The driver records only the LAST ~2000 characters of bench.py's stdout
and JSON-parses the final line; rounds 4-6 lost the parse because the
full 266-entry per-query map (~8 kB) overflowed that tail.  The
contract, pinned here: ``headline_line`` always fits the tail with
headroom, always parses, always carries the driver-schema keys, and
keeps the SLOWEST queries so the truncated map is still the useful
subset.
"""

import json

from bench import headline_line


def _payload(n_queries: int, skipped: int = 0) -> dict:
    qs = {f"some_quite_long_query_name_{i:04d}": round(0.1 + i * 0.01, 3)
          for i in range(n_queries)}
    p = {"metric": "headline_suite_seconds",
         "value": round(sum(qs.values()), 3), "unit": "sec",
         "n_queries": len(qs), "queries": qs, "sf": 0.1, "reps": 3,
         "stat": "median"}
    if skipped:
        p["skipped"] = {f"gated_query_{i}": "SomeError: detail"
                        for i in range(skipped)}
    return p


def test_line_fits_driver_tail_at_every_registry_size():
    for n in (0, 1, 40, 266, 1000):
        line = headline_line(_payload(n))
        assert len(line) < 2000, (n, len(line))
        d = json.loads(line)
        assert d["metric"] == "headline_suite_seconds"
        assert d["n_queries"] == n  # headline count is the FULL count
        assert d["value"] == _payload(n)["value"]
        assert len(d["queries"]) <= n


def test_truncation_keeps_the_slowest_queries():
    p = _payload(500)
    d = json.loads(headline_line(p))
    kept = d["queries"]
    assert 0 < len(kept) < 500  # really truncated
    assert d["queries_truncated_to_slowest"] == len(kept)
    floor = min(kept.values())
    dropped_max = max(v for q, v in p["queries"].items() if q not in kept)
    assert floor >= dropped_max  # slowest-first retention


def test_small_suite_is_not_truncated():
    p = _payload(10)
    d = json.loads(headline_line(p))
    assert d["queries"] == p["queries"]
    assert d["queries_truncated_to_slowest"] == 10


def test_skipped_collapses_to_count_and_full_map_never_leaks():
    p = _payload(300, skipped=4)
    line = headline_line(p)
    d = json.loads(line)
    assert d["skipped"] == 4  # count, not the error map
    assert "SomeError" not in line
    assert len(line) < 2000


def test_every_registry_query_is_benched_or_pinned_excluded():
    """Coverage rule (r9, BASELINE.md "Bench coverage rule"): the bench
    runs the FULL registry, in registry order, minus the two pinned
    exclusion sets — no silently unbenched query may exist, and the
    exclusion sets must name real registry queries (a rename can't
    quietly widen them)."""
    import __spark_entry__ as E
    from bench import EXCLUDED_ITERATIVE_FITS, EXCLUDED_PAIR_SCANS, run_list

    qs = E.queries()
    excluded = EXCLUDED_ITERATIVE_FITS | EXCLUDED_PAIR_SCANS
    benched = run_list(qs)
    assert benched == [n for n in qs if n not in excluded]
    stale = excluded - set(qs)
    assert not stale, f"exclusion names not in registry: {stale}"
    # the exclusions keep their benched representatives
    assert "forecast_ets_events" in benched
    assert "forecast_ets_user_series" in benched
    assert "minhash_lsh_pairs" in benched
