"""Registry contract: every registered query is called as
``fn(spark, sf_dir)``, so a query has no setting of its own that could
make it disagree with its DuckDB oracle; the registry is a pure function
of the code, and its head is oracled and capability-independent."""

import inspect
import json
import os
import shutil
import subprocess
import sys

import __spark_entry__ as E

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAD = 50  # the per-round correctness run hashes this many from the front


def test_every_query_takes_exactly_spark_and_sf_dir():
    """Each ``queries()`` value's signature is ``(spark, sf_dir)``.

    ``ivf_topk`` is the one exemption: ``ivf_nprobe_sweep`` calls it at
    several probe widths (``nprobe``) over one shared cell assignment
    (``assigned``); the registry call still uses both defaults."""
    exempt = {"ivf_topk": ["spark", "sf_dir", "nprobe", "assigned"]}
    bad = {}
    for name, fn in E.queries().items():
        params = list(inspect.signature(fn).parameters)
        if params != exempt.get(name, ["spark", "sf_dir"]):
            bad[name] = params
    assert not bad, bad


def test_each_query_is_registered_by_one_module():
    """No module shadows another's query name in the merge, and each
    module's oracles name only its own queries."""
    mods = E._modules()
    assert sum(len(m.QUERIES) for m in mods) == len(E.queries())
    for m in mods:
        assert set(m.ORACLES) <= set(m.QUERIES), m.__name__


def test_window_is_fully_oracled():
    """The first 50 registry queries all carry an exact DuckDB oracle
    (no rows-only entry) and none is capability-gated, so the head of the
    registry is the same whatever optional runtime a host ships."""
    qs, oracles = E.queries(), E.oracle_sql()
    head = list(qs)[:HEAD]
    rows_only = [n for n in head if n not in oracles]
    assert not rows_only, rows_only
    assert "events_tws_running_totals" in qs
    assert "events_tws_running_totals" not in head


_KEYS_SCRIPT = """
import json
import __spark_entry__ as E
print(json.dumps({"q": list(E.queries()), "o": list(E.oracle_sql())}))
"""


def _registry_keys(root: str) -> dict:
    out = subprocess.run([sys.executable, "-c", _KEYS_SCRIPT], cwd=root,
                         capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_queries_are_a_pure_function_of_the_code(tmp_path):
    """queries() and oracle_sql() read no CORRECTNESS artifact: a
    checkout copy without any CORRECTNESS_r*.json builds the same keys
    in the same order."""
    live = _registry_keys(ROOT)
    shutil.copy(os.path.join(ROOT, "__spark_entry__.py"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "qrapids_forecast_r_script_spark"),
                    tmp_path / "qrapids_forecast_r_script_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    bare = _registry_keys(str(tmp_path))
    assert bare["q"] == live["q"] == list(E.queries())
    assert bare["o"] == live["o"] == list(E.oracle_sql())
