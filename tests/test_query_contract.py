"""Registry contract: every registered query is called as
``fn(spark, sf_dir)``, so a query has no setting of its own that could
make it disagree with its DuckDB oracle."""

import inspect


def test_every_query_takes_exactly_spark_and_sf_dir():
    """Each ``queries()`` value's signature is ``(spark, sf_dir)``.

    ``ivf_topk`` is the one exemption: ``ivf_nprobe_sweep`` calls it at
    several probe widths (``nprobe``) over one shared cell assignment
    (``assigned``); the registry call still uses both defaults."""
    import __spark_entry__ as E

    exempt = {"ivf_topk": ["spark", "sf_dir", "nprobe", "assigned"]}
    bad = {}
    for name, fn in E.queries().items():
        params = list(inspect.signature(fn).parameters)
        if params != exempt.get(name, ["spark", "sf_dir"]):
            bad[name] = params
    assert not bad, bad
