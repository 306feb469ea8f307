"""``sources.search_element``: the reference's scan (R:23-40) as one
parameterized SQL statement.

Element names come from the caller, so they are bound as SQL parameters,
never pasted into the statement text: a name holding quotes, backslashes,
wildcards, format braces or an injection attempt must return exactly that
series or nothing.  Building the statement must also stay cheap in py4j
calls, which on the single-series train path once cost a third of the scan.
"""

import datetime

import pytest

HOSTILE = ["it's", "back\\slash", "100%", "_", "{}", "{m}", "x' OR '1'='1",
           "a\"b", "semi;colon --"]
INDEX = "proj.metrics"


@pytest.fixture(scope="module")
def metrics(spark, tmp_path_factory):
    from qrapids_forecast_r_script_spark import schemas
    day = datetime.date(2024, 1, 1)
    rows = [(name, INDEX, day + datetime.timedelta(days=d), float(10 * i + d))
            for i, name in enumerate(["plain"] + HOSTILE) for d in range(3)]
    rows.append(("plain", "other.index", day, -1.0))
    path = str(tmp_path_factory.mktemp("hostile") / "qr_metrics.parquet")
    spark.createDataFrame(rows, schema=schemas.QR_METRICS).write.parquet(path)
    return spark.read.schema(schemas.QR_METRICS).parquet(path)


@pytest.mark.parametrize("name", ["plain"] + HOSTILE)
def test_hostile_name_returns_exactly_its_series(metrics, name):
    from qrapids_forecast_r_script_spark.sources import search_element
    rows = search_element(metrics, name, INDEX).collect()
    assert [(r["name"], r["index"]) for r in rows] == [(name, INDEX)] * 3
    dates = [r["evaluationDate"] for r in rows]
    assert dates == sorted(dates)


@pytest.mark.parametrize("name", ["y' OR '1'='1", "%", "' OR 1=1 --", ""])
def test_unknown_hostile_name_returns_nothing(metrics, name):
    from qrapids_forecast_r_script_spark.sources import search_element
    assert search_element(metrics, name, INDEX).collect() == []


def test_index_and_limit_are_bound(metrics):
    from qrapids_forecast_r_script_spark.sources import search_element
    assert [r["value"] for r in
            search_element(metrics, "plain", "other.index").collect()] == [-1.0]
    assert [r["value"] for r in
            search_element(metrics, "plain", INDEX, limit=2).collect()] == [0.0, 1.0]
    assert search_element(metrics, "plain", "x' OR '1'='1").collect() == []


def test_search_element_build_py4j_budget(spark, metrics):
    """Building the scan (no action) sends at most 40 py4j commands; the
    four-step DataFrame chain it replaced sent ~140.  Classic sessions
    only: a Connect session has no py4j gateway."""
    from qrapids_forecast_r_script_spark.sources import search_element
    gateway = getattr(spark.sparkContext, "_gateway", None)
    if gateway is None:
        pytest.skip("not a classic session")
    client = gateway._gateway_client
    inner = client.send_command
    sent = []

    def counting(*args, **kwargs):
        sent.append(args[0] if args else None)
        return inner(*args, **kwargs)

    client.send_command = counting
    try:
        search_element(metrics, "plain", INDEX)
    finally:
        del client.send_command
    assert 0 < len(sent) <= 40, len(sent)
