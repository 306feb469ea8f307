"""Seeded input generator for the benchmark.

Everything the benchmark feeds the program comes from here, as parquet
files written with pyarrow (no Spark), so the same seed always gives the
same bytes.

- ``write_metrics``: a ``qr_metrics``-shaped table (FIXTURES.md section 1):
  one row per observation, trend + weekly seasonality + noise, series
  lengths drawn from [min_len, max_len], the three index kinds the
  reference dispatches on (``metrics`` / ``factors`` / neither, R:25-26),
  element names with non-alphanumerics (the R:43 key scrub) and a few
  series with calendar gaps (the reference does not gap-fill, R:32).
- ``write_tables``: small tables with the schemas and value domains of the
  test-data tables (FIXTURES.md section 3), for the registered queries.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

INDEX_KINDS = ("qr.metrics.sonar", "qr.factors.quality", "qr.strategic_indicators")
_NAME_STEMS = ("comment density (%)", "bug-fix/ratio", "test.success", "duplication #blocks",
               "build_time [min]", "open issues: critical")
_EPOCH = dt.date(1970, 1, 1)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", use_dictionary=True)


def make_metrics(seed: int, n_series: int) -> dict[tuple[str, str], tuple[np.ndarray, np.ndarray]]:
    """(name, index) -> (evaluation dates as epoch days, values).  Names
    scrub to distinct artifact keys: the serial number survives the scrub."""
    rng = np.random.default_rng([seed, 1])
    base = (dt.date(2024, 1, 1) - _EPOCH).days
    out = {}
    for i in range(n_series):
        key = (f"{_NAME_STEMS[i % len(_NAME_STEMS)]} #{i:05d}", INDEX_KINDS[i % len(INDEX_KINDS)])
        n = int(rng.integers(60, 201))
        step = np.ones(n, dtype=np.int64)
        if i % 17 == 5:  # calendar gaps: the series stays positional
            step[rng.integers(1, n, size=max(1, n // 10))] = 3
        days = base - int(rng.integers(0, 60)) + np.cumsum(step) - 1
        t = np.arange(n, dtype=float)
        level = rng.uniform(20.0, 200.0)
        y = (level + rng.normal(0.0, 0.05) * level / 60.0 * t
             + rng.uniform(0.05, 0.25) * level * np.sin(2 * np.pi * (t + rng.integers(0, 7)) / 7)
             + rng.normal(0.0, rng.uniform(0.01, 0.05) * level, n))
        out[key] = (days, np.round(y, 4))
    return out


def write_metrics(series: dict, path: str) -> None:
    """Write ``make_metrics`` output as qr_metrics parquet."""
    names, indexes, days, values = [], [], [], []
    for (name, index), (d, y) in series.items():
        names += [name] * len(d)
        indexes += [index] * len(d)
        days.append(d)
        values.append(y)
    day = np.concatenate(days).astype(np.int32)
    table = pa.table({
        "name": pa.array(names, pa.string()),
        "index": pa.array(indexes, pa.string()),
        "evaluationDate": pa.array(day, pa.int32()).cast(pa.date32()),
        "value": pa.array(np.concatenate(values), pa.float64()),
    })
    _write(table, path)


# --- test-data-shaped tables for the registered queries -------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_WORDS = (["small", "large", "red", "blue", "old", "hot", "cold"],
               ["widget", "bolt", "gear", "gizmo", "ring", "plate"])
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = ("a the fast slow big small key row scan table value part hash merge batch sort "
          "window join order spark stream data agg group filter column query line customer "
          "vector").split()
_LANGS = ["de", "en", "es", "fr", "zh"]


def _ts_us(rng, start: dt.datetime, span_s: float, n: int) -> pa.Array:
    start_us = int((start - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    us = start_us + np.sort(rng.uniform(0, span_s * 1e6, n)).astype(np.int64)
    return pa.array(us, pa.timestamp("us"))


def _days_ts(rng, first: dt.date, n_days: int, n: int) -> pa.Array:
    d0 = (first - _EPOCH).days
    days = d0 + rng.integers(0, n_days, n)
    return pa.array(days.astype(np.int64) * 86_400_000_000, pa.timestamp("us"))


def write_tables(seed: int, out_dir: str) -> None:
    """Write the ten test-data-shaped tables into ``out_dir``, about a
    tenth of the size of sf0.01."""
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp, n_part, n_ord, n_line = 150, 10, 200, 1500, 6000
    n_ev, n_doc, n_emb = 2000, 300, 300
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]}),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [f"{_PART_WORDS[0][a]} {_PART_WORDS[1][b]}" for a, b in
                       zip(rng.integers(0, 7, n_part), rng.integers(0, 6, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)}),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": money(1000.0, 500000.0, n_ord),
            "o_orderdate": _days_ts(rng, dt.date(1995, 1, 1), 2404, n_ord),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(float),
            "l_extendedprice": money(900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_line)],
            "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_line)],
            "l_shipdate": _days_ts(rng, dt.date(1995, 1, 2), 2498, n_line)}),
        "events": pa.table({
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": _ts_us(rng, dt.datetime(2024, 1, 1), 30 * 86400.0, n_ev),
            "user_id": pa.array(rng.integers(0, n_cust, n_ev), pa.int64()),
            "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
            "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
    }
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.04:      # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.12:    # near duplicate: one or two words changed
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), int(rng.integers(1, 3))):
                words[j] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(_VOCAB[j] for j in
                                  rng.integers(0, len(_VOCAB), rng.integers(8, 80))))
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, 5, n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    emb = centers[labels] + rng.normal(0.0, 0.8, (n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
