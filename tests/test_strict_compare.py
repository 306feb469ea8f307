"""The one oracle rule, ``tools/strict_audit.strict_compare``, pinned case
by case: what the type-exact, bit-exact correctness hash accepts and
rejects, on pandas frames shaped as ``toArrow().to_pandas()`` (Spark)
and ``.arrow().to_pandas()`` (DuckDB) deliver them."""

import datetime
import decimal

import numpy as np
import pandas as pd
import pytest

from tools.strict_audit import strict_compare

_DAY = datetime.date(2024, 1, 1)

# (case, spark frame, oracle frame, a substring of the first problem,
#  or None for a match)
CASES = [
    ("equal floats", {"x": [0.5, 1.5]}, {"x": [1.5, 0.5]}, None),
    ("-0.0 is not 0.0", {"x": [-0.0]}, {"x": [0.0]}, "exact mismatches"),
    ("1-ulp float difference", {"x": [0.1]},
     {"x": [np.nextafter(0.1, 1.0)]}, "exact mismatches"),
    ("NaN matches NaN", {"x": [np.nan, 1.0]}, {"x": [1.0, np.nan]}, None),
    ("int32 and int64 are one family",
     {"x": np.array([1, 2], dtype="int64")},
     {"x": np.array([2, 1], dtype="int32")}, None),
    ("int vs decimal", {"x": np.array([1], dtype="int64")},
     {"x": [decimal.Decimal(1)]}, "DECIMAL"),
    ("DECIMAL oracle column", {"x": [decimal.Decimal("1.5")]},
     {"x": [decimal.Decimal("1.5")]}, "DECIMAL"),
    ("int vs float", {"x": np.array([1], dtype="int64")}, {"x": [1.0]},
     "dtype family"),
    ("tz-aware oracle column",
     {"t": pd.to_datetime(["2024-01-01"]).tz_localize("UTC")},
     {"t": pd.to_datetime(["2024-01-01"]).tz_localize("UTC")}, "tz-aware"),
    ("tz-aware spark vs naive oracle",
     {"t": pd.to_datetime(["2024-01-01 05:00"]).tz_localize("UTC")},
     {"t": pd.to_datetime(["2024-01-01 05:00"])}, None),
    ("DATE matches a midnight TIMESTAMP", {"d": [_DAY]},
     {"d": pd.to_datetime(["2024-01-01"])}, None),
    ("DATE vs a non-midnight TIMESTAMP", {"d": [_DAY]},
     {"d": pd.to_datetime(["2024-01-01 00:00:01"])}, "exact mismatches"),
    ("column-set mismatch", {"x": [1.0]}, {"y": [1.0]}, "columns"),
    ("row-count mismatch", {"x": [1.0, 2.0]}, {"x": [1.0]}, "rows"),
]


@pytest.mark.parametrize("spark_cols, oracle_cols, problem",
                         [c[1:] for c in CASES], ids=[c[0] for c in CASES])
def test_strict_compare(spark_cols, oracle_cols, problem):
    problems = strict_compare(pd.DataFrame(spark_cols),
                              pd.DataFrame(oracle_cols))
    if problem is None:
        assert problems == []
    else:
        assert problems and problem in problems[0], problems
