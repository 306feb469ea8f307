"""``functions.md5_int``: the engine's one md5-derived integer hash.

Pinned against Python's hashlib for the three slices callers use —
(1, 8) buckets, arms and MinHash shingles; (1, 15) the consistent-hash
ring; (9, 1) the feature-hash sign — including 8-digit values above
2**31, so a narrowing of the ``bigint`` cast would show.
"""

import hashlib

from pyspark.sql import functions as F

from qrapids_forecast_r_script_spark.functions import md5_int

_FORMS = [(1, 8), (1, 15), (9, 1)]
_WORDS = ["", "a", "token", "purchase", "42", "1000003", "near duplicate",
          "ünïcode"] + [str(i) for i in range(20)]


def _expected(s: str, start: int, length: int) -> int:
    hexdigest = hashlib.md5(s.encode("utf-8")).hexdigest()
    return int(hexdigest[start - 1:start - 1 + length], 16)


def test_md5_int_matches_hashlib(spark):
    df = spark.createDataFrame([(w,) for w in _WORDS], "s string")
    cols = []
    for start, length in _FORMS:
        cols.append(md5_int("s", start, length).alias(f"n_{start}_{length}"))
        cols.append(md5_int(F.col("s"), start, length)
                    .alias(f"c_{start}_{length}"))
    cols.append(md5_int("s").alias("default"))
    out = df.select("s", *cols)
    assert all(f.dataType.simpleString() == "bigint"
               for f in out.schema.fields[1:])
    rows = out.collect()
    assert len(rows) == len(_WORDS)
    for r in rows:
        for start, length in _FORMS:
            want = _expected(r["s"], start, length)
            assert r[f"n_{start}_{length}"] == want, (r["s"], start, length)
            assert r[f"c_{start}_{length}"] == want, (r["s"], start, length)
        assert r["default"] == _expected(r["s"], 1, 8)
    # the inputs must reach the top half of the 32-bit range, or the
    # check above would not tell bigint from int
    assert any(r["default"] >= 2 ** 31 for r in rows)
    assert any(r["n_1_15"] >= 2 ** 56 for r in rows)
