"""The engine's one md5-derived integer hash.

Bucketing, A/B arms, MinHash shingles and feature hashing all read an
integer off a hex slice of ``md5(col)``.  DuckDB's oracles spell the same
value as ``('0x' || substr(md5(x), start, length))::BIGINT``, so every
caller shares this one construction rather than an inline copy.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def md5_int(col: Column | str, start: int = 1, length: int = 8) -> Column:
    """``bigint`` of the ``length`` hex digits of ``md5(col)`` starting at
    1-based ``start``: 8 digits give a 32-bit value, 15 the widest that
    stays below 2**63."""
    return F.conv(F.substring(F.md5(col), start, length), 16, 10) \
        .cast("bigint")
