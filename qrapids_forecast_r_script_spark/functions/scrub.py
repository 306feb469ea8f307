"""Scalar helpers mirroring the reference's row-level expressions.

E5 regex scrub: ``gsub("[^[:alnum:] ]", "", name)``
(``TimeSeriesFunctions_GPL_0.5.1.R:43,51,58,66``) — strip every character
that is not alphanumeric or space.  E6 concat: ``paste(..., sep='_')`` key
building (R:45-46).  Provided both driver-side (plain Python) and
column-side (Catalyst expressions, codegen-friendly).

DELIBERATE DEVIATION: the scrub class is ASCII-only ``[^0-9A-Za-z ]``.
R's ``[:alnum:]`` is locale-dependent and in common locales keeps
accented/Unicode letters, so non-ASCII element names produce different
artifact keys than the reference would.  ASCII is chosen because it is
locale-independent (the same key on every executor and every cluster
locale), which matters more here than byte-for-byte parity on names the
reference's own test corpus never exercises.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, functions as F

_SCRUB_PATTERN = "[^0-9A-Za-z ]"
_SCRUB_RE = re.compile(_SCRUB_PATTERN)


def clean_key(name: str) -> str:
    """Driver-side E5: gsub("[^[:alnum:] ]","",name), ASCII class (see
    module docstring for the deliberate locale deviation)."""
    return _SCRUB_RE.sub("", name)


def clean_key_col(col: Column | str) -> Column:
    """Column-side E5 — stays in whole-stage codegen."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, _SCRUB_PATTERN, "")


def artifact_key(name: str, index: str, method: str) -> str:
    """E5+E6 artifact filename: clean(name)_index_method (R:43-46)."""
    return f"{clean_key(name)}_{index}_{method}"
