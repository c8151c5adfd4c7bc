"""String-cleaning column functions (reference parity, SURVEY.md §2.2).

Each reference transform was a row-at-a-time Python function handed to
``beam.Map``; here every one is a native Column expression so the whole
cleaning chain stays inside one WholeStageCodegen loop — no Python in
the hot path, ~vectorized throughput at any scale.

Exact-semantics notes (these matter for byte-level oracle parity):

* ``strip_one_trailing_colon`` removes AT MOST ONE trailing ``:``
  (reference ``remove_last_colon``, code/beam.py:35-39 — an ``rstrip``
  would over-strip; 840/891 rows of the real CSV end with exactly one).
* ``strip_special_chars`` deletes only the three characters ``? % &``
  (reference ``remove_special_characters``, code/beam.py:42-45).

P2 (lowercase) is ``F.lower``; ``operators.clean`` applies it to every
field, ids included (the reference lowercases the whole raw line,
code/beam.py:118).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_SPECIAL_CHARS_RE = r"[?%&]"
_TRAILING_COLON_RE = r":$"


def strip_one_trailing_colon(col: Column | str) -> Column:
    """Drop exactly one trailing ``:`` if present (P1)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, _TRAILING_COLON_RE, "")


def strip_special_chars(col: Column | str) -> Column:
    """Delete every occurrence of ``?``, ``%``, ``&`` (P3)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, _SPECIAL_CHARS_RE, "")

