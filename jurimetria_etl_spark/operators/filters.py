"""Filter operators (SURVEY §2.5).

The one semantically-tricky filter is W1: the reference's date-range filter
KEEPS NULL dates (``dentro_do_periodo``, ``/root/reference/src/
jurimetria_pipeline.py:208-215``) — the opposite of SQL's default
NULL-drops-row behavior, so it gets an explicit named combinator here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def date_range_null_pass(
    col: Column | str,
    lower: Column | None = None,
    upper: Column | None = None,
) -> Column:
    """W1 — predicate: NULL passes; otherwise inclusive between the given
    bounds (either may be absent).  Bounds are UTC-instant columns (use
    ``local_date_bound_to_utc`` for CLI ``YYYY-MM-DD`` literals, matching the
    reference's SP-localized midnights at ``/root/reference/src/
    jurimetria_pipeline.py:197-199``)."""
    c = F.col(col) if isinstance(col, str) else col
    pred = F.lit(True)
    if lower is not None:
        pred = pred & (c >= lower)
    if upper is not None:
        pred = pred & (c <= upper)
    return c.isNull() | pred
