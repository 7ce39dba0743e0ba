"""Half-open validity-interval predicates and clamps.

The engine-wide convention is ``valid_from <= t < valid_until`` with
``valid_until IS NULL`` meaning unbounded
(``vignettes/extending-diseasystore.Rmd:36-39``).

The clamp helpers deliberately replicate the reference's SQL
``CASE WHEN`` three-valued-logic behavior (dbplyr ``ifelse``
translation) including its NULL quirks, because the conformance
fixtures depend on them — see ``R/truncate_interlace.R:109-112``
and ``R/DiseasystoreBase.R:313-322``.
"""

from __future__ import annotations

import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _lit_sql(v: datetime.date) -> str:
    """The SQL literal of ``F.lit(v)``: a DATE for a date; for a
    datetime the instant PySpark's converter reads (a naive one in the
    Python process's local time zone), written in UTC with an explicit
    zone so the session time zone does not move it."""
    if not isinstance(v, datetime.datetime):
        return f"DATE'{v.isoformat()}'"
    micros = T.TimestampType().toInternal(v)
    utc = datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=micros)
    return f"TIMESTAMP'{utc.isoformat(sep=' ')}Z'"


def case_max(a: Column, b: Column) -> Column:
    """``CASE WHEN a >= b THEN a ELSE b END`` — NULL in either operand
    selects ``b`` (NOT the semantics of ``greatest``, which skips
    NULLs). Matches dbplyr's ``ifelse`` translation at
    ``R/truncate_interlace.R:110``."""
    return F.when(a >= b, a).otherwise(b)


def case_min(a: Column, b: Column) -> Column:
    """``CASE WHEN a <= b THEN a ELSE b END`` — NULL in either operand
    selects ``b``. Matches ``R/truncate_interlace.R:111``."""
    return F.when(a <= b, a).otherwise(b)


def overlaps_study_period(
    start_date: datetime.date | Column, end_date: datetime.date | Column
) -> Column:
    """Predicate: the row's validity interval overlaps ``[start, end]``.

    Replicates the theta-join condition the reference uses to clip
    ``get_feature`` output (``R/DiseasystoreBase.R:266-269``):
    ``valid_from <= end AND (valid_until > start OR valid_until IS NULL)``.
    Expressed as a plain filter (the reference used a 1-row join only
    for SQLite date-affinity reasons); Catalyst pushes it to the scan.
    """
    if isinstance(start_date, datetime.date) and isinstance(end_date, datetime.date):
        start, end = _lit_sql(start_date), _lit_sql(end_date)
        return F.expr(
            f"valid_from <= {end} AND (valid_until > {start} OR valid_until IS NULL)"
        )
    start = F.lit(start_date) if isinstance(start_date, datetime.date) else start_date
    end = F.lit(end_date) if isinstance(end_date, datetime.date) else end_date
    return (F.col("valid_from") <= end) & (
        (F.col("valid_until") > start) | F.col("valid_until").isNull()
    )


def clamp_to_study_period(
    df: DataFrame,
    start_date: datetime.date,
    until_date: datetime.date,
) -> DataFrame:
    """Truncate validity intervals to the study window.

    Replicates ``R/DiseasystoreBase.R:313-322`` / ``:396-408``:
    ``valid_from = CASE WHEN valid_from >= start THEN valid_from ELSE start``,
    ``valid_until = COALESCE(CASE WHEN valid_until <= until THEN valid_until
    ELSE until END, until)`` — a NULL (unbounded) ``valid_until``
    clamps to the window end. ``until_date`` is exclusive: callers pass
    ``end_date + 1 day`` (``R/DiseasystoreBase.R:303``).

    The reference cross-joins a 1-row bounds table for SQLite type
    fidelity; literals are the idiomatic (and pushdown-friendly) Spark
    equivalent.
    """
    start, until = _lit_sql(start_date), _lit_sql(until_date)
    return df.withColumns(
        {
            "valid_from": F.expr(
                f"CASE WHEN valid_from >= {start} THEN valid_from ELSE {start} END"
            ),
            "valid_until": F.expr(
                f"coalesce(CASE WHEN valid_until <= {until} THEN valid_until "
                f"ELSE {until} END, {until})"
            ),
        }
    )
