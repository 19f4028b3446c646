"""Time-window predicates whose bounds do not recompile.

Spark writes a long or timestamp literal into the Java source it
generates, so a filter whose bound moves on every refresh cycle
compiles new classes in Janino on every cycle. ``ts_window`` states a
window twice:

- a coarse bound on the day boundaries around it, on the column
  itself: the scan pushes it down (``PushedFilters``, row-group
  skipping), and it changes once a day;
- the exact bound as a decimal literal, which generated code reads from
  its reference array instead of its source, so a new bound reuses the
  compiled class. The comparison is a difference against zero because
  Spark's ``UnwrapCastInBinaryComparison`` turns ``cast(long AS
  decimal) >= literal`` back into a long comparison with the bound
  inlined.
"""

from __future__ import annotations

import re
from datetime import datetime, timedelta, timezone, tzinfo
from decimal import Decimal
from zoneinfo import ZoneInfo

from pyspark.sql import Column
from pyspark.sql import functions as F

DAY_MICROS = 86_400_000_000
# every long fits, so every epoch-micros value a TIMESTAMP can hold
_EXACT = "decimal(20,0)"
# the offset forms of a Spark time zone ID: "+08:00", "GMT-5", "UTC+0530"
_OFFSET = re.compile(r"(?:UTC|GMT|UT)?([+-])(\d{1,2})(?::?(\d{2}))?")


def _zone(name: str) -> tzinfo:
    """The Python time zone of a Spark session time zone ID: a region
    (``America/New_York``, ``UTC``) or a fixed offset."""
    if name == "Z":
        return timezone.utc
    m = _OFFSET.fullmatch(name)
    if m is None:
        return ZoneInfo(name)
    sign, hours, minutes = m.groups()
    offset = timedelta(hours=int(hours), minutes=int(minutes or 0))
    return timezone(-offset if sign == "-" else offset)


def epoch_micros(t: datetime, zone: str = "UTC") -> int:
    """Epoch microseconds of ``t``; a naive ``t`` is a wall-clock time in
    ``zone`` (a Spark session time zone ID), as Spark casts it."""
    if t.tzinfo is None:
        t = t.replace(tzinfo=_zone(zone))
    return (t - datetime(1970, 1, 1, tzinfo=timezone.utc)) // timedelta(microseconds=1)


def _offset(ts: Column, micros: int) -> Column:
    """``ts`` minus ``micros`` as an exact decimal of microseconds."""
    return F.unix_micros(ts).cast(_EXACT) - F.lit(Decimal(micros)).cast(_EXACT)


def ts_window(ts: Column, start: int, end: int | None = None) -> Column:
    """``start <= ts < end`` (``end`` None: no upper bound), bounds in
    epoch microseconds."""
    day_start = start - start % DAY_MICROS
    keep = (ts >= F.timestamp_micros(F.lit(day_start))) & (_offset(ts, start) >= 0)
    if end is not None:
        day_after_end = end - end % DAY_MICROS + DAY_MICROS
        keep &= (ts < F.timestamp_micros(F.lit(day_after_end))) & (_offset(ts, end) < 0)
    return keep
