"""Timezone-aware date utilities - full port of the reference's times
module (/root/reference/geeflow/times.py), minus the EE server-side
variants. All datetimes are UTC-aware; all formats identical.
"""

from __future__ import annotations

import datetime
from typing import Union

import numpy as np

UTC = datetime.timezone.utc

TIME_FORMAT_ISO_8601 = "%Y-%m-%dT%H:%M:%S.%f%z"
TIME_FORMAT = "%Y-%m-%dT%H:%M:%S-%Z"
DATE_FORMAT = "%Y-%m-%d"

DateT = Union[str, float, int, datetime.datetime]


def millis_to_datetime(millis: float) -> datetime.datetime:
    return datetime.datetime.fromtimestamp(millis / 1e3, tz=UTC)


def to_timestr(d) -> str:
    if isinstance(d, (float, int, np.number)):
        d = millis_to_datetime(d)
    return datetime.datetime.strftime(d, TIME_FORMAT)


def to_datestr(d) -> str:
    if isinstance(d, (float, int, np.number)):
        d = millis_to_datetime(d)
    return datetime.datetime.strftime(d, DATE_FORMAT)


def is_tza(d: datetime.datetime) -> bool:
    return d.tzinfo is not None and d.tzinfo.utcoffset(d) is not None


def make_tza(d: datetime.datetime) -> datetime.datetime:
    if not is_tza(d):
        d = d.replace(tzinfo=UTC)
    return d


def to_datetime(d: str, dt_format: str = DATE_FORMAT) -> datetime.datetime:
    return make_tza(datetime.datetime.strptime(d, dt_format))


def _relativedelta_add(d: datetime.datetime, years: int = 0,
                       months: int = 0, days: int = 0) -> datetime.datetime:
    """dateutil.relativedelta semantics for the (year, month, day)
    increments the reference uses: add years+months with day clamped to
    the target month's end, then add days."""
    m = d.month - 1 + months
    y = d.year + years + m // 12
    m = m % 12 + 1
    leap = y % 4 == 0 and (y % 100 != 0 or y % 400 == 0)
    last = [31, 29 if leap else 28, 31, 30, 31, 30, 31, 31, 30, 31, 30,
            31][m - 1]
    return (d.replace(year=y, month=m, day=min(d.day, last))
            + datetime.timedelta(days=days))


def incremental_date_list(start, n, *, years=0, months=0, days=0):
    """n datetimes at the given increments (times.py:79-90)."""
    assert years or months or days, \
        "At least one of the inc units should be set."
    if isinstance(start, (float, int, np.number)):
        start = millis_to_datetime(start)
    elif isinstance(start, str):
        start = to_datetime(start, DATE_FORMAT)
    else:
        start = make_tza(start)
    return [_relativedelta_add(start, years=i * years, months=i * months,
                               days=i * days) for i in range(n)]


def get_date_ranges(start, n: int, months: int = 0, months_skip: int = 0,
                    days: int = 0):
    """n (date_str, months, days) tuples (times.py:93-99)."""
    return [(to_datestr(x), months, days)
            for x in incremental_date_list(start, n,
                                           months=months + months_skip,
                                           days=days)]


def adjust_for_hemisphere(data, north, south):
    """Hemisphere-dependent config value (times.py:117-121)."""
    return north if data["lat"] >= 0 else south


def outer_dates(date_ranges, to_str=True):
    """Min start / max end envelope over (start, months) ranges
    (times.py:124-131) - the predicate pushed down to source scans."""
    dates = [to_datetime(x[0]) for x in date_ranges]
    dates += [_relativedelta_add(to_datetime(x[0]), months=x[1])
              for x in date_ranges]
    if to_str:
        return to_datestr(min(dates)), to_datestr(max(dates))
    return min(dates), max(dates)
