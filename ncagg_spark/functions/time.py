"""Time functions: CF-convention encode/decode and partial-datetime bounds.

Reference equivalents:
  * date2num/num2date conversions (ncagg/aggregator.py:99-105,
    ncagg/attributes.py:257-260) — here pure column arithmetic against the
    epoch declared in the CF units string, e.g.
    "seconds since 2000-01-01 12:00:00".
  * ISO-8601 millisecond formatting (ncagg/attributes.py:13-22).
  * partial datetime parsing YYYY[MM[DD[HH[MM]]]] with inferred end bound
    (ncagg/cli.py:22-100) — driver-side plain Python, used by CLI/bounds.
"""

from __future__ import annotations

import re
from datetime import datetime, timedelta, timezone

from pyspark.sql import Column
from pyspark.sql import functions as F

def epoch_us(col: Column | str) -> Column:
    """UTC epoch microseconds of a timestamp column, tolerant of both
    TIMESTAMP and TIMESTAMP_NTZ inputs.

    ``unix_micros`` rejects TIMESTAMP_NTZ at analysis time; the cast makes
    either type acceptable, is a Catalyst no-op for TimestampType, and is
    value-exact for NTZ under the UTC session timezone (session.py). Every
    bucket/gap/cadence computation in the engine routes through here so a
    testdata layout shift breaks one helper, not seven operators.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


_UNITS_RE = re.compile(
    r"^\s*(?P<unit>\w+)\s+since\s+(?P<epoch>.+?)\s*$", re.IGNORECASE
)
_UNIT_SECONDS = {
    "microseconds": 1e-6,
    "milliseconds": 1e-3,
    "seconds": 1.0,
    "minutes": 60.0,
    "hours": 3600.0,
    "days": 86400.0,
}


_TZ_SUFFIX_RE = re.compile(
    r"\s*(?:Z|UTC|GMT|(?P<sign>[+-])(?P<oh>\d{1,2})(?::?(?P<om>\d{2}))?)\s*$",
    re.IGNORECASE,
)


def _parse_units(units: str) -> tuple[float, datetime]:
    """Parse a CF/udunits time-units string to (seconds-per-unit, epoch).

    Tolerates the common epoch spellings real products use: ISO 'T'
    separator, trailing 'Z'/'UTC'/'GMT' or a numeric offset (applied),
    and non-zero-padded fields like '0:0:0.0' (udunits' own examples).
    """
    m = _UNITS_RE.match(units)
    if not m:
        raise ValueError(f"unparseable CF units: {units!r}")
    unit = m.group("unit").lower()
    if unit not in _UNIT_SECONDS:
        raise ValueError(f"unsupported CF unit: {unit!r}")
    epoch_s = m.group("epoch")
    offset_s = 0.0
    tz = _TZ_SUFFIX_RE.search(epoch_s)
    # a numeric offset is only an offset after a time-of-day — for a
    # date-only epoch like '1970-01-01' the trailing '-01' is the day
    if tz and (not tz.group("sign") or ":" in epoch_s[: tz.start()]):
        if tz.group("sign"):
            sgn = 1.0 if tz.group("sign") == "+" else -1.0
            offset_s = sgn * (
                int(tz.group("oh")) * 3600 + int(tz.group("om") or 0) * 60
            )
        epoch_s = epoch_s[: tz.start()]
    epoch_s = epoch_s.strip().replace("T", " ").replace("t", " ")
    for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
        try:
            epoch = datetime.strptime(epoch_s, fmt).replace(tzinfo=timezone.utc)
            break
        except ValueError:
            continue
    else:
        raise ValueError(f"unparseable CF epoch: {epoch_s!r}")
    return _UNIT_SECONDS[unit], epoch - timedelta(seconds=offset_s)


def cf_to_timestamp(col: Column | str, units: str) -> Column:
    """Decode a CF numeric time column to TimestampType.

    e.g. units="seconds since 2000-01-01 12:00:00".
    """
    scale, epoch = _parse_units(units)
    c = F.col(col) if isinstance(col, str) else col
    epoch_off_us = int(round(epoch.timestamp() * 1_000_000))
    # floor(), not a bare long cast: Spark's double->long cast truncates
    # toward zero while other engines (DuckDB CAST AS BIGINT) round to
    # nearest, so at ~1e14 µs magnitudes a (x/1e6)*1e6 round-trip can
    # disagree by 1 µs. floor of the identical IEEE-double expression is
    # bit-for-bit reproducible across engines.
    return F.timestamp_micros(
        F.floor(F.lit(epoch_off_us) + (c.cast("double") * F.lit(scale * 1e6)))
        .cast("long")
    )


def timestamp_to_cf(col: Column | str, units: str) -> Column:
    """Encode TimestampType back to CF numeric time (double)."""
    scale, epoch = _parse_units(units)
    c = F.col(col) if isinstance(col, str) else col
    epoch_off_us = int(round(epoch.timestamp() * 1_000_000))
    return (epoch_us(c) - F.lit(epoch_off_us)) / F.lit(scale * 1e6)


def parse_partial_datetime(s: str) -> tuple[datetime, datetime]:
    """Parse YYYY[MM[DD[HH[MM]]]] -> (start, exclusive_end).

    The end bound is +1 of the least-significant given unit (reference:
    ncagg/cli.py:22-100 infers the end as "start plus one <unit>").
    """
    s = s.strip()
    if not re.fullmatch(r"\d{4}(\d{2}){0,4}", s):
        raise ValueError(f"bad partial datetime: {s!r}")
    parts = [s[0:4], s[4:6], s[6:8], s[8:10], s[10:12]]
    parts = [p for p in parts if p]
    vals = [int(p) for p in parts]
    defaults = [1, 1, 0, 0]  # month, day, hour, minute
    full = vals + defaults[len(vals) - 1 :]
    start = datetime(
        full[0], full[1], full[2], full[3], full[4], tzinfo=timezone.utc
    )
    n = len(vals)
    if n == 1:
        end = start.replace(year=start.year + 1)
    elif n == 2:
        end = (
            start.replace(year=start.year + 1, month=1)
            if start.month == 12
            else start.replace(month=start.month + 1)
        )
    elif n == 3:
        end = start + timedelta(days=1)
    elif n == 4:
        end = start + timedelta(hours=1)
    else:
        end = start + timedelta(minutes=1)
    return start, end
