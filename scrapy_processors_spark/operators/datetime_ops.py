"""Date & time operators.

Reference: ``single_value.py:794-1007``.  Date/Time/DateTime are SQL tier via
a strptime→``DateTimeFormatter`` directive translation; the Python kernel
(exact ``datetime.strptime`` + pytz localize/astimezone) is the parity ground
truth.  DateTimeExtraordinaire is kernel-tier over the from-scratch fuzzy
parser (``kernels/fuzzy_date.py``).

Determinism note: the reference defaults ``input_tz`` to the *machine-local*
zone (``single_value.py:906``) — a nondeterminism we deliberately drop; our
builders default to UTC and parity tests pin the zone explicitly
(SURVEY.md §7.2).
"""

from __future__ import annotations

from datetime import date, datetime, time
from typing import Any, Optional, Union

import pandas as pd
import pytz

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from scrapy_processors_spark.core.base import Op
from scrapy_processors_spark.kernels.fuzzy_date import parse_fuzzy_datetime

# Parsing-mode translation: single-letter field patterns accept both padded
# and unpadded numbers under Spark's CORRECTED-mode parser (strptime %d parses
# "1" and "01"; Java "dd" would reject "1").
_STRPTIME_TO_JAVA = {
    "Y": "yyyy", "y": "yy", "m": "M", "d": "d", "H": "H", "I": "h",
    "M": "m", "S": "s", "p": "a", "B": "MMMM", "b": "MMM", "A": "EEEE",
    "a": "EEE", "f": "SSSSSS", "j": "D", "z": "XX", "Z": "zzz", "%": "%",
}


def strptime_to_java(fmt: str) -> str:
    """Translate a strptime format to a Java DateTimeFormatter pattern,
    quoting literal letter runs."""
    out = []
    literal = []

    def flush():
        if literal:
            text = "".join(literal)
            if any(c.isalpha() for c in text):
                text = "'" + text.replace("'", "''") + "'"
            out.append(text)
            literal.clear()

    i = 0
    while i < len(fmt):
        c = fmt[i]
        if c == "%" and i + 1 < len(fmt):
            d = fmt[i + 1]
            if d in _STRPTIME_TO_JAVA:
                flush()
                out.append(_STRPTIME_TO_JAVA[d])
                i += 2
                continue
        literal.append(c)
        i += 1
    flush()
    return "".join(out)


def _tz(value: Union[str, Any]) -> Any:
    return pytz.timezone(value) if isinstance(value, str) else value


def _tz_name(value: Union[str, Any]) -> str:
    return value if isinstance(value, str) else str(value)


def _localize_standard(local: Column, tz_name: str) -> Column:
    """Wall time in ``tz_name`` -> UTC, as ``pytz.localize(is_dst=False)``.

    In a fall-back overlap ``to_utc_timestamp`` takes the daylight offset
    (New York "2015-11-01 01:15:52" -> 05:15:52Z) where pytz takes standard
    time (06:15:52Z): the later reading, i.e. the offset in force a day on,
    wins when it round-trips to the same wall time.  In a spring-forward
    gap both already use the pre-transition offset (02:30 -> 07:30Z)."""
    day = F.expr("INTERVAL 1 DAY")
    earlier = F.to_utc_timestamp(local, tz_name)
    later = F.to_utc_timestamp(local + day, tz_name) - day
    return F.when(F.from_utc_timestamp(later, tz_name) == local,
                  later).otherwise(earlier)


class DateTime(Op):
    """strptime + tz conversion (reference ``single_value.py:871-932``).

    Spark output: TimestampType holding the UTC instant (session tz is UTC);
    ``return_date``/``return_time`` project in ``output_tz``.
    """

    format: str = "%Y-%m-%d, %H:%M:%S"
    input_tz: Any = pytz.UTC
    output_tz: Any = pytz.UTC
    return_date: bool = False
    return_time: bool = False

    tier = "sql"

    @property
    def output_type(self) -> T.DataType:
        if self.context.get("return_date") and self.context.get("return_time"):
            return T.StructType([
                T.StructField("date", T.DateType()),
                T.StructField("time", T.StringType()),
            ])
        if self.context.get("return_date"):
            return T.DateType()
        if self.context.get("return_time"):
            return T.StringType()
        return T.TimestampType()

    def process_value(self, value: str):
        fmt, input_tz, output_tz, return_date, return_time = self.unpack_context()
        input_tz, output_tz = _tz(input_tz), _tz(output_tz)
        dt = datetime.strptime(value, fmt)
        dt = input_tz.localize(dt)
        dt = dt.astimezone(output_tz)
        if return_date and return_time:
            return {"date": dt.date(), "time": dt.time()}
        if return_date:
            return dt.date()
        if return_time:
            return dt.time()
        return dt

    def to_column(self, col: Column) -> Column:
        fmt, input_tz, output_tz, return_date, return_time = self.unpack_context()
        if "%A" in fmt or "%a" in fmt or "%Z" in fmt:
            # Spark's CORRECTED-mode parser rejects day-name (E) patterns for
            # parsing (SPARK-31030) — run the exact strptime kernel instead.
            from scrapy_processors_spark.core.pipeline import MapCompose

            return MapCompose(self.as_kernel()).apply_scalar(col)
        java_fmt = strptime_to_java(fmt)
        ts = F.to_timestamp(col, java_fmt)
        in_name, out_name = _tz_name(input_tz), _tz_name(output_tz)
        if in_name != "UTC":
            ts = _localize_standard(ts, in_name)
        if return_date and return_time:
            local = F.from_utc_timestamp(ts, out_name)
            return F.struct(
                F.to_date(local).alias("date"),
                F.date_format(local, "HH:mm:ss").alias("time"),
            )
        if return_date:
            return F.to_date(F.from_utc_timestamp(ts, out_name))
        if return_time:
            return F.date_format(F.from_utc_timestamp(ts, out_name), "HH:mm:ss")
        return ts


class Date(Op):
    """strptime -> date (reference ``single_value.py:935-971``)."""

    format: str = "%Y-%m-%d"

    tier = "sql"
    output_type = T.DateType()

    def process_value(self, value: str) -> date:
        (fmt,) = self.unpack_context()
        return datetime.strptime(value, fmt).date()

    def to_column(self, col: Column) -> Column:
        (fmt,) = self.unpack_context()
        return F.to_date(col, strptime_to_java(fmt))


class Time(Op):
    """strptime -> time (reference ``single_value.py:974-1007``).  Spark tier
    emits the canonical ``HH:mm:ss`` string (TimeType portability); the Python
    ground truth returns ``datetime.time``."""

    format: str = "%H:%M:%S"

    tier = "sql"
    output_type = T.StringType()

    def process_value(self, value: str) -> time:
        (fmt,) = self.unpack_context()
        return datetime.strptime(value, fmt).time()

    def to_column(self, col: Column) -> Column:
        (fmt,) = self.unpack_context()
        return F.date_format(F.to_timestamp(col, strptime_to_java(fmt)), "HH:mm:ss")


class DateTimeExtraordinaire(Op):
    """Fuzzy multi-locale parse -> UTC (reference ``single_value.py:794-868``;
    parser scope in ``kernels/fuzzy_date.py``).

    ``base_tz`` replaces dateparser's implicit machine-local zone: the naive
    parsed datetime is localized to ``base_tz`` before converting to
    ``output_tz``.  Defaults to UTC for determinism (parity tests pin
    America/Chicago to match the reference goldens).
    """

    output_tz: Any = pytz.UTC
    return_date: bool = False
    return_time: bool = False
    languages: Optional[list] = None
    base_tz: Any = pytz.UTC
    # dateparser interface parity (reference :838-842).  Subset semantics:
    # ``locales`` contribute their language prefixes to ``languages``;
    # ``detect_languages_function`` is invoked like dateparser does (value,
    # confidence_threshold) and its result merges into languages; ``region``
    # and ``settings`` are accepted for signature parity but the from-scratch
    # kernel has no behavior keyed on them (documented subset, SURVEY §2.3).
    locales: Optional[list] = None
    region: Optional[str] = None
    settings: Optional[dict] = None
    detect_languages_function: Optional[object] = None

    tier = "pandas"

    @property
    def output_type(self) -> T.DataType:
        if self.context.get("return_date"):
            return T.DateType()
        if self.context.get("return_time"):
            return T.StringType()
        return T.TimestampType()

    def process_value(self, value: str):
        (output_tz, return_date, return_time, languages, base_tz,
         locales, _region, _settings, detect_fn) = self.unpack_context()
        output_tz, base_tz = _tz(output_tz), _tz(base_tz)
        if locales or detect_fn is not None:
            languages = list(languages or [])
            for loc in locales or []:
                lang = str(loc).split("-")[0]
                if lang not in languages:
                    languages.append(lang)
            if callable(detect_fn):
                for lang in detect_fn(value, 0.5) or []:
                    if lang not in languages:
                        languages.append(lang)
        dt = parse_fuzzy_datetime(value, languages)
        if dt is None:
            return None
        dt = base_tz.localize(dt).astimezone(output_tz)
        if return_date and return_time:
            return {"date": dt.date(), "time": dt.time()}
        if return_date:
            return dt.date()
        if return_time:
            return dt.time()
        return dt

    def kernel(self, s: pd.Series) -> pd.Series:
        # Context unpack + pytz zone resolution hoisted out of the row loop
        # (guide §4.5: per-task init once, not per row) — the body below is
        # ``process_value`` verbatim with the constants closed over.
        (output_tz, return_date, return_time, languages, base_tz,
         locales, _region, _settings, detect_fn) = self.unpack_context()
        output_tz, base_tz = _tz(output_tz), _tz(base_tz)
        fixed_langs = languages
        augment = bool(locales) or detect_fn is not None

        # Static-offset fast path (guide §4.5 applied to the tz dance): when
        # the final result is a plain naive-UTC datetime, output_tz cancels
        # (the tail always re-converts to UTC) and for a constant-offset
        # base_tz the whole localize/astimezone chain reduces to one
        # timedelta subtraction.  DST-capable zones keep the full path
        # (localize's fold choice affects the instant).
        base_static = base_tz is pytz.UTC or isinstance(
            base_tz, pytz.tzinfo.StaticTzInfo)
        plain_dt = not return_date and not return_time and not augment
        if base_static and plain_dt and fixed_langs is None:
            base_off = base_tz.utcoffset(datetime(2000, 1, 1))

            def one(v):
                if v is None:
                    return None
                dt = parse_fuzzy_datetime(v)
                # identical to localize().astimezone(out).astimezone(UTC)
                # .replace(tzinfo=None): both raise OverflowError at the
                # datetime range edge
                return None if dt is None else dt - base_off

            return s.map(one)

        def one(v):
            if v is None:
                return None
            langs = fixed_langs
            if augment:
                langs = list(fixed_langs or [])
                for loc in locales or []:
                    lang = str(loc).split("-")[0]
                    if lang not in langs:
                        langs.append(lang)
                if callable(detect_fn):
                    for lang in detect_fn(v, 0.5) or []:
                        if lang not in langs:
                            langs.append(lang)
            dt = parse_fuzzy_datetime(v, langs)
            if dt is None:
                return None
            dt = base_tz.localize(dt).astimezone(output_tz)
            if return_date and return_time:
                r = {"date": dt.date(), "time": dt.time()}
            elif return_date:
                r = dt.date()
            elif return_time:
                r = dt.time()
            else:
                r = dt
            if isinstance(r, datetime):
                return r.astimezone(pytz.UTC).replace(tzinfo=None)
            if isinstance(r, time):
                return r.strftime("%H:%M:%S")
            return r

        return s.map(one)
