"""Golden parity for date/time ops (reference tests/test_single_value.py:538-672).

The reference's DateTimeExtraordinaire goldens bake in the machine-local
America/Chicago zone (SURVEY.md §7.2); we pin it via the op's explicit
``base_tz`` parameter instead of process-global TZ.
"""

from datetime import date, datetime, time

import pytest
import pytz

from scrapy_processors_spark import Date, DateTime, DateTimeExtraordinaire, Time
from tests.conftest import run_scalar

UTC = pytz.UTC


# ---------------------------------------------------------------------- DateTime
DT_CASES = [
    ("2022-01-01, 12:00:00", datetime(2022, 1, 1, 12, 0, 0, tzinfo=UTC)),
    ("2023-05-15, 09:30:00", datetime(2023, 5, 15, 9, 30, 0, tzinfo=UTC)),
]


@pytest.mark.parametrize("inp,exp", DT_CASES)
def test_datetime_py(inp, exp):
    assert DateTime(input_tz=UTC).process_value(inp) == exp


def test_datetime_format_ctx_py():
    op = DateTime(input_tz=UTC)
    assert op.with_context(format="%B %d, %Y %H:%M:%S").process_value(
        "January 1, 2022 12:00:00") == datetime(2022, 1, 1, 12, 0, 0, tzinfo=UTC)


def test_datetime_timezones_py():
    expected = datetime(2022, 1, 1, 12, 0, 0, tzinfo=UTC)
    assert DateTime(input_tz=pytz.timezone("Europe/Paris")).process_value(
        "2022-01-01, 13:00:00") == expected
    assert DateTime(input_tz=pytz.timezone("America/New_York")).process_value(
        "2022-01-01, 07:00:00") == expected
    assert DateTime(input_tz=pytz.timezone("America/Los_Angeles")).process_value(
        "2022-01-01, 04:00:00") == expected


def test_datetime_spark(spark):
    op = DateTime(input_tz=UTC)
    got = run_scalar(spark, op, [c[0] for c in DT_CASES])
    # session tz is UTC -> naive datetimes representing the UTC instant
    assert got == [c[1].replace(tzinfo=None) for c in DT_CASES]


def test_datetime_spark_timezones(spark):
    expected = datetime(2022, 1, 1, 12, 0, 0)
    assert run_scalar(spark, DateTime(input_tz="Europe/Paris"),
                      ["2022-01-01, 13:00:00"]) == [expected]
    assert run_scalar(spark, DateTime(input_tz="America/New_York"),
                      ["2022-01-01, 07:00:00"]) == [expected]
    assert run_scalar(spark, DateTime(input_tz="America/New_York",
                                      format="%B %d, %Y %H:%M:%S"),
                      ["January 1, 2022 07:00:00"]) == [expected]
    # DST edges follow pytz.localize's is_dst=False: the repeated fall-back
    # hour reads as standard time, the skipped spring-forward hour with the
    # pre-transition offset; both tiers must agree
    edges = [
        ("America/New_York", "2015-11-01, 01:15:52", datetime(2015, 11, 1, 6, 15, 52)),
        ("America/New_York", "2015-03-08, 02:30:00", datetime(2015, 3, 8, 7, 30, 0)),
        ("America/New_York", "2015-11-01, 00:59:59", datetime(2015, 11, 1, 4, 59, 59)),
        ("America/New_York", "2015-11-01, 02:00:00", datetime(2015, 11, 1, 7, 0, 0)),
        ("Europe/Paris", "2015-10-25, 02:30:00", datetime(2015, 10, 25, 1, 30, 0)),
        ("Europe/Paris", "2015-03-29, 02:30:00", datetime(2015, 3, 29, 1, 30, 0)),
    ]
    for tz, inp, exp in edges:
        op = DateTime(input_tz=tz)
        ref = op.process_value(inp).astimezone(UTC).replace(tzinfo=None)
        assert ref == exp, (tz, inp)
        assert run_scalar(spark, op, [inp]) == [exp], (tz, inp)


# -------------------------------------------------------------------------- Date
DATE_CASES = [
    ("2022-01-01", {}, date(2022, 1, 1)),
    ("2023-05-15", {}, date(2023, 5, 15)),
    ("January 1, 2022", {"format": "%B %d, %Y"}, date(2022, 1, 1)),
]


@pytest.mark.parametrize("inp,ctx,exp", DATE_CASES)
def test_date_py(inp, ctx, exp):
    assert Date(**ctx).process_value(inp) == exp


def test_date_spark(spark):
    for inp, ctx, exp in DATE_CASES:
        assert run_scalar(spark, Date(**ctx), [inp]) == [exp]


# -------------------------------------------------------------------------- Time
TIME_CASES = [
    ("10:30:00", {}, time(10, 30, 0)),
    ("22:45:30", {}, time(22, 45, 30)),
    ("10:30:00 AM", {"format": "%I:%M:%S %p"}, time(10, 30, 0)),
    ("10:30:00 PM", {"format": "%I:%M:%S %p"}, time(22, 30, 0)),
]


@pytest.mark.parametrize("inp,ctx,exp", TIME_CASES)
def test_time_py(inp, ctx, exp):
    assert Time(**ctx).process_value(inp) == exp


def test_time_spark(spark):
    for inp, ctx, exp in TIME_CASES:
        assert run_scalar(spark, Time(**ctx), [inp]) == [exp.strftime("%H:%M:%S")]


# ------------------------------------------------------- DateTimeExtraordinaire
CHI = "America/Chicago"

DTE_CASES = [
    ("12/12/12", {}, datetime(2012, 12, 12, 6, 0, tzinfo=UTC)),
    ("Fri, 12 Dec 2014 10:55:50", {}, datetime(2014, 12, 12, 16, 55, 50, tzinfo=UTC)),
    ("Le 11 Décembre 2014 à 09:00", {}, datetime(2014, 12, 11, 15, 0, tzinfo=UTC)),
    ("2015, Ago 15, 1:08 pm", {"languages": ["pt", "es"]},
     datetime(2015, 8, 15, 18, 8, tzinfo=UTC)),
    ("22 de mayo de 2023, 12:30:45", {"languages": ["es"]},
     datetime(2023, 5, 22, 17, 30, 45, tzinfo=UTC)),
    # de/it month-name dates (scope widened one notch per round-1 review)
    ("Mittwoch, 3. März 2021, 14:30", {"languages": ["de"]},
     datetime(2021, 3, 3, 20, 30, tzinfo=UTC)),
    ("giovedì 4 dicembre 2014, 10:55:50", {"languages": ["it"]},
     datetime(2014, 12, 4, 16, 55, 50, tzinfo=UTC)),
    # nl/sv month-name dates (r03 widening)
    ("woensdag 3 maart 2021, 14:30", {"languages": ["nl"]},
     datetime(2021, 3, 3, 20, 30, tzinfo=UTC)),
    ("fredag 14 augusti 2015, 10:00", {"languages": ["sv"]},
     datetime(2015, 8, 14, 15, 0, tzinfo=UTC)),
    # ja numeric-unit dates + pl/tr month names (r04 widening; VERDICT r03 #6)
    ("2024年3月5日", {"languages": ["ja"]},
     datetime(2024, 3, 5, 6, 0, tzinfo=UTC)),
    ("2024年3月5日 14時30分15秒", {"languages": ["ja"]},
     datetime(2024, 3, 5, 20, 30, 15, tzinfo=UTC)),
    ("piątek, 5 marca 2021, 14:30", {"languages": ["pl"]},
     datetime(2021, 3, 5, 20, 30, tzinfo=UTC)),
    ("15 października 2019", {"languages": ["pl"]},
     datetime(2019, 10, 15, 5, 0, tzinfo=UTC)),  # CDT: UTC-5
    ("Salı, 3 Mayıs 2022, 09:15", {"languages": ["tr"]},
     datetime(2022, 5, 3, 14, 15, tzinfo=UTC)),
    ("14 Ağustos 2015 10:00", {"languages": ["tr"]},
     datetime(2015, 8, 14, 15, 0, tzinfo=UTC)),
    # ru/fi month-name dates (r04 widening #2)
    ("пятница, 5 марта 2021, 14:30", {"languages": ["ru"]},
     datetime(2021, 3, 5, 20, 30, tzinfo=UTC)),  # CST: UTC-6
    ("12 мая 2020, 10:00", {"languages": ["ru"]},
     datetime(2020, 5, 12, 15, 0, tzinfo=UTC)),  # CDT: UTC-5
    ("15 августа 2019", {"languages": ["ru"]},
     datetime(2019, 8, 15, 5, 0, tzinfo=UTC)),
    ("perjantai 5. maaliskuuta 2021, 14:30", {"languages": ["fi"]},
     datetime(2021, 3, 5, 20, 30, tzinfo=UTC)),
    ("15 lokakuuta 2019", {"languages": ["fi"]},
     datetime(2019, 10, 15, 5, 0, tzinfo=UTC)),
    # ko numeric-unit dates + cs/da month names (r05 widening; VERDICT r04 #6)
    ("2024년 3월 5일", {"languages": ["ko"]},
     datetime(2024, 3, 5, 6, 0, tzinfo=UTC)),  # CST: UTC-6
    ("2024년 3월 5일 14시 30분 15초", {"languages": ["ko"]},
     datetime(2024, 3, 5, 20, 30, 15, tzinfo=UTC)),
    ("pondělí 1. března 2021, 14:30", {"languages": ["cs"]},
     datetime(2021, 3, 1, 20, 30, tzinfo=UTC)),
    ("31. prosince 1999", {"languages": ["cs"]},
     datetime(1999, 12, 31, 6, 0, tzinfo=UTC)),
    ("tirsdag 5. marts 2024, 10:00", {"languages": ["da"]},
     datetime(2024, 3, 5, 16, 0, tzinfo=UTC)),
    # uk/el month-name dates (r05 widening #2)
    ("п'ятниця, 5 березня 2021, 14:30", {"languages": ["uk"]},
     datetime(2021, 3, 5, 20, 30, tzinfo=UTC)),  # CST: UTC-6
    ("15 жовтня 2019", {"languages": ["uk"]},
     datetime(2019, 10, 15, 5, 0, tzinfo=UTC)),  # CDT: UTC-5
    ("Δευτέρα, 1 Μαρτίου 2021, 14:30", {"languages": ["el"]},
     datetime(2021, 3, 1, 20, 30, tzinfo=UTC)),
    ("12 Μαΐου 2020", {"languages": ["el"]},
     datetime(2020, 5, 12, 5, 0, tzinfo=UTC)),
    # ar/th/vi (r05 widening #3): Arabic-Indic/Thai digit folding, both
    # Arabic month-name systems, Thai Buddhist-era years, vi "tháng N"
    ("الجمعة، 5 مارس 2021، 14:30", {"languages": ["ar"]},
     datetime(2021, 3, 5, 20, 30, tzinfo=UTC)),  # CST: UTC-6
    ("١٥ أغسطس ٢٠١٩", {"languages": ["ar"]},
     datetime(2019, 8, 15, 5, 0, tzinfo=UTC)),  # CDT: UTC-5
    ("5 كانون الثاني 2021", {"languages": ["ar"]},
     datetime(2021, 1, 5, 6, 0, tzinfo=UTC)),  # Levantine two-word month
    ("15 تشرين الأول 2019", {"languages": ["ar"]},
     datetime(2019, 10, 15, 5, 0, tzinfo=UTC)),
    ("5 มีนาคม 2564", {"languages": ["th"]},
     datetime(2021, 3, 5, 6, 0, tzinfo=UTC)),  # 2564 BE = 2021 CE
    ("๕ มีนาคม ๒๕๖๔", {"languages": ["th"]},
     datetime(2021, 3, 5, 6, 0, tzinfo=UTC)),  # Thai digits
    ("28 กุมภาพันธ์ 2560 14:30", {"languages": ["th"]},
     datetime(2017, 2, 28, 20, 30, tzinfo=UTC)),
    ("ngày 5 tháng 3 năm 2021", {"languages": ["vi"]},
     datetime(2021, 3, 5, 6, 0, tzinfo=UTC)),
    ("thứ Hai, ngày 1 tháng 12 năm 2014, 10:55", {"languages": ["vi"]},
     datetime(2014, 12, 1, 16, 55, tzinfo=UTC)),
    # hi (r05 widening #4): Devanagari digits + month names
    ("शुक्रवार, ५ मार्च २०२१", {"languages": ["hi"]},
     datetime(2021, 3, 5, 6, 0, tzinfo=UTC)),  # CST: UTC-6
    ("15 अगस्त 2019", {"languages": ["hi"]},
     datetime(2019, 8, 15, 5, 0, tzinfo=UTC)),  # CDT: UTC-5
    ("१ दिसंबर २०१४ 10:55", {"languages": ["hi"]},
     datetime(2014, 12, 1, 16, 55, tzinfo=UTC)),
    # uk November, Cyrillic genitive (kept last: parametrize ids are by index)
    ("15 листопада 2019", {"languages": ["uk"]},
     datetime(2019, 11, 15, 6, 0, tzinfo=UTC)),  # CST: UTC-6
]


@pytest.mark.parametrize("inp,ctx,exp", DTE_CASES)
def test_dte_py(inp, ctx, exp):
    op = DateTimeExtraordinaire(base_tz=CHI, **ctx)
    assert op.process_value(inp) == exp


def test_dte_spark(spark):
    op = DateTimeExtraordinaire(base_tz=CHI)
    got = run_scalar(spark, op, [c[0] for c in DTE_CASES])
    assert got == [c[2].replace(tzinfo=None) for c in DTE_CASES]


def test_dte_dateparser_context_keys():
    """locales/region/settings/detect_languages_function accepted with the
    reference's dateparser signature (single_value.py:838-842); locales and
    the detect function feed languages in the subset semantics."""
    exp = datetime(2021, 3, 3, 20, 30, tzinfo=UTC)
    op = DateTimeExtraordinaire(base_tz=CHI, locales=["nl-NL"])
    assert op.process_value("woensdag 3 maart 2021, 14:30") == exp

    calls = []

    def detect(value, confidence):
        calls.append((value, confidence))
        return ["sv"]

    op = DateTimeExtraordinaire(base_tz=CHI, detect_languages_function=detect,
                                region="SE", settings={"PREFER_DAY_OF_MONTH": "first"})
    assert op.process_value("fredag 14 augusti 2015, 10:00") == \
        datetime(2015, 8, 14, 15, 0, tzinfo=UTC)
    assert calls and calls[0][0] == "fredag 14 augusti 2015, 10:00"


def test_dtx_static_tz_fast_path_matches_process_value():
    """r6: the static-offset kernel fast path (Etc/GMT+5-style base_tz,
    plain datetime output) must match process_value row by row; a
    DST-capable base_tz must keep taking the full localize path."""
    import pandas as pd
    import pytz

    from scrapy_processors_spark import DateTimeExtraordinaire

    vals = [
        "March 5, 2021 at 14:30:15", "5 mars 2021, 14:30:15",
        "5 de marzo de 2021, 14:30:15", "5 de março de 2021, 14:30:15",
        "2024年3月5日 14時30分15秒", "2024년 3월 5일 14시 30분",
        "not a date", None, "",
    ]
    for tz in ("Etc/GMT+5", "UTC", "America/Chicago"):
        op = DateTimeExtraordinaire(base_tz=tz)
        out = list(op.kernel(pd.Series(vals, dtype=object)))
        for v, got in zip(vals, out):
            exp = op.process_value(v) if v is not None else None
            if exp is not None:
                exp = exp.astimezone(pytz.UTC).replace(tzinfo=None)
            if exp is None:
                assert pd.isna(got)  # None/NaT: the exec layer drops both
            else:
                assert got == exp, (tz, v, got, exp)
