"""`fields` workload: the reference library's item model -- many short
values per scraped row, each field an input-processor ``MapCompose`` chain
applied with ``apply_array`` plus an output reducer.  One item = one row.

The check compares a seeded sample of output rows with the reference tier
(``MapCompose.run_python`` and the reducers' ``run_python``), byte for byte.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from datetime import timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F
from pyspark.sql import types as T

from scrapy_processors_spark import (
    DateTime, DateTimeExtraordinaire, Emails, ExtractDigits, Join, MapCompose,
    PhoneNumbers, PriceParser, RemoveHTMLTags, TakeAllTruthy, TakeFirst,
    TakeFirstTruthy, ToFloat, clean_string,
)

from harness import SLOTS

SIZES = {"full": 16_000, "toy": 400}
SAMPLE_ROWS = 300

SITES = 16

INPUT_COLS = ("title", "description", "price", "sku", "published", "updated",
              "contact")

# (output field, input column, operator family, input processor,
#  output processor, output kind)
FIELDS = [
    ("title", "title", "strings", clean_string, TakeFirst(), "str"),
    ("description", "description", "strings",
     MapCompose(RemoveHTMLTags(), clean_string), Join(" "), "str"),
    ("price_amount", "price", "numeric",
     MapCompose(str.strip, PriceParser(return_attrs="amount")), TakeFirst(), "str"),
    ("price_currency", "price", "numeric",
     MapCompose(PriceParser(return_attrs="currency")), TakeFirst(), "str"),
    ("price_value", "price", "numeric", MapCompose(ToFloat()),
     TakeFirstTruthy(elem_type=T.DoubleType()), "float"),
    ("sku_number", "sku", "numeric", MapCompose(ExtractDigits()),
     TakeFirstTruthy(), "str"),
    ("published", "published", "datetime",
     MapCompose(DateTimeExtraordinaire(base_tz="Etc/GMT+5")),
     TakeFirst(elem_type=T.TimestampType()), "ts"),
    ("updated", "updated", "datetime",
     MapCompose(DateTime(input_tz="America/New_York")),
     TakeFirst(elem_type=T.TimestampType()), "ts"),
    ("emails", "contact", "contact", MapCompose(Emails()), TakeAllTruthy(), "list"),
    ("phones", "contact", "contact", MapCompose(PhoneNumbers()), Join("|"), "str"),
]
FAMILIES = ("strings", "numeric", "datetime", "contact")

_WORDS = ("acme widget turbo pro max mini deluxe garden kitchen steel cotton "
          "wireless smart compact classic ultra eco travel studio home").split()
_MONTHS = {
    "en": ["January", "February", "March", "April", "May", "June", "July",
           "August", "September", "October", "November", "December"],
    "fr": ["janvier", "février", "mars", "avril", "mai", "juin", "juillet",
           "août", "septembre", "octobre", "novembre", "décembre"],
    "es": ["enero", "febrero", "marzo", "abril", "mayo", "junio", "julio",
           "agosto", "septiembre", "octubre", "noviembre", "diciembre"],
    "pt": ["janeiro", "fevereiro", "março", "abril", "maio", "junho", "julho",
           "agosto", "setembro", "outubro", "novembro", "dezembro"],
}
_CURRENCY = ("${:,.2f}", "USD {:.2f}", "€{:.2f}", "£{:,.2f}", "¥{:.0f}",
             "R$ {:.2f}", "{:.2f} EUR")


def _title(rng) -> str:
    words = " ".join(rng.choices(_WORDS, k=rng.randint(2, 5)))
    noise = rng.randrange(4)
    if noise == 0:
        words = words.title()
    elif noise == 1:
        words = words.replace(" ", "\\n ", 1)      # escaped newline
    elif noise == 2:
        words = words + " \\u00ae"                   # escaped (R)
    quote = rng.choice(('"', "'", "“", ""))
    pad = " " * rng.randrange(4)
    return f"{pad}{quote}{words}{quote.replace('“', '”')}{pad}"


def _price(rng) -> str:
    if rng.random() < 0.15:
        return rng.choice(("", "  ", "N/A"))
    return rng.choice(_CURRENCY).format(rng.randint(1, 500_000) / 100)


def _fuzzy_date(rng) -> str:
    lang = rng.choice(("en", "fr", "es", "pt"))
    y, m, d = rng.randint(2015, 2025), rng.randint(1, 12), rng.randint(1, 28)
    hms = f"{rng.randrange(24):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}"
    month = _MONTHS[lang][m - 1]
    if lang == "en":
        return f"{month} {d}, {y} at {hms}"
    if lang == "fr":
        return f"{d} {month} {y}, {hms}"
    return f"{d} de {month} de {y}, {hms}"


def _iso_date(rng) -> str:
    return (f"{rng.randint(2015, 2025)}-{rng.randint(1, 12):02d}-"
            f"{rng.randint(1, 28):02d}, {rng.randrange(24):02d}:"
            f"{rng.randrange(60):02d}:{rng.randrange(60):02d}")


def _contact(rng) -> str:
    user = f"{rng.choice(_WORDS)}.{rng.randint(1, 998)}"
    dom = rng.choice(("shop.example.com", "mail.example.org", "store.test.net"))
    phone = f"({rng.randint(201, 988)}) {rng.randint(201, 998)}-{rng.randrange(10000):04d}"
    parts = [f"Contact {user}@{dom}", f"or call {phone}"]
    if rng.random() < 0.4:
        parts.append(f"fax +1 {rng.randint(201, 988)}-555-{rng.randrange(10000):04d}")
    if rng.random() < 0.3:
        parts.append(f"support@{dom}")
    return " ".join(parts)


def _description(rng) -> str:
    w = rng.choices(_WORDS, k=8)
    return (f"<div class=\"d\"><p>Great <b>{w[0]}</b> &amp; {w[1]} {w[2]}</p>\n"
            f"<ul><li>{w[3]}</li> <li>{w[4]} {w[5]}</li></ul>"
            f"<p>  {w[6]}   {w[7]} </p></div>")


def _values(rng, make, lo: int, hi: int) -> list:
    return [make(rng) for _ in range(rng.randint(lo, hi))]


def generate_rows(seed: int, n: int) -> pd.DataFrame:
    rng = random.Random(seed)
    rows = {c: [] for c in INPUT_COLS}
    for _ in range(n):
        rows["title"].append(_values(rng, _title, 1, 3))
        rows["description"].append(_values(rng, _description, 1, 2))
        rows["price"].append(_values(rng, _price, 1, 3))
        rows["sku"].append([f"SKU-{rng.randrange(99999)}-{rng.randrange(99)}"]
                           if rng.random() < 0.9 else [""])
        rows["published"].append(_values(rng, _fuzzy_date, 1, 2))
        rows["updated"].append(_values(rng, _iso_date, 1, 1))
        rows["contact"].append(_values(rng, _contact, 1, 2))
    pdf = pd.DataFrame(rows)
    pdf.insert(0, "id", np.arange(n, dtype=np.int64))
    pdf.insert(1, "site", np.array([rng.randrange(SITES) for _ in range(n)],
                                   dtype=np.int32))
    return pdf


ARROW_SCHEMA = pa.schema([("id", pa.int64()), ("site", pa.int32())]
                         + [(c, pa.list_(pa.string())) for c in INPUT_COLS])


def _render_spark(kind: str, value):
    if kind == "list":
        return None if value is None else list(value)
    return value


def _render_python(kind: str, value):
    if value is None:
        return None
    if kind == "ts":
        return value.astimezone(timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
    if kind == "list":
        return list(value)
    if kind == "str":
        return str(value)       # PriceParser amounts are Decimal in Python
    return value


def _spark_output(field):
    name, col, _, in_proc, out_proc, kind = field
    out = out_proc(in_proc.apply_array(F.col(col)))
    if kind == "ts":
        out = F.date_format(out, "yyyy-MM-dd HH:mm:ss")
    return out.alias(name)


class Workload:
    name = "fields"
    slots = SLOTS
    SPANS = ("operators.strings_s", "operators.numeric_s", "operators.datetime_s",
             "operators.contact_s", "operators.reducers_s")

    def __init__(self, spark, work_dir, seed, size, tracer):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.n = SIZES[size]
        self.input_path = os.path.join(work_dir, "fields-input")
        self.output_path = os.path.join(work_dir, "fields-output")
        self.items = self.n

    # ---- set-up
    def generate(self, final: bool) -> None:
        """Rows land as parquet files the way a scraper's export would,
        written by pyarrow outside Spark, one file per task slot."""
        pdf = generate_rows(self.seed, self.n)
        table = pa.Table.from_pandas(pdf, schema=ARROW_SCHEMA, preserve_index=False)
        shutil.rmtree(self.input_path, ignore_errors=True)
        os.makedirs(self.input_path)
        step = -(-self.n // SLOTS)
        for i in range(SLOTS):
            pq.write_table(table.slice(i * step, step),
                           os.path.join(self.input_path, f"part-{i:03d}.parquet"))
        if final:
            self.values_per_item = float(sum(
                pdf[c].map(len).sum() for c in INPUT_COLS)) / self.n
            pick = random.Random(self.seed + 1).sample(range(self.n),
                                                       min(SAMPLE_ROWS, self.n))
            self.sample = pdf.iloc[sorted(pick)]

    def prepare(self) -> None:
        """Reference-tier outputs for the sample rows."""
        self.expected = {}
        for row in self.sample.itertuples(index=False):
            out = {}
            for name, col, _, in_proc, out_proc, kind in FIELDS:
                values = in_proc.run_python(list(getattr(row, col)))
                out[name] = _render_python(kind, out_proc.run_python(values))
            self.expected[int(row.id)] = out

    # ---- reps
    def rep(self) -> None:
        """Items land in a site-partitioned table, the usual item-sink
        layout; the repartition is this workload's only exchange."""
        items = self.spark.read.parquet(self.input_path).select(
            "id", "site", *[_spark_output(f) for f in FIELDS])
        (items.repartition("site").write.mode("overwrite")
         .partitionBy("site").parquet(self.output_path))

    def rep_dirs(self):
        return (self.output_path,)

    def check(self, corrupt: bool) -> list:
        expected = self.expected
        if corrupt:
            first = min(expected)
            expected = {**expected, first: {**expected[first],
                                            "title": "not the reference title"}}
        got = (self.spark.read.parquet(self.output_path)
               .where(F.col("id").isin(list(expected))).collect())
        issues = []
        if len(got) != len(expected):
            issues.append(f"{len(got)} of {len(expected)} sample rows present")
        for row in got:
            want = expected[row["id"]]
            for name, _, _, _, _, kind in FIELDS:
                have = _render_spark(kind, row[name])
                if json.dumps(have) != json.dumps(want[name]):
                    issues.append(f"id={row['id']} {name}: spark={have!r} "
                                  f"reference={want[name]!r}")
        if self.spark.read.parquet(self.output_path).count() != self.n:
            issues.append("output row count differs from input")
        return issues

    def traced_rep(self) -> None:
        """Each operator family timed alone on a materialised input, then
        the reducers alone on materialised input-processor outputs."""
        inp = self.spark.read.parquet(self.input_path).persist()
        inp.count()
        for fam in FAMILIES:
            fields = [f for f in FIELDS if f[2] == fam]
            with self.tracer.span(f"operators.{fam}_s"):
                (inp.select("id", *[f[3].apply_array(F.col(f[1])).alias(f[0])
                                    for f in fields])
                 .write.format("noop").mode("overwrite").save())
        mid = inp.select("id", *[f[3].apply_array(F.col(f[1])).alias(f[0])
                                 for f in FIELDS]).persist()
        mid.count()
        with self.tracer.span("operators.reducers_s"):
            outs = []
            for name, _, _, _, out_proc, kind in FIELDS:
                out = out_proc(F.col(name))
                if kind == "ts":
                    out = F.date_format(out, "yyyy-MM-dd HH:mm:ss")
                outs.append(out.alias(name))
            mid.select("id", *outs).write.format("noop").mode("overwrite").save()

    def layer_counts(self) -> dict:
        return {"fields.values_per_item": (self.values_per_item, "count")}

    def info(self) -> dict:
        return {"rows": self.n, "sample_rows": len(self.expected),
                "values_per_item": self.values_per_item}
