"""Pinned row hashes of the SCD2 table's read surface.

Seven Bronze days from perfbench's seeded generator go through
``SilverPipeline.run`` and ``Scd2Table.merge`` with fixed batch times.
Every read the table offers is hashed: ``read(v)`` for every version,
``read_as_of`` before, at and between the batch times, ``history()``,
``read_changes(1..v)`` and the merge counters. A change to the storage
layout must leave every hash as it is.

``processed_at_utc`` is left out of the hashes: Silver stamps it with
the wall clock, so it differs from run to run.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"))

from bronze import BASE_DATE, SOURCES, TRACKED, BronzeGenerator, write_day  # noqa: E402

from real_estate_data_pipeline_spark.io import readers, scd2  # noqa: E402
from real_estate_data_pipeline_spark.pipeline.silver import SilverPipeline  # noqa: E402

SEED = 11
DAYS = 7  # one backfill day, then six daily days
DAY_ROWS = 150
WALL_CLOCK = "processed_at_utc"

# computed on the snapshot-per-version layout, which rewrote the whole
# table on every merge
PINNED = {
    "counters": "cec7fcf886c887c0",
    "history": "823afc90ba02222b",
    "read": "35f4b6f9f1669e88",
    "read(1)": "e8d8db298571af71",
    "read_changes(1..1)": "7331c001526dccd6",
    "read(2)": "a42d994e8d3aad51",
    "read_changes(1..2)": "9c02560346ba996e",
    "read(3)": "1a06dd5c958aaa0b",
    "read_changes(1..3)": "942c2bbc415b4199",
    "read(4)": "7b0e4838f98acebe",
    "read_changes(1..4)": "7c16983d594865e4",
    "read(5)": "8eafffbcd0e29234",
    "read_changes(1..5)": "2bc3d350fcacf4b3",
    "read(6)": "00269cf890a3b25c",
    "read_changes(1..6)": "e80be5725f57c172",
    "read(7)": "35f4b6f9f1669e88",
    "read_changes(1..7)": "f7019e2bb696f59f",
    "read_as_of(before)": "38a8a6d84c9743c1",
    "read_as_of(day0)": "eb10ef8b88f50978",
    "read_as_of(day0+12h)": "eb10ef8b88f50978",
    "read_as_of(day1)": "726cf64e633db14d",
    "read_as_of(day1+12h)": "726cf64e633db14d",
    "read_as_of(day2)": "3bfac44cb2a4ea8b",
    "read_as_of(day2+12h)": "3bfac44cb2a4ea8b",
    "read_as_of(day3)": "ed2c9ec1abe8111c",
    "read_as_of(day3+12h)": "ed2c9ec1abe8111c",
    "read_as_of(day4)": "9d01f238ca9c0dc8",
    "read_as_of(day4+12h)": "9d01f238ca9c0dc8",
    "read_as_of(day5)": "e3eb8601b0f54c9e",
    "read_as_of(day5+12h)": "e3eb8601b0f54c9e",
    "read_as_of(day6)": "d468f7391bddc929",
    "read_as_of(day6+12h)": "d468f7391bddc929",
}


def batch_ts(d: int) -> str:
    return f"{BASE_DATE + dt.timedelta(days=d)} 23:59:59"


def frame_hash(df) -> str:
    """sha256 over the schema (names, types, order) and the sorted rows."""
    df = df.drop(WALL_CLOCK)
    lines = sorted(
        r[0]
        for r in df.select(
            F.to_json(F.struct(*df.columns), {"ignoreNullFields": "false"})
        ).collect()
    )
    h = hashlib.sha256(df.schema.simpleString().encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return h.hexdigest()[:16]


def value_hash(value) -> str:
    return hashlib.sha256(json.dumps(value, sort_keys=True).encode()).hexdigest()[:16]


def observe(spark, root: str) -> dict[str, str]:
    """Merge the generator's days into a fresh table and hash every read."""
    gen = BronzeGenerator(SEED)
    table = scd2.Scd2Table(spark, os.path.join(root, "silver"), key="universal_id",
                           tracked=TRACKED, order_col="ingested_at_utc")
    out: dict[str, str] = {}
    counters = []
    for d in range(DAYS):
        rows, _ = gen.day(d, DAY_ROWS)
        day_dir = os.path.join(root, f"day{d}")
        write_day(rows, day_dir)
        bronze = {s: readers.read_bronze_json(spark, os.path.join(day_dir, f"{s}.jsonl"))
                  for s in SOURCES}
        res = SilverPipeline(spark).run(bronze)
        counters.append(table.merge(res.silver, batch_ts=F.lit(batch_ts(d))))
        res.release()
    out["counters"] = value_hash(counters)
    out["history"] = value_hash(table.history())
    out["read"] = frame_hash(table.read())
    for v in range(1, DAYS + 1):
        out[f"read({v})"] = frame_hash(table.read(v))
        out[f"read_changes(1..{v})"] = frame_hash(table.read_changes(1, v))
    out["read_as_of(before)"] = frame_hash(table.read_as_of(f"{BASE_DATE} 00:00:00"))
    for d in range(DAYS):
        out[f"read_as_of(day{d})"] = frame_hash(table.read_as_of(batch_ts(d)))
        noon = f"{BASE_DATE + dt.timedelta(days=d + 1)} 12:00:00"
        out[f"read_as_of(day{d}+12h)"] = frame_hash(table.read_as_of(noon))
    return out


@pytest.mark.parametrize("fraction", [scd2.COMPACT_FRACTION, 0.0], ids=["default", "compact_every_merge"])
def test_scd2_reads_match_pinned_hashes(spark, tmp_path, monkeypatch, fraction):
    """The same hashes whether reads resolve deltas over the first
    merge's rows or over a base written at every merge."""
    monkeypatch.setattr(scd2, "COMPACT_FRACTION", fraction)
    assert observe(spark, str(tmp_path)) == PINNED
    bases = json.load(open(os.path.join(str(tmp_path), "silver", "_CURRENT")))["bases"]
    assert (len(bases) == DAYS - 1) == (fraction == 0.0)
