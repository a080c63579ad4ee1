"""Seeded Bronze generator with ground truth.

Scales the three source shapes of ``tests/fixtures.py`` (Meey nested
structs, OneHousing hectares and unix-millis dates, Chotot "lat,lng" geo
strings) to N rows per day. A listing's id and fixed attributes come from
sha512 over (seed, source, listing); its prices and crawl stamps from sha256
over (seed, listing, day). One seed always gives byte-identical files. Each
day has fixed shares of rows:

- ``unchanged``: a re-crawl of an existing listing, tracked attributes equal;
- ``changed``: a re-crawl of an existing listing with a new price;
- ``new``: a listing never seen before;
- ``quarantine``: a row the validation split rejects (missing name, or
  coordinates out of range), under its own key;
- ``dup``: an older extra crawl of one of the day's listings, with a stale
  price. It is stamped in the morning and the kept copy in the afternoon,
  so copies never share a crawl second and keep-latest must drop it.

The generator keeps the expected counters of every day (``DayTruth``): the
values ``SilverPipeline.run_and_write`` must report and the number of
current rows the SCD2 table must hold afterwards.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
import struct
from dataclasses import dataclass

SOURCES = ("chotot_api", "meeyproject_api", "onehousing_api")
# columns the SCD2 table versions on; the generator changes only prices
TRACKED = ["project_name", "min_selling_price", "max_selling_price", "city"]
BASE_DATE = dt.date(2024, 1, 10)

# Shares of a daily batch (the backfill day has only new, dup and quarantine).
# The change shares match the one measured figure for this pipeline: a
# 3k-row day against a 52k-row Silver table recorded about 500 SCD2 changes
# (closed plus inserted rows), ~17% of the day's rows. A price change closes
# one row and inserts one, a new listing inserts one, so 2 * 0.05 + 0.07 =
# 0.17. The quarantine and duplicate rates have no measured source: they are
# unverified choices, small enough that the valid rows dominate.
DAILY_SHARES = {"changed": 0.05, "new": 0.07, "quarantine": 0.03, "dup": 0.04}
BACKFILL_SHARES = {"quarantine": 0.03, "dup": 0.04}

_CITIES = ["Hồ Chí Minh", "TP Hồ Chí Minh", "Hà Nội", "TP Hà Nội", "Đà Nẵng",
           "Cần Thơ", "Hải Phòng", "Bình Dương", "Đồng Nai", "Khánh Hòa"]
_DISTRICTS = ["Quận 1", "Quận 3", "Quận 7", "Quận 9", "Thủ Đức", "Ba Đình",
              "Hoàn Kiếm", "Cầu Giấy", "Nam Từ Liêm", "Hải Châu", "Sơn Trà"]
_WARDS = ["Tân Phú", "Long Bình", "Tây Mỗ", "Bến Nghé", "Thảo Điền", "Dịch Vọng"]
_NAMES = ["Vinhomes", "Masteri", "Eco Green", "Sunrise", "Phú Mỹ Hưng",
          "Gamuda", "Ecopark", "The Sun", "Hưng Thịnh", "Novaland"]
_WORDS = ["Riverside", "Central Park", "Smart City", "Garden", "Tower",
          "Residence", "Sky Villa", "Golden Star"]
_AMENITIES = ["hồ bơi", "phòng gym", "công viên", "an ninh 24/7",
              "bãi đỗ xe", "sân chơi trẻ em", "trường học", "siêu thị"]
_INVESTORS = ["Vingroup", "Masterise Homes", "Novaland", "Phú Mỹ Hưng Corp",
              "Capitaland", "Gamuda Land"]


def h(*parts) -> int:
    """64-bit integer from sha256 over the '|'-joined parts."""
    digest = hashlib.sha256("|".join(map(str, parts)).encode()).digest()
    return int.from_bytes(digest[:8], "big")


@dataclass(frozen=True)
class DayTruth:
    """Expected counters of one day (run_and_write's counter names)."""

    rows: int
    valid: int
    quarantined: int
    scd2_closed: int
    scd2_inserted: int
    scd2_unchanged: int
    current_rows: int  # is_current rows in the table after the merge

    def counters(self) -> dict[str, int]:
        return {
            "valid": self.valid,
            "quarantined": self.quarantined,
            "scd2_closed": self.scd2_closed,
            "scd2_inserted": self.scd2_inserted,
            "scd2_unchanged": self.scd2_unchanged,
        }


class BronzeGenerator:
    """Generates consecutive Bronze days for one seed.

    ``day(0, n)`` is the backfill into an empty table; every later
    ``day(d, n)`` re-crawls listings created on earlier days. Days must be
    generated in order, because a listing's current price depends on the
    days that changed it."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.keys: dict[str, int] = {s: 0 for s in SOURCES}  # listings per source
        self.price: dict[tuple[str, int], tuple[float, float]] = {}  # current prices
        self.current_rows = 0
        self.next_day = 0
        self._static: dict[tuple[str, int], dict] = {}

    # -- listing attributes -------------------------------------------------
    def first_prices(self, src: str, i: int) -> tuple[float, float]:
        lo = 1_000_000_000.0 + (h(self.seed, src, i, "p") % 9000) * 1_000_000.0
        return lo, lo + (1 + h(self.seed, src, i, "r") % 5000) * 1_000_000.0

    def shifted(self, src: str, i: int, day: int, sign: int) -> tuple[float, float]:
        """The current prices moved by a non-zero step: a price change
        (sign=+1) or the stale price of an older crawl (sign=-1)."""
        lo, hi = self.price[(src, i)]
        step = sign * (1 + h(self.seed, src, i, day, "dp") % 500) * 1_000_000.0
        return lo + step, hi + step

    def crawl_stamp(self, day: int, src: str, i: int, late: bool) -> str:
        """Crawl second of one copy: the latest copy is in the afternoon,
        an older duplicate in the morning, so copies never share a second."""
        sec = h(self.seed, src, i, day, "t", late) % 43_200 + (43_200 if late else 0)
        date = BASE_DATE + dt.timedelta(days=day)
        return f"{date.isoformat()}T{sec // 3600:02d}:{sec // 60 % 60:02d}:{sec % 60:02d}"

    def listing(self, src: str, i: int) -> dict:
        """The attributes of listing ``i`` that never change, all drawn
        from one sha512 over (seed, source, i) and memoised."""
        key = (src, i)
        if key not in self._static:
            v = struct.unpack(">16I", hashlib.sha512(f"{self.seed}|{src}|{i}".encode()).digest())
            name = f"{_NAMES[v[0] % len(_NAMES)]} {_WORDS[v[1] % len(_WORDS)]} {i}"
            district, city = _DISTRICTS[v[3] % len(_DISTRICTS)], _CITIES[v[2] % len(_CITIES)]
            investor = _INVESTORS[v[5] % len(_INVESTORS)]
            amen = [_AMENITIES[(v[6] >> (8 * k)) % len(_AMENITIES)] for k in range(3)]
            self._static[key] = {
                "id": f"{src[0]}{v[15]:08x}{v[14]:08x}", "name": name, "city": city,
                "district": district, "ward": _WARDS[v[4] % len(_WARDS)],
                "investor": investor, "amen": amen,
                "lat": 8.5 + (v[7] % 140_000) / 10_000.0,
                "lon": 102.2 + (v[8] % 70_000) / 10_000.0,
                "area": v[9], "b": v[10], "f": v[11], "ap": v[12], "ho": v[13],
                "desc": (f"<p><b>{name}</b> tại {district}, {city}.</p> Tiện ích: "
                         f"{', '.join(amen)} &amp; nhiều hơn nữa.<br/>Liên hệ chủ đầu tư "
                         f"{investor} để biết thêm chi tiết."),
            }
        return self._static[key]

    def row(self, day: int, src: str, i: int, prices: tuple[float, float],
            late: bool = True, bad: str | None = None) -> dict:
        """One Bronze record in ``src``'s shape. ``bad`` is None, 'name'
        (missing project name) or 'geo' (coordinates out of range)."""
        a = self.listing(src, i)
        lo, hi = prices
        name, city, district, ward = a["name"], a["city"], a["district"], a["ward"]
        lat, lon = (95.0, 190.0) if bad == "geo" else (a["lat"], a["lon"])
        amen, desc = a["amen"], a["desc"]
        sid = a["id"]
        stamp = self.crawl_stamp(day, src, i, late)
        run_id = f"run{day}"
        if src == "chotot_api":
            r = {
                "project_oid": sid, "project_name": name, "introduction": desc,
                "full_address": f"{ward}, {district}", "ward_name": ward,
                "area_name": district, "region_name": city,
                "geo": f"{lat},{lon}",
                "area_total": float(1000 + a["area"] % 500_000),
                "sell_price_lower": lo, "sell_price_higher": hi,
                "investor_name": a["investor"],
                "facilities": amen[:2], "project_images": [f"http://img/{sid}/1.jpg"],
            }
            name_key = "project_name"
        elif src == "meeyproject_api":
            r = {
                "_id": sid, "name": name, "description": desc, "address": district,
                "location": {"type": "Point", "coordinates": [lon, lat]},
                "ward": {"translation": [{"name": ward}]},
                "district": {"translation": [{"name": district}]},
                "city": {"translation": [{"name": city}]},
                "totalArea": float(10_000 + a["area"] % 3_000_000),
                "lowestPriceByProduct": lo, "highestPriceByProduct": hi,
                "totalBuilding": 1 + a["b"] % 60,
                "totalFloor": 5 + a["f"] % 40,
                "totalApartment": 100 + a["ap"] % 40_000,
                "investorRelated": {"investor": {"name": a["investor"]}},
                "utilities": {"basicUtilities": amen[:2]},
                "images": [{"url": f"http://img/{sid}/{k}.jpg"} for k in range(2)],
            }
            name_key = "name"
        else:
            r = {
                "id": sid, "name": name, "description": desc, "address": ward,
                "ward": ward, "district": district, "city": city,
                "lat_cdnt": lat, "long_cdnt": lon,
                "total_area": (1 + a["area"] % 500) / 10.0,  # hectares
                "blocks": 1 + a["b"] % 12,
                "total_property": 100 + a["ap"] % 8000,
                "number_living_floor": 5 + a["f"] % 40,
                "min_selling_price": lo, "max_selling_price": hi,
                "developer_name": a["investor"],
                "insight_by_bedroom": [
                    {"number_of_bedroom": str(b), "min_price": lo + b * 1e8,
                     "max_price": hi + b * 1e8, "min_carpet_area": 30.0 * b,
                     "max_carpet_area": 35.0 * b}
                    for b in (1, 2)
                ],
                "quality_indexes": [{"name": "air", "value": "good"}],
                "albums": [{"name": "a", "images": [f"http://img/{sid}/a.jpg"]}],
                # unix millis -> the D2 date branch
                "handover_date_from": 1_640_995_200_000 + (a["ho"] % 1500) * 86_400_000,
            }
            name_key = "name"
        if bad == "name":
            del r[name_key]
        r.update({"timestamp": stamp, "spider_name": src, "process_run_id": run_id})
        return r

    # -- days ---------------------------------------------------------------------
    def day(self, d: int, n_rows: int) -> tuple[dict[str, list[dict]], DayTruth]:
        """Rows per source for day ``d`` and its expected counters."""
        if d != self.next_day:
            raise ValueError(f"days are generated in order: expected {self.next_day}, got {d}")
        self.next_day += 1
        shares = BACKFILL_SHARES if d == 0 else DAILY_SHARES
        per_src = n_rows // len(SOURCES)
        n_quar = round(per_src * shares["quarantine"])
        n_dup = round(per_src * shares["dup"])
        if d == 0:
            n_changed, n_new = 0, per_src - n_quar - n_dup
            n_unchanged = 0
        else:
            n_changed = round(per_src * shares["changed"])
            n_new = round(per_src * shares["new"])
            n_unchanged = per_src - n_changed - n_new - n_quar - n_dup
        out: dict[str, list[dict]] = {}
        for src in SOURCES:
            existing = self.keys[src]
            if n_unchanged + n_changed > existing:
                raise ValueError(f"day {d}: {src} has {existing} listings, "
                                 f"cannot re-crawl {n_unchanged + n_changed}")
            rng = random.Random(h(self.seed, src, d, "sample"))
            recrawl = rng.sample(range(existing), n_unchanged + n_changed)
            for i in recrawl[n_unchanged:]:
                self.price[(src, i)] = self.shifted(src, i, d, +1)
            new = list(range(existing, existing + n_new))
            for i in new:
                self.price[(src, i)] = self.first_prices(src, i)
            self.keys[src] = existing + n_new
            listed = recrawl + new
            rows = [self.row(d, src, i, self.price[(src, i)]) for i in listed]
            # an older crawl of some of today's listings, with a stale price
            for i in rng.sample(listed, n_dup):
                rows.append(self.row(d, src, i, self.shifted(src, i, d, -1), late=False))
            # rejected rows live under their own keys (index < 0)
            for k in range(n_quar):
                i = -1 - k - d * per_src
                rows.append(self.row(d, src, i, self.first_prices(src, i),
                                     bad="name" if k % 2 == 0 else "geo"))
            rng.shuffle(rows)
            out[src] = rows
        n_src = len(SOURCES)
        self.current_rows += n_new * n_src
        truth = DayTruth(
            rows=per_src * n_src,
            valid=(per_src - n_quar) * n_src,
            quarantined=n_quar * n_src,
            scd2_closed=n_changed * n_src,
            scd2_inserted=(n_changed + n_new) * n_src,
            scd2_unchanged=n_unchanged * n_src,
            current_rows=self.current_rows,
        )
        return out, truth


def write_day(rows_by_src: dict[str, list[dict]], day_dir: str) -> int:
    """Write one JSONL file per source; returns the bytes written."""
    os.makedirs(day_dir, exist_ok=True)
    total = 0
    for src, rows in rows_by_src.items():
        path = os.path.join(day_dir, f"{src}.jsonl")
        with open(path, "w", encoding="utf-8") as fh:
            for r in rows:
                fh.write(json.dumps(r, ensure_ascii=False) + "\n")
        total += os.path.getsize(path)
    return total
