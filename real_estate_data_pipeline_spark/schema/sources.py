"""Config-as-data source specifications — the reference's one good
architectural idea, kept: declarative per-source field mappings, type
conversions, validation rules, and defaults, interpreted by generic
operators (SURVEY.md §1.1 row 'Config-as-data').

Reference semantics being re-expressed:
- CHOTOT/MEEYPROJECT/ONEHOUSING mappings: schema_config.py:133-227
- TYPE_CONVERSIONS: schema_config.py:241-268
- VALIDATION_RULES: schema_config.py:275-324
- DEFAULT_VALUES: schema_config.py:331-343
- nested special transforms: silver_etl_script.py:179-344

Divergences (documented per SURVEY §7.4):
- dates/timestamps stay TimestampType internally (the reference
  stringifies them mid-pipeline, silver_etl_script.py:892-908); we
  stringify only at the sink boundary.
- every source declares its Bronze record schema (``SourceSpec.bronze``,
  a DDL string of just the fields the spec reads); the reference infers
  one per file and then defensively probes df.columns.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..ops.functions import parse_date_dual, split_geo

# ---------------------------------------------------------------------------
# Canonical Silver schema (representative subset of SILVER_SCHEMA,
# schema_config.py:14-126, covering every Spark type the reference uses)
# ---------------------------------------------------------------------------

APARTMENT_PRICE = T.StructType(
    [
        T.StructField("number_of_bedroom", T.IntegerType()),
        T.StructField("min_price", T.DoubleType()),
        T.StructField("max_price", T.DoubleType()),
        T.StructField("min_area", T.DoubleType()),
        T.StructField("max_area", T.DoubleType()),
    ]
)

SILVER_SCHEMA = T.StructType(
    [
        T.StructField("universal_id", T.StringType()),
        T.StructField("source_id", T.StringType()),
        T.StructField("spider_name", T.StringType()),
        T.StructField("project_name", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("address", T.StringType()),
        T.StructField("ward", T.StringType()),
        T.StructField("district", T.StringType()),
        T.StructField("city", T.StringType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("total_area", T.DoubleType()),
        T.StructField("construction_area", T.DoubleType()),
        T.StructField("total_property", T.IntegerType()),
        T.StructField("total_floor", T.IntegerType()),
        T.StructField("total_block", T.IntegerType()),
        T.StructField("min_selling_price", T.DoubleType()),
        T.StructField("max_selling_price", T.DoubleType()),
        T.StructField("min_unit_price", T.DoubleType()),
        T.StructField("max_unit_price", T.DoubleType()),
        T.StructField("investor_name", T.StringType()),
        T.StructField("phone", T.StringType()),
        T.StructField("email", T.StringType()),
        T.StructField("facilities", T.ArrayType(T.StringType())),
        T.StructField("images", T.ArrayType(T.StringType())),
        T.StructField("apartment_prices", T.ArrayType(APARTMENT_PRICE)),
        T.StructField("handover_date", T.TimestampType()),
        T.StructField("ingested_at_utc", T.TimestampType()),
        T.StructField("process_run_id", T.StringType()),
    ]
)

# SCD2 + audit + partition columns added by the pipeline (not mapped from
# sources). Ref: schema_config.py:108-126.
SCD2_FIELDS = T.StructType(
    [
        T.StructField("is_current", T.BooleanType()),
        T.StructField("valid_from", T.TimestampType()),
        T.StructField("valid_to", T.TimestampType()),
        T.StructField("ingestion_year", T.StringType()),
        T.StructField("ingestion_month", T.StringType()),
        T.StructField("ingestion_date", T.DateType()),
    ]
)


# ---------------------------------------------------------------------------
# Source specs
# ---------------------------------------------------------------------------


@dataclass
class SourceSpec:
    """Declarative description of one Bronze source.

    ``mapping``: source column -> canonical column (simple renames).
    ``bronze``: DDL schema of a Bronze JSON line: the fields ``mapping``
    and ``derived`` read, plus the ``timestamp`` and ``process_run_id``
    stamps. Each field is typed wide enough for every token shape
    FIXTURES.md documents for it (a number-or-string field is STRING, a
    number that may be int or float is DOUBLE); a token that does not fit
    parses to NULL in its own row only.
    ``derived``: canonical column -> fn(df) -> Column for nested/special
    extractions (the reference's per-source if-ladders,
    silver_etl_script.py:179-344, become data here)."""

    name: str
    mapping: dict[str, str]
    bronze: str
    derived: dict[str, Callable[[DataFrame], Column]] = field(default_factory=dict)


def _chotot_geo(df: DataFrame) -> tuple[Column, Column]:
    return split_geo(F.col("geo"))


CHOTOT = SourceSpec(
    # Ref: CHOTOT_MAPPING schema_config.py:133-163
    name="chotot_api",
    mapping={
        "project_oid": "source_id",
        "project_name": "project_name",
        "introduction": "description",
        "full_address": "address",
        "ward_name": "ward",
        "area_name": "district",
        "region_name": "city",
        "area_total": "total_area",
        "area_construction": "construction_area",
        "sell_price_lower": "min_selling_price",
        "sell_price_higher": "max_selling_price",
        "price_lowest_per_m2": "min_unit_price",
        "price_highest_per_m2": "max_unit_price",
        "investor_name": "investor_name",
        "project_images": "images",
        "facilities": "facilities",
    },
    # facilities arrives as an array, a JSON-array string or a bare
    # string: read as text, conform's N9 coercion parses it. The areas
    # arrive as a number or a number-as-string: read as text, conform
    # casts them to double
    bronze="""project_oid STRING, project_name STRING, introduction STRING,
        full_address STRING, ward_name STRING, area_name STRING, region_name STRING,
        area_total STRING, area_construction STRING, sell_price_lower DOUBLE,
        sell_price_higher DOUBLE, price_lowest_per_m2 DOUBLE, price_highest_per_m2 DOUBLE,
        investor_name STRING, project_images ARRAY<STRING>, facilities STRING, geo STRING,
        `timestamp` STRING, process_run_id STRING""",
    derived={
        # F9 geo split: "lat,lng" string. Ref: transformation_utils.py:754-780
        "latitude": lambda df: _chotot_geo(df)[0],
        "longitude": lambda df: _chotot_geo(df)[1],
    },
)

MEEYPROJECT = SourceSpec(
    # Ref: MEEYPROJECT_MAPPING schema_config.py:166-187
    name="meeyproject_api",
    mapping={
        "_id": "source_id",
        "name": "project_name",
        "description": "description",
        "address": "address",
        "totalArea": "total_area",
        "lowestPriceByProduct": "min_selling_price",
        "highestPriceByProduct": "max_selling_price",
        "lowestPriceByM2": "min_unit_price",
        "highestPriceByM2": "max_unit_price",
        "totalBuilding": "total_block",
        "totalFloor": "total_floor",
        "totalApartment": "total_property",
    },
    bronze="""_id STRING, name STRING, description STRING, address STRING,
        totalArea DOUBLE, lowestPriceByProduct DOUBLE, highestPriceByProduct DOUBLE,
        lowestPriceByM2 DOUBLE, highestPriceByM2 DOUBLE, totalBuilding DOUBLE,
        totalFloor DOUBLE, totalApartment DOUBLE,
        location STRUCT<coordinates: ARRAY<DOUBLE>>,
        ward STRUCT<translation: ARRAY<STRUCT<name: STRING>>>,
        district STRUCT<translation: ARRAY<STRUCT<name: STRING>>>,
        city STRUCT<translation: ARRAY<STRUCT<name: STRING>>>,
        investorRelated STRUCT<investor: STRUCT<name: STRING>>,
        utilities STRUCT<basicUtilities: ARRAY<STRING>>, images ARRAY<STRUCT<url: STRING>>,
        `timestamp` STRING, process_run_id STRING""",
    derived={
        # N5 GeoJSON [lon,lat]. Ref: transformation_utils.py:783-809
        "longitude": lambda df: F.when(
            F.size("location.coordinates") >= 2,
            F.element_at("location.coordinates", 1).cast("double"),
        ),
        "latitude": lambda df: F.when(
            F.size("location.coordinates") >= 2,
            F.element_at("location.coordinates", 2).cast("double"),
        ),
        # N6 indexed nested path. Ref: transformation_utils.py:703-751
        "ward": lambda df: F.col("ward.translation").getItem(0).getField("name"),
        "district": lambda df: F.col("district.translation").getItem(0).getField("name"),
        "city": lambda df: F.col("city.translation").getItem(0).getField("name"),
        # N7 dot-path struct access. Ref: silver_etl_script.py:318-334
        "investor_name": lambda df: F.col("investorRelated.investor.name"),
        "facilities": lambda df: F.col("utilities.basicUtilities"),
        # N1 transform over array<struct>. Ref: silver_etl_script.py:304-312
        "images": lambda df: F.transform("images", lambda x: x.getField("url")),
    },
)


def _oh_insights(df: DataFrame) -> Column:
    # N1 struct-building transform with per-field casts.
    # Ref: silver_etl_script.py:248-266
    return F.transform(
        "insight_by_bedroom",
        lambda x: F.struct(
            x.getField("number_of_bedroom").cast("int").alias("number_of_bedroom"),
            x.getField("min_price").cast("double").alias("min_price"),
            x.getField("max_price").cast("double").alias("max_price"),
            x.getField("min_carpet_area").cast("double").alias("min_area"),
            x.getField("max_carpet_area").cast("double").alias("max_area"),
        ),
    )


ONEHOUSING = SourceSpec(
    # Ref: ONEHOUSING_MAPPING schema_config.py:190-227
    name="onehousing_api",
    mapping={
        "id": "source_id",
        "name": "project_name",
        "description": "description",
        "address": "address",
        "ward": "ward",
        "district": "district",
        "city": "city",
        "lat_cdnt": "latitude",
        "long_cdnt": "longitude",
        "blocks": "total_block",
        "total_property": "total_property",
        "number_living_floor": "total_floor",
        "min_selling_price": "min_selling_price",
        "max_selling_price": "max_selling_price",
        "min_unit_price": "min_unit_price",
        "max_unit_price": "max_unit_price",
        "developer_name": "investor_name",
    },
    # handover_date_from arrives as unix millis or as an ISO date string
    bronze="""id STRING, name STRING, description STRING, address STRING, ward STRING,
        district STRING, city STRING, lat_cdnt DOUBLE, long_cdnt DOUBLE, blocks BIGINT,
        total_property BIGINT, number_living_floor BIGINT, min_selling_price DOUBLE,
        max_selling_price DOUBLE, min_unit_price DOUBLE, max_unit_price DOUBLE,
        developer_name STRING, total_area DOUBLE,
        albums ARRAY<STRUCT<images: ARRAY<STRING>>>, quality_indexes ARRAY<STRUCT<name: STRING>>,
        insight_by_bedroom ARRAY<STRUCT<number_of_bedroom: STRING, min_price: DOUBLE,
            max_price: DOUBLE, min_carpet_area: DOUBLE, max_carpet_area: DOUBLE>>,
        handover_date_from STRING, `timestamp` STRING, process_run_id STRING""",
    derived={
        # M7 hectares -> m2. Ref: silver_etl_script.py:214-219
        "total_area": lambda df: F.col("total_area") * F.lit(10000.0),
        # N2 flatten albums. Ref: transformation_utils.py:670-673
        "images": lambda df: F.flatten(F.transform("albums", lambda a: a.getField("images"))),
        # N1 name extraction. Ref: silver_etl_script.py:226-240
        "facilities": lambda df: F.transform("quality_indexes", lambda q: q.getField("name")),
        "apartment_prices": _oh_insights,
        # D2 dual-format date (ISO string or unix millis).
        # Ref: silver_etl_script.py:364-389
        "handover_date": lambda df: parse_date_dual(F.col("handover_date_from")),
    },
)

SOURCE_SPECS: dict[str, SourceSpec] = {s.name: s for s in (CHOTOT, MEEYPROJECT, ONEHOUSING)}


# ---------------------------------------------------------------------------
# Validation rules (Ref: VALIDATION_RULES schema_config.py:275-324,
# QUALITY predicates silver_etl_script.py:533-565)
# ---------------------------------------------------------------------------


@dataclass
class ValidationRules:
    required: list[str]
    ranges: dict[str, tuple[float, float]]
    nonzero: list[str]
    defaults: dict[str, object]

    def valid_predicate(self) -> Column:
        """P2 compound predicate; rows failing go to quarantine."""
        pred = None
        for c in self.required:
            p = F.col(c).isNotNull() & (F.length(F.col(c).cast("string")) > 0)
            pred = p if pred is None else (pred & p)
        for c, (lo, hi) in self.ranges.items():
            p = F.col(c).isNull() | F.col(c).between(lo, hi)
            pred = p if pred is None else (pred & p)
        for c in self.nonzero:
            p = F.col(c).isNull() | (F.col(c) != 0)
            pred = p if pred is None else (pred & p)
        return pred if pred is not None else F.lit(True)

    def reject_reason(self) -> Column:
        """First failing rule name, for the quarantine table."""
        out = None
        for c in self.required:
            cond = F.col(c).isNull() | (F.length(F.col(c).cast("string")) == 0)
            r = F.lit(f"missing_required:{c}")
            out = F.when(cond, r) if out is None else out.when(cond, r)
        for c, (lo, hi) in self.ranges.items():
            cond = F.col(c).isNotNull() & ~F.col(c).between(lo, hi)
            r = F.lit(f"out_of_range:{c}")
            out = F.when(cond, r) if out is None else out.when(cond, r)
        for c in self.nonzero:
            cond = F.col(c).isNotNull() & (F.col(c) == 0)
            r = F.lit(f"zero_value:{c}")
            out = F.when(cond, r) if out is None else out.when(cond, r)
        return (out if out is not None else F.when(F.lit(False), "x")).otherwise(F.lit(None))


VALIDATION = ValidationRules(
    required=["source_id", "project_name"],  # Ref: silver_etl_script.py:533-539
    ranges={"latitude": (-90.0, 90.0), "longitude": (-180.0, 180.0)},  # :542-553
    nonzero=["latitude", "longitude"],
    defaults={"total_block": 1, "city": "Unknown"},  # Ref: schema_config.py:331-343
)
