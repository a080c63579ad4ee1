"""Gold pipeline — ML feature engineering over current Silver rows.
Re-expresses run_gold_ml_etl (/root/reference/data_processing/
gold_ml_etl.py:536-594) and enhance_silver_data
(data_enhancement.py:344-365).

Key fix vs the reference: the geocode lookup was the codebase's only
Python UDF (X1, data_enhancement.py:263-295 — a ~60-entry dict probed
row-by-row through Python serialization). Here it is a broadcast left
join against a literal dimension DataFrame — JVM-side, codegen-able,
and the idiomatic Spark shape for any lookup table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..ops import functions as X

# Small seed of district centroids (lat, lon) — same idea as the
# reference's hardcoded dict (data_enhancement.py:192-260), as data.
DISTRICT_CENTROIDS = [
    ("Ho Chi Minh", "Quận 1", 10.7769, 106.7009),
    ("Ho Chi Minh", "Quận 3", 10.7843, 106.6844),
    ("Ho Chi Minh", "Quận 7", 10.7340, 106.7215),
    ("Ho Chi Minh", "Thủ Đức", 10.8494, 106.7537),
    ("Ha Noi", "Ba Đình", 21.0352, 105.8342),
    ("Ha Noi", "Hoàn Kiếm", 21.0285, 105.8542),
    ("Ha Noi", "Cầu Giấy", 21.0362, 105.7905),
    ("Da Nang", "Hải Châu", 16.0678, 108.2208),
    ("Da Nang", "Sơn Trà", 16.1064, 108.2538),
]


class GoldPipeline:
    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark

    def centroid_dim(self) -> DataFrame:
        """S8 literal-rows dimension table (replaces UDF X1), as an inline
        VALUES table: a local relation, so broadcasting it runs no job."""
        rows = ", ".join(
            f"({_sql_str(city)}, {_sql_str(district)}, {lat!r}D, {lon!r}D)"
            for city, district, lat, lon in DISTRICT_CENTROIDS
        )
        return self.spark.sql(
            f"SELECT * FROM VALUES {rows} AS t(city, district, centroid_lat, centroid_lon)"
        )

    # -- price imputation (A1 + J2 + M9) -------------------------------------
    def impute_prices(self, df: DataFrame) -> DataFrame:
        """Median by (city, district), fallback median by city, fallback
        constant -> coalesce. Ref: data_enhancement.py:47-143.

        Both medians are window aggregates: one shuffle by city serves
        both windows, since rows clustered by city are clustered by
        (city, district) too. A GROUPING SETS aggregate joined back
        twice planned two shuffles and two broadcasts here (Catalyst
        pushes each join's level and not-null filters below the
        aggregate, so the two joins share no exchange). A NULL city or
        district gets no median of that level, as a join would give."""
        price, city, district = F.col("avg_selling_price"), F.col("city"), F.col("district")
        out = df.withColumn(
            "city_median", F.when(city.isNotNull(), F.median(price).over(Window.partitionBy("city")))
        ).withColumn(
            "district_median",
            F.when(
                city.isNotNull() & district.isNotNull(),
                F.median(price).over(Window.partitionBy("city", "district")),
            ),
        )
        imputed, flag = X.impute_cascade(
            price, F.col("district_median"), F.col("city_median"), F.lit(80_000_000.0)
        )
        return (
            out.withColumn("price_imputed", flag)
            .withColumn("avg_selling_price", imputed)
            .withColumn(
                "min_selling_price",
                F.coalesce(F.col("min_selling_price"), F.col("avg_selling_price") * 0.9),
            )
            .withColumn(
                "max_selling_price",
                F.coalesce(F.col("max_selling_price"), F.col("avg_selling_price") * 1.1),
            )
            .drop("district_median", "city_median")
        )

    # -- geocoding (X1 -> broadcast join) ------------------------------------
    def geocode(self, df: DataFrame) -> DataFrame:
        dim = self.centroid_dim().withColumnRenamed("district", "d_district").withColumnRenamed(
            "city", "d_city"
        )
        joined = df.join(
            F.broadcast(dim),
            (df.city == dim.d_city)
            & (F.regexp_replace(df.district, r"^(Quận|Huyện)\s+", "")
               == F.regexp_replace(dim.d_district, r"^(Quận|Huyện)\s+", "")),
            "left",
        )
        return (
            joined.withColumn("latitude", F.coalesce(F.col("latitude"), F.col("centroid_lat")))
            .withColumn("longitude", F.coalesce(F.col("longitude"), F.col("centroid_lon")))
            .drop("d_city", "d_district", "centroid_lat", "centroid_lon")
        )

    # -- features --------------------------------------------------------------
    def engineer_features(self, df: DataFrame) -> DataFrame:
        """Targets, encodings, log transforms, ratios, amenity scores,
        market timing. Ref: gold_ml_etl.py:94-321."""
        out = (
            df.withColumn("target_price", F.col("avg_selling_price"))
            .withColumn(
                "target_price_range",
                X.value_range(F.col("min_selling_price"), F.col("max_selling_price")),
            )
            # nulls -> 'UNKNOWN' bucket (the reference coalesces missing
            # codes to 0, gold_ml_etl.py:190-192)
            .withColumn(
                "city_encoded", X.stable_bucket(F.coalesce(F.col("city"), F.lit("UNKNOWN")), 100)
            )
            .withColumn(
                "district_encoded",
                X.stable_bucket(F.coalesce(F.col("district"), F.lit("UNKNOWN")), 1000),
            )
            .withColumn(
                "developer_encoded",
                X.stable_bucket(F.coalesce(F.col("investor_name"), F.lit("UNKNOWN")), 500),
            )
            .withColumn("log_total_area", X.log_guarded(F.col("total_area")))
            .withColumn("log_total_property", X.log_guarded(F.col("total_property")))
            .withColumn(
                "floor_area_ratio",
                X.safe_ratio(F.col("construction_area"), F.col("total_area")),
            )
            .withColumn(
                "avg_property_per_floor",
                X.safe_ratio(F.col("total_property"), F.col("total_floor")),
            )
            .withColumn(
                "price_per_sqm",
                X.safe_ratio(F.col("avg_selling_price"), F.col("total_area")),
            )
        )
        amenities = ["has_pool", "has_gym", "has_parking", "has_garden", "has_security", "has_playground"]
        present = [c for c in amenities if c in out.columns]
        if present:
            count = sum(F.col(c).cast("int") for c in present)
            out = out.withColumn("amenity_count", count).withColumn(
                "amenity_score", count / F.lit(float(len(present)))
            )
        out = (
            out.withColumn("ingestion_ts", F.coalesce(F.col("ingested_at_utc"), F.current_timestamp()))
        )
        for name, c in X.calendar_cols(F.col("ingestion_ts")).items():
            out = out.withColumn(name, c)
        return out.drop("ingestion_ts")

    def assign_quality_tiers(self, df: DataFrame) -> DataFrame:
        """M8 tiering on completeness. Ref: gold_ml_etl.py:328-373."""
        return df.withColumn(
            "quality_tier",
            F.when(
                (F.col("data_completeness_score") >= 0.8)
                & F.col("target_price").isNotNull()
                & ~F.col("price_imputed"),
                "high",
            )
            .when(F.col("data_completeness_score") >= 0.5, "medium")
            .otherwise("low"),
        )

    FEATURES = [
        "universal_id", "spider_name", "city", "district",
        "target_price", "target_price_range", "price_imputed",
        "city_encoded", "district_encoded", "developer_encoded",
        "latitude", "longitude",
        "log_total_area", "log_total_property", "floor_area_ratio",
        "avg_property_per_floor", "price_per_sqm",
        "amenity_count", "amenity_score",
        "year", "quarter", "month",
        "data_completeness_score", "quality_tier",
    ]

    def run(self, silver: DataFrame) -> DataFrame:
        out = self.impute_prices(silver)
        out = self.geocode(out)
        out = self.engineer_features(out)
        out = self.assign_quality_tiers(out)
        cols = [c for c in self.FEATURES if c in out.columns]
        return out.select(*cols)


def _sql_str(s: str) -> str:
    """SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
