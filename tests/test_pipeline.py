"""End-to-end Silver/Gold pipeline tests on synthetic Bronze fixtures
(SURVEY §5.3): schema conformance, dedup idempotency, validation split,
SCD2 version counts across two runs, Gold feature shapes.
"""

from __future__ import annotations

import dataclasses
import json

import pytest
from pyspark.sql import functions as F

from real_estate_data_pipeline_spark.io.readers import read_bronze_json
from real_estate_data_pipeline_spark.io.scd2 import Scd2Table
from real_estate_data_pipeline_spark.pipeline import GoldPipeline, SilverPipeline
from real_estate_data_pipeline_spark.schema.sources import SILVER_SCHEMA, SOURCE_SPECS

from fixtures import write_bronze


@pytest.fixture(scope="module")
def bronze(spark, tmp_path_factory):
    path = write_bronze(str(tmp_path_factory.mktemp("bronze")))
    return {
        name: read_bronze_json(spark, f"{path}/{name}.jsonl")
        for name in ("chotot_api", "meeyproject_api", "onehousing_api")
    }


@pytest.fixture(scope="module")
def silver_result(spark, bronze):
    return SilverPipeline(spark).run(bronze)


def test_silver_schema_conformance(silver_result):
    got = {f.name: f.dataType for f in silver_result.silver.schema.fields}
    for f in SILVER_SCHEMA.fields:
        assert f.name in got, f"missing {f.name}"
        assert got[f.name] == f.dataType, f"{f.name}: {got[f.name]} != {f.dataType}"


def test_validation_split(silver_result):
    # c2 (no project_name) and c3 (out-of-range lat) must be quarantined
    bad = {r["source_id"] for r in silver_result.quarantine.collect()}
    assert "c2" in bad and "c3" in bad
    reasons = {r["source_id"]: r["reject_reason"] for r in silver_result.quarantine.collect()}
    assert reasons["c2"].startswith("missing_required")
    assert reasons["c3"].startswith("out_of_range")


def test_dedup_keep_latest(silver_result):
    rows = silver_result.silver.filter(F.col("source_id") == "c1").collect()
    assert len(rows) == 1
    assert rows[0]["project_name"] == "Khu đô thị Phú Mỹ Hưng"  # newer wins


def test_nested_extraction(silver_result):
    m1 = silver_result.silver.filter(F.col("source_id") == "m1").first()
    assert m1["city"] == "Ha Noi"  # N6 + F6 recode
    assert m1["latitude"] == pytest.approx(21.0362)  # N5 [lon,lat] order
    assert m1["investor_name"] == "Vingroup"  # N7 dot path
    assert set(m1["images"]) == {"http://img/vsc1.jpg", "http://img/vsc2.jpg"}  # N1
    m2 = silver_result.silver.filter(F.col("source_id") == "m2").first()
    assert m2["latitude"] is None  # N5 size guard

    o1 = silver_result.silver.filter(F.col("source_id") == "o1").first()
    assert o1["total_area"] == pytest.approx(25000.0)  # M7 hectares
    assert o1["apartment_prices"][0]["number_of_bedroom"] == 1  # N1 struct cast
    assert len(o1["images"]) == 2  # N2 flatten
    assert o1["handover_date"] is not None  # D2 millis branch
    o2 = silver_result.silver.filter(F.col("source_id") == "o2").first()
    assert o2["handover_date"] is not None  # D2 ISO branch


def test_html_strip_and_flags(silver_result):
    c1 = silver_result.silver.filter(F.col("source_id") == "c1").first()
    assert "<b>" not in c1["description"] and "<br/>" not in c1["description"]
    assert c1["has_gym"] is True  # F8 keyword flag survives entity soup


def test_enrichment(silver_result):
    c1 = silver_result.silver.filter(F.col("source_id") == "c1").first()
    assert len(c1["universal_id"]) == 64  # sha2-256 hex
    assert c1["avg_selling_price"] == pytest.approx((2.5e9 + 5.0e9) / 2)
    assert 0.0 <= c1["data_completeness_score"] <= 1.0


def test_counters(silver_result):
    assert silver_result.counters["quarantined"] == 2
    assert silver_result.counters["valid"] >= 6


def test_cleanse_same_second_tie_is_deterministic(spark, tmp_path):
    """Two crawls of one listing in the same second, at different
    prices: the same row survives keep-latest whatever the input order
    or partitioning."""
    crawls = [
        {"project_oid": "d1", "project_name": "Dự án Z", "geo": "10.7340,106.7215",
         "sell_price_lower": price, "timestamp": "2024-01-10T08:00:00", "spider_name": "chotot_api",
         "process_run_id": "run1"}
        for price in (1_000_000_000.0, 2_000_000_000.0)
    ]
    pipeline = SilverPipeline(spark)

    def winner(rows, name, partitions=None):
        path = tmp_path / f"{name}.jsonl"
        path.write_text("".join(json.dumps(r) + "\n" for r in rows))
        mapped = pipeline.map_all({"chotot_api": read_bronze_json(spark, str(path))})
        if partitions:
            mapped = mapped.repartition(partitions)
        out = pipeline.cleanse(mapped).collect()
        assert len(out) == 1
        return out[0]["min_selling_price"]

    first = winner(crawls, "forward")
    assert winner(crawls[::-1], "reversed") == first
    assert winner(crawls, "repartitioned", partitions=4) == first
    assert winner(crawls[::-1], "reversed_repartitioned", partitions=4) == first


def test_map_source_missing_input_is_null_but_bugs_raise(spark, tmp_path):
    """A chotot_api file without the ``geo`` field maps latitude and
    longitude to NULL (schema drift); a derived function that raises
    is a bug and propagates instead of becoming a NULL column."""
    path = tmp_path / "nogeo.jsonl"
    path.write_text(json.dumps({
        "project_oid": "g1", "project_name": "Dự án G", "timestamp": "2024-01-10T08:00:00",
        "spider_name": "chotot_api", "process_run_id": "run1",
    }) + "\n")
    df = read_bronze_json(spark, str(path))
    spec = SOURCE_SPECS["chotot_api"]
    pipeline = SilverPipeline(spark)
    row = pipeline.map_source(df, spec).first()
    assert (row["source_id"], row["latitude"], row["longitude"]) == ("g1", None, None)

    def broken(df):
        raise TypeError("bug in a derived function")

    with pytest.raises(TypeError, match="bug in a derived function"):
        pipeline.map_source(df, dataclasses.replace(spec, derived={"latitude": broken}))


# ---------------------------------------------------------------------------
# SCD2 across two runs (SURVEY §5.3)
# ---------------------------------------------------------------------------


def test_scd2_two_runs(spark, tmp_path):
    t = Scd2Table(
        spark, str(tmp_path / "scd2"), key="universal_id",
        tracked=["price"], order_col="ingested_at_utc",
    )
    df1 = spark.createDataFrame(
        [("a", 100.0, "2024-01-01 00:00:00"), ("b", 200.0, "2024-01-01 00:00:00")],
        "universal_id string, price double, ingested_at_utc string",
    ).withColumn("ingested_at_utc", F.to_timestamp("ingested_at_utc"))
    c1 = t.merge(df1, batch_ts=F.lit("2024-01-01 12:00:00"))
    assert c1 == {"closed": 0, "inserted": 2, "unchanged": 0}

    # run 2: a changed, b unchanged, c new
    df2 = spark.createDataFrame(
        [("a", 150.0, "2024-01-02 00:00:00"), ("b", 200.0, "2024-01-02 00:00:00"),
         ("c", 300.0, "2024-01-02 00:00:00")],
        "universal_id string, price double, ingested_at_utc string",
    ).withColumn("ingested_at_utc", F.to_timestamp("ingested_at_utc"))
    c2 = t.merge(df2, batch_ts=F.lit("2024-01-02 12:00:00"))
    assert c2 == {"closed": 1, "inserted": 2, "unchanged": 1}

    final = t.read()
    assert final.count() == 4  # a(old)+a(new)+b+c
    cur = final.filter("is_current").collect()
    assert {r["universal_id"]: r["price"] for r in cur} == {"a": 150.0, "b": 200.0, "c": 300.0}
    old_a = final.filter(~F.col("is_current")).first()
    assert old_a["universal_id"] == "a" and old_a["valid_to"] is not None

    # idempotency: replaying run 2 changes nothing
    c3 = t.merge(df2, batch_ts=F.lit("2024-01-03 12:00:00"))
    assert c3["closed"] == 0 and c3["inserted"] == 0
    assert t.read().count() == 4


# ---------------------------------------------------------------------------
# Gold
# ---------------------------------------------------------------------------


def test_gold_features(spark, silver_result):
    gold = GoldPipeline(spark).run(silver_result.silver)
    rows = {r["universal_id"]: r for r in gold.collect()}
    assert len(rows) >= 6
    g = gold.filter(F.col("target_price").isNotNull())
    assert g.count() == gold.count()  # imputation cascade fills every price
    o2 = gold.filter(F.col("district") == "Quận 7").filter(F.col("price_imputed")).first()
    assert o2 is not None  # o2 had no price -> imputed
    tiers = {r["quality_tier"] for r in gold.collect()}
    assert tiers <= {"high", "medium", "low"}
    # encodings deterministic + in range
    for r in gold.collect():
        assert 0 <= r["district_encoded"] < 1000
        assert r["quarter"] in (1, 2, 3, 4)
