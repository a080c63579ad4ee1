"""Plan-fingerprint canonicaliser (tools_plan_fingerprints.py): two
builds of one plan share a fingerprint, a changed literal does not, and
a plan Spark numbers nondeterministically is reported, not hashed.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from real_estate_data_pipeline_spark.queries import CATALOG
from tools_plan_fingerprints import fingerprint


def _build(spark, path, floor):
    spark.range(20).selectExpr("id", "array(id, id + 1) AS xs").write.parquet(path)
    cached = spark.read.parquet(path).cache()
    return cached.select(
        "id", F.transform("xs", lambda x: x * 2).alias("ys")
    ).filter(F.col("id") > floor)


def test_same_build_same_fingerprint(spark, tmp_path):
    a = _build(spark, str(tmp_path / "a"), 3)
    b = _build(spark, str(tmp_path / "b"), 3)
    try:
        plan_a, plan_b = (
            df._jdf.queryExecution().optimizedPlan().toString() for df in (a, b)
        )
        # the raw plans differ in exactly the run-dependent tokens
        assert plan_a != plan_b
        assert str(tmp_path / "a") in plan_a and str(tmp_path / "b") in plan_b
        assert "lambda x_" in plan_a
        assert fingerprint(a) == fingerprint(b)
        assert len(fingerprint(a)) == 64
    finally:
        spark.catalog.clearCache()


def test_changed_literal_changes_fingerprint(spark, tmp_path):
    a = _build(spark, str(tmp_path / "a"), 3)
    b = _build(spark, str(tmp_path / "b"), 4)
    try:
        assert fingerprint(a) != fingerprint(b)
    finally:
        spark.catalog.clearCache()


def test_multi_distinct_entry_is_unfingerprinted(spark, sf_small):
    df = CATALOG["ml_g_test_brand_size"].fn(spark, sf_small)
    assert fingerprint(df).startswith("unfingerprinted: multi-distinct aggregate")
