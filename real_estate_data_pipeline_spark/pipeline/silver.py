"""Silver pipeline — the reference's flagship job
(run_silver_project_etl, silver_etl_script.py:1060-1113) rebuilt as
composable stages over declarative source specs.

What the reference does in ~1100 lines of script, and where we differ:

| stage | reference | here |
|---|---|---|
| ingest | inferred-schema JSON scan + count() | raw lines, declared per-source schema, no job |
| map | per-source if-ladders :157-521 | SourceSpec-driven generic op |
| validate | predicate split :526-589 | same, + reject reason column |
| DQ | one job per check | one aggregate: every check + the counters |
| cleanse | W1 dedup + fillna + per-column collect() outlier loop :631-696 | W1 dedup + fillna + ONE agg for all column stats |
| standardize | phone/email/html/city :701-749 | same column fns |
| enrich | sha2 id, midpoints, scores, flags :754-911 | same column fns |
| write | Delta MERGE SCD2 :916-966 | Scd2Table (same semantics) |
| quarantine/meta | Delta appends :997-1055 | parquet appends |

Spark jobs per Bronze day, traced on perfbench's ``pipeline_daily``
(three sources, a 1.5k-row day into a seeded SCD2 table; each count is
that step's own jobs): reading the sources 0, ``run`` 3 (quality checks
and counters included), the SCD2 merge about 10, the Gold rebuild 6.
The reference fires ~25 count() jobs for its counters alone.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark import StorageLevel

from ..ops import functions as X
from ..ops.dedup import keep_latest
from ..quality.checks import QualityChecker
from ..schema.conform import conform
from ..schema.sources import SILVER_SCHEMA, SOURCE_SPECS, VALIDATION, SourceSpec

# cleanse nulls out (does not drop) prices this many stddevs from the mean
OUTLIER_COLS = ("min_selling_price", "max_selling_price")
OUTLIER_SIGMA = 4.0


@dataclass
class SilverResult:
    silver: DataFrame
    quarantine: DataFrame
    quality_report: str
    counters: dict
    # the persisted validation-split frame; callers release() once the
    # silver/quarantine branches have been consumed
    cached: DataFrame | None = None

    def release(self) -> None:
        if self.cached is not None:
            self.cached.unpersist()
            self.cached = None


class SilverPipeline:
    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark

    # -- stage 2: schema mapping -------------------------------------------
    def map_source(self, df: DataFrame, spec: SourceSpec) -> DataFrame:
        """Parse the raw Bronze lines with the source's declared schema,
        then one explicit SELECT building every canonical column (renames
        + nested derivations), then conform to SILVER_SCHEMA — no
        withColumn chains, no rename collisions. Blank lines parse to
        NULL and are dropped; a malformed line parses to all-NULL fields
        and is quarantined by validation.
        Ref: apply_schema_mapping silver_etl_script.py:157-521."""
        rec = F.from_json(F.col("value"), spec.bronze).alias("rec")
        df = df.select(rec).where(F.col("rec").isNotNull()).select("rec.*")
        exprs = {dst: F.col(src) for src, dst in spec.mapping.items()}
        exprs.update({dst: fn(df) for dst, fn in spec.derived.items()})
        out = df.select(
            *[e.alias(d) for d, e in exprs.items()],
            F.col("process_run_id"),
            # Bronze stamp: yyyy-MM-dd'T'HH:mm:ss. Ref: silver_etl_script.py:511-516
            F.try_to_timestamp(F.col("timestamp"), F.lit("yyyy-MM-dd'T'HH:mm:ss")).alias(
                "ingested_at_utc"
            ),
        ).withColumn("spider_name", F.lit(spec.name))
        return conform(out, SILVER_SCHEMA)

    def map_all(self, bronze: dict[str, DataFrame]) -> DataFrame:
        """Per-source map -> U1 unionByName fold (silver_etl_script.py:
        167,504-508). Input is a dict of per-source DataFrames, each parsed
        with its own schema — a single inferred-schema scan of mixed
        sources (the reference's approach) makes conflicting nested types
        collapse to strings (SURVEY §7.4.5). Every branch conforms to the
        same schema, so the union is plan-only (no shuffle)."""
        parts = [
            self.map_source(df, SOURCE_SPECS[name])
            for name, df in bronze.items()
            if name in SOURCE_SPECS
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    # -- stage 3: validation split ------------------------------------------
    def validate(self, df: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
        """P2 predicate split; cached so valid and invalid branches don't
        recompute the full lineage. Returns (valid, invalid, tagged)
        where ``tagged`` is the persisted frame — the caller unpersists
        it once both branches are consumed (run() threads it through
        SilverResult.cached / release()).
        Ref: silver_etl_script.py:526-589."""
        pred = VALIDATION.valid_predicate()
        tagged = df.withColumn("__valid", pred).persist(StorageLevel.MEMORY_AND_DISK)
        valid = tagged.filter(F.col("__valid")).drop("__valid")
        invalid = (
            tagged.filter(~F.col("__valid"))
            .drop("__valid")
            .withColumn("reject_reason", VALIDATION.reject_reason())
        )
        return valid, invalid, tagged

    # -- stage 4: quality + counters ----------------------------------------
    def quality(self, tagged: DataFrame) -> tuple[str, dict]:
        """§2.14 checks over the valid rows and the valid/quarantined
        counters, from ONE aggregate grouped by the validation flag."""
        qc = (
            QualityChecker()
            .null_check("source_id", max_null_pct=0.0)
            .null_check("project_name", max_null_pct=0.0)
            .null_check("city", max_null_pct=50.0)
            .range_check("latitude", -90, 90)
            .range_check("longitude", -180, 180)
            .completeness_check(["source_id", "project_name", "spider_name"], 95.0)
        )
        groups = {
            r["__valid"]: r.asDict()
            for r in tagged.groupBy("__valid").agg(*qc.aggregate_exprs()).collect()
        }
        valid, invalid = (groups.get(flag, {"__total": 0}) for flag in (True, False))
        results = qc.results(valid)
        counters = {
            "valid": valid["__total"],
            "quarantined": invalid["__total"],
            "quality_failed": sum(1 for r in results if not r.passed),
        }
        return QualityChecker.report(results), counters

    # -- stage 5: cleanse ------------------------------------------------------
    def cleanse(self, df: DataFrame) -> DataFrame:
        """W1 keep-latest dedup + defaults + single-pass z-score outlier
        nulling. The reference collect()s per-column stats in a loop
        (silver_etl_script.py:668-693); we compute every column's mean/std
        in ONE agg and null out (not drop) outliers.

        Two crawls of one listing in the same second tie on
        ``ingested_at_utc``; a hash over every mapped column breaks the
        tie, so the same row wins whatever the input order or
        partitioning."""
        d = keep_latest(
            df.withColumn("__row_hash", F.xxhash64(*df.columns)),
            ["spider_name", "source_id"],
            "ingested_at_utc",
            tiebreakers=["__row_hash"],
        ).drop("__row_hash")
        d = d.na.fill({k: v for k, v in VALIDATION.defaults.items() if isinstance(v, (int, float))})
        d = d.na.fill({k: v for k, v in VALIDATION.defaults.items() if isinstance(v, str)})

        aggs = []
        for c in OUTLIER_COLS:
            aggs += [
                F.avg(c).alias(f"__mean_{c}"),
                F.stddev(c).alias(f"__std_{c}"),
            ]
        stats = d.agg(*aggs)
        out = d.crossJoin(F.broadcast(stats))
        for c in OUTLIER_COLS:
            z = (F.col(c) - F.col(f"__mean_{c}")) / F.col(f"__std_{c}")
            keep = F.col(c).isNull() | F.col(f"__std_{c}").isNull() | (F.abs(z) < OUTLIER_SIGMA)
            out = out.withColumn(c, F.when(keep, F.col(c)))
        return out.drop(*[f"__mean_{c}" for c in OUTLIER_COLS], *[f"__std_{c}" for c in OUTLIER_COLS])

    # -- stage 6: standardize ---------------------------------------------------
    def standardize(self, df: DataFrame) -> DataFrame:
        """F1/F2/F3/F6 normalizations + D4 partition columns.
        Ref: standardize_data silver_etl_script.py:701-749."""
        out = (
            df.withColumn("phone", X.normalize_phone(F.col("phone")))
            .withColumn("email", X.normalize_email(F.col("email")))
            .withColumn("description", X.strip_html(F.col("description")))
            .withColumn("project_name", X.normalize_whitespace(F.col("project_name")))
            .withColumn("city", X.recode_map(F.col("city"), X.VN_CITY_MAP))
        )
        parts = X.partition_cols(F.col("ingested_at_utc"))
        for name, c in parts.items():
            out = out.withColumn(name, c)
        return out

    # -- stage 7: enrich ----------------------------------------------------------
    def enrich(self, df: DataFrame) -> DataFrame:
        """F11 universal id, M3/M4 price midpoint/range, M6 scores, F8
        keyword flags, audit timestamps (kept as timestamps).
        Ref: enrich_data silver_etl_script.py:754-911."""
        out = df.withColumn(
            "universal_id", X.hash_id(F.col("spider_name"), F.col("source_id"))
        )
        lo, hi = F.col("min_selling_price"), F.col("max_selling_price")
        out = (
            out.withColumn("avg_selling_price", X.midpoint(lo, hi))
            .withColumn("price_range", X.value_range(lo, hi))
            .withColumn(
                "avg_unit_price", X.midpoint(F.col("min_unit_price"), F.col("max_unit_price"))
            )
        )
        score_fields = ["project_name", "address", "city", "district", "latitude",
                        "longitude", "min_selling_price", "total_area"]
        out = out.withColumn(
            "data_completeness_score", X.completeness_score([F.col(c) for c in score_fields])
        )
        for name, flag in X.keyword_flags(F.coalesce(F.col("description"), F.lit(""))).items():
            out = out.withColumn(name, flag)
        return out.withColumn("processed_at_utc", F.current_timestamp())

    # -- full run with sinks ---------------------------------------------------
    def run_and_write(
        self,
        bronze: dict[str, DataFrame],
        scd2_table,
        quarantine_path: str | None = None,
        batch_ts=None,
    ) -> SilverResult:
        """run() + the reference's sinks: SCD2 merge into the Silver
        table (S6), quarantine append partitioned by source (S4,
        silver_etl_script.py:1012-1016). Counters gain the merge stats."""
        result = self.run(bronze)
        merge_counters = scd2_table.merge(result.silver, batch_ts=batch_ts)
        result.counters.update({f"scd2_{k}": v for k, v in merge_counters.items()})
        if quarantine_path and result.counters.get("quarantined", 0) > 0:
            result.quarantine.write.mode("append").partitionBy("spider_name").parquet(
                quarantine_path
            )
        result.release()  # both branches consumed; free the cached split
        return result

    # -- full run -------------------------------------------------------------
    def run(self, bronze: dict[str, DataFrame]) -> SilverResult:
        mapped = self.map_all(bronze)
        valid, invalid, tagged = self.validate(mapped)
        report, counters = self.quality(tagged)
        enriched = self.enrich(self.standardize(self.cleanse(valid)))
        return SilverResult(
            silver=enriched,
            quarantine=invalid,
            quality_report=report,
            counters=counters,
            cached=tagged,
        )
