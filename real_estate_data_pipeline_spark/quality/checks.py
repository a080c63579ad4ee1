"""Single-pass data-quality checker.

Re-expresses the reference's DataQualityChecker
(/root/reference/data_processing/data_quality_checks.py:10-278), whose
every method runs its own Spark job (a filter+count or distinct+count per
check). Here all registered checks compile into ONE ``agg()`` over the
DataFrame — one scan, one job, regardless of check count. At 100 TB that
is the difference between N full-table scans and 1.

Check families (SURVEY.md §2.14): null percentage, uniqueness, value
range, freshness, format (regex), completeness. Referential integrity
needs a join, so it remains a separate (single) job.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class CheckResult:
    name: str
    passed: bool
    metric: float
    threshold: float
    detail: str = ""


def _pct(num: Column, den: Column) -> Column:
    return F.when(den > 0, num.cast("double") / den.cast("double") * 100.0).otherwise(F.lit(0.0))


@dataclass
class QualityChecker:
    """Accumulates checks, compiles them to one aggregate pass.

    >>> qc = QualityChecker()
    >>> qc.null_check("o_custkey", max_null_pct=1.0)
    >>> qc.range_check("o_totalprice", 0, 1e9, max_violation_pct=0.1)
    >>> results = qc.run(df)          # ONE Spark job
    """

    _aggs: list[Column] = field(default_factory=list)
    _finalizers: list = field(default_factory=list)

    def _register(self, agg_cols: list[Column], finalize) -> None:
        self._aggs.extend(agg_cols)
        self._finalizers.append(finalize)

    # -- check builders ----------------------------------------------------
    def null_check(self, col: str, max_null_pct: float) -> "QualityChecker":
        """Ref: data_quality_checks.py:17-43."""
        a = F.sum(F.when(F.col(col).isNull(), 1).otherwise(0)).alias(f"__null_{col}")

        def fin(row) -> CheckResult:
            pct = 100.0 * row[f"__null_{col}"] / row["__total"] if row["__total"] else 0.0
            return CheckResult(f"null:{col}", pct <= max_null_pct, pct, max_null_pct)

        self._register([a], fin)
        return self

    def uniqueness_check(self, col: str, max_dup_pct: float = 0.0) -> "QualityChecker":
        """Ref: data_quality_checks.py:45-71."""
        a = F.countDistinct(F.col(col)).alias(f"__dist_{col}")

        def fin(row) -> CheckResult:
            total = row["__total"]
            dupes = total - row[f"__dist_{col}"]
            pct = 100.0 * dupes / total if total else 0.0
            return CheckResult(f"unique:{col}", pct <= max_dup_pct, pct, max_dup_pct)

        self._register([a], fin)
        return self

    def range_check(self, col: str, lo: float, hi: float, max_violation_pct: float = 0.0) -> "QualityChecker":
        """Ref: data_quality_checks.py:73-104."""
        bad = F.sum(
            F.when(F.col(col).isNotNull() & ~F.col(col).between(lo, hi), 1).otherwise(0)
        ).alias(f"__range_{col}")

        def fin(row) -> CheckResult:
            pct = 100.0 * row[f"__range_{col}"] / row["__total"] if row["__total"] else 0.0
            return CheckResult(f"range:{col}", pct <= max_violation_pct, pct, max_violation_pct)

        self._register([bad], fin)
        return self

    def freshness_check(self, ts_col: str, max_age_hours: float, now: Column | None = None, max_stale_pct: float = 0.0) -> "QualityChecker":
        """Ref: data_quality_checks.py:106-140."""
        now = now if now is not None else F.current_timestamp()
        age_h = (F.unix_timestamp(now) - F.unix_timestamp(F.col(ts_col))) / 3600.0
        stale = F.sum(F.when(age_h > max_age_hours, 1).otherwise(0)).alias(f"__stale_{ts_col}")

        def fin(row) -> CheckResult:
            pct = 100.0 * row[f"__stale_{ts_col}"] / row["__total"] if row["__total"] else 0.0
            return CheckResult(f"fresh:{ts_col}", pct <= max_stale_pct, pct, max_stale_pct)

        self._register([stale], fin)
        return self

    def format_check(self, col: str, pattern: str, max_violation_pct: float = 0.0) -> "QualityChecker":
        """Ref: data_quality_checks.py:177-208."""
        bad = F.sum(
            F.when(F.col(col).isNotNull() & ~F.col(col).rlike(pattern), 1).otherwise(0)
        ).alias(f"__fmt_{col}")

        def fin(row) -> CheckResult:
            pct = 100.0 * row[f"__fmt_{col}"] / row["__total"] if row["__total"] else 0.0
            return CheckResult(f"format:{col}", pct <= max_violation_pct, pct, max_violation_pct)

        self._register([bad], fin)
        return self

    def completeness_check(self, required: list[str], min_complete_pct: float) -> "QualityChecker":
        """Ref: data_quality_checks.py:210-234 (dropna-count, reframed as a
        conditional sum so it folds into the same pass)."""
        all_present = None
        for c in required:
            cond = F.col(c).isNotNull()
            all_present = cond if all_present is None else (all_present & cond)
        a = F.sum(F.when(all_present, 1).otherwise(0)).alias("__complete")

        def fin(row) -> CheckResult:
            pct = 100.0 * row["__complete"] / row["__total"] if row["__total"] else 100.0
            return CheckResult("completeness", pct >= min_complete_pct, pct, min_complete_pct)

        self._register([a], fin)
        return self

    # -- execution ---------------------------------------------------------
    def aggregate_exprs(self) -> list[Column]:
        return [F.count(F.lit(1)).alias("__total"), *self._aggs]

    def results(self, row: dict) -> list[CheckResult]:
        """Check results from one row of ``aggregate_exprs()`` values. A
        row of ``{"__total": 0}`` (no rows aggregated) is enough: every
        finalizer reads ``__total`` first."""
        return [fin(row) for fin in self._finalizers]

    def run(self, df: DataFrame) -> list[CheckResult]:
        """Aggregate ``df`` in a job of its own. The Silver pipeline folds
        the checks into its shared aggregate and calls ``results``; this
        entry stays for the unit tests and perfbench's span hook."""
        return self.results(df.agg(*self.aggregate_exprs()).collect()[0].asDict())

    @staticmethod
    def referential_integrity(df: DataFrame, col: str, ref_df: DataFrame, ref_col: str) -> int:
        """Orphan count via left_anti join. Ref: data_quality_checks.py:142-175."""
        return df.join(ref_df, df[col] == ref_df[ref_col], "left_anti").count()

    @staticmethod
    def report(results: list[CheckResult]) -> str:
        lines = ["DATA QUALITY REPORT", "=" * 40]
        for r in results:
            status = "PASS" if r.passed else "FAIL"
            lines.append(f"[{status}] {r.name}: {r.metric:.3f} (threshold {r.threshold})")
        failed = [r.name for r in results if not r.passed]
        lines.append(f"failed: {failed or 'none'}")
        return "\n".join(lines)


def observed_metrics(
    df: DataFrame, metrics: dict[str, Column]
):
    """ZERO-extra-scan data quality: attach the metric aggregates to the
    frame with Spark's Observation API — they compute DURING whatever
    action materializes the frame (the production write), not in a
    second job over the table. The QualityChecker above costs one extra
    scan; this costs none, which at 100 TB is the difference between
    monitoring being free and being a second pass over the lake.

    Returns ``(observed_df, observation)``: materialize ``observed_df``
    (write/count/...), then ``observation.get`` yields the metric dict.
    Batch-only (streaming queries surface the same expressions through
    ``observe`` + ``QueryProgressEvent.observedMetrics``)."""
    from pyspark.sql import Observation

    obs = Observation()
    out = df.observe(obs, *[c.alias(n) for n, c in metrics.items()])
    return out, obs
