"""Query catalog: every operator family from SURVEY.md §2 exposed as a
named query over the driver's TPC-H-ish testdata, each paired with an
ANSI-SQL oracle that DuckDB runs on the same parquet files.

Cross-engine exactness rules used throughout (so the driver's value-hash
compare passes bit-for-bit):

- SUM/AVG of money columns go through DECIMAL(18,2): decimal addition is
  exact and order-independent, so Spark and DuckDB agree exactly; the
  final CAST AS DOUBLE of the same exact decimal yields the same double.
- Row-level double arithmetic ((a+b)/2, z-scores, cosine) uses identical
  IEEE-754 operations on identical inputs -> bit-identical outputs.
- stddev is never taken from the engines' accumulators (their summation
  orders differ); it is recomputed from exact decimal sums:
  sqrt((sumsq - sum^2/n)/(n-1)).
- Timestamps are output as formatted strings; computed integers are cast
  to BIGINT on both sides.
- ln() is the one libm-dependent function -> rounded to 6 decimals.
- Murmur3/xxhash64-based ops (minhash, simhash) are not reproducible in
  DuckDB -> registered without an oracle (driver does a rows-only check).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..ops import dedup, similarity, text
from ..ops import functions as X

DEC = "decimal(18,2)"


_FAN_OUT_CAP = 256 << 20  # bytes
# Tables whose per-row work can dwarf their on-disk size (text explodes
# into grams, embeddings into plane products, facts into wide aggs).
# Dimension tables are excluded: they broadcast or reduce in one task,
# and an exchange would only add a stage to every star join.
_FAN_OUT_TABLES = {"lineitem", "orders", "events", "documents", "embeddings"}
_FAN_OUT_WARNED = False


def _fan_out(spark: SparkSession, df: DataFrame, name: str) -> DataFrame:
    """Balance a scan whose effective split count is below the session's
    parallelism.

    The driver testdata ships ONE row group per table, and a parquet
    scan cannot split inside a row group — so without this every
    map-side pipeline (shingling, hashing, LSH plane products, decimal
    sums) runs on a single core of local[32]. Applied only to the
    fact/corpus tables (_FAN_OUT_TABLES) whose per-row work explodes
    past their on-disk size, and only under 256 MB: a real multi-file
    100 TB table — whose scan already yields thousands of splits —
    never pays the exchange, and dimension tables never do either."""
    if name not in _FAN_OUT_TABLES:
        return df
    try:
        import os
        from urllib.parse import urlparse

        paths = []
        for p in df.inputFiles():
            # Hadoop Path.toString renders local URIs as either
            # file:///path or file:/path — urlparse handles both.
            parsed = urlparse(p)
            paths.append(parsed.path if parsed.scheme == "file" else p)
        size = sum(os.path.getsize(p) for p in paths)
    except Exception as exc:  # pragma: no cover - environment-dependent
        global _FAN_OUT_WARNED
        if not _FAN_OUT_WARNED:
            _FAN_OUT_WARNED = True
            import sys

            print(
                f"[queries._fan_out] size probe failed for {name!r} ({exc!r}); "
                "scan fan-out disabled for this table",
                file=sys.stderr,
            )
        return df
    if size < _FAN_OUT_CAP:
        return df.repartition(spark.sparkContext.defaultParallelism)
    return df


# Inferred parquet schemas, memoized per (session id, path) for the
# life of the process (r15 opt round). Spark re-infers the schema on
# EVERY bare spark.read.parquet(path) — a 1-task footer-reading job per
# call, measured at the head of every bench query — and never caches
# it. The memo replays the footer job once per table per process (the
# bench's untimed warmup pass absorbs it) and later reads pass the
# explicit schema, which skips the job entirely. This caches METADATA
# only — every query still computes from the parquet data files — and
# matches how production reads work (catalog tables carry their schema;
# nobody re-infers per query). Keyed on the session id too, so a
# restarted session (new JVM) re-infers instead of trusting a stale
# process-level entry.
_SCHEMA_MEMO: dict[tuple[int, str], object] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    key = (id(spark), path)
    sch = _SCHEMA_MEMO.get(key)
    if sch is not None:
        return spark.read.schema(sch).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_MEMO[key] = df.schema
    return df


def t(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = True
) -> DataFrame:
    # fan_out=False (r15 opt round): call sites whose frame feeds a
    # broadcast build skip the balancing exchange — the plan showed the
    # fan-out Exchange sitting directly under BroadcastExchange with
    # the filter already pushed BELOW it, i.e. shuffle the rows 32 ways
    # only to collect them to the driver one line later; the exchange
    # parallelized nothing (guide §2.4 — remove shuffles outright).
    # The driver may run these queries in a session with a non-UTC
    # timezone; date_format/window on TIMESTAMP are tz-sensitive, and the
    # oracles are tz-naive. Pin UTC (runtime conf, idempotent).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.parquet has stored its timestamp as TIMESTAMP(NANOS) in
        # some testdata generations (Spark's parquet reader rejects nanos;
        # read nanos-as-long and truncate to micros — exactly DuckDB's
        # nanosecond->microsecond coercion) and TIMESTAMP(MICROS) in
        # others (read natively). Handle both, normalizing to
        # TIMESTAMP_NTZ so downstream formatting is timezone-independent.
        key = "spark.sql.legacy.parquet.nanosAsLong"
        prior = spark.conf.get(key, None)
        spark.conf.set(key, "true")
        df = _read_parquet(spark, f"{sf_dir}/events.parquet")
        ts_is_long = df.schema["ts"].dataType.typeName() == "long"
        if not ts_is_long:
            # Micros file: the legacy conf was not needed; restore it so it
            # doesn't silently apply to other tables' reads. When the file
            # IS nanos the conf must stay on through execution (the scan
            # consults it again when building record converters).
            if prior is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prior)
        if ts_is_long:
            return _fan_out(spark, df, "events" if fan_out else "").withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
            )
        return _fan_out(spark, df, "events" if fan_out else "").withColumn(
            "ts", F.col("ts").cast("timestamp_ntz")
        )
    return _fan_out(
        spark,
        _read_parquet(spark, f"{sf_dir}/{name}.parquet"),
        name if fan_out else "",
    )


def _scratch(name: str) -> str:
    """Per-user (and optionally per-run) scratch dir for gate queries
    that materialize state. A fixed world-readable /tmp name lets two
    concurrent gate runs rmtree each other mid-run and is a symlink/
    squat footgun on multi-user hosts; namespacing by user — plus
    ``SPARK_GRAFT_RUN_ID`` when the driver sets one — keeps the
    deliberate overwrite-not-accumulate behavior within one owner's
    runs only."""
    import getpass
    import tempfile

    try:
        user = getpass.getuser()
    except Exception:
        user = f"uid{os.getuid()}" if hasattr(os, "getuid") else "unknown"
    run_id = os.environ.get("SPARK_GRAFT_RUN_ID", "")
    ns = f"redp_{user}" + (f"_{run_id}" if run_id else "")
    root = os.path.join(tempfile.gettempdir(), ns)
    os.makedirs(root, exist_ok=True)
    return os.path.join(root, name)


def tok_arr(col):
    """Whitespace token array (lowercase, trimmed, empties dropped) —
    the ONE tokenizer of the NB / retrieval / vocabulary families (the
    SQL twin is the list_filter(regexp_split_to_array(...)) idiom).
    Single-sourced so a tokenizer tweak can't silently diverge one
    family's notion of a token from another's."""
    return F.filter(F.split(F.lower(F.trim(col)), r"\s+"), lambda x: x != F.lit(""))


def dsum(col: str, alias: str):
    """Exact decimal sum of a 2-dp money column, emitted as double."""
    return F.sum(F.col(col).cast(DEC)).cast("double").alias(alias)


def dsum_expr(c, alias: str):
    return F.sum(c).cast("double").alias(alias)


@dataclass
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    bench: bool = False  # include in bench.py headline set


CATALOG: dict[str, Query] = {}
# Entries that set session confs while they build. A caller building
# many entries on one session builds these alone, before any pool, so
# no other entry is built under their settings.
SERIAL = ("io_bucketed_join_gate",)


def register(name: str, oracle: str | None = None, bench: bool = False) -> None:
    """Declare a catalog entry; its ``fn`` is attached right below each
    ``register(...)`` call (keeps the oracle SQL next to the Spark code)."""
    CATALOG[name] = Query(fn=None, oracle=oracle, bench=bench)  # type: ignore[arg-type]


