"""Readers.

Reference behaviors re-expressed:
- S1 JSONL multi-path scan with *inferred* schema
  (silver_etl_script.py:122-152) -> Bronze stays raw lines; each
  source's declared ``SourceSpec.bronze`` schema parses them in Silver
  (``from_json``), so reading starts no job and schema drift nulls the
  one drifted field of the one drifted row (SURVEY §7.4.5).
- S2 manual path-glob partition pruning (silver_etl_script.py:122-134)
  -> Hive-style partition columns so Catalyst prunes at plan time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"


def read_bronze_json(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """S1 — Bronze JSONL as raw lines (one ``value`` string column).
    Lazy: no schema inference, no job; ``SilverPipeline.map_source``
    parses the lines with the source's declared schema."""
    return spark.read.text(paths)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S3 — columnar table scan (parquet locally; Delta/Iceberg at scale)."""
    from ..queries import t

    return t(spark, sf_dir, name)


def read_any(
    spark: SparkSession,
    path: list[str] | str,
    fmt: str = "parquet",
    schema: T.StructType | None = None,
    **options,
) -> DataFrame:
    """Format-agnostic source reader: parquet / orc / json / csv with an
    optional explicit schema. CSV defaults to header=true; JSON/CSV get
    PERMISSIVE mode + corrupt-record capture when a schema is given."""
    fmt = fmt.lower()
    reader = spark.read.format(fmt)
    if fmt == "csv":
        reader = reader.option("header", options.pop("header", "true"))
    if fmt in ("json", "csv"):
        reader = reader.option("mode", "PERMISSIVE")
        if schema is not None:
            schema = T.StructType(
                [f for f in schema.fields if f.name != CORRUPT_COL]
                + [T.StructField(CORRUPT_COL, T.StringType())]
            )
            reader = reader.option("columnNameOfCorruptRecord", CORRUPT_COL)
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def with_incremental_filter(df: DataFrame, date_col: str, run_date: str) -> DataFrame:
    """S2 — incremental selection as a *predicate on a partition column*
    (Catalyst partition pruning), replacing the reference's manual
    year=/month=/file-prefix glob construction."""
    return df.where(F.col(date_col) == F.lit(run_date))
