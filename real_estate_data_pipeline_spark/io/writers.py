"""Writers — S4 append, S5 partitioned overwrite (parquet locally; the
same calls work against Delta by swapping the format, which is how the
reference writes: silver_etl_script.py:947-961, gold_ml_etl.py:459-464).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
) -> None:
    """zstd: ~30% smaller than snappy at similar scan speed — at 100 TB
    that is tens of TB of storage and IO.

    A partitioned ``mode='overwrite'`` is dynamic (matching Delta's
    ``replaceWhere`` intent): it rewrites ONLY the partitions present in
    ``df``. Spark's static mode would drop every other partition of the
    table first — on a 100 TB table a one-day re-run would silently
    delete years of history."""
    w = df.write.mode(mode).option("compression", "zstd")
    if partition_by:
        w = w.partitionBy(*partition_by)
        if mode == "overwrite":
            w = w.option("partitionOverwriteMode", "dynamic")
    w.parquet(path)


def write_any(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "append",
    partition_by: list[str] | None = None,
    **options,
) -> None:
    """Format-agnostic sink (parquet / orc / json / csv), the write-side
    mirror of ``readers.read_any``. Columnar formats get zstd unless the
    caller overrides; partitioned overwrites are dynamic (see
    :func:`write_parquet`)."""
    fmt = fmt.lower()
    w = df.write.format(fmt).mode(mode)
    if fmt in ("parquet", "orc"):
        w = w.option("compression", options.pop("compression", "zstd"))
    if fmt == "csv":
        w = w.option("header", options.pop("header", "true"))
    if partition_by:
        w = w.partitionBy(*partition_by)
        if mode == "overwrite":
            w = w.option("partitionOverwriteMode", "dynamic")
    for k, v in options.items():
        w = w.option(k, v)
    w.save(path)


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_col: str,
    n_ranges: int = 8,
    mode: str = "overwrite",
    **options,
) -> None:
    """Globally range-sorted export: rows are range-partitioned on
    ``sort_col`` into ``n_ranges`` partitions and sorted within each, so
    reading the partition files in partition order yields a fully sorted
    dataset — the layout downstream sequential consumers (external
    mergers, time-ordered training curricula) want.

    ``repartitionByRange`` samples the sort key to pick boundaries
    (reservoir sample per partition — one extra pass but no global
    sort), so no task ever holds more than ~1/n_ranges of the data:
    this is the scale-safe way to produce sorted output, vs a global
    ``orderBy`` write whose final sort would bottleneck on task count,
    or a single-window rank (the shape ops/sampling's two-level sharder
    exists to avoid). Boundary placement is therefore sample-dependent
    — per-file ORDER is guaranteed, per-file row COUNTS are not; the
    gate-facing exact-boundary twin is queries.export_range_partition_stats,
    which derives boundaries deterministically from the value histogram."""
    (
        df.repartitionByRange(n_ranges, F.col(sort_col))
        .sortWithinPartitions(sort_col)
        .write.mode(mode)
        .options(**options)
        .parquet(path)
    )
