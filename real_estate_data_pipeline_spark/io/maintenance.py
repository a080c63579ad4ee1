"""Table maintenance — the reference's S7 OPTIMIZE ZORDER / VACUUM
(silver_etl_script.py:979-988) without Delta:

- ``compact``: rewrite a parquet table into sized files, sorted by the
  clustering keys (the data-layout effect of Z-ORDER for one key prefix:
  min/max stats become selective, so scan-level skipping works).

VACUUM of an SCD2 table is ``Scd2Table.vacuum``: it keeps the newest
versions readable, writes a base at the oldest kept one when needed, and
drops the bases and deltas no kept version reads. The merge-on-read
layout is that class's business.

On Delta/Iceberg these become one-line SQL calls; the interface stays.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession


def _fsync_dir(path: str) -> None:
    """Make directory entries (renames) durable before depending on them."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _target_file_count(path: str, target_file_mb: int) -> int:
    total_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    return max(1, int(total_bytes // (target_file_mb * 1024 * 1024)))


def _swap_rewrite(path: str, write_tmp) -> None:
    """Crash-safe table rewrite: ``write_tmp(tmp_dir)`` produces the new
    data (with parquet's ``_SUCCESS`` marker) and the parent dir is
    fsynced BEFORE the live path is touched; the backup (``_old``) is
    retained until the new data is in place, and every intermediate
    state is repairable by ``recover_compact`` (complete forward when
    the new data carries ``_SUCCESS``, roll back otherwise) — matching
    the atomicity Delta's OPTIMIZE gets from its transaction log."""
    base = path.rstrip("/")
    tmp, bak = base + "_compacting", base + "_old"
    # Stale leftovers from a previous crashed run must be resolved first,
    # or the renames below would collide.
    recover_compact(path)
    write_tmp(tmp)
    parent = os.path.dirname(base) or "."
    _fsync_dir(parent)
    os.rename(path, bak)
    try:
        os.rename(tmp, path)
    except BaseException:
        # roll the live name back; tmp survives only until the next
        # compact/recover run cleans it (inspect immediately, or move it)
        os.rename(bak, path)
        raise
    _fsync_dir(parent)
    shutil.rmtree(bak)


def compact(
    spark: SparkSession,
    path: str,
    cluster_by: list[str],
    target_file_mb: int = 128,
) -> int:
    """Rewrite ``path`` sorted by ``cluster_by`` into size-targeted files.
    Returns the resulting file count. Sorting by the cluster keys gives
    parquet row-group min/max stats their selectivity (data skipping);
    swap atomicity per :func:`_swap_rewrite`."""
    # A crash mid-swap leaves the LIVE path missing; repair BEFORE the
    # read/size probes below, or a re-run fails instead of completing
    # the interrupted swap (the call inside _swap_rewrite is too late
    # for that state and stays only as an idempotent second guard).
    recover_compact(path)
    n_files = _target_file_count(path, target_file_mb)
    df = spark.read.parquet(path)

    def write_tmp(tmp: str) -> None:
        df.repartitionByRange(n_files, *cluster_by).sortWithinPartitions(
            *cluster_by
        ).write.mode("overwrite").parquet(tmp)

    _swap_rewrite(path, write_tmp)
    return n_files


def zorder_compact(
    spark: SparkSession,
    path: str,
    cols: list[str],
    bits: int = 16,
    target_file_mb: int = 128,
    n_files: int | None = None,
) -> int:
    """Multi-dimensional clustering — the OPTIMIZE ZORDER analog the
    reference gets from Delta (silver_etl_script.py:979-982): rows sort
    by the Morton (bit-interleaved) code of their min-max-normalized
    ``cols``, so EVERY clustered column gets bounded per-file min/max
    ranges and parquet row-group skipping prunes on any of them — a
    linear sort serves only its leading column. All JVM-side: one
    stats aggregate broadcast back over the rows, a shiftleft/OR
    expression for the interleave, repartitionByRange on the code.

    ``bits`` per dimension (``bits * len(cols)`` must be < 63). Min-max
    normalization is outlier-sensitive: a single extreme value squashes
    the rest of the grid into few cells — at 100 TB prefer a prior
    bounded-range cleanse (M2/m2b) or widen ``bits``. Crash-safe swap
    as :func:`compact`."""
    from pyspark.sql import functions as F

    if bits * len(cols) >= 63:
        raise ValueError("bits * len(cols) must stay below 63 (long Morton code)")
    recover_compact(path)  # repair any interrupted swap first (see compact)
    if n_files is None:
        n_files = _target_file_count(path, target_file_mb)
    df = spark.read.parquet(path)
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"__mn{j}") for j, c in enumerate(cols)],
        *[F.max(F.col(c).cast("double")).alias(f"__mx{j}") for j, c in enumerate(cols)],
    )
    grid = float((1 << bits) - 1)
    aug = df.crossJoin(F.broadcast(stats))
    norm = []
    for j, c in enumerate(cols):
        mn, mx = F.col(f"__mn{j}"), F.col(f"__mx{j}")
        span = F.when(mx > mn, mx - mn).otherwise(F.lit(1.0))
        norm.append(
            F.least(
                F.lit(grid),
                F.greatest(F.lit(0.0), (F.col(c).cast("double") - mn) / span * grid),
            ).cast("long")
        )
    k = len(cols)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, nc in enumerate(norm):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(nc, i).bitwiseAND(F.lit(1)), i * k + j)
            )
    zed = aug.withColumn("__z", z).drop(
        *[f"__mn{j}" for j in range(k)], *[f"__mx{j}" for j in range(k)]
    )

    def write_tmp(tmp: str) -> None:
        zed.repartitionByRange(n_files, "__z").sortWithinPartitions("__z").drop(
            "__z"
        ).write.mode("overwrite").parquet(tmp)

    _swap_rewrite(path, write_tmp)
    return n_files


def recover_compact(path: str) -> str:
    """Repair an interrupted ``compact`` swap. Returns the action taken:
    ``'completed'`` (live path was missing, new data had ``_SUCCESS`` —
    finish the swap), ``'rolled_back'`` (live path missing, new data
    incomplete — restore the backup), or ``'clean'`` (live path present —
    only drop leftover tmp/backup dirs)."""
    base = path.rstrip("/")
    tmp, bak = base + "_compacting", base + "_old"
    if os.path.exists(path):
        # Live table intact: any leftovers are strictly garbage.
        for d in (tmp, bak):
            if os.path.exists(d):
                shutil.rmtree(d)
        return "clean"
    parent = os.path.dirname(base) or "."
    if os.path.exists(tmp) and os.path.exists(os.path.join(tmp, "_SUCCESS")):
        os.rename(tmp, path)
        _fsync_dir(parent)  # repair must be as durable as the swap it finishes
        if os.path.exists(bak):
            shutil.rmtree(bak)
        return "completed"
    if os.path.exists(bak):
        os.rename(bak, path)
        _fsync_dir(parent)
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        return "rolled_back"
    raise FileNotFoundError(f"no table, backup, or complete tmp at {path}")


def delete_rows(
    spark: SparkSession,
    path: str,
    keep_cond,
    target_file_mb: int = 128,
) -> int:
    """Targeted delete — the GDPR/right-to-be-forgotten rewrite Delta
    expresses as ``DELETE FROM t WHERE ...``: rows NOT matching
    ``keep_cond`` are removed by rewriting the table through the same
    crash-safe swap as compact (no in-place mutation, the old data
    survives as ``_old`` until the new table is live). Returns the file
    count written. On Delta/Iceberg this becomes the one-line DELETE
    and the format rewrites only affected files; here the whole table
    rewrites — fine for the snapshot-store scale this backend targets,
    and the interface is what swaps.

    Three-valued logic matches SQL DELETE: ``DELETE WHERE p`` removes
    only rows where ``p`` is TRUE, so rows where the delete predicate
    (and hence ``keep_cond``) evaluates to NULL are KEPT — a plain
    ``filter(keep_cond)`` would silently over-delete every NULL-key
    row, which is exactly wrong for a compliance-grade op."""
    recover_compact(path)
    n_files = _target_file_count(path, target_file_mb)
    df = spark.read.parquet(path).filter(keep_cond | keep_cond.isNull())

    def write_tmp(tmp: str) -> None:
        df.coalesce(n_files).write.mode("overwrite").parquet(tmp)

    _swap_rewrite(path, write_tmp)
    return n_files
