"""SCD Type 2 table — the reference's Delta MERGE flow
(S6, silver_etl_script.py:916-966) re-expressed as an engine-agnostic
merge computation plus a snapshot-versioned parquet store.

Semantics (null-safe variant; the reference's ``!=`` comparisons are
null-hostile — SURVEY §7.4.1 — we use ``<=>`` equivalents and document
the divergence):

1. incoming batch is deduplicated to one row per key (keep-latest);
2. current rows whose tracked attributes changed are *closed*
   (is_current=false, valid_to=batch_ts);
3. a new current version is appended for changed + brand-new keys;
4. unchanged keys are left alone (the reference re-appends them,
   creating duplicate history — we don't).

Storage: each merge writes a full new snapshot under ``v<N>/`` (no
leading underscore — Spark's DataSource logs "All paths were ignored"
for explicit roots whose basename starts with ``_`` or ``.``) and then
atomically repoints a ``_CURRENT`` marker — a poor-man's transaction log.
On a real cluster this class swaps its storage layer for Delta/Iceberg
``MERGE INTO`` (the compute_merge() output maps 1:1 onto
whenMatchedUpdate/whenNotMatchedInsert), so partition-level rewrites and
data skipping come from the table format, not from this file.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..ops.dedup import keep_latest

# the batch timestamp column the merge's SQL emissions read
_TS = "__scd2_batch_ts"


class Scd2Table:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: str,
        tracked: list[str],
        order_col: str,
    ) -> None:
        self.spark = spark
        self.path = path
        self.key = key
        self.tracked = tracked
        self.order_col = order_col
        # Snapshot schema memo: every bare
        # spark.read.parquet re-infers the schema in a 1-task footer
        # job; all of a table's snapshots share one schema, so the
        # first write/read pins it and later reads pass it explicitly
        # (metadata-only caching — exactly what a Delta/Iceberg
        # transaction log would provide).
        self._snap_schema = None

    # -- storage ------------------------------------------------------------
    def _current_version(self) -> int | None:
        marker = os.path.join(self.path, "_CURRENT")
        if not os.path.exists(marker):
            return None
        with open(marker) as fh:
            return int(fh.read().strip())

    def read(self, version: int | None = None) -> DataFrame | None:
        """Read the current snapshot, or time-travel to ``version`` (the
        Delta ``versionAsOf`` idea over the snapshot log)."""
        v = version if version is not None else self._current_version()
        if v is None:
            return None
        target = os.path.join(self.path, f"v{v}")
        if not os.path.isdir(target):
            raise FileNotFoundError(f"snapshot version {v} not found (vacuumed?)")
        return self._read_snapshot_dir(target)

    def _read_snapshot_dir(self, target: str) -> DataFrame:
        """Parquet read with the memoized snapshot schema when known
        (skips Spark's per-read schema-inference job); first read of a
        pre-existing table infers once and pins the memo."""
        if self._snap_schema is not None:
            return self.spark.read.schema(self._snap_schema).parquet(target)
        df = self.spark.read.parquet(target)
        self._snap_schema = df.schema
        return df

    def read_as_of(self, ts: str) -> DataFrame | None:
        """Point-in-time view by TIMESTAMP (the Delta ``timestampAsOf``
        idea, resolved from the validity columns instead of the log):
        the one version of each key whose [valid_from, valid_to) window
        contains ``ts`` — rows never seen by then are excluded, rows
        closed by a later merge reappear as they were. A pure filter on
        the current snapshot (every historical version lives in it),
        so it pushes down to the parquet scan."""
        from datetime import datetime

        try:
            datetime.fromisoformat(ts)
        except (TypeError, ValueError) as exc:
            # an unparseable string would cast to NULL and silently
            # return an EMPTY frame — indistinguishable from "no
            # versions existed then"; Delta's timestampAsOf errors, so
            # do we
            raise ValueError(f"read_as_of: unparseable timestamp {ts!r}") from exc
        df = self.read()
        if df is None:
            return None
        tcol = F.lit(ts).cast("timestamp")
        return df.filter(
            (F.col("valid_from") <= tcol)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > tcol))
        )

    def history(self) -> list[int]:
        """Available snapshot versions, oldest first."""
        if not os.path.isdir(self.path):
            return []
        return sorted(
            int(e[1:])
            for e in os.listdir(self.path)
            if e.startswith("v") and e[1:].isdigit()
        )

    def vacuum(self, keep: int = 2) -> list[str]:
        """Remove old snapshot dirs, keeping the current one plus
        ``keep-1`` predecessors (the Delta ``VACUUM`` idea over the
        snapshot log). Returns the removed dir names."""
        current = self._current_version()
        if current is None:
            return []
        removed = []
        for v in self.history():
            if v <= current - keep:
                shutil.rmtree(os.path.join(self.path, f"v{v}"))
                removed.append(f"v{v}")
        return removed

    def _write_snapshot(self, df: DataFrame) -> None:
        v = (self._current_version() or 0) + 1
        target = os.path.join(self.path, f"v{v}")
        df.write.mode("overwrite").parquet(target)
        # normalize to the read-back shape (parquet reads surface every
        # field nullable) so memoized and inferred reads are identical
        from pyspark.sql import types as T

        self._snap_schema = T.StructType(
            [
                T.StructField(f.name, f.dataType, True, f.metadata)
                for f in df.schema.fields
            ]
        )
        marker = os.path.join(self.path, "_CURRENT")
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(str(v))
        os.replace(tmp, marker)  # atomic pointer swap

    def _write_changes(self, changes: DataFrame, version: int) -> None:
        """Persist one merge's change rows under ``cdf/v<N>`` — the
        Change Data Feed analog (Delta's ``delta.enableChangeDataFeed``
        table feature): downstream incremental consumers read per-commit
        deltas instead of diffing whole snapshots."""
        changes.write.mode("overwrite").parquet(
            os.path.join(self.path, "cdf", f"v{version}")
        )

    def read_changes(
        self, starting_version: int = 1, ending_version: int | None = None
    ) -> DataFrame:
        """Per-merge change rows, Delta-CDF-shaped: the batch's data
        columns plus ``_change_type`` ('insert' | 'update_preimage' |
        'update_postimage') and ``_commit_version``. Delta exposes the
        same via ``spark.read.option("readChangeFeed", "true")
        .option("startingVersion", N)``; a rollup maintained from this
        feed (subtract preimages, add postimages/inserts — see
        ops/incremental.py) equals the rollup over the current
        snapshot, without ever rescanning it."""
        end = ending_version if ending_version is not None else (
            self._current_version() or 0
        )
        dirs = []
        for v in range(starting_version, end + 1):
            d = os.path.join(self.path, "cdf", f"v{v}")
            if os.path.isdir(d):
                dirs.append(d)
        if not dirs:
            raise FileNotFoundError(
                f"no change data between versions {starting_version} and {end}"
            )
        return self.spark.read.parquet(*dirs)

    # -- merge --------------------------------------------------------------
    def merge(self, batch: DataFrame, batch_ts=None) -> dict[str, int]:
        """Apply one batch; returns counters (closed/inserted/unchanged)."""
        batch_ts = batch_ts if batch_ts is not None else F.current_timestamp()
        # keep_latest returns the batch's columns in their order
        incoming = keep_latest(batch, [self.key], self.order_col)

        existing = self.read()
        if existing is None:
            # the inserted counter rides the snapshot write as an
            # Observation instead of a separate action, and the
            # independent snapshot + CDF writes run concurrently so the
            # second job back-fills the first's task tail
            obs = Observation()
            first = (
                incoming.withColumn("is_current", F.lit(True))
                .withColumn("valid_from", batch_ts.cast("timestamp"))
                .withColumn("valid_to", F.lit(None).cast("timestamp"))
                .observe(obs, F.count(F.lit(1)).alias("n"))
            )
            cdf1 = incoming.withColumn("_change_type", F.lit("insert")).withColumn(
                "_commit_version", F.lit(1)
            )
            with ThreadPoolExecutor(max_workers=2) as pool:
                fs = pool.submit(self._write_snapshot, first)
                fc = pool.submit(self._write_changes, cdf1, 1)
                fs.result()
                fc.result()
            return {"closed": 0, "inserted": int(obs.get["n"]), "unchanged": 0}

        cur = existing.filter(F.col("is_current")).alias("cur")
        hist = existing.filter(~F.col("is_current"))
        new = incoming.alias("new")

        # one full-outer join, persisted: the snapshot write and the CDF
        # write both read it instead of recomputing the join lineage
        joined = cur.join(
            new, F.col(f"cur.{self.key}") == F.col(f"new.{self.key}"), "full_outer"
        ).persist()
        try:
            # Every joined row emits its 0-2 snapshot rows and 0-2 change
            # rows through a conditional array + explode, so each write
            # scans the cached join once. The emissions are SQL text with
            # quoted identifiers: one JVM call per expression, where the
            # Column API would cost several calls per column per struct.
            k = _q(self.key)
            matched = f"(cur.{k} IS NOT NULL AND new.{k} IS NOT NULL)"
            # NOT (all tracked attributes null-safe-equal); with none
            # tracked nothing can differ and the merge only inserts
            changed = (
                "NOT (" + " AND ".join(f"cur.{_q(c)} <=> new.{_q(c)}" for c in self.tracked) + ")"
                if self.tracked
                else "false"
            )
            src = joined.withColumn(_TS, batch_ts.cast("timestamp"))
            cols = existing.columns
            closed = {"is_current": "false", "valid_to": _TS}
            insert = {
                "is_current": "true",
                "valid_from": _TS,
                "valid_to": "CAST(NULL AS TIMESTAMP)",
            }

            def snap(side: str, tag: str, over: dict[str, str] | None = None) -> str:
                return _struct(side, cols, over or {}, f"'{tag}' AS __tag")

            # exhaustive over the full-outer join (>=1 side non-null):
            # matched+changed -> close the old version AND insert the new
            # one; matched+unchanged -> keep; no incoming match -> keep
            # as-is; else brand-new -> insert
            snap_rows = src.selectExpr(
                f"""explode(CASE
                  WHEN {matched} AND {changed}
                    THEN array({snap("cur", "closed", closed)}, {snap("new", "insert", insert)})
                  WHEN {matched} AND NOT {changed} THEN array({snap("cur", "unchanged")})
                  WHEN new.{k} IS NULL THEN array({snap("cur", "only_cur")})
                  ELSE array({snap("new", "insert", insert)}) END) AS _r"""
            ).select("_r.*")

            # the three counters ride the snapshot write as an
            # Observation over the emitted rows' tags instead of a
            # separate action; the snapshot and CDF writes are
            # independent (different dirs, version precomputed), so they
            # run concurrently
            obs = Observation()
            result = (
                hist.withColumn("__tag", F.lit("hist"))
                .unionByName(snap_rows)
                .observe(
                    obs,
                    F.expr("count_if(__tag = 'closed') AS closed"),
                    F.expr("count_if(__tag = 'insert') AS inserted"),
                    F.expr("count_if(__tag = 'unchanged') AS unchanged"),
                )
                .drop("__tag")
            )
            # Delta CDF semantics: brand-new keys -> insert; changed keys
            # -> old current row as update_preimage + new row as
            # update_postimage; every other row emits nothing (the CASE
            # without ELSE yields NULL, and explode drops it)
            version = (self._current_version() or 0) + 1

            def change(side: str, kind: str) -> str:
                return _struct(side, incoming.columns, {}, f"'{kind}' AS _change_type")

            cdf = (
                src.selectExpr(
                    f"""explode(CASE
                      WHEN new.{k} IS NOT NULL AND cur.{k} IS NULL
                        THEN array({change("new", "insert")})
                      WHEN {matched} AND {changed}
                        THEN array({change("cur", "update_preimage")},
                                   {change("new", "update_postimage")}) END) AS _r"""
                )
                .select("_r.*")
                .withColumn("_commit_version", F.lit(version))
            )
            with ThreadPoolExecutor(max_workers=2) as pool:
                fs = pool.submit(self._write_snapshot, result)
                fc = pool.submit(self._write_changes, cdf, version)
                fs.result()
                fc.result()
            stats = obs.get
        finally:
            joined.unpersist()
        return {
            "closed": int(stats["closed"]),
            "inserted": int(stats["inserted"]),
            "unchanged": int(stats["unchanged"]),
        }


def _q(name: str) -> str:
    """Backtick-quote one identifier for SQL text."""
    return "`" + name.replace("`", "``") + "`"


def _struct(side: str, cols: list[str], over: dict[str, str], tag: str) -> str:
    """SQL ``struct(...)`` of ``cols`` read from the ``side`` alias, each
    replaced by its ``over`` expression where one is given, then ``tag``."""
    fields = [f"{over.get(c, f'{side}.{_q(c)}')} AS {_q(c)}" for c in cols]
    return f"struct({', '.join(fields)}, {tag})"
