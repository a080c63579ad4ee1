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

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..ops.dedup import keep_latest


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
        # Snapshot schema memo (r15 opt round): every bare
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
    def _changed_cond(self) -> Column:
        """NOT (all tracked attributes null-safe-equal). With no tracked
        attributes nothing can ever differ, so the condition is
        constant-false (merge degenerates to insert-new-keys-only)."""
        if not self.tracked:
            return F.lit(False)
        cond = None
        for c in self.tracked:
            eq = F.col(f"cur.{c}").eqNullSafe(F.col(f"new.{c}"))
            cond = eq if cond is None else (cond & eq)
        return ~cond

    def merge(self, batch: DataFrame, batch_ts=None) -> dict[str, int]:
        """Apply one batch; returns counters (closed/inserted/unchanged)."""
        batch_ts = batch_ts if batch_ts is not None else F.current_timestamp()
        incoming = keep_latest(batch, [self.key], self.order_col).select(
            *[F.col(c) for c in batch.columns]
        )

        data_cols = list(incoming.columns)

        existing = self.read()
        if existing is None:
            # r15 opt round: the inserted counter rides the snapshot
            # write as an Observation instead of a third action that
            # replayed the keep-latest window from scratch, and the
            # (independent) snapshot + CDF writes run concurrently so
            # the second job back-fills the first's task tail
            # (guide §2.6). One driver-side round fewer per first merge;
            # counters identical.
            obs = Observation()
            first = (
                incoming.withColumn("is_current", F.lit(True))
                .withColumn("valid_from", batch_ts.cast("timestamp"))
                .withColumn("valid_to", F.lit(None).cast("timestamp"))
                .observe(obs, F.count(F.lit(1)).alias("n"))
            )
            cdf1 = (
                incoming.select(data_cols)
                .withColumn("_change_type", F.lit("insert"))
                .withColumn("_commit_version", F.lit(1))
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

        # one full-outer join, persisted: the counter aggregate and the
        # snapshot write both reuse it instead of recomputing the
        # join lineage once per action (4x before)
        joined = cur.join(
            new, F.col(f"cur.{self.key}") == F.col(f"new.{self.key}"), "full_outer"
        ).persist()
        try:
            changed = self._changed_cond()
            is_matched = (
                F.col(f"cur.{self.key}").isNotNull() & F.col(f"new.{self.key}").isNotNull()
            )
            # r15 opt round, part 2: the snapshot's former 4 union
            # branches over the cached join (closed / unchanged /
            # only_cur / inserts — each a separate filtered scan of the
            # cache, each its own AQE stage-job) collapse into ONE pass:
            # every joined row emits its 0-2 snapshot rows directly
            # through a conditional array + explode. Branch conditions
            # and per-branch column expressions are verbatim the old
            # filters/selects, so the emitted multiset of rows is
            # identical; only the physical row order interleaves (all
            # consumers order explicitly). The cached merge join is now
            # scanned once by the snapshot write instead of four times —
            # locally fewer stage-jobs, at scale 4x fewer reads of a
            # join that may no longer fit in memory (guide §1.2 remove
            # passes, §2.4 remove duplicated subtrees).
            cols = [f.name for f in existing.schema.fields]
            ts = batch_ts.cast("timestamp")

            def _snap_struct(side: str, tag: str, ov: dict[str, Column]) -> Column:
                return F.struct(
                    *[ov.get(c, F.col(f"{side}.{c}")).alias(c) for c in cols],
                    F.lit(tag).alias("__tag"),
                )

            closed_s = _snap_struct(
                "cur", "closed", {"is_current": F.lit(False), "valid_to": ts}
            )
            unchanged_s = _snap_struct("cur", "unchanged", {})
            only_cur_s = _snap_struct("cur", "only_cur", {})
            insert_s = _snap_struct(
                "new",
                "insert",
                {
                    "is_current": F.lit(True),
                    "valid_from": ts,
                    "valid_to": F.lit(None).cast("timestamp"),
                },
            )
            # exhaustive over the full-outer join (>=1 side non-null):
            # matched+changed -> close old version AND insert the new
            # one (insert_cond holds there); matched+unchanged -> keep;
            # no incoming match -> keep as-is; else brand-new -> insert.
            emit = (
                F.when(is_matched & changed, F.array(closed_s, insert_s))
                .when(is_matched & ~changed, F.array(unchanged_s))
                .when(F.col(f"new.{self.key}").isNull(), F.array(only_cur_s))
                .otherwise(F.array(insert_s))
            )
            snap_rows = joined.select(F.explode(emit).alias("_r")).select("_r.*")

            # r15 opt round: the three counters ride the snapshot write
            # as an Observation over the per-branch tags (closed /
            # insert / unchanged are tags of the emitted rows, so they
            # count exactly what the old standalone aggregate counted)
            # instead of a separate collect action — one fewer job per
            # merge, and the cached join materializes inside the
            # snapshot write. The snapshot and CDF writes are
            # independent (different dirs, version precomputed), so they
            # run concurrently and the second job's tasks back-fill the
            # first's tail (guide §2.6). Counters and written rows are
            # byte-identical to the sequential three-action form.
            obs = Observation()
            result = (
                hist.select(*cols, F.lit("hist").alias("__tag"))
                .unionByName(snap_rows)
                .observe(
                    obs,
                    F.coalesce(
                        F.sum((F.col("__tag") == "closed").cast("long")), F.lit(0)
                    ).alias("closed"),
                    F.coalesce(
                        F.sum((F.col("__tag") == "insert").cast("long")), F.lit(0)
                    ).alias("inserted"),
                    F.coalesce(
                        F.sum((F.col("__tag") == "unchanged").cast("long")), F.lit(0)
                    ).alias("unchanged"),
                )
                .drop("__tag")
            )
            # CDF rows off the SAME cached join, likewise one explode
            # pass instead of three filtered branches: brand-new keys ->
            # insert; changed keys -> old current row as
            # update_preimage + new row as update_postimage; unchanged
            # keys emit nothing (Delta CDF semantics; the when-chain
            # without otherwise yields NULL there and explode drops it)
            version = (self._current_version() or 0) + 1

            def _cdf_struct(side: str, kind: str) -> Column:
                return F.struct(
                    *[F.col(f"{side}.{c}").alias(c) for c in data_cols],
                    F.lit(kind).alias("_change_type"),
                )

            brand_new_cond = F.col(f"new.{self.key}").isNotNull() & F.col(
                f"cur.{self.key}"
            ).isNull()
            cdf_emit = F.when(
                brand_new_cond, F.array(_cdf_struct("new", "insert"))
            ).when(
                is_matched & changed,
                F.array(
                    _cdf_struct("cur", "update_preimage"),
                    _cdf_struct("new", "update_postimage"),
                ),
            )
            cdf = joined.select(F.explode(cdf_emit).alias("_r")).select("_r.*")
            with ThreadPoolExecutor(max_workers=2) as pool:
                fs = pool.submit(self._write_snapshot, result)
                fc = pool.submit(
                    self._write_changes,
                    cdf.withColumn("_commit_version", F.lit(version)),
                    version,
                )
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
