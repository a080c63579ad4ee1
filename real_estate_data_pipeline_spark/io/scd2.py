"""SCD Type 2 table — the reference's Delta MERGE flow
(S6, silver_etl_script.py:916-966) re-expressed as an engine-agnostic
merge computation plus a merge-on-read parquet store.

Semantics (null-safe variant; the reference's ``!=`` comparisons are
null-hostile — SURVEY §7.4.1 — we use ``<=>`` equivalents and document
the divergence):

1. incoming batch is deduplicated to one row per key (keep-latest);
2. current rows whose tracked attributes changed are *closed*
   (is_current=false, valid_to=batch_ts);
3. a new current version is appended for changed + brand-new keys;
4. unchanged keys are left alone (the reference re-appends them,
   creating duplicate history — we don't).

Storage is merge-on-read, the pattern of Delta Lake's deletion vectors
(Armbrust et al., VLDB 2020) and Iceberg v2 equality deletes. Each merge
writes ONE file set, ``delta/v<N>/``: that commit's change rows in the
snapshot's shape, tagged with ``_change_type`` and ``_commit_version``.
A closed preimage (``update_preimage``: is_current=false, valid_to = the
batch time) doubles as the delete of the open row it closes; inserts and
postimages (``insert`` / ``update_postimage``) carry valid_from = the
batch time. Unchanged keys and keys absent from the batch write nothing.

``read(v)`` resolves the last base at or before v (``base/v<b>/``, a
full snapshot) plus every delta b+1..v: an open row is dropped when a
later delta holds a closed preimage with its (key, valid_from); every
other row is kept. ``read_changes`` projects the Delta Change Data Feed
shape from the same delta files. Compaction writes a new base once the
deltas above the last one pass ``COMPACT_FRACTION`` of its rows, and
``vacuum`` drops what no kept version needs.

The ``_CURRENT`` marker (JSON, replaced atomically) is the transaction
log: the current version, the snapshot schema, and the row counts of
every base and delta. A directory it does not name — the leftover of a
crashed write — is never read, and the next merge overwrites it.
Directory names carry no leading underscore: Spark's DataSource ignores
explicit roots whose basename starts with ``_`` or ``.``.

On a real cluster this class swaps its storage layer for Delta/Iceberg
``MERGE INTO`` (the merge's emissions map 1:1 onto
whenMatchedUpdate/whenNotMatchedInsert), so file-level rewrites and data
skipping come from the table format, not from this file.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..ops.dedup import keep_latest

# the batch timestamp column the merge's SQL emissions read
_TS = "__scd2_batch_ts"
# the validity columns a merge adds to the batch's data columns
_SCD = ("is_current", "valid_from", "valid_to")
# the tags every delta row carries besides the snapshot columns
_TAGS = T.StructType([
    T.StructField("_change_type", T.StringType()),
    T.StructField("_commit_version", T.IntegerType()),
])
# Spark lists more root paths than this in a Spark job
# (spark.sql.sources.parallelPartitionDiscovery.threshold); a read over
# more deltas unions scans of at most this many paths each
_LIST_BATCH = 32

# A new base is written once the delta rows above the last base pass this
# fraction f of its rows. With B base rows and D <= f*B delta rows, a
# read scans B + D rows for a table of at least B rows: read
# amplification up to 1 + f. A compaction rewrites about (1 + f)*B rows
# once per f*B delta rows: (1 + f)/f rows of amortised write per delta
# row. The sum of the two, 2 + f + 1/f, is smallest at f = 1, where each
# is 2: no read scans more than twice the table, and no delta row costs
# more than two rows of compaction writes. It does not depend on the
# table's size or its daily change rate.
COMPACT_FRACTION = 1.0


@dataclass
class _Log:
    """The marker's content."""

    version: int
    schema: T.StructType  # snapshot columns, all nullable
    bases: dict[int, int] = field(default_factory=dict)  # version -> rows
    # version -> (rows, closed preimages among them)
    deltas: dict[int, tuple[int, int]] = field(default_factory=dict)

    def layers(self, v: int) -> tuple[int | None, list[int]]:
        """(base, deltas) that ``read(v)`` resolves."""
        base = max((b for b in self.bases if b <= v), default=None)
        deltas = list(range((base or 0) + 1, v + 1))
        if not 1 <= v <= self.version or any(d not in self.deltas for d in deltas):
            raise FileNotFoundError(f"snapshot version {v} not found (vacuumed?)")
        return base, deltas

    def readable(self, v: int) -> bool:
        try:
            self.layers(v)
        except FileNotFoundError:
            return False
        return True


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

    # -- log ----------------------------------------------------------------
    def _log(self) -> _Log | None:
        marker = os.path.join(self.path, "_CURRENT")
        if not os.path.exists(marker):
            return None
        with open(marker) as fh:
            m = json.load(fh)
        return _Log(
            m["version"],
            T.StructType.fromJson(m["schema"]),
            {int(v): n for v, n in m["bases"].items()},
            {int(v): tuple(rc) for v, rc in m["deltas"].items()},
        )

    def _commit(self, log: _Log) -> None:
        marker = os.path.join(self.path, "_CURRENT")
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({
                "version": log.version,
                "schema": log.schema.jsonValue(),
                "bases": log.bases,
                "deltas": log.deltas,
            }, fh)
        os.replace(tmp, marker)  # atomic pointer swap

    def _dir(self, kind: str, v: int) -> str:
        return os.path.join(self.path, kind, f"v{v}")

    # -- reads --------------------------------------------------------------
    def _scan(self, log: _Log, paths: list[str]) -> DataFrame:
        """Parquet scan with the logged schema: no footer job. Base files
        lack the tag columns, which read as NULL."""
        reader = self.spark.read.schema(T.StructType(log.schema.fields + _TAGS.fields))
        parts = [reader.parquet(*paths[i:i + _LIST_BATCH])
                 for i in range(0, len(paths), _LIST_BATCH)]
        return reduce(DataFrame.union, parts)

    def _resolve(self, log: _Log, v: int) -> DataFrame:
        """Version ``v`` with the tag columns: the last base plus every
        delta above it, minus the open rows a later delta closed."""
        base, deltas = log.layers(v)
        paths = ([self._dir("base", base)] if base else []) + [
            self._dir("delta", d) for d in deltas
        ]
        rows = self._scan(log, paths)
        closing = [self._dir("delta", d) for d in deltas if log.deltas[d][1]]
        if not closing:
            return rows
        k = _q(self.key)
        pre = self._scan(log, closing).where("_change_type = 'update_preimage'").selectExpr(
            f"{k} AS __k", "valid_from AS __vf", "_commit_version AS __cv"
        )
        # a left-anti join drops an open row that a later commit closed;
        # AQE picks the join strategy from the file statistics
        return rows.join(
            pre,
            F.expr(f"{k} = __k AND valid_from = __vf AND is_current "
                   "AND coalesce(_commit_version, 0) < __cv"),
            "left_anti",
        )

    def read(self, version: int | None = None) -> DataFrame | None:
        """Read the current snapshot, or time-travel to ``version`` (the
        Delta ``versionAsOf`` idea over the log)."""
        log = self._log()
        if log is None:
            if version is not None:
                raise FileNotFoundError(f"snapshot version {version} not found")
            return None
        v = version if version is not None else log.version
        return self._resolve(log, v).drop(*_TAGS.names)

    def read_as_of(self, ts: str) -> DataFrame | None:
        """Point-in-time view by TIMESTAMP (the Delta ``timestampAsOf``
        idea, resolved from the validity columns instead of the log):
        the one version of each key whose [valid_from, valid_to) window
        contains ``ts`` — rows never seen by then are excluded, rows
        closed by a later merge reappear as they were. A pure filter on
        the current snapshot (every historical version lives in it),
        so it pushes down to the parquet scans."""
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
        """Versions ``read(v)`` can serve, oldest first."""
        log = self._log()
        if log is None:
            return []
        return [v for v in range(1, log.version + 1) if log.readable(v)]

    def read_changes(
        self, starting_version: int = 1, ending_version: int | None = None
    ) -> DataFrame:
        """Per-merge change rows, Delta-CDF-shaped: the batch's data
        columns plus ``_change_type`` ('insert' | 'update_preimage' |
        'update_postimage') and ``_commit_version`` — the delta files
        without their validity columns. Delta exposes the same via
        ``spark.read.option("readChangeFeed", "true")
        .option("startingVersion", N)``; a rollup maintained from this
        feed (subtract preimages, add postimages/inserts — see
        ops/incremental.py) equals the rollup over the current
        snapshot, without ever rescanning it."""
        log = self._log()
        end = ending_version if ending_version is not None else (log.version if log else 0)
        versions = [v for v in range(starting_version, end + 1) if log and v in log.deltas]
        if not versions:
            raise FileNotFoundError(
                f"no change data between versions {starting_version} and {end}"
            )
        return self._scan(log, [self._dir("delta", v) for v in versions]).drop(*_SCD)

    # -- writes -------------------------------------------------------------
    def _write_base(self, log: _Log, v: int) -> None:
        """Write the resolved version ``v`` as a base; its row count
        rides the write as an Observation."""
        obs = Observation()
        snap = self._resolve(log, v).drop(*_TAGS.names)
        snap.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(
            self._dir("base", v)
        )
        log.bases[v] = int(obs.get["n"])

    def vacuum(self, keep: int = 2) -> list[str]:
        """Keep the ``keep`` newest versions readable by ``read`` and
        ``read_changes`` and remove every file set only older versions
        need (the Delta ``VACUUM`` idea over the log), writing a base at
        the oldest kept version when none is there. Returns the removed
        dirs, relative to the table path."""
        if keep < 1:
            raise ValueError(f"vacuum: keep must be at least 1, got {keep}")
        log = self._log()
        if log is None:
            return []
        oldest = log.version - keep + 1
        if not any(v < oldest for v in (*log.bases, *log.deltas)):
            return []
        if oldest not in log.bases:
            self._write_base(log, oldest)
        removed = [os.path.join(kind, f"v{v}")
                   for kind, versions in (("base", log.bases), ("delta", log.deltas))
                   for v in sorted(versions) if v < oldest]
        log.bases = {v: n for v, n in log.bases.items() if v >= oldest}
        log.deltas = {v: rc for v, rc in log.deltas.items() if v >= oldest}
        self._commit(log)  # the log stops naming them before they go
        for rel in removed:
            shutil.rmtree(os.path.join(self.path, rel))
        return removed

    def _compact_due(self, log: _Log) -> bool:
        """Whether the deltas above the last base pass COMPACT_FRACTION of
        its rows. Without a base the first delta, insert-only, stands in
        for one."""
        base = max(log.bases, default=None)
        floor = log.bases[base] if base else log.deltas[1][0]
        above = sum(log.deltas[v][0] for v in range((base or 1) + 1, log.version + 1))
        return above > COMPACT_FRACTION * floor

    # -- merge --------------------------------------------------------------
    def merge(self, batch: DataFrame, batch_ts=None) -> dict[str, int]:
        """Apply one batch; returns counters (closed/inserted/unchanged).
        Writes the commit's change rows as one delta; the counters ride
        that write as an Observation."""
        batch_ts = batch_ts if batch_ts is not None else F.current_timestamp()
        # keep_latest returns the batch's columns in their order
        incoming = keep_latest(batch, [self.key], self.order_col)
        log = self._log()
        version = log.version + 1 if log else 1
        obs = Observation()
        if log is None:
            rows = incoming.observe(obs, F.count(F.lit(1)).alias("inserted")).select(
                "*",
                F.lit(True).alias("is_current"),
                batch_ts.cast("timestamp").alias("valid_from"),
                F.lit(None).cast("timestamp").alias("valid_to"),
                F.lit("insert").alias("_change_type"),
                F.lit(version).alias("_commit_version"),
            )
        else:
            cols = log.schema.names
            cur = self._resolve(log, log.version).filter("is_current").alias("cur")
            src = incoming.alias("new").join(
                cur, F.expr(f"new.{_q(self.key)} = cur.{_q(self.key)}"), "left"
            ).withColumn(_TS, batch_ts.cast("timestamp"))
            # the join key is non-null on a match; with nothing tracked
            # nothing can differ and the merge only inserts
            matched = f"(cur.{_q(self.key)} IS NOT NULL)"
            changed = (
                "NOT (" + " AND ".join(f"cur.{_q(c)} <=> new.{_q(c)}" for c in self.tracked) + ")"
                if self.tracked
                else "false"
            )
            closed = {"is_current": "false", "valid_to": _TS}
            opened = {"is_current": "true", "valid_from": _TS,
                      "valid_to": "CAST(NULL AS TIMESTAMP)"}

            def emit(side: str, kind: str, over: dict[str, str]) -> str:
                return _struct(side, cols, over,
                               f"'{kind}' AS _change_type, {version} AS _commit_version")

            # Every incoming row emits its 0-2 change rows through a
            # conditional array + explode: a changed key its closed
            # preimage and its postimage, a brand-new key its insert, an
            # unchanged key nothing (the CASE without ELSE yields NULL,
            # and explode drops it). The emissions are SQL text with
            # quoted identifiers: one JVM call per expression, where the
            # Column API would cost several calls per column per struct.
            rows = src.observe(
                obs,
                F.expr(f"count_if({matched} AND {changed}) AS closed"),
                F.expr(f"count_if(NOT {matched} OR {changed}) AS inserted"),
                F.expr(f"count_if({matched} AND NOT {changed}) AS unchanged"),
            ).selectExpr(
                f"""explode(CASE
                  WHEN {matched} AND {changed}
                    THEN array({emit("cur", "update_preimage", closed)},
                               {emit("new", "update_postimage", opened)})
                  WHEN NOT {matched} THEN array({emit("new", "insert", opened)}) END) AS _r"""
            ).select("_r.*")
        rows.write.mode("overwrite").parquet(self._dir("delta", version))
        stats = {k: int(obs.get.get(k, 0)) for k in ("closed", "inserted", "unchanged")}
        if log is None:
            log = _Log(0, T.StructType([
                T.StructField(f.name, f.dataType, True, f.metadata)
                for f in rows.schema.fields if f.name not in _TAGS.names
            ]))
        log.version = version
        # a delta holds one preimage per closed row and one row per insert
        log.deltas[version] = (stats["closed"] + stats["inserted"], stats["closed"])
        if self._compact_due(log):
            self._write_base(log, version)
        self._commit(log)
        return stats


def _q(name: str) -> str:
    """Backtick-quote one identifier for SQL text."""
    return "`" + name.replace("`", "``") + "`"


def _struct(side: str, cols: list[str], over: dict[str, str], tag: str) -> str:
    """SQL ``struct(...)`` of ``cols`` read from the ``side`` alias, each
    replaced by its ``over`` expression where one is given, then ``tag``."""
    fields = [f"{over.get(c, f'{side}.{_q(c)}')} AS {_q(c)}" for c in cols]
    return f"struct({', '.join(fields)}, {tag})"
