"""Local replica of the driver's t2 correctness gate: run every catalog
query through Spark AND its DuckDB oracle on the same parquet, compare
row count, column names, and exact values (order-insensitive).

This is intentionally stricter than "close enough" — the driver hashes
values, so both engines must agree exactly. See queries.py header for how
that exactness is engineered.
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd
import pytest

from real_estate_data_pipeline_spark.queries import CATALOG

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb(sf_oracle):
    con = duckdb.connect()
    # r16: oracles run concurrently on cursors of this connection (see
    # parity_futures); DuckDB's default of all-cores PER QUERY times 16
    # concurrent cursors thrashed the scheduler (sys time ~3x user).
    # 2 threads per query keeps total duck parallelism at ~2x cores.
    # Thread count never changes results (the oracles are engineered
    # order-independent and the compare canon-sorts regardless).
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_oracle}/{t}.parquet')"
        )
    yield con
    con.close()


def _dtype_kind(dtype) -> str:
    """Collapse a pandas dtype to the kind the driver's value hash is
    sensitive to: int-family, float-family, bool, datetime, or object.

    DuckDB HUGEINT (from SUM(CASE ...)) arrives as object/float128-ish and
    DOUBLE arrives as float64 — both must NOT silently equal Spark's int64.
    """
    s = str(dtype)
    if s.startswith(("int", "uint", "Int", "UInt")):
        return "int"
    if s.startswith(("float", "Float")):
        return "float"
    if s.startswith("bool"):
        return "bool"
    if "datetime" in s or "date" in s:
        return "datetime"
    return "object"


def assert_dtype_kinds(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame):
    """Driver-faithful type gate: the driver hashes values type-sensitively,
    so an int64 Spark column vs a HUGEINT/DOUBLE oracle column fails there
    even when the numbers agree.  Catch that class locally (VERDICT r1 §wrong)."""
    for col in sorted(spark_df.columns):
        ks, kd = _dtype_kind(spark_df[col].dtype), _dtype_kind(duck_df[col].dtype)
        # HUGEINT comes back as object holding Python ints — detect and flag.
        if kd == "object" and len(duck_df) and all(
            isinstance(v, int) for v in duck_df[col] if v is not None
        ) and ks != "object":
            kd = "int-as-object(HUGEINT?)"
        assert ks == kd, (
            f"{name}.{col}: dtype kind mismatch spark={spark_df[col].dtype}({ks}) "
            f"vs oracle={duck_df[col].dtype}({kd}) — would fail the driver value hash; "
            f"CAST the oracle (or alias the Spark side) to the same type"
        )


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("float64")  # unify int widths for sorting/compare
        elif str(df[c].dtype) == "bool":
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def assert_frames_exact(name: str, a: pd.DataFrame, b: pd.DataFrame):
    assert sorted(a.columns) == sorted(b.columns), f"{name}: columns {sorted(a.columns)} vs {sorted(b.columns)}"
    assert len(a) == len(b), f"{name}: row count {len(a)} vs {len(b)}"
    ca, cb = canon(a), canon(b)
    for col in ca.columns:
        va, vb = ca[col].to_numpy(), cb[col].to_numpy()
        if ca[col].dtype == "float64":
            mism = [
                (i, x, y)
                for i, (x, y) in enumerate(zip(va, vb))
                if not (x == y or (isinstance(x, float) and isinstance(y, float) and math.isnan(x) and math.isnan(y)))
            ]
        else:
            mism = [(i, x, y) for i, (x, y) in enumerate(zip(va, vb)) if x != y]
        assert not mism, f"{name}.{col}: {len(mism)} mismatches, first 3: {mism[:3]}"


ORACLE_QUERIES = [n for n, q in CATALOG.items() if q.oracle is not None]
ROWS_ONLY = [n for n, q in CATALOG.items() if q.oracle is None]


# --- Spark-side batching (r16: fit the suite inside the driver's verify
# budget). The Spark .toPandas() is ~90% of each parity test's wall and
# the catalog is 800+ queries; run them through a thread pool so the
# Spark scheduler overlaps the (small, shuffle_partitions=8) jobs on the
# 32 local cores, instead of one sequential driver action per test.
# Each test still owns exactly one query: it blocks on ITS future, so a
# worker exception surfaces in (and only in) that query's test, and the
# DuckDB + comparison halves stay in the test body. Only names COLLECTED
# for this run (after -k/-m deselection) are submitted,
# so `-k one_query` computes one query, not the catalog.
#
# Thread-safety audit (r16): query fns build plans via py4j (thread-safe,
# releases the GIL on socket I/O); scratch paths are per-query-name;
# memory-sink names are per-query; the only session-conf writes are the
# idempotent UTC/nanosAsLong pins in t() and io_bucketed_join_gate's
# self-contained autoBroadcastJoinThreshold window (join strategy never
# changes results, and its plan assert runs on bucketed tables other
# threads don't touch).
_PARITY_POOL_SIZE = int(os.environ.get("SPARK_GRAFT_PARITY_THREADS", "16"))


@pytest.fixture(scope="module")
def parity_futures(spark, sf_oracle, ddb, request):
    from concurrent.futures import ThreadPoolExecutor

    # session.items is the post-deselection selection (-k / -m applied)
    selected = {
        it.callspec.params["name"]
        for it in request.session.items
        if getattr(it, "originalname", None) == "test_oracle_parity"
    }
    names = [n for n in ORACLE_QUERIES if n in selected]
    pool = ThreadPoolExecutor(max_workers=_PARITY_POOL_SIZE)

    # The DuckDB half rides the same future: the 807 oracles measured
    # 382 s SERIAL (recursive-CTE closures, pairwise-cosine CTEs), which
    # was the parity section's true long pole once the Spark side was
    # pooled. duckdb cursors of one connection are the documented
    # concurrency pattern (views registered on the parent are visible),
    # and duck execution releases the GIL. The comparison itself stays
    # in the test body (fast, and pytest owns the assertion context).
    def _run(name: str):
        cur = ddb.cursor()
        try:
            duck_pdf = cur.sql(CATALOG[name].oracle).df()
        finally:
            cur.close()
        spark_pdf = CATALOG[name].fn(spark, sf_oracle).toPandas()
        return spark_pdf, duck_pdf

    futures = {n: pool.submit(_run, n) for n in names}
    yield futures
    # wait=True: an aborted run (-x) must not close the parent duckdb
    # connection while a worker cursor is mid-query
    pool.shutdown(wait=True, cancel_futures=True)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(name, spark, sf_oracle, ddb, parity_futures):
    q = CATALOG[name]
    fut = parity_futures.get(name)
    if fut is not None:
        spark_pdf, duck_pdf = fut.result()
    else:
        spark_pdf = q.fn(spark, sf_oracle).toPandas()
        duck_pdf = ddb.sql(q.oracle).df()
    assert_dtype_kinds(name, spark_pdf, duck_pdf)
    assert_frames_exact(name, spark_pdf, duck_pdf)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(name, spark, sf_oracle):
    q = CATALOG[name]
    df = q.fn(spark, sf_oracle)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import importlib, sys
    sys.path.insert(0, "/root/repo")
    mod = importlib.import_module("__spark_entry__")
    out = mod.entry(spark)
    assert out.count() > 0
