"""IO layer tests: maintenance (compaction + snapshot vacuum), pandas
UDF escape hatch, nested-array coercions (N3/N4/N11) via conform.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from real_estate_data_pipeline_spark.io.maintenance import compact
from real_estate_data_pipeline_spark.io.scd2 import Scd2Table
from real_estate_data_pipeline_spark.ops.functions import (
    distinct_double_transform,
    first_last,
)
from real_estate_data_pipeline_spark.ops.udf import haversine_km, l2_normalize
from real_estate_data_pipeline_spark.schema.conform import conform


def test_compact(spark, tmp_path):
    p = str(tmp_path / "frag")
    df = spark.range(0, 10000).withColumn("k", F.col("id") % 10)
    df.repartition(64).write.parquet(p)  # fragment into 64 tiny files
    n_before = len([f for f in os.listdir(p) if f.endswith(".parquet")])
    compact(spark, p, ["k"], target_file_mb=1)
    n_after = len([f for f in os.listdir(p) if f.endswith(".parquet")])
    assert n_after < n_before
    back = spark.read.parquet(p)
    assert back.count() == 10000 and back.agg(F.sum("id")).first()[0] == 49995000


def test_compact_crash_between_renames(spark, tmp_path):
    """Process death in the swap window (old table renamed away, new one
    not yet in place) must lose nothing: recover_compact completes the
    swap forward off the _SUCCESS-marked tmp dir."""
    import shutil

    from real_estate_data_pipeline_spark.io.maintenance import recover_compact

    p = str(tmp_path / "t")
    spark.range(0, 1000).withColumn("k", F.col("id") % 5).write.parquet(p)
    # Simulate compact dying between its two renames: complete tmp
    # written, live path renamed to _old, tmp NOT yet renamed to live.
    spark.read.parquet(p).coalesce(1).write.parquet(p + "_compacting")
    os.rename(p, p + "_old")
    assert not os.path.exists(p)
    assert recover_compact(p) == "completed"
    assert os.path.exists(p) and not os.path.exists(p + "_old")
    assert spark.read.parquet(p).count() == 1000

    # Same window but the tmp write itself was interrupted (no _SUCCESS):
    # recovery must roll back to the backup, not promote partial data.
    os.rename(p, p + "_old")
    os.makedirs(p + "_compacting_partial")
    os.rename(p + "_compacting_partial", p + "_compacting")
    assert recover_compact(p) == "rolled_back"
    assert spark.read.parquet(p).count() == 1000
    assert not os.path.exists(p + "_compacting")

    # Live path intact: leftovers are garbage-collected, data untouched.
    os.makedirs(p + "_old")
    assert recover_compact(p) == "clean"
    assert not os.path.exists(p + "_old")
    assert spark.read.parquet(p).count() == 1000
    shutil.rmtree(p)
    with pytest.raises(FileNotFoundError):
        recover_compact(p)


def test_vacuum_snapshots(spark, tmp_path):
    """vacuum(keep=2) keeps the two newest versions readable with their
    rows and makes every older one unreadable."""
    t = Scd2Table(spark, str(tmp_path / "t"), key="k", tracked=["v"], order_col="ts")
    for i in range(4):
        df = spark.createDataFrame([("a", float(i), f"2024-01-0{i+1}")], "k string, v double, ts string")
        t.merge(df, batch_ts=F.lit(f"2024-01-0{i+1} 12:00:00"))
    assert t.history() == [1, 2, 3, 4]

    def rows(v):
        return sorted(map(tuple, t.read(v).collect()), key=repr)

    kept = {v: rows(v) for v in (3, 4)}
    t.vacuum(keep=2)
    assert t.history() == [3, 4]
    assert {v: rows(v) for v in (3, 4)} == kept
    assert t.read().filter("is_current").first()["v"] == 3.0  # current unharmed
    with pytest.raises(FileNotFoundError):
        t.read(1)


def _two_day_table(spark, path):
    t = Scd2Table(spark, path, key="k", tracked=["v"], order_col="ts")
    days = [
        spark.createDataFrame([("a", 1.0, "d1"), ("b", 2.0, "d1")], "k string, v double, ts string"),
        spark.createDataFrame([("a", 9.0, "d2"), ("c", 3.0, "d2")], "k string, v double, ts string"),
    ]
    return t, days


def test_scd2_merge_jobs_stay_in_callers_job_group(spark, tmp_path):
    """Every job a merge submits, the first merge's and a later one's,
    runs in the job group the caller set."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    t, days = _two_day_table(spark, str(tmp_path / "t"))

    def fence(group: str) -> int:
        sc.setJobGroup(group, group)
        sc.parallelize([1], 1).count()
        return tracker.getJobIdsForGroup(group)[0]

    try:
        before = fence("scd2-jobs-before")
        merged = set()
        for i, day in enumerate(days):
            group = f"scd2-jobs-merge{i + 1}"
            sc.setJobGroup(group, group)
            t.merge(day, batch_ts=F.lit(f"2024-01-0{i + 1} 12:00:00"))
            jobs = set(tracker.getJobIdsForGroup(group))
            assert jobs, group
            merged |= jobs
        after = fence("scd2-jobs-after")
    finally:
        sc.setJobGroup(None, None)
    assert merged == set(range(before + 1, after))


def test_scd2_fresh_instance_reads_without_a_schema_job(spark, tmp_path):
    """The marker carries the table's schema, so a new Scd2Table on an
    existing path builds its reads without a parquet footer job."""
    sc = spark.sparkContext
    t, days = _two_day_table(spark, str(tmp_path / "t"))
    for i, day in enumerate(days):
        t.merge(day, batch_ts=F.lit(f"2024-01-0{i + 1} 12:00:00"))
    fresh = Scd2Table(spark, str(tmp_path / "t"), key="k", tracked=["v"], order_col="ts")
    try:
        sc.setJobGroup("scd2-fresh-read", "scd2-fresh-read")
        reads = [fresh.read(), fresh.read(1), fresh.read_as_of("2024-01-01 18:00:00"),
                 fresh.read_changes(1)]
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("scd2-fresh-read") == []
    snap = ["k", "v", "ts", "is_current", "valid_from", "valid_to"]
    assert [r.columns for r in reads] == [snap] * 3 + [["k", "v", "ts", "_change_type", "_commit_version"]]
    assert sorted((r["k"], r["v"]) for r in reads[0].filter("is_current").collect()) == [
        ("a", 9.0), ("b", 2.0), ("c", 3.0)
    ]


def test_scd2_reads_over_many_deltas_union_listing_batches(spark, tmp_path, monkeypatch):
    """Reads over more delta dirs than one listing batch take union
    scans of at most a batch each and return the same rows."""
    from real_estate_data_pipeline_spark.io import scd2

    t = Scd2Table(spark, str(tmp_path / "t"), key="k", tracked=["v"], order_col="ts")
    for i in range(4):
        df = spark.createDataFrame([("a", float(i), "d"), (f"n{i}", 0.0, "d")], "k string, v double, ts string")
        t.merge(df, batch_ts=F.lit(f"2024-01-0{i + 1} 12:00:00"))

    def rows():
        return [sorted(map(tuple, df.collect()), key=repr)
                for df in (t.read(), t.read(2), t.read_changes(1))]

    whole = rows()
    monkeypatch.setattr(scd2, "_LIST_BATCH", 2)
    assert rows() == whole
    assert (len(whole[0]), len(whole[2])) == (5 + 3, 2 + 3 * 3)


def test_scd2_change_data_feed(spark, tmp_path):
    """CDF analog: every merge persists its change rows; the feed
    replays the table's history (insert / update_preimage /
    update_postimage + _commit_version) and a signed rollup over the
    feed equals the current snapshot."""
    t = Scd2Table(spark, str(tmp_path / "t"), key="k", tracked=["v"], order_col="ts")
    d1 = spark.createDataFrame(
        [("a", 1.0, "d1"), ("b", 2.0, "d1")], "k string, v double, ts string"
    )
    d2 = spark.createDataFrame(
        [("a", 9.0, "d2"), ("c", 3.0, "d2")], "k string, v double, ts string"
    )
    t.merge(d1, batch_ts=F.lit("2024-01-01 12:00:00"))
    t.merge(d2, batch_ts=F.lit("2024-01-02 12:00:00"))

    feed = t.read_changes(starting_version=1)
    by_type = {
        (r["_commit_version"], r["_change_type"], r["k"]): r["v"]
        for r in feed.collect()
    }
    assert by_type == {
        (1, "insert", "a"): 1.0,
        (1, "insert", "b"): 2.0,
        (2, "insert", "c"): 3.0,
        (2, "update_preimage", "a"): 1.0,
        (2, "update_postimage", "a"): 9.0,
    }
    # version-bounded read: only commit 2's changes
    v2 = t.read_changes(starting_version=2)
    assert {r["_commit_version"] for r in v2.collect()} == {2}
    # signed rollup over the feed == rollup over current snapshot
    sign = F.when(F.col("_change_type") == "update_preimage", -1).otherwise(1)
    fed = feed.agg(
        F.sum(sign).alias("n"), F.sum(sign * F.col("v")).alias("s")
    ).first()
    cur = (
        t.read()
        .filter("is_current")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .first()
    )
    assert (fed["n"], fed["s"]) == (cur["n"], cur["s"])


def test_haversine_pandas_udf(spark):
    df = spark.createDataFrame([(10.7769, 106.7009, 21.0285, 105.8542)], "a double, b double, c double, d double")
    km = df.select(haversine_km("a", "b", "c", "d").alias("km")).first()["km"]
    assert km == pytest.approx(1137, rel=0.02)  # HCMC -> Hanoi ~1140 km


def test_l2_normalize_udf(spark):
    df = spark.createDataFrame([(1, [3.0, 4.0])], "id int, v array<float>")
    out = df.select(l2_normalize("v").alias("n")).first()["n"]
    assert out[0] == pytest.approx(0.6) and out[1] == pytest.approx(0.8)


def test_n3_distinct_double_transform(spark):
    df = spark.createDataFrame(
        [([{"translation": [{"name": "Căn hộ"}, {"name": "Apartment"}]},
           {"translation": [{"name": "Apartment"}]}],)],
        "pt array<struct<translation: array<struct<name: string>>>>",
    )
    out = df.select(distinct_double_transform(F.col("pt"), "translation", "name").alias("o")).first()["o"]
    assert sorted(out) == ["Apartment", "Căn hộ"]


def test_n4_first_last_empty(spark):
    df = spark.createDataFrame([([1, 2, 3],), ([],)], "a array<int>")
    first, last = first_last(F.col("a"))
    rows = df.select(first.alias("f"), last.alias("l")).collect()
    assert (rows[0]["f"], rows[0]["l"]) == (1, 3)
    assert rows[1]["f"] is None and rows[1]["l"] is None


def test_conform_nullability_only_difference_adds_no_transform(spark):
    """An array<struct> that differs from the target only in allowing
    NULL elements is cast as a whole, and the optimizer drops the cast:
    the plan keeps the source's one lambda and gains none."""
    el = T.StructType([T.StructField("x", T.IntegerType()), T.StructField("y", T.StringType())])
    target = T.StructType([T.StructField("a", T.ArrayType(el))])
    df = spark.range(2).select(
        F.transform(F.array(F.col("id").cast("int")),
                    lambda v: F.struct(v.alias("x"), v.cast("string").alias("y"))).alias("a")
    )
    assert not df.schema["a"].dataType.containsNull
    out = conform(df, target)
    assert out.schema["a"].dataType == target["a"].dataType
    assert out._jdf.queryExecution().optimizedPlan().toString().count("lambdafunction") == 1
    assert [r["a"][0]["y"] for r in out.orderBy(F.col("a")[0]["x"]).collect()] == ["0", "1"]


def test_n11_conform_struct_array_to_strings(spark):
    # array<struct{name,value}> column conformed to array<string> -> 'name'
    df = spark.createDataFrame(
        [([{"name": "air", "value": "good"}],), (None,)],
        "facilities array<struct<name: string, value: string>>",
    )
    target = T.StructType([T.StructField("facilities", T.ArrayType(T.StringType()))])
    out = conform(df, target).collect()
    assert out[0]["facilities"] == ["air"]
    assert out[1]["facilities"] is None


def test_s3a_conf_recipe():
    """The object-store recipe (session.s3a_conf) must carry the four
    settings a MinIO/S3 deployment cannot work without; the cloud
    committer override is emitted only when spark-hadoop-cloud is on
    the classpath (or forced) — its protocol classes live in that
    separate artifact, so emitting it unconditionally would break every
    write on a two-jar (hadoop-aws + sdk-bundle) classpath."""
    from real_estate_data_pipeline_spark.session import (
        _cloud_committer_available,
        s3a_conf,
    )

    conf = s3a_conf("http://minio:9000", "ak", "sk")
    assert conf["spark.hadoop.fs.s3a.endpoint"] == "http://minio:9000"
    assert conf["spark.hadoop.fs.s3a.access.key"] == "ak"
    assert conf["spark.hadoop.fs.s3a.secret.key"] == "sk"
    assert conf["spark.hadoop.fs.s3a.path.style.access"] == "true"
    assert conf["spark.hadoop.fs.s3a.impl"].endswith("S3AFileSystem")
    # committer keys track jar availability; force_committer pins them on
    assert ("spark.hadoop.fs.s3a.committer.name" in conf) == (
        _cloud_committer_available()
    )
    forced = s3a_conf("http://minio:9000", "ak", "sk", force_committer=True)
    assert forced["spark.hadoop.fs.s3a.committer.name"] == "directory"
    assert forced["spark.sql.sources.commitProtocolClass"].endswith(
        "PathOutputCommitProtocol"
    )
    # real-AWS variant flips the local-stack toggles
    aws = s3a_conf("ignored", "ak", "sk", path_style=False, ssl=True)
    assert aws["spark.hadoop.fs.s3a.path.style.access"] == "false"
    assert aws["spark.hadoop.fs.s3a.connection.ssl.enabled"] == "true"


def test_s3a_parquet_roundtrip(spark, tmp_path):
    """Spark parquet round-trip through s3a:// against an in-process
    moto S3 server. Skips (with the reason) when the hadoop-aws jars
    are not on the classpath — true for the pip pyspark in this sandbox
    — so the test documents AND exercises the path wherever the jars
    exist (any real cluster image)."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.hadoop.fs.s3a.S3AFileSystem")
    except Exception:
        # exact artifacts this env lacks (pip pyspark 4.1.2 bundles
        # hadoop-client-*-3.4.2, so the matching versions are):
        #   org.apache.hadoop:hadoop-aws:3.4.2
        #   com.amazonaws:aws-java-sdk-bundle:1.12.720 (hadoop-aws 3.4.x dep)
        #   org.apache.spark:spark-hadoop-cloud_2.13:4.1.2 (cloud committers)
        # Drop them in $SPARK_HOME/jars or pass spark.jars.packages with
        # those coordinates and this test runs unmodified.
        pytest.skip(
            "S3A jars not on classpath — needs hadoop-aws:3.4.2 + "
            "aws-java-sdk-bundle:1.12.720 (+ spark-hadoop-cloud_2.13:4.1.2 "
            "for the directory committer); pip pyspark ships without them"
        )
    moto_server = pytest.importorskip("moto.server")
    boto3 = pytest.importorskip("boto3")

    server = moto_server.ThreadedMotoServer(port=0)
    server.start()
    try:
        host, port = server.get_host_and_port()
        endpoint = f"http://{host}:{port}"
        boto3.client(
            "s3", endpoint_url=endpoint,
            aws_access_key_id="testing", aws_secret_access_key="testing",
            region_name="us-east-1",
        ).create_bucket(Bucket="bronze")
        from real_estate_data_pipeline_spark.session import s3a_conf

        hc = spark._jsc.hadoopConfiguration()
        for k, v in s3a_conf(endpoint, "testing", "testing").items():
            if k.startswith("spark.hadoop."):
                hc.set(k[len("spark.hadoop."):], v)
        df = spark.range(0, 100).withColumn("k", F.col("id") % 7)
        df.write.mode("overwrite").parquet("s3a://bronze/t")
        back = spark.read.parquet("s3a://bronze/t")
        assert back.count() == 100
        assert back.agg(F.sum("id")).collect()[0][0] == 4950
    finally:
        server.stop()


def test_zorder_skips_on_both_dims(spark, tmp_path):
    """Z-order vs linear sort, measured on the actual parquet footers:
    after clustering on (x, y), a band filter on y alone overlaps FEWER
    files' min/max ranges than under an x-linear layout (where every
    file spans the full y range). This is the data-skipping property
    OPTIMIZE ZORDER exists for."""
    import pyarrow.parquet as pq

    from real_estate_data_pipeline_spark.io.maintenance import zorder_compact

    n = 100_000
    df = spark.range(0, n).select(
        F.col("id").alias("x"),
        ((F.col("id") * 2654435761) % n).alias("y"),  # deterministic scatter
    )

    def y_overlaps(path, lo, hi):
        hits, total = 0, 0
        for f in sorted(os.listdir(path)):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                col = next(
                    md.row_group(rg).column(i)
                    for i in range(md.num_columns)
                    if md.row_group(rg).column(i).path_in_schema == "y"
                )
                mins.append(col.statistics.min)
                maxs.append(col.statistics.max)
            total += 1
            if min(mins) <= hi and max(maxs) >= lo:
                hits += 1
        return hits, total

    linear = str(tmp_path / "linear")
    df.repartitionByRange(8, "x").sortWithinPartitions("x").write.parquet(linear)
    zordered = str(tmp_path / "zordered")
    df.repartition(8).write.parquet(zordered)
    zorder_compact(spark, zordered, ["x", "y"], bits=12, n_files=8)

    lo, hi = n // 2, n // 2 + n // 50  # narrow y band
    lin_hits, lin_total = y_overlaps(linear, lo, hi)
    z_hits, z_total = y_overlaps(zordered, lo, hi)
    assert lin_hits == lin_total  # x-linear layout cannot prune on y
    assert z_hits < z_total, (z_hits, z_total)
    assert z_hits / z_total < lin_hits / lin_total
    # and the rewrite is lossless
    back = spark.read.parquet(zordered)
    assert back.count() == n
    assert back.agg(F.sum("x")).collect()[0][0] == n * (n - 1) // 2


def test_compact_rerun_completes_interrupted_swap(spark, tmp_path):
    """A compact() re-run after a mid-swap crash must self-repair (not
    demand a manual recover_compact): plant the crashed state — live
    path missing, complete new data in _compacting — and call compact
    again."""
    from real_estate_data_pipeline_spark.io.maintenance import compact

    p = str(tmp_path / "tbl")
    df = spark.range(0, 5000).withColumn("k", F.col("id") % 5)
    df.repartition(16).write.parquet(p)
    # simulate: swap started, new data fully written, live renamed away
    df.coalesce(2).write.parquet(p + "_compacting")
    os.rename(p, p + "_old")
    compact(spark, p, ["k"], target_file_mb=1)
    back = spark.read.parquet(p)
    assert back.count() == 5000
    assert not os.path.exists(p + "_old") and not os.path.exists(p + "_compacting")


def test_write_range_sorted_global_order(spark, tmp_path):
    """write_range_sorted: each output file is internally sorted, file
    key-ranges are pairwise disjoint, and concatenating files in range
    order reproduces the exact global sort of the input."""
    import glob

    import pyarrow.parquet as pq

    from real_estate_data_pipeline_spark.io.writers import write_range_sorted

    df = spark.range(0, 5000).select(
        F.col("id"),
        (F.xxhash64(F.col("id")) % 100000).alias("key"),
    )
    path = str(tmp_path / "range_sorted")
    write_range_sorted(df, path, "key", n_ranges=8)

    files = sorted(glob.glob(f"{path}/part-*.parquet"))
    assert len(files) > 1
    ranges = []
    all_keys = []
    for f in files:
        keys = pq.read_table(f, columns=["key"]).column("key").to_pylist()
        if not keys:
            continue
        assert keys == sorted(keys), f"file {f} not internally sorted"
        ranges.append((keys[0], keys[-1]))
        all_keys.append(keys)
    ranges_sorted = sorted(ranges)
    for (lo1, hi1), (lo2, hi2) in zip(ranges_sorted, ranges_sorted[1:]):
        assert hi1 <= lo2, "file ranges overlap"
    concat = [k for _, keys in sorted(zip(ranges, all_keys)) for k in keys]
    expect = sorted(r["key"] for r in df.collect())
    assert concat == expect


def test_scd2_merge_four_branch_emission(spark, tmp_path):
    """All four outcomes of a key in one merge (changed /
    matched-unchanged-resent / absent-from-batch / brand-new): the
    resolved snapshot, the change feed and the counters."""
    t = Scd2Table(spark, str(tmp_path / "t"), key="k", tracked=["v"], order_col="ts")
    d1 = spark.createDataFrame(
        [("chg", 1.0, "d1"), ("same", 2.0, "d1"), ("gone", 3.0, "d1")],
        "k string, v double, ts string",
    )
    d2 = spark.createDataFrame(
        # chg: tracked value changed; same: resent identical (matched,
        # NOT changed); gone: absent; fresh: brand-new key
        [("chg", 9.0, "d2"), ("same", 2.0, "d2"), ("fresh", 4.0, "d2")],
        "k string, v double, ts string",
    )
    c1 = t.merge(d1, batch_ts=F.lit("2024-01-01 12:00:00"))
    c2 = t.merge(d2, batch_ts=F.lit("2024-01-02 12:00:00"))
    assert c1 == {"closed": 0, "inserted": 3, "unchanged": 0}
    assert c2 == {"closed": 1, "inserted": 2, "unchanged": 1}

    snap = {
        (r["k"], r["is_current"]): (r["v"], r["valid_to"] is None)
        for r in t.read().collect()
    }
    assert snap == {
        ("chg", False): (1.0, False),  # closed old version, valid_to stamped
        ("chg", True): (9.0, True),  # new version inserted
        ("same", True): (2.0, True),  # matched-unchanged: untouched
        ("gone", True): (3.0, True),  # absent from batch: untouched
        ("fresh", True): (4.0, True),  # brand-new insert
    }
    # CDF of commit 2: insert for fresh, pre+post for chg, NOTHING for
    # same/gone (the when-chain's null arm must emit zero rows)
    feed = {
        (r["_change_type"], r["k"]): r["v"]
        for r in t.read_changes(starting_version=2).collect()
    }
    assert feed == {
        ("insert", "fresh"): 4.0,
        ("update_preimage", "chg"): 1.0,
        ("update_postimage", "chg"): 9.0,
    }


def test_scd2_merge_null_safe_two_tracked_quoted_column(spark, tmp_path):
    """Full snapshot and change-feed rows over three merges with two
    tracked columns, NULLs on either side of the null-safe comparison
    and a data column whose name needs quoting (``unit price``):
    NULL = NULL is unchanged, NULL -> value and value -> NULL are
    changes, a change in an untracked column is not, and closed rows
    of earlier merges carry into later snapshots untouched."""
    schema = "k string, v double, w string, `unit price` double, ts string"
    t = Scd2Table(spark, str(tmp_path / "t"), key="k", tracked=["v", "w"], order_col="ts")
    d1 = spark.createDataFrame(
        [
            ("nn", None, "x", 1.0, "d1"),  # v NULL on both sides: unchanged
            ("nv", None, "y", 2.0, "d1"),  # v NULL -> value: changed
            ("vn", 8.0, "z", 7.0, "d1"),  # v value -> NULL: changed
            ("w2", 1.0, "a", 3.0, "d1"),  # second tracked column changes
            ("px", 1.0, "p", 4.0, "d1"),  # only the untracked column changes
            ("gone", 5.0, "g", 5.0, "d1"),  # absent from the second batch
        ],
        schema,
    )
    d2 = spark.createDataFrame(
        [
            ("nn", None, "x", 1.0, "d2"),
            ("nv", 7.0, "y", 2.5, "d2"),
            ("vn", None, "z", 7.0, "d2"),
            ("w2", 1.0, "b", 3.0, "d2"),
            ("px", 1.0, "p", 40.0, "d2"),
            ("fresh", None, None, 6.0, "d2"),
            ("fresh", 0.0, "old", 0.0, "d1"),  # older duplicate: dropped
        ],
        schema,
    )
    d3 = spark.createDataFrame([("w2", 1.0, "c", 3.0, "d3")], schema)
    ts = {n: f"2024-01-0{n} 12:00:00" for n in (1, 2, 3)}
    counters = [t.merge(d, batch_ts=F.lit(ts[i + 1])) for i, d in enumerate((d1, d2, d3))]
    assert counters == [
        {"closed": 0, "inserted": 6, "unchanged": 0},
        {"closed": 3, "inserted": 4, "unchanged": 2},
        {"closed": 1, "inserted": 1, "unchanged": 0},
    ]

    def rows(df, cols):
        return sorted(
            (tuple(r) for r in df.select(*[F.col(c).cast("string") for c in cols]).collect()),
            key=repr,
        )

    data = ["k", "v", "w", "unit price", "ts"]
    snap_cols = data + ["is_current", "valid_from", "valid_to"]
    assert t.read().columns == snap_cols

    def cur(r, since):
        return (*r, "true", ts[since], None)

    def closed(r, since, until):
        return (*r, "false", ts[since], ts[until])

    v2 = [
        cur(("nn", None, "x", "1.0", "d1"), 1),
        cur(("px", "1.0", "p", "4.0", "d1"), 1),
        cur(("gone", "5.0", "g", "5.0", "d1"), 1),
        closed(("nv", None, "y", "2.0", "d1"), 1, 2),
        cur(("nv", "7.0", "y", "2.5", "d2"), 2),
        closed(("vn", "8.0", "z", "7.0", "d1"), 1, 2),
        cur(("vn", None, "z", "7.0", "d2"), 2),
        closed(("w2", "1.0", "a", "3.0", "d1"), 1, 2),
        cur(("w2", "1.0", "b", "3.0", "d2"), 2),
        cur(("fresh", None, None, "6.0", "d2"), 2),
    ]
    assert rows(t.read(version=2), snap_cols) == sorted(v2, key=repr)
    v3 = [r for r in v2 if r[:3] != ("w2", "1.0", "b")] + [
        closed(("w2", "1.0", "b", "3.0", "d2"), 2, 3),
        cur(("w2", "1.0", "c", "3.0", "d3"), 3),
    ]
    assert rows(t.read(), snap_cols) == sorted(v3, key=repr)

    cdf_cols = data + ["_change_type", "_commit_version"]
    assert rows(t.read_changes(2, 2), cdf_cols) == sorted(
        [
            ("fresh", None, None, "6.0", "d2", "insert", "2"),
            ("nv", None, "y", "2.0", "d1", "update_preimage", "2"),
            ("nv", "7.0", "y", "2.5", "d2", "update_postimage", "2"),
            ("vn", "8.0", "z", "7.0", "d1", "update_preimage", "2"),
            ("vn", None, "z", "7.0", "d2", "update_postimage", "2"),
            ("w2", "1.0", "a", "3.0", "d1", "update_preimage", "2"),
            ("w2", "1.0", "b", "3.0", "d2", "update_postimage", "2"),
        ],
        key=repr,
    )
    assert rows(t.read_changes(3, 3), cdf_cols) == [
        ("w2", "1.0", "b", "3.0", "d2", "update_preimage", "3"),
        ("w2", "1.0", "c", "3.0", "d3", "update_postimage", "3"),
    ]


def test_scd2_merge_jvm_round_trips_flat_in_columns(spark, tmp_path, monkeypatch):
    """Driver-side plan building of a steady-state merge (the second
    one, which joins and rewrites the snapshot) must not cost a JVM
    round trip per column per expression: each added data column may
    cost at most 10 py4j calls, counted at 8 and at 64 data columns."""
    from py4j.clientserver import ClientServerConnection

    send = ClientServerConnection.send_command

    def steady_merge_calls(n: int) -> int:
        cols = [f"c{i}" for i in range(n)]
        schema = "k string, ts string, " + ", ".join(f"{c} double" for c in cols)
        t = Scd2Table(spark, str(tmp_path / f"w{n}"), key="k", tracked=["c0"], order_col="ts")

        def batch(day: str, v: float):
            return spark.createDataFrame([("a", day, *[v] * n), ("b", day, *[1.0] * n)], schema)

        t.merge(batch("d1", 1.0), batch_ts=F.lit("2024-01-01 12:00:00"))
        d2 = batch("d2", 2.0)
        calls = 0

        def counting(self, command, *args, **kwargs):
            nonlocal calls
            calls += 1
            return send(self, command, *args, **kwargs)

        with monkeypatch.context() as m:
            m.setattr(ClientServerConnection, "send_command", counting)
            counters = t.merge(d2, batch_ts=F.lit("2024-01-02 12:00:00"))
        assert counters == {"closed": 1, "inserted": 1, "unchanged": 1}
        return calls

    small, large = steady_merge_calls(8), steady_merge_calls(64)
    assert (large - small) / (64 - 8) <= 10, (small, large)


def test_scd2_read_as_of(spark, tmp_path):
    """timestampAsOf over the validity columns: before the first merge
    -> empty; between merges -> exactly the day-1 state; after the
    second -> the merged current state (closed rows invisible)."""
    t = Scd2Table(spark, str(tmp_path / "pit"), key="k", tracked=["v"], order_col="ts")
    d1 = spark.createDataFrame(
        [("a", 1.0, "d1"), ("b", 2.0, "d1")], "k string, v double, ts string"
    )
    d2 = spark.createDataFrame(
        [("a", 9.0, "d2"), ("c", 3.0, "d2")], "k string, v double, ts string"
    )
    t.merge(d1, batch_ts=F.lit("2024-01-01 12:00:00").cast("timestamp"))
    t.merge(d2, batch_ts=F.lit("2024-01-02 12:00:00").cast("timestamp"))

    def state(ts):
        return {(r["k"], r["v"]) for r in t.read_as_of(ts).collect()}

    assert state("2024-01-01 00:00:00") == set()
    assert state("2024-01-01 18:00:00") == {("a", 1.0), ("b", 2.0)}
    assert state("2024-01-03 00:00:00") == {("a", 9.0), ("b", 2.0), ("c", 3.0)}
    # boundary: exactly at the second merge, the new version is visible
    # (valid_from <= ts) and the closed one is not (valid_to > ts fails)
    assert state("2024-01-02 12:00:00") == {("a", 9.0), ("b", 2.0), ("c", 3.0)}


def test_scd2_read_as_of_rejects_bad_timestamp(spark, tmp_path):
    """An unparseable timestamp must raise, not silently return an
    empty frame (which would be indistinguishable from 'no versions
    existed at that time')."""
    import pytest

    t = Scd2Table(spark, str(tmp_path / "ts"), key="k", tracked=["v"], order_col="ts")
    t.merge(
        spark.createDataFrame([("a", 1.0, "d1")], "k string, v double, ts string"),
        batch_ts=F.lit("2024-01-01 12:00:00").cast("timestamp"),
    )
    with pytest.raises(ValueError, match="unparseable timestamp"):
        t.read_as_of("2024-13-45 99:00:00")
    with pytest.raises(ValueError, match="unparseable timestamp"):
        t.read_as_of("garbage")
