"""SparkSession builder for the engine.

Reference equivalent: initialize_spark_session
(/root/reference/data_processing/silver_etl_script.py:86-117) configures
Delta + S3A + AQE. Here: local-parquet-first, AQE + Arrow on, UTC session
timezone so timestamp semantics are deterministic across engines; Delta /
S3A are optional extras the caller can layer on via ``extra_conf``.

Scale note: shuffle partitions default to the local core count for tests;
on a real cluster set ``spark.sql.shuffle.partitions`` to ~2-3x total
cores (or rely on AQE coalescing, which is enabled).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_session(
    app_name: str = "real-estate-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
        # lets custom Python DataSources (io/pysource.py) receive
        # pushFilters() — off by default in Spark 4.1
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # PySpark otherwise captures the Python call site of every
        # functions/Column call (about 5 extra JVM round trips each) only
        # to show file:line in a DataFrame error's query context;
        # docs/production-config.md § Session has the cost and how to
        # turn it back on
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _silence_bounded_window_warning(spark)
    return spark


def _silence_bounded_window_warning(spark: SparkSession) -> None:
    """Raise WindowExec's logger to ERROR: its "No Partition Defined"
    warning fires even for the package's intentionally-global windows,
    all of which run over frames bounded by construction (k-row limits,
    group-count / value-domain aggregates — a lit(0) partition spec
    would be constant-folded away, so the warning can't be avoided at
    the query level). Safe to silence ONLY because
    tests/test_plans.py::test_every_catalog_query_plans_clean fails any
    catalog query whose partition-less window lacks an upstream limit
    or a justified allowlist entry — a real unbounded-window regression
    is a test failure, not a log line."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:  # pragma: no cover - log4j2 absent/renamed: warning stays
        pass


def _cloud_committer_available() -> bool:
    """True when the spark-hadoop-cloud artifact (which ships
    PathOutputCommitProtocol / BindingParquetOutputCommitter) is on the
    local pyspark classpath. A jar-name scan, not a JVM class-load, so
    it works before any SparkSession exists."""
    try:
        import pyspark

        jars_dir = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        candidates = [jars_dir, *os.environ.get("SPARK_CLASSPATH", "").split(":")]
        for d in candidates:
            if not d:
                continue
            if os.path.isdir(d):
                for f in os.listdir(d):
                    if f.startswith("spark-hadoop-cloud") and f.endswith(".jar"):
                        return True
            elif (
                os.path.isfile(d)
                and os.path.basename(d).startswith("spark-hadoop-cloud")
                and d.endswith(".jar")
            ):
                # SPARK_CLASSPATH entries are often jar FILES, not dirs
                return True
    except Exception:
        pass
    return False


def s3a_conf(
    endpoint: str,
    access_key: str,
    secret_key: str,
    path_style: bool = True,
    ssl: bool = False,
    force_committer: bool = False,
) -> dict[str, str]:
    """The exact ``extra_conf`` recipe for an S3/MinIO-backed deployment
    (reference: silver_etl_script.py:99-104, pipelines.py:60-101 write
    bronze/silver through S3A). Usage::

        spark = get_session(extra_conf=s3a_conf(
            "http://minio:9000", "minioadmin", "minioadmin"))
        df = spark.read.parquet("s3a://bronze/listings/date=2024-01-01")

    ``path_style=True`` + ``ssl=False`` are the MinIO/moto local-stack
    settings; against real AWS S3 drop the endpoint, use virtual-host
    style and SSL, and swap the static provider for
    ``InstanceProfileCredentialsProvider`` / IRSA. Classpath needs
    THREE artifacts, not two: ``hadoop-aws`` + ``aws-java-sdk-bundle``
    for the S3A filesystem itself, AND ``spark-hadoop-cloud`` (same
    Spark version) for the ``PathOutputCommitProtocol`` /
    ``BindingParquetOutputCommitter`` classes the committer overrides
    below reference — without it every WRITE dies with
    ClassNotFoundException even though reads work
    (``spark.jars.packages=org.apache.hadoop:hadoop-aws:<hadoop ver>,
    org.apache.spark:spark-hadoop-cloud_2.13:<spark ver>``). The
    committer keys are emitted only when the class is resolvable (or
    ``force_committer=True``), so following the two-jar recipe
    degrades to the classic committer instead of breaking writes.
    None of these jars ship with pip pyspark in this sandbox, which is
    why tests/test_io.py's round-trip skips here and runs on a real
    cluster."""
    conf = {
        "spark.hadoop.fs.s3a.endpoint": endpoint,
        "spark.hadoop.fs.s3a.access.key": access_key,
        "spark.hadoop.fs.s3a.secret.key": secret_key,
        "spark.hadoop.fs.s3a.path.style.access": str(path_style).lower(),
        "spark.hadoop.fs.s3a.connection.ssl.enabled": str(ssl).lower(),
        "spark.hadoop.fs.s3a.impl": "org.apache.hadoop.fs.s3a.S3AFileSystem",
        "spark.hadoop.fs.s3a.aws.credentials.provider": (
            "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider"
        ),
    }
    # committer: directory-staging avoids the O(files) rename-based
    # commit that plain FileOutputCommitter pays on object stores —
    # but the protocol classes live in spark-hadoop-cloud, so only
    # emit the overrides when that jar is actually present (else every
    # write would die with ClassNotFoundException)
    if force_committer or _cloud_committer_available():
        conf.update(
            {
                "spark.hadoop.fs.s3a.committer.name": "directory",
                "spark.sql.sources.commitProtocolClass": (
                    "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
                ),
                "spark.sql.parquet.output.committer.class": (
                    "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
                ),
            }
        )
    return conf
