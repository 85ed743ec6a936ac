"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` in a single JVM; production target is a
multi-executor cluster at ~100 TB. Every config below is also correct at
cluster scale (AQE, adaptive coalesce/skew-join, Arrow for the Pandas-UDF
kernels, UTC timezone for oracle comparability).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Pre-AQE shuffle-partition seed. SCALE.md's recipe is "seed ~ input
# bytes / 128 MB, let AQE right-size" — for the local benchmark scales
# (sf0.1 ~ 200 MB total) that is single digits, and a CPU-count seed
# only adds per-stage scheduling floor (measured ~20% on the floor-bound
# headline queries). Results are partition-count independent by design
# (DECIMAL aggregates / deterministic hashes), so this is pure latency.
DEFAULT_SHUFFLE_PARTITIONS = os.environ.get(
    "SPARK_GRAFT_SHUFFLE_PARTITIONS", "8"
)


def object_store_configs(
    scheme: str,
    *,
    anonymous: bool = False,
    endpoint: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    keyfile: str | None = None,
    account: str | None = None,
    account_key: str | None = None,
    path_style_access: bool = False,
) -> dict[str, str]:
    """Spark config map for reading an object store (the reference's
    cloud-sync boundary: gs:// inputs in ``coverage_analysis.py:359``,
    `cloud_sync` download-or-local resolution).

    Spark-first replacement: no download step at all — the scan reads
    ``s3a://`` / ``gs://`` / ``abfss://`` URIs directly through the
    Hadoop connectors, keeping predicate pushdown and partition pruning
    on remote parquet. Returns plain ``spark.hadoop.*`` builder configs
    (pure function: testable without network; connector jars ship with
    the cluster image, not this package).
    """
    if scheme in ("s3", "s3a"):
        c = {
            # committers: never rename-commit against an object store
            "spark.hadoop.fs.s3a.committer.name": "magic",
            "spark.hadoop.mapreduce.outputcommitter.factory.scheme.s3a": (
                "org.apache.hadoop.fs.s3a.commit.S3ACommitterFactory"
            ),
        }
        if anonymous:
            c["spark.hadoop.fs.s3a.aws.credentials.provider"] = (
                "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider"
            )
        if access_key:
            c["spark.hadoop.fs.s3a.access.key"] = access_key
        if secret_key:
            c["spark.hadoop.fs.s3a.secret.key"] = secret_key
        if endpoint:
            c["spark.hadoop.fs.s3a.endpoint"] = endpoint
        if path_style_access:
            c["spark.hadoop.fs.s3a.path.style.access"] = "true"
        return c
    if scheme == "gs":
        c = {
            "spark.hadoop.fs.gs.impl": (
                "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFileSystem"
            ),
        }
        # Emit BOTH key generations (they coexist harmlessly): legacy
        # google.cloud.auth.* for older gcs-connector builds, and the
        # fs.gs.auth.type contract current releases (hadoop3 2.2.x+)
        # actually read — legacy-only settings are ignored on a modern
        # cluster image and reads fail auth.
        if anonymous:
            c["spark.hadoop.google.cloud.auth.null.enable"] = "true"
            c["spark.hadoop.fs.gs.auth.type"] = "UNAUTHENTICATED"
        elif keyfile:
            c["spark.hadoop.google.cloud.auth.service.account.enable"] = "true"
            c["spark.hadoop.google.cloud.auth.service.account.json.keyfile"] = keyfile
            c["spark.hadoop.fs.gs.auth.type"] = "SERVICE_ACCOUNT_JSON_KEYFILE"
            c["spark.hadoop.fs.gs.auth.service.account.json.keyfile"] = keyfile
        return c
    if scheme in ("abfs", "abfss"):
        if not account:
            raise ValueError("abfs requires account=")
        c = {}
        if account_key:
            c[f"spark.hadoop.fs.azure.account.key.{account}.dfs.core.windows.net"] = (
                account_key
            )
        return c
    raise ValueError(f"unsupported object-store scheme: {scheme}")


def streaming_state_configs(provider: str = "rocksdb") -> dict[str, str]:
    """State-store configs for production streaming (SURVEY §2.9 scale
    path): the default in-memory HDFS-backed provider keeps every state
    row on-heap — fine for tests, an OOM risk for large keyed state. The
    RocksDB provider (ships with Spark) spills state off-heap to local
    disk with changelog checkpointing, so state size is bounded by disk,
    not executor heap. Verified working in this environment
    (tests/test_streaming.py::test_rocksdb_state_store_provider)."""
    if provider == "rocksdb":
        return {
            "spark.sql.streaming.stateStore.providerClass": (
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"
            ),
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
                "true"
            ),
        }
    if provider == "hdfs":
        return {
            "spark.sql.streaming.stateStore.providerClass": (
                "org.apache.spark.sql.execution.streaming.state."
                "HDFSBackedStateStoreProvider"
            ),
        }
    raise ValueError(f"unknown state-store provider: {provider}")


def normalize_cloud_uri(uri: str) -> str:
    """Map user-facing URIs to the connector scheme Spark scans expect
    (``s3://`` -> ``s3a://``; gs/abfss/file/local paths pass through)."""
    if uri.startswith("s3://"):
        return "s3a://" + uri[len("s3://"):]
    return uri


def get_spark(
    app_name: str = "variantcalling_spark",
    master: str | None = None,
    extra_configs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``extra_configs`` merges last (e.g. ``object_store_configs("s3a",
    anonymous=True)`` to scan public buckets directly).

    The settings matter at both test scale and 100 TB scale:

    - AQE on: runtime shuffle-partition coalescing, skew-join splitting,
      and dynamic join-strategy switching replace hand-tuned plans.
    - ``shuffle.partitions`` seeds the pre-AQE plan; AQE coalesces down.
    - Arrow enabled: the ``applyInPandas`` kernels (gVCF merge, overlap
      buffer) and any Pandas UDF move data in columnar batches.
    - UTC session timezone: timestamps compare bit-identical against the
      DuckDB oracle (DuckDB timestamps are UTC-naive).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1
    # page size x physical pages is /proc/meminfo MemTotal
    half_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**31
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{max(1, half_gb)}g"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-plan (coalesce/broadcast) below persisted frames —
        # otherwise a .persist() pins its subtree to the static plan
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        # local-mode executors live inside the driver JVM, so this IS the
        # executor heap: half the machine's RAM leaves the rest to the
        # Python workers and the OS page cache
        .config("spark.driver.memory", driver_mem)
    )
    for k, v in (extra_configs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
