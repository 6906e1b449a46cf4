"""SparkSession factory with scale-oriented defaults.

Local test runs use ``local[N]``; the same config block is what we
would ship to a 1000-executor cluster: AQE handles runtime
coalescing/skew, shuffle partitions sized for the target data scale,
Arrow enabled for the few Pandas-UDF stages.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "citeconnect-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    Env overrides: ``SPARK_GRAFT_CPUS`` (local parallelism, default
    the host's core count), ``SPARK_GRAFT_SHUFFLE_PARTITIONS``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Deterministic semantics across engines (DuckDB oracle parity).
        .config("spark.sql.session.timeZone", "UTC")
        # Adaptive execution: runtime partition coalescing, skew-join
        # splitting, and dynamic join-strategy switch. At 100 TB this is
        # what turns a static 32-partition plan into a sane one.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Python DataSource filter pushdown (Spark 4.1): lets the
        # paper_search connector apply year bounds source-side.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Arrow for the pandas_udf / mapInPandas stages (embedding,
        # chunker fallback). Batch size bounds executor memory per batch.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Dimension tables (region/nation/supplier mappings) should
        # broadcast; 64 MB threshold is generous for true dims and AQE
        # will demote if a runtime size disproves the estimate.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Parquet scans: vectorized reader + pushdown are defaults, but
        # pin them so a misconfigured site profile can't silently
        # disable the fast path.
        .config("spark.sql.parquet.filterPushdown", "true")
        # maxPartitionBytes stays at the 128m default: finer splits
        # speed one starved scan but tax every other query with task
        # overhead (measured net-negative on the suite). Parallelism
        # for heavy per-row work over compact scans is applied
        # surgically via spread_small_source instead.
        # Some lake tables carry INT64 TIMESTAMP(NANOS) (e.g. events.ts),
        # which the vectorized reader rejects; read them as raw nanos and
        # normalize to TimestampType in the source layer (tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # FAIR job scheduling: a multi-tenant engine runs iterative
        # queries (PageRank / label propagation — many small serial
        # jobs) alongside scan-heavy analytics; under FIFO each
        # iteration's job queues behind whole scan stages and the
        # iterative query becomes the suite's long pole (measured
        # 8.8 s isolated -> 35 s under 16-way FIFO contention). FAIR
        # round-robins tasks across concurrent jobs instead.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.createHiveTableByDefault", "false")
        # Bucketed-table tests (plans/layout.py) need a warehouse; keep
        # it out of the repo tree. Static config -- must be set here.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/citeconnect-spark-warehouse"
            ),
        )
    )
    spark = builder.getOrCreate()
    # Python workers start from a fresh interpreter: put the package's
    # parent directory on their path so Arrow kernels that call
    # module-level helpers import the package from any working
    # directory. ``environment`` already holds every
    # ``spark.executorEnv.*`` value, whatever set it (spark-defaults,
    # --conf, PYSPARK_SUBMIT_ARGS), and is sent with each Python
    # function, so the package is prepended to that value, not put in
    # its place.
    env = spark.sparkContext.environment
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_path = env.get("PYTHONPATH", "")
    if pkg_parent not in worker_path.split(os.pathsep):
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (pkg_parent, worker_path) if p
        )
    return spark
