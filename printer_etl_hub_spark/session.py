"""SparkSession factory tuned for this engine.

Local mode is a single JVM with N executor threads; the same configs are what
we would set on a real cluster (AQE, skew-join handling, Arrow) — only the
memory / parallelism knobs are sized from the environment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: Runtime-settable confs every session of the engine needs: ``get_spark``
#: builds with them and ``apply_runtime_conf`` sets them on a session built
#: elsewhere.
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    # Naive parquet timestamp[us] must come back as TIMESTAMP, not
    # TIMESTAMP_NTZ: NTZ breaks withWatermark (event time requires
    # TIMESTAMP) and long-casts, and the UTC session makes the two
    # representations value-identical anyway.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}


def default_driver_memory() -> str:
    """Three quarters of the host's physical memory, in MiB.

    In local mode the driver JVM holds the executors too, so its heap cap
    is the engine's whole memory bound; sized from the host, the heap can
    never grow past physical RAM. ``SPARK_DRIVER_MEMORY`` overrides it.
    """
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{total * 3 // 4 // 2**20}m"


def get_spark(
    app_name: str = "printer_etl_hub_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Scale notes: on a real cluster the same session configs apply —
    ``spark.sql.adaptive.*`` re-plans joins at runtime (broadcast conversion,
    skew-split, partition coalescing), Arrow keeps the Python boundary
    vectorized, and UTC session time keeps timestamp semantics engine-portable.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        # Cluster sizing: shuffle.partitions tracks local cores here; on a
        # real deployment raise spark.sql.adaptive.coalescePartitions.
        # initialPartitionNum (e.g. 2-4x total cores) and let AQE coalesce —
        # measured ~35% overhead at local test sizes, so not the default.
        .config("spark.sql.shuffle.partitions", str(sp))
        .config(map=RUNTIME_CONF)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # PySpark's call-site capture (on by default) wraps every
        # Column/DataFrame call in extra py4j round trips and a Python stack
        # walk, only to name the building line in Spark errors: a plan build
        # makes about 3x the round trips with it. Static: a running session
        # cannot change it.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # Shuffle/spill through tmpfs when available: local-mode shuffles are
    # disk-bound on this host's slow /tmp. On a cluster the platform sets
    # spark.local.dir (and SPARK_LOCAL_DIRS wins over this config anyway).
    shm = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")
    if os.path.isdir(os.path.dirname(shm) or "/"):
        try:
            os.makedirs(shm, exist_ok=True)
            builder = builder.config("spark.local.dir", shm)
        except OSError:
            pass
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable configs to an externally-created session.

    The correctness driver hands us its own SparkSession; timestamp rendering
    must be UTC to line up with the (UTC-naive) DuckDB oracle. AQE is forced
    on, and it is a trade-off, not a free win: it re-plans joins and
    coalesces partitions from runtime statistics, but each query stage is
    its own Spark job. q72 at sf0.01 runs 15 jobs with AQE and 5 without
    (same rows), and at sf0.1 some queries are faster without it and others
    slower.

    ``get_spark`` also turns off PySpark's call-site capture
    (``spark.python.sql.dataFrameDebugging.enabled``), which costs extra
    py4j round trips on every Column/DataFrame call. That conf is static,
    so it cannot be applied here: a session built elsewhere keeps the
    capture on.
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on some builds; harmless
    return spark
