"""SparkSession factory with scale-oriented defaults.

local[N] in this sandbox; the same config block is what we'd pass to
spark-submit on a real cluster (AQE on, Arrow batches sized for the
fused extraction stage, shuffle partitions matched to parallelism).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# rows per Arrow batch: measured sweet spot for the fused extraction
# stage — 1024-row batches pay ~25% more per-batch JVM<->Arrow
# overhead, 8k+ batches lose cache locality (exp on 192k-doc corpus)
ARROW_BATCH = 4096

# the master-independent settings: build_session puts them on its
# builder and submit_job.py sets them on the spark-submit session, so
# tests, benches and the production job run one configuration
RUNTIME_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH),
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


def default_cpus() -> int:
    """Parallelism when no master is given: $SPARK_GRAFT_CPUS (a
    deployment setting) if set, else the cores this process may use."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def build_session(app: str = "ai-pdf-ocr-spark", master: str | None = None,
                  shuffle_partitions: int | None = None) -> SparkSession:
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # N of local[N], local[N,F] (F = task attempts) and
        # local-cluster[N,cores,mem]: the part before the first comma
        n = master[master.find("[") + 1:master.find("]")].split(",")[0] \
            if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else int(n)
    builder = SparkSession.builder.appName(app).master(master)
    # shuffle spill on tmpfs: disk-backed /tmp serializes shuffle IO and
    # caps scaling; RAM-backed local dirs keep the exchange CPU-bound
    # (the cluster analog: NVMe/ram-disk shuffle volumes)
    shm = "/dev/shm/spark-local"
    try:
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    except OSError:
        pass
    return (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(map=RUNTIME_CONF)
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
