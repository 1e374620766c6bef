"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we'd set on a real cluster: AQE on
(runtime skew-join splitting + partition coalescing), Arrow on (every
Python boundary is Arrow-batched), shuffle partitions sized to cores
rather than the 200 default. The driver heap defaults to half of the
host's physical memory, at most 16g, so the heap leaves room for a
second Spark process on the same host; ``SPARK_DRIVER_MEMORY``
overrides it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

MAX_DRIVER_MEMORY_MB = 16 * 1024


def _default_driver_memory() -> str:
    """Half of physical RAM, capped at 16g, as a Spark memory string."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    return f"{min(ram_mb // 2, MAX_DRIVER_MEMORY_MB)}m"


def get_spark(
    app_name: str = "fulltextsearchengine_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; on a real cluster this would be ~2-3× total cores
        shuffle_partitions = cpus if not master.startswith("local[") else max(
            int(master[6:-1]) if master[6:-1] != "*" else cpus, 4
        )
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
