"""SparkSession factory.

Local testing runs on ``local[N]`` (one JVM), but every config here is
chosen to also be the right default on a large cluster:

* AQE on (runtime re-planning, partition coalescing, skew-join splitting)
  so plans adapt when the 100x-scale data distribution differs from test.
* ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalescing makes the initial number mostly moot.
* UTC session timezone — required for DuckDB-oracle comparability and
  the only sane choice for a multi-region corpus.
* Arrow enabled — all pandas-UDF paths (xlsx source, multimodal, ANN)
  transfer columnar batches, not pickled rows.
* Codegen cache sized to the session's working set of generated classes
  (``CODEGEN_CACHE_ENTRIES``), so a repeated query reuses its compiled
  code instead of recompiling it. A static conf: it only takes effect
  on the builder, before the context starts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the cores this process may run on; SPARK_GRAFT_CPUS overrides
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))

# spark.sql.codegen.cache.maxEntries (default 100). Measured working set:
# one graph_lpa_communities pass generates 98 distinct classes, the
# LPA + dedup_minhash_keep pair about 133, so at 100 the LRU evicts each
# class before its next use and every warm pass recompiles about 100 of
# the pair's classes. One cold pass over all 307 registry queries generates
# about 4,100 distinct classes; 8192 holds that with room for Guava's
# per-segment LRU, which evicts within a segment before the cache is full.
CODEGEN_CACHE_ENTRIES = 8192


def get_spark(app_name: str = "catme_etl_j_spark", cpus: str | None = None) -> SparkSession:
    """Return (or create) the singleton SparkSession with engine defaults."""
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # static conf: bucketed-table home (operators/scale.py)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/catme_spark_warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
