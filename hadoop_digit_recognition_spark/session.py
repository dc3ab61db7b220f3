"""SparkSession factory.

Local testing runs one JVM with N threads (local[N]); the configuration
below is nevertheless written for the 1000-executor / 100 TB design point:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast conversion) — the single most important knob at scale.
- spark.sql.shuffle.partitions is the core count. AQE coalesces every
  batch shuffle down from it, the driver loops' (CC labels, k-core,
  k-truss, RBM epochs) included; only the streaming state stores
  (streaming/pipeline.py) set their own width.
- Arrow enabled: every pandas-UDF boundary is columnar, not pickled rows.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- The generated-class cache holds the engine's whole working set. With
  Spark's 100-entry default, one iterative pass (about 170 classes)
  evicted each query's classes before the next pass reused them, so every
  pass recompiled, reloaded and re-JITed all of them. Sessions the engine
  did not create (a harness's plain SparkSession) keep Spark's default:
  the setting is static and cannot be changed once the session runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "hdr-spark",
              cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Cached plans (the memoized signature/edge/probe stores) execute
        # with AQE partition coalescing too — default false pins every
        # InMemoryRelation materialization and scan at the static shuffle
        # width (measured: sim_lof_outliers 175 -> 934 tasks when its
        # composed frames were persisted without this; SPARK-37442).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        # Static: how many Janino-compiled classes stay cached, keyed by
        # their generated source. Measured on 4 cores: at Spark's default
        # 100 one iterative_tail pass compiles 168-172 classes and one
        # cold bench.HEADLINE_V2 pass at sf0.01 694, every pass again.
        # Uncapped, that HEADLINE_V2 pass needs 595 distinct classes (630
        # over two passes, the second compiling 35); 2000 is over 3x that.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # Static: the Tungsten page every hash aggregate, sort, unsafe
        # shuffle writer and hashed broadcast relation allocates and
        # zeroes on its first record. Spark sizes it from the heap (next
        # power of two of execution pool / cores / 16, 1-64 MB): 16 MB at
        # a 2 GB heap and 64 MB at the 8g default on 4 cores, and a
        # broadcast relation holds its page in storage memory until its
        # plan is collected. Measured at a 2 GB heap on 4 cores: a
        # broadcast join against a 10-row string-keyed table added 16.0 MB
        # of storage memory, 1.0 MB with 1 MB pages. The page table has
        # 8192 entries, so 1 MB pages let one task address 8 GB, more than
        # all the execution memory of the 8g default heap (4.6 GB);
        # SCALE.md has the limit.
        .config("spark.buffer.pageSize", "1m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )

