"""Loaders for the driver-generated synthetic tables (TESTDATA.md).

The reference reads text lines from HDFS directories
(/root/reference/driver.java:161, TextInputFormat); the engine standard is
columnar Parquet with schema-on-read enforcement — scans get predicate
pushdown and column pruning for free (SURVEY.md S1/S2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


# (path, conf) -> (stamp, the StructType Spark inferred for it). The stamp
# is the (inode, size, mtime) of every file under the path, so a rewritten
# table is inferred again; conf is the value of a reader setting the
# inferred schema depends on (events' nanosAsLong). Metadata only, like
# Spark's own file-status cache: no persisted data outlives a query.
_SCHEMAS: dict = {}


def _stamp(path: str) -> tuple:
    files = [path]
    if os.path.isdir(path):
        files = sorted(os.path.join(d, f)
                       for d, _, fs in os.walk(path) for f in fs)
    stamp = []
    for f in files:
        st = os.stat(f)
        stamp.append((f, st.st_ino, st.st_size, st.st_mtime_ns))
    return tuple(stamp)


def _read_parquet(spark: SparkSession, path: str,
                  conf: str | None = None) -> DataFrame:
    """spark.read.parquet, reusing the schema Spark inferred the first
    time while the files (and conf) are unchanged. A bare read runs a
    one-task job to infer the schema on every call; a reused schema makes
    later reads (and query builds) run no job."""
    if not os.path.exists(path):  # a URI, or missing: Spark decides
        return spark.read.parquet(path)
    stamp = _stamp(path)
    hit = _SCHEMAS.get((path, conf))
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[(path, conf)] = (stamp, df.schema)
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table (its inferred parquet schema reused, see
    _read_parquet)."""
    if name == "events":
        return _load_events(spark, sf_dir)
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet")


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize events.ts across driver data generations. Older testdata
    wrote parquet INT64 TIMESTAMP(NANOS), which Spark refuses by default
    (PARQUET_TYPE_ILLEGAL) and reads as raw long nanos under
    nanosAsLong=true; newer testdata writes native timestamp[us], which
    Spark reads directly as TIMESTAMP_NTZ. Either way the view exposes
    ts as TIMESTAMP_NTZ — NTZ keeps every downstream query independent of
    the (driver-owned) session timezone, matching the DuckDB oracle's
    naive timestamps — plus ts_us (bigint epoch micros) for
    timezone-proof bucket arithmetic."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    nanos = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.set(nanos, "true")
    raw = _read_parquet(spark, f"{sf_dir}/events.parquet",
                        conf=spark.conf.get(nanos))
    ts_type = raw.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # nanos-as-long generation: truncate to micros with integer
        # division (`/` promotes to double, whose ulp at 1.7e15 is
        # 0.25us), then rebuild the NTZ timestamp with exact integer
        # micros arithmetic (make_dt_interval goes through double
        # seconds and can be off by 1us).
        return (
            raw.withColumn("ts_us", F.expr("ts div 1000"))
            .withColumn(
                "ts",
                F.expr("timestampadd(MICROSECOND, ts_us, "
                       "TIMESTAMP_NTZ '1970-01-01 00:00:00')"),
            )
        )
    if isinstance(ts_type, T.TimestampNTZType):
        return raw.withColumn(
            "ts_us",
            F.expr("timestampdiff(MICROSECOND, "
                   "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"),
        )
    # TIMESTAMP_LTZ fallback (inferTimestampNTZ disabled): unix_micros is
    # exact; rebuild ts as NTZ from the same epoch micros so downstream
    # plans never depend on the session timezone.
    return (
        raw.withColumn("ts_us", F.expr("unix_micros(ts)"))
        .withColumn(
            "ts",
            F.expr("timestampadd(MICROSECOND, ts_us, "
                   "TIMESTAMP_NTZ '1970-01-01 00:00:00')"),
        )
    )


def load_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """load() + fan-out to all cores. The test tables are single small
    parquet files -> ONE input split; any compute-dense narrow pipeline
    (tokenize/shingle/hash) would serialize on one core. At real scale
    sources have many splits and AQE coalesces the extra exchange away."""
    return load(spark, sf_dir, name).repartition(
        spark.sparkContext.defaultParallelism)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so spark.sql() queries run
    against the same names the DuckDB oracle uses."""
    for t in TABLE_NAMES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)


def dataset_tag(sf_dir: str, *tables: str) -> str:
    """Cache key for derived/staged layouts (bucketed tables, streaming
    chunk stages, partitioned rewrites, binary-file exports): dataset
    basename + a content fingerprint (absolute path + mtime + size of
    the given table files). The driver regenerates /root/testdata
    between rounds, so a basename-only key would silently reuse stale
    staged data — the same hazard the round-2 advice flagged for the
    incremental-dedup signature store, fixed fleet-wide here."""
    import hashlib
    import os

    parts = [os.path.abspath(sf_dir)]
    for t in tables:
        st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
        parts.append(f"{t}|{st.st_mtime_ns}|{st.st_size}")
    fp = hashlib.md5("|".join(parts).encode()).hexdigest()[:12]
    base = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    return f"{base}_{fp}"
