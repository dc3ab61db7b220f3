"""Source/sink codec tests: reference text-format roundtrips (examples +
weights) and the oracle-checked end-to-end roundtrip query."""

from __future__ import annotations

import os
import tempfile
import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from hadoop_digit_recognition_spark.all_queries import ORACLE_SQL, SPARK_QUERIES
from hadoop_digit_recognition_spark.sources.text_format import (
    read_examples_text,
    read_weights_text,
    write_examples_text,
    write_weights_text,
)

from .conftest import SF_ORACLE
from .oracle_harness import compare


def _tmp(name: str) -> str:
    return os.path.join(tempfile.gettempdir(), "hdr_test_sources",
                        f"{name}-{uuid.uuid4().hex}")


def test_source_text_roundtrip_vs_duckdb(spark, duck):
    df = SPARK_QUERIES["source_text_roundtrip"](spark, SF_ORACLE)
    compare(df, duck, ORACLE_SQL["source_text_roundtrip"],
            "source_text_roundtrip")


def test_examples_text_both_line_shapes(spark):
    """Reader must handle first-layer lines (no tab) and later-layer
    lines (offset\\tpayload) — rbmmapper.java:86-97's two branches."""
    path = _tmp("shapes")
    spark.createDataFrame(
        [(0, [0, 128, 255]), (1, [1, 2, 3])], "id long, v array<int>"
    ).select(F.concat_ws(" ", F.transform("v", lambda x: x.cast("string")))
             .alias("value")).write.text(path)
    plain = read_examples_text(spark, path, 3, normalize=False)
    assert sorted(r["v"] for r in plain.collect()) == [
        [0.0, 128.0, 255.0], [1.0, 2.0, 3.0]]

    keyed_path = _tmp("keyed")
    spark.createDataFrame(
        [(7, [10, 20, 30])], "id long, v array<int>"
    ).select(F.concat_ws("\t", F.col("id").cast("string"),
                         F.concat_ws(" ", F.transform(
                             "v", lambda x: x.cast("string"))))
             .alias("value")).write.text(keyed_path)
    keyed = read_examples_text(spark, keyed_path, 3, keyed=True).collect()
    assert keyed[0]["example_id"] == 7
    assert keyed[0]["v"] == [10 / 255.0, 20 / 255.0, 30 / 255.0]


def test_examples_text_arity_guard(spark):
    """Wrong-width record must fail the scan, like the reference's
    IllegalArgumentException (rbmmapper.java:108-114)."""
    path = _tmp("bad")
    spark.createDataFrame([("1 2 3",), ("4 5",)], "value string") \
        .write.text(path)
    with pytest.raises(Exception, match="arity mismatch"):
        read_examples_text(spark, path, 3).collect()


def test_weights_text_roundtrip():
    rng = np.random.default_rng(7)
    W = rng.normal(0, 0.1, size=(6, 4))
    path = _tmp("weights") + "/w.txt"
    write_weights_text(W, path)
    back = read_weights_text(path, 6, 4)
    assert back.shape == (6, 4)
    # DecimalFormat("#.###") HALF_EVEN semantics (driver.java:33):
    # banker's rounding, not truncation — 0.1236 serializes as 0.124
    assert np.array_equal(back, np.round(W * 1000) / 1000)


def test_weights_text_arity_guard():
    path = _tmp("weights_bad") + "/w.txt"
    write_weights_text(np.zeros((2, 2)), path)
    with pytest.raises(ValueError, match="expected 3\\*3"):
        read_weights_text(path, 3, 3)


@pytest.mark.parametrize("name", ["source_csv_roundtrip",
                                  "source_json_roundtrip",
                                  "source_orc_roundtrip",
                                  "source_jsonl_malformed_permissive",
                                  "source_fixedwidth_roundtrip",
                                  "source_json_multiline",
                                  "source_tar_shard_ingest",
                                  "source_txnlog_snapshot_replay"])
def test_csv_json_roundtrip_vs_duckdb(spark, duck, name):
    df = SPARK_QUERIES[name](spark, SF_ORACLE)
    compare(df, duck, ORACLE_SQL[name], name)


def test_sink_partition_overwrite_vs_duckdb(spark, duck):
    compare(SPARK_QUERIES["sink_partition_overwrite"](spark, SF_ORACLE),
            duck, ORACLE_SQL["sink_partition_overwrite"],
            "sink_partition_overwrite")


def test_partition_overwrite_touches_only_target(spark):
    """Dynamic overwrite must replace ONLY the corrected day's files:
    every other partition's parquet files keep byte-identical paths and
    mtimes across a second backfill run."""
    import glob

    from hadoop_digit_recognition_spark.sources.queries import FIX_DAY

    from hadoop_digit_recognition_spark.tables import dataset_tag

    SPARK_QUERIES["sink_partition_overwrite"](spark, SF_ORACLE).collect()
    stage = os.path.join(tempfile.gettempdir(), "hdr_pof_stage",
                         dataset_tag(SF_ORACLE, "events"))

    def snapshot(include_target: bool):
        out = {}
        for p in glob.glob(os.path.join(stage, "day=*", "*.parquet")):
            if (f"day={FIX_DAY}" in p) == include_target:
                out[p] = os.path.getmtime(p)
        return out

    before_others = snapshot(False)
    before_target = snapshot(True)
    assert before_others and before_target
    SPARK_QUERIES["sink_partition_overwrite"](spark, SF_ORACLE).collect()
    assert snapshot(False) == before_others  # untouched partitions intact
    assert snapshot(True) != before_target   # target partition rewritten


def test_schema_evolution_vs_duckdb(spark, duck):
    compare(SPARK_QUERIES["source_schema_evolution"](spark, SF_ORACLE),
            duck, ORACLE_SQL["source_schema_evolution"],
            "source_schema_evolution")


def test_compaction_vs_duckdb_and_file_count(spark, duck):
    """Compacted copy must be value-identical AND actually compact."""
    import glob

    from hadoop_digit_recognition_spark.sources.queries import COMPACT_FILES

    df = SPARK_QUERIES["sink_compaction"](spark, SF_ORACLE)
    compare(df, duck, ORACLE_SQL["sink_compaction"], "sink_compaction")
    files = df.inputFiles()
    assert 0 < len(files) <= COMPACT_FILES, files
    frag = glob.glob(os.path.join(os.path.dirname(
        os.path.dirname(files[0].removeprefix("file:"))),
        "fragmented", "*.parquet"))
    assert len(frag) == 64, len(frag)


def test_python_datasource_vs_duckdb(spark, duck):
    """The Spark 4 Python DataSource connector must reproduce the
    oracle's md5-derived rows exactly, and expose real partition-level
    parallelism (one task per InputPartition)."""
    df = SPARK_QUERIES["source_python_datasource"](spark, SF_ORACLE)
    compare(df, duck, ORACLE_SQL["source_python_datasource"],
            "source_python_datasource")
    assert df.rdd.getNumPartitions() == 4


def test_streaming_python_datasource_vs_duckdb(spark, duck):
    """The custom streaming connector must drain all chunks through real
    micro-batches and reproduce the oracle's md5-derived rows exactly."""
    df = SPARK_QUERIES["streaming_python_datasource"](spark, SF_ORACLE)
    compare(df, duck, ORACLE_SQL["streaming_python_datasource"],
            "streaming_python_datasource")


def test_xml_roundtrip_vs_duckdb(spark, duck):
    compare(SPARK_QUERIES["source_xml_roundtrip"](spark, SF_ORACLE),
            duck, ORACLE_SQL["source_xml_roundtrip"],
            "source_xml_roundtrip")


def test_avro_roundtrip_vs_duckdb(spark, duck):
    compare(SPARK_QUERIES["source_avro_roundtrip"](spark, SF_ORACLE),
            duck, ORACLE_SQL["source_avro_roundtrip"],
            "source_avro_roundtrip")


def test_avro_lite_codec_unit(tmp_path):
    """Container-file framing: both codecs, nullable unions, multi-block
    files, every primitive type, and negative varint values."""
    from hadoop_digit_recognition_spark.sources.avro_lite import (
        _make_avro_source, write_container)

    schema = {"type": "record", "name": "r", "fields": [
        {"name": "a", "type": ["null", "long"]},
        {"name": "b", "type": ["null", "double"]},
        {"name": "c", "type": ["null", "string"]},
        {"name": "d", "type": ["null", "boolean"]},
        {"name": "e", "type": ["null", "bytes"]},
    ]}
    rows = [(i if i % 5 else -i, i * 0.5, f"s{i}" if i % 3 else None,
             i % 2 == 0, bytes([i % 256, 255]))
            for i in range(1000)]
    for codec in ("null", "deflate"):
        p = str(tmp_path / f"t_{codec}.avro")
        n = write_container(p, schema, rows, codec=codec, block_rows=128)
        assert n == 1000
        # decode through the DataSource factory's closure decoder
        src = _make_avro_source()

        class Opt(dict):
            pass

        ds = src(options={"path": str(tmp_path)})
        reader = ds.reader(None)
        got = []
        for part in reader.partitions():
            if part.value == p:
                got = list(reader.read(part))
        assert len(got) == 1000
        assert got[7] == (7, 3.5, "s7", False, bytes([7, 255]))
        assert got[5][0] == -5  # negative zigzag branch
        assert got[9][2] is None


def test_events_loader_ts_normalization(spark, duck):
    """The events loader must expose ts as TIMESTAMP_NTZ with exact epoch
    micros in ts_us REGARDLESS of the parquet generation (INT64 nanos-as-
    long in older driver testdata, native timestamp[us] in newer) — and
    the values must agree with what DuckDB reads from the same file.
    Regression guard: the round-3 data regeneration switched encodings and
    broke every events query under the nanos-only assumption."""
    from pyspark.sql import types as T

    from hadoop_digit_recognition_spark.tables import load

    ev = load(spark, SF_ORACLE, "events")
    assert isinstance(ev.schema["ts"].dataType, T.TimestampNTZType)
    assert isinstance(ev.schema["ts_us"].dataType, T.LongType)
    # ts and ts_us must be the same instant
    bad = ev.filter(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        " <> ts_us").count()
    assert bad == 0
    # spot-check absolute values against DuckDB's naive read of the file
    s = {r.event_id: r.ts_us for r in
         ev.select("event_id", "ts_us").orderBy("event_id").limit(100).collect()}
    d = dict(duck.execute(
        f"SELECT event_id, epoch_us(ts) FROM '{SF_ORACLE}/events.parquet' "
        "ORDER BY event_id LIMIT 100").fetchall())
    assert s == d


def test_binaryfile_ingest_vs_duckdb(spark, duck):
    df = SPARK_QUERIES["source_binaryfile_ingest"](spark, SF_ORACLE)
    compare(df, duck, ORACLE_SQL["source_binaryfile_ingest"],
            "source_binaryfile_ingest")


def test_dataset_tag_tracks_content(tmp_path):
    """dataset_tag must change when a table file is regenerated (mtime /
    size change) and differ across paths — stale-staging guard."""
    import shutil
    import time

    from hadoop_digit_recognition_spark.tables import dataset_tag

    d = tmp_path / "sf_test"
    d.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet",
                d / "events.parquet")
    t1 = dataset_tag(str(d), "events")
    assert t1.startswith("sf_test_")
    time.sleep(0.01)
    (d / "events.parquet").touch()  # simulate regeneration
    t2 = dataset_tag(str(d), "events")
    assert t1 != t2
    assert dataset_tag("/root/testdata/sf0.001", "events") != t2


def test_load_reuses_inferred_schema_until_rewritten(spark, tmp_path):
    """tables.load infers a table's parquet schema with a one-task job
    once; a second load of the unchanged files runs no job and reads the
    same schema, and a table rewritten at the same path is inferred
    again. events, whose reader sets nanosAsLong first, is no
    exception."""
    from hadoop_digit_recognition_spark.tables import load

    sc = spark.sparkContext
    sf = str(tmp_path)
    path = f"{sf}/probe.parquet"

    def jobs_of_load(tag, name="probe"):
        group = f"tables-load-{tag}-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            df = load(spark, sf, name)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return df.schema, len(sc.statusTracker().getJobIdsForGroup(group))

    spark.range(3).write.parquet(path)
    first, jobs = jobs_of_load("cold")
    assert (first.names, jobs) == (["id"], 1)
    assert jobs_of_load("warm") == (first, 0)

    spark.range(3).selectExpr("id", "id * 2 AS twice") \
        .write.mode("overwrite").parquet(path)
    rewritten, jobs = jobs_of_load("rewritten")
    assert (rewritten.names, jobs) == (["id", "twice"], 1)
    assert sorted(r.twice for r in load(spark, sf, "probe").collect()) \
        == [0, 2, 4]

    spark.range(3).selectExpr(
        "id AS event_id", "TIMESTAMP_NTZ '2024-01-01 00:00:00' AS ts") \
        .write.parquet(f"{sf}/events.parquet")
    events, jobs = jobs_of_load("events-cold", "events")
    assert (events.names, jobs) == (["event_id", "ts", "ts_us"], 1)
    assert jobs_of_load("events-warm", "events") == (events, 0)


def test_ivf_partitioned_probe_vs_duckdb(spark, duck):
    from hadoop_digit_recognition_spark.all_queries import (
        ORACLE_SQL, SPARK_QUERIES)
    from .conftest import SF_ORACLE
    from .oracle_harness import compare

    df = SPARK_QUERIES["source_ivf_partitioned_probe"](spark, SF_ORACLE)
    compare(df, duck, ORACLE_SQL["source_ivf_partitioned_probe"],
            "source_ivf_partitioned_probe")


def test_ivf_partitioned_probe_prunes(spark):
    """The point of the partitioned-IVF layout is that the probe scan
    SKIPS unprobed cells at the file level: the index-side parquet scan
    must carry a dynamic-pruning partition filter on `cell` (Spark DPP
    against the broadcast probe side), not a post-scan filter."""
    from hadoop_digit_recognition_spark.all_queries import SPARK_QUERIES
    from .conftest import SF_ORACLE

    df = SPARK_QUERIES["source_ivf_partitioned_probe"](spark, SF_ORACLE)
    txt = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert "dynamicpruning" in txt, "probe scan lost dynamic partition pruning"
    assert "PartitionFilters" in txt


def test_txnlog_replay_excludes_removed_partition(spark):
    """Snapshot semantics: the replayed table must contain no rows from
    the v2-removed 'view' partition and must NOT double-count the
    v1-compacted 'click' partition (counts equal a direct recompute)."""
    from pyspark.sql import functions as F

    from hadoop_digit_recognition_spark.tables import load

    snap = {r.event_type: r.n_events
            for r in SPARK_QUERIES["source_txnlog_snapshot_replay"](
                spark, SF_ORACLE).collect()}
    assert "view" not in snap
    direct = {r["event_type"]: r["n"]
              for r in load(spark, SF_ORACLE, "events")
              .filter("event_type <> 'view'")
              .groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
              .collect()}
    assert snap == direct
