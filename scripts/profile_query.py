#!/usr/bin/env python
"""Profile registered queries with the Spark event log: counts of jobs,
stages and tasks plus summed task metrics (executor run/CPU time, GC,
shuffle bytes, the largest task's peak execution memory) — structural
evidence that is robust to minute-scale wall-clock swings on a shared
host (OPTIMIZATION_r11.md's measurement appendix) — the number of classes
Spark's codegen compiled for each query (CodegenMetrics' compilation
count) and the storage memory the block manager holds right after the
query ran, before its memoized frames are cleared.

The session is session.get_spark's own; the event log is turned on
through PYSPARK_SUBMIT_ARGS before the JVM starts, so the profile
measures the same program the bench and the tests run.

Usage: python scripts/profile_query.py q1,q2,...
"""

from __future__ import annotations

import glob
import json
import os
import shlex
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_digit_recognition_spark.all_queries import SPARK_QUERIES  # noqa: E402
from hadoop_digit_recognition_spark.session import get_spark  # noqa: E402


def main() -> None:
    names = sys.argv[1].split(",")
    evdir = "/tmp/hdr_evlog"
    shutil.rmtree(evdir, ignore_errors=True)
    os.makedirs(evdir)
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf=spark.eventLog.enabled=true",
        f"--conf=spark.eventLog.dir={evdir}",
        "--conf=spark.eventLog.compress=false",
        "--conf=spark.eventLog.rolling.enabled=false",
        "pyspark-shell"])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("hdr-profile")
    spark.sparkContext.setLogLevel("ERROR")
    codegen = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
               .METRIC_COMPILATION_TIME())
    memory = spark._jvm.org.apache.spark.SparkEnv.get().memoryManager()
    from hadoop_digit_recognition_spark.operators.dedup import (
        clear_signature_cache,
    )

    # warmup (mirrors bench.py)
    SPARK_QUERIES["scan_filter_project"](spark, sf_dir).write.format(
        "noop").mode("overwrite").save()

    # one record per position in the list, so a repeated name gets its own
    per = []
    for i, name in enumerate(names):
        clear_signature_cache(spark)
        spark.sparkContext.setJobDescription(f"PROFILE:{i}")
        c0 = codegen.getCount()
        t0 = time.perf_counter()
        df = SPARK_QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        per.append(dict(name=name, jobs=0, stages=0, tasks=0, run_ms=0,
                        cpu_ms=0, gc_ms=0, shuf_read=0, shuf_write=0,
                        peak_exec=0, wall=time.perf_counter() - t0,
                        compiles=codegen.getCount() - c0,
                        storage=memory.storageMemoryUsed()))
        spark.sparkContext.setJobDescription(None)
    spark.stop()

    # parse the event log
    log = sorted(glob.glob(evdir + "/*"))[-1]
    if os.path.isdir(log):
        inner = [f for f in glob.glob(log + "/events_*")] or \
                [f for f in glob.glob(log + "/*") if os.path.isfile(f)
                 and "appstatus" not in f]
        log = sorted(inner)[-1]
    stage_owner = {}
    with open(log) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                d = e.get("Properties", {}).get("spark.job.description", "")
                if d.startswith("PROFILE:"):
                    p = per[int(d[8:])]
                    p["jobs"] += 1
                    for s in e.get("Stage Infos", []):
                        stage_owner[s["Stage ID"]] = p
            elif ev == "SparkListenerStageCompleted":
                p = stage_owner.get(e["Stage Info"]["Stage ID"])
                if p is not None:
                    p["stages"] += 1
                    p["tasks"] += e["Stage Info"].get("Number of Tasks", 0)
            elif ev == "SparkListenerTaskEnd":
                p = stage_owner.get(e.get("Stage ID"))
                if p is not None and e.get("Task Metrics"):
                    m = e["Task Metrics"]
                    p["run_ms"] += m.get("Executor Run Time", 0)
                    p["cpu_ms"] += m.get("Executor CPU Time", 0) // 1_000_000
                    p["gc_ms"] += m.get("JVM GC Time", 0)
                    p["peak_exec"] = max(p["peak_exec"],
                                         m.get("Peak Execution Memory", 0))
                    sr = m.get("Shuffle Read Metrics", {})
                    p["shuf_read"] += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0))
                    sw = m.get("Shuffle Write Metrics", {})
                    p["shuf_write"] += sw.get("Shuffle Bytes Written", 0)
    for p in per:
        print(f"{p['name']}: wall={p['wall']:.2f}s jobs={p['jobs']} "
              f"stages={p['stages']} tasks={p['tasks']} "
              f"compiles={p['compiles']} "
              f"run={p['run_ms']/1000:.1f}s cpu={p['cpu_ms']/1000:.1f}s "
              f"gc={p['gc_ms']/1000:.1f}s "
              f"shufR={p['shuf_read']//1024}K shufW={p['shuf_write']//1024}K "
              f"peak_exec_mb={p['peak_exec']/2**20:.1f} "
              f"storage_mb={p['storage']/2**20:.1f}",
              flush=True)


if __name__ == "__main__":
    main()
