import glob, json, os, shutil, sys, time
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
SF10 = os.path.join(REPO, ".scratch", "sf10")
EVLOG = os.path.join(REPO, ".scratch", "eventlog_sf10ext")
shutil.rmtree(EVLOG, ignore_errors=True)
os.makedirs(EVLOG, exist_ok=True)
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[32]")
         .appName("sf10-ext")
         .config("spark.sql.shuffle.partitions", "32")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.driver.memory", "24g")
         .config("spark.ui.enabled", "false")
         .config("spark.eventLog.enabled", "true")
         .config("spark.eventLog.compress", "false")
         .config("spark.eventLog.dir", f"file://{EVLOG}")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from hadoop_digit_recognition_spark.all_queries import SPARK_QUERIES
from hadoop_digit_recognition_spark.operators.dedup import clear_signature_cache
QUERIES = ["dedup_boilerplate_ngrams", "dedup_winnowing_pairs"]
walls = {}
for name in QUERIES:
    clear_signature_cache(spark)
    spark.sparkContext.setJobGroup(name, name)
    t0 = time.time()
    SPARK_QUERIES[name](spark, SF10).write.format("noop").mode("overwrite").save()
    walls[name] = round(time.time() - t0, 1)
    print(f"ran {name}: {walls[name]}s", flush=True)
spark.stop()
stage_group, agg = {}, {n: 0 for n in QUERIES}
for path in glob.glob(os.path.join(EVLOG, "**", "*"), recursive=True):
    if not os.path.isfile(path) or path.endswith(".crc") or "appstatus" in os.path.basename(path):
        continue
    with open(path, errors="ignore") as f:
        for line in f:
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            if not isinstance(ev, dict):
                continue
            if ev.get("Event") == "SparkListenerJobStart":
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = grp
            elif ev.get("Event") == "SparkListenerTaskEnd":
                grp = stage_group.get(ev.get("Stage ID"))
                if grp in agg:
                    sw = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
                    agg[grp] += sw.get("Shuffle Records Written", 0)
W = 54.5
N = 500_000
PRED = {"dedup_boilerplate_ngrams": int(2 * N * (W - 1)),
        "dedup_winnowing_pairs": int(2 * N * (W - 3))}
for n in QUERIES:
    print(f"{n}: wall={walls[n]}s sw={agg[n]:,} pred={PRED[n]:,} ratio={agg[n]/PRED[n]:.2f}")
