"""Drive __spark_entry__ exactly as the driver harness would: plain
SparkSession (no engine-tuned configs), entry() smoke at sf0.001, every
queries() entry vs oracle_sql() via DuckDB at sf0.01."""
import os, sys, math, time
# the checkout this script lives in, whatever the cwd
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
import duckdb
import numpy as np

_cores = "8"
if "--cores" in sys.argv:
    _cores = sys.argv[sys.argv.index("--cores") + 1]
spark = (SparkSession.builder.master(f"local[{_cores}]")
         .appName("driver-sim").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as E

# t1 smoke
t0 = time.time()
df = E.entry(spark)
rows = df.collect()
print(f"t1 entry(): {len(rows)} rows, schema={df.schema.simpleString()}, {time.time()-t0:.1f}s")
assert len(rows) > 0

SF = "/root/testdata/sf0.01"
if "--sf" in sys.argv:
    SF = sys.argv[sys.argv.index("--sf") + 1]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

def norm(v):
    if v is None: return None
    if isinstance(v, np.ndarray): return tuple(norm(x) for x in v.tolist())
    if isinstance(v, np.generic): v = v.item()
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return v + 0.0 if v != 0 else 0.0
    if isinstance(v, (list, tuple)): return tuple(norm(x) for x in v)
    return v

def type_red_flags(name, sdf, ddf, rel_types):
    """Predict the driver's TYPE-SENSITIVE value hash, which `norm()`'s
    value compare is blind to (HUGEINT-as-float 2207.0 == 2207 here but
    hash-mismatches there). Two detectors:
    - any DuckDB HUGEINT/UHUGEINT output column (pandas materializes it
      as object/float while Spark sends int64);
    - Spark-vs-DuckDB pandas dtype *kind* divergence on a shared column
      (int vs float vs object), ignoring width and datetime-unit noise
      the hash tolerates;
    - any NON-SCALAR cell (list/tuple/ndarray/dict) in either result:
      the driver's canonicalizer (pandas sort_values) raises
      `unhashable type` on these (r01 arr_normalize, r04
      agg_collect_sorted), which norm()'s tuple-ification hides here;
    - any float column containing NEGATIVE ZERO on either side: −0.0
      and +0.0 compare equal (so norm()'s value compare passes) but
      have different bit patterns, so the driver's bit-sensitive hash
      diverges (r08 dq_l_diversity: DuckDB's `-sum(...)` over an
      all-zero sum yields −0.0, Spark yields +0.0).
    """
    flags = []
    for side, df_ in (("spark", sdf), ("oracle", ddf)):
        for c in df_.columns:
            col = df_[c]
            if col.dtype.kind == "f":
                vals = col.to_numpy()
                if bool(np.any((vals == 0.0) & np.signbit(vals))):
                    flags.append(
                        f"{side} col {c} contains -0.0 (bit-sensitive "
                        f"hash hazard; canonicalize with `+ 0.0`)")
    for c, t in zip(ddf.columns, rel_types):
        if str(t).upper() in ("HUGEINT", "UHUGEINT"):
            flags.append(f"oracle col {c} is {t}")
    for side, df_ in (("spark", sdf), ("oracle", ddf)):
        for c in df_.columns:
            col = df_[c]
            if col.dtype.kind == "O":
                probe = col.dropna().head(20)
                if any(isinstance(v, (list, tuple, dict, np.ndarray))
                       for v in probe):
                    flags.append(
                        f"{side} col {c} holds non-scalar cells "
                        f"(driver canonicalizer cannot hash them)")
    for c in set(sdf.columns) & set(ddf.columns):
        sk, dk = sdf[c].dtype.kind, ddf[c].dtype.kind
        if sk != dk and {sk, dk} - {"M"}:  # datetime units differ benignly
            # object-vs-object strings are fine; int-vs-float / int-vs-object are the hazard
            if {sk, dk} <= {"i", "u"}:
                continue
            flags.append(f"col {c} dtype kind {sk} (spark) vs {dk} (oracle)")
    return flags

qs, osql = E.queries(), E.oracle_sql()
if "--only" in sys.argv:
    only = set(sys.argv[sys.argv.index("--only") + 1].split(","))
    qs = {k: v for k, v in qs.items() if k in only}
print(f"{len(qs)} queries, {len(osql)} with oracle")


# Correctness harness, not a timing harness: release every persisted
# frame after each query. Left to accumulate, ~120 queries at sf0.1
# exhaust a plain session's 1 GB default driver heap. Memoized stages
# simply recompute on next use — results unchanged.
from hadoop_digit_recognition_spark.operators.dedup import clear_signature_cache

fails = []
for name, fn in qs.items():
    clear_signature_cache(spark)
    t0 = time.time()
    try:
        sdf = fn(spark, SF).toPandas()
    except Exception as ex:
        fails.append((name, f"spark error: {ex}")); print(f"  {name}: SPARK ERROR {ex}"); continue
    if name not in osql:
        print(f"  {name}: rows-only, {len(sdf)} rows, {time.time()-t0:.1f}s")
        if len(sdf) == 0: fails.append((name, "0 rows"))
        continue
    rel = con.sql(osql[name])
    rel_types = list(rel.types)
    ddf = rel.df()
    ok_cols = sorted(sdf.columns) == sorted(ddf.columns)
    ok_n = len(sdf) == len(ddf)
    srt = lambda df_: sorted((tuple(norm(c) for c in r) for r in df_[sorted(df_.columns)].itertuples(index=False, name=None)), key=lambda t: tuple(str(x) for x in t))
    ok_vals = ok_cols and ok_n and srt(sdf) == srt(ddf)
    tflags = type_red_flags(name, sdf, ddf, rel_types)
    status = "MATCH" if (ok_cols and ok_n and ok_vals and not tflags) else "MISMATCH"
    extra = f" TYPE-HAZARD {tflags}" if tflags else ""
    print(f"  {name}: {status} ({len(sdf)} vs {len(ddf)} rows; cols {ok_cols}){extra} {time.time()-t0:.1f}s")
    if status != "MATCH": fails.append((name, "type-hazard" if (ok_vals and tflags) else "mismatch"))

print("FAILURES:", fails if fails else "none")
spark.stop()
sys.exit(1 if fails else 0)
