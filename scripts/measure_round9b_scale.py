"""Scale rehearsal for the round-9 continuation wave (8 operators):
documents/embeddings ops at sf0.1 vs the .scratch/sf10 text fixture
(500k docs / 200k embeddings — 100x docs, 100x vectors), the relational
changepoint at sf0.1 vs .scratch/sf1 (orders 1.5M — 10x).

Expected shapes (the claim each measurement checks):
- dedup_sorted_neighborhood: sort-shaped — N*w candidates by
  construction, so wall ~ linear in N.
- corpus_blocklist_filter / corpus_sinkhorn_rebalance /
  multimodal_block_motion: one narrow pass + model-sized epilogue —
  linear in bytes.
- sim_nndescent_round: bucketed graph build (measured linear at 200k)
  + n*k^2 proposals — linear-ish in N.
- sim_graph_recall_eval: sample x corpus broadcast sweep — linear in N.
- corpus_license_propagation: CC label-prop loop over dup pairs —
  dup-volume-sized; rounds = component diameter.
- timeseries_changepoint_binseg: one grouped count then model-sized
  windows — linear in orders.

Run: python scripts/gen_sf1_relational.py       # once
     python scripts/scale_rehearsal_sf10.py ... # or its generate()
     python scripts/measure_round9b_scale.py
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF10 = os.path.join(REPO, ".scratch", "sf10")
SF1 = os.path.join(REPO, ".scratch", "sf1")
SF01 = "/root/testdata/sf0.1"

from hadoop_digit_recognition_spark.all_queries import SPARK_QUERIES
from hadoop_digit_recognition_spark.operators.dedup import (
    clear_signature_cache)
from hadoop_digit_recognition_spark.session import get_spark

DOC_EMB = [
    "corpus_blocklist_filter",
    "corpus_sinkhorn_rebalance",
    "multimodal_block_motion",
    "dedup_sorted_neighborhood",
    "sim_graph_recall_eval",
    "sim_nndescent_round",
    "corpus_license_propagation",
    "ml_langid_macro_f1",
    "dedup_cluster_chaining_audit",
    "corpus_kcenter_coreset",
    "corpus_prototypicality_prune",
]
RELATIONAL = ["timeseries_changepoint_binseg"]

spark = get_spark("round9b-scale")
spark.sparkContext.setLogLevel("ERROR")


def run(name, sf_dir):
    clear_signature_cache(spark)
    t0 = time.time()
    df = SPARK_QUERIES[name](spark, sf_dir)
    n = df.count()
    return round(time.time() - t0, 1), n


print(f"{'query':32s} {'small s':>8s} {'big s':>8s} {'x':>6s} rows(big)")
for name, big in ([(n, SF10) for n in DOC_EMB]
                  + [(n, SF1) for n in RELATIONAL]):
    if not os.path.isdir(big):
        print(f"{name:32s} SKIP (fixture missing: {big})")
        continue
    t_small, _ = run(name, SF01)
    t_big, rows = run(name, big)
    x = t_big / t_small if t_small else float("inf")
    print(f"{name:32s} {t_small:8.1f} {t_big:8.1f} {x:6.2f} {rows:,}",
          flush=True)
spark.stop()
