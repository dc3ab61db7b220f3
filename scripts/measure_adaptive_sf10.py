"""Measure the adaptive-plane kNN bucket build at 200k vectors (sf10
fixture): plane count picked, bucket-width distribution, sum w^2 vs the
n*BUCKET_TARGET linear model, and the graph-build wall."""
import os, sys, time
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
spark = (SparkSession.builder.master("local[32]")
         .config("spark.sql.shuffle.partitions", "32")
         .config("spark.driver.memory", "24g")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from hadoop_digit_recognition_spark.operators.similarity import (
    _adaptive_n_planes, _bucket_df, BUCKET_TARGET, l2norm_col)
from hadoop_digit_recognition_spark.all_queries import SPARK_QUERIES
D = os.path.join(REPO, ".scratch", "sf10")
from hadoop_digit_recognition_spark.tables import load_parallel
n = (load_parallel(spark, D, "embeddings")
     .filter(l2norm_col(F.col("embedding")) > 0).count())
p = _adaptive_n_planes(n)
bk = _bucket_df(spark, D, n_planes=p)
w = (bk.groupBy("bkt").count()
     .agg(F.count("*").alias("buckets"), F.max("count").alias("maxw"),
          F.avg("count").alias("meanw"),
          F.expr("percentile_approx(count, 0.99)").alias("p99"),
          F.sum(F.col("count") * F.col("count")).alias("sum_w2")).first())
print(f"n={n:,} planes={p} buckets={w['buckets']:,} meanw={w['meanw']:.1f} "
      f"p99={w['p99']} maxw={w['maxw']} sum_w2={w['sum_w2']:,} "
      f"linear_model={n * BUCKET_TARGET:,} ratio={w['sum_w2']/(n*BUCKET_TARGET):.2f}")
t0 = time.time()
SPARK_QUERIES["sim_knn_graph_adaptive"](spark, D).write.format("noop").mode("overwrite").save()
print(f"adaptive kNN graph build+topk wall: {time.time()-t0:.1f}s")
spark.stop()
