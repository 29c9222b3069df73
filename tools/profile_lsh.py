"""Stage-level timing for the LSH near-dup pipeline at sf0.1."""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from grpc_map_reduce_spark import get_spark
from grpc_map_reduce_spark.operators import dedup
from grpc_map_reduce_spark.operators.clustering import connected_components
from grpc_map_reduce_spark.sources.tables import table

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
spark = get_spark("profile-lsh")
spark.sparkContext.setLogLevel("ERROR")
spark.range(1_000_000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

docs = table(spark, sf_dir, "documents")


def t(label, df):
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    print(f"{label:30s} {time.perf_counter() - t0:6.2f}s")


sets = dedup._shingle_sets(docs)  # one kernel: shingle sets + signatures
t("shingle sets + signatures", sets)
cand = dedup.minhash_candidates(docs, sets=sets, rows_per_band=1)
t("candidates (given sets)", cand)
t("lsh_near_dup full", dedup.lsh_near_dup(docs))

edges = dedup.lsh_near_dup(docs, threshold=0.05).select(
    F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
)
t0 = time.perf_counter()
cc = connected_components(edges)
cc.write.format("noop").mode("overwrite").save()
print(f"{'edges + CC loop':30s} {time.perf_counter() - t0:6.2f}s")
