#!/usr/bin/env python3
"""fmt-4 persisted-index serve keys at the 64x jittered layout: index build wall, ANN serve recall vs exact integer-L2 truth, per-key wall and Spark jobs (build + toPandas, counted with the DAG scheduler's job id) of q_ann_ivf_kmeans_serve / q_semdedup_serve / q_semdedup_clusters_serve (SCALE.md r13).  Writes the layout first if it is missing (tools/jittered_layout.py).

    python3 tools/ivf_serve_scale_probe.py
"""

import json, os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from processor_spark.session import build_session
from processor_spark.operators import similarity as S
from processor_spark import registry
from tools.jittered_layout import build_layout
registry.load_all_modules()
spark = build_session(app_name="serve-fmt4-probe")
DST = build_layout(spark, 64)
next_job = spark.sparkContext._jsc.sc().dagScheduler().nextJobId
out = {}

t0 = time.perf_counter()
path = S.build_ivf_kmeans_index(spark, DST, force=True)
out["index_build_s"] = round(time.perf_counter() - t0, 1)

# exact integer-L2 ground truth for recall (the metric the serve ranks by)
from pyspark.sql import Window
from pyspark.sql import functions as F
from processor_spark.sources.fixtures import load
e = load(spark, DST, "embeddings", spread=True).select(
    "vec_id", S._micro_arr("embedding").alias("vm"))
q = e.where(F.col("vec_id") <= S.KNN_QUERIES).select(
    F.col("vec_id").alias("q_id"), F.col("vm").alias("qm"))
w = Window.partitionBy("q_id").orderBy("sq", "vec_id")
truth = {(r.q_id, r.vec_id) for r in (
    e.crossJoin(F.broadcast(q)).where(F.col("vec_id") != F.col("q_id"))
    .select("q_id", "vec_id", S._int_sqdist(F.col("vm"), F.col("qm")).alias("sq"))
    .withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= S.KNN_K)
    .select("q_id", "vec_id").collect())}

for key in ("q_ann_ivf_kmeans_serve", "q_semdedup_serve", "q_semdedup_clusters_serve"):
    spark.catalog.clearCache()
    fn = registry.get(key).fn
    t0, j0 = time.perf_counter(), next_job()
    pdf = fn(spark, DST).toPandas()
    row = {"wall_s": round(time.perf_counter() - t0, 2), "jobs": next_job() - j0, "rows": int(len(pdf))}
    if key == "q_ann_ivf_kmeans_serve":
        got = {(int(r.q_id), int(r.neighbor_id)) for r in pdf.itertuples()}
        row["recall"] = round(len(got & truth) / len(truth), 4)
    if key == "q_semdedup_serve":
        row["n_dropped"] = int((pdf["kept"] == 0).sum())
    out[key] = row
    print(json.dumps({key: row}), flush=True)
print(json.dumps(out))
