"""Round-15 continuation: wall decomposition of ivf_pq_ann_trained —
which segment (corpus checkpoint, Lloyd iterations, serving query)
carries the bench wall. Indicative profile, one session."""
import sys, time
sys.path.insert(0, "/root/repo")
SF = "/root/testdata/sf0.1"

from openeo_odc_driver_spark.session import get_spark
from openeo_odc_driver_spark import registry_pipeline as rp
from openeo_odc_driver_spark.pipeline import similarity as psim

spark = get_spark("prof-ivfpq", cpus="24")
spark.sparkContext.setLogLevel("ERROR")
# warm
spark.range(1000).selectExpr("sum(id)").collect()

for rnd in range(2):
    t0 = time.time()
    e = rp._embs(spark, SF)
    tr = psim.kmeans_train(e, k=16, iters=3)
    cents = psim.centroids_from_kmeans(tr)
    cents_rows = cents.collect()  # forces training end-to-end
    t1 = time.time()
    out = psim.ivf_pq_ann(e, e.where("vec_id < 8"), k=5,
                          nprobe=rp._IVFPQ_NPROBE, centroids=cents)
    out.write.format("noop").mode("overwrite").save()
    t2 = time.time()
    print(f"round {rnd}: train={t1-t0:.2f}s serve={t2-t1:.2f}s "
          f"total={t2-t0:.2f}s", flush=True)

# decompose training further: checkpoint, probe+init, per-iteration
t0 = time.time()
e = rp._embs(spark, SF).localCheckpoint(eager=True)
t1 = time.time()
import pyspark.sql.functions as F
dim = len(e.where(F.col("vec_id") < 1).select("embedding").first()[0])
init = e.where(F.col("vec_id") < 16).orderBy("vec_id").select("embedding").collect()
t2 = time.time()
tr = psim.kmeans_train(e, k=16, iters=3)
tr.collect()
t3 = time.time()
print(f"ckpt={t1-t0:.2f}s probe+init={t2-t1:.2f}s "
      f"3iters_on_ckpt={t3-t2:.2f}s", flush=True)
spark.stop()
