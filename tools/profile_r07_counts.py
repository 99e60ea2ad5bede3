"""Round-7 profiling: structural counts for the heavy queries at sf1.0.

Counts only (not timings — timings come later on a quiet host): table rows,
LSH candidate-pair volumes before/after distinct, prefix-index sizes.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pysemantic_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")

spark = get_spark(app_name="profile_r07", master="local[8]", shuffle_partitions=8)

for t in ("documents", "embeddings", "events", "lineitem", "orders"):
    df = spark.read.parquet(f"{SF_DIR}/{t}.parquet")
    print(t, df.count(), len(df.columns))

emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").withColumn(
    "embedding", F.col("embedding").cast("array<double>")
)
from pysemantic_spark.operators.similarity import hyperplane_buckets_arrow

n_planes, n_tables = 8, 24
base = emb.select(
    F.col("vec_id").alias("_id"),
    hyperplane_buckets_arrow(F.col("embedding"), 64, n_planes, n_tables, 42).alias("_buckets"),
)
bucketed = base.select("_id", F.posexplode("_buckets").alias("table", "bucket"))
probed = base.select("_id", F.posexplode("_buckets").alias("table", "_b0")).select(
    "_id", "table",
    F.explode(F.array(F.col("_b0"), *[F.col("_b0").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)])).alias("bucket"),
)
l, r = probed.alias("a"), bucketed.alias("b")
cand_raw = l.join(r, on=["table", "bucket"]).filter(F.col("a._id") < F.col("b._id"))
n_raw = cand_raw.count()
n_distinct = cand_raw.select(F.col("a._id"), F.col("b._id")).distinct().count()
print("emb_lsh cand_raw", n_raw, "cand_distinct", n_distinct)

# bucket-size distribution (exact side)
bs = bucketed.groupBy("table", "bucket").count()
bs.agg(F.max("count"), F.avg("count"), F.count(F.lit(1))).show()

# ngram prefix path at t=0.5
docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
from pysemantic_spark.operators.dedup import _shingles_arrow, ngram_prefix_index

sh = docs.select(F.col("doc_id").alias("_id"), _shingles_arrow("text", 3).alias("_sh")).withColumn("_size", F.size("_sh"))
sh.persist()
sizes = sh.select("_id", "_size")
inv = sh.select("_id", F.explode("_sh").alias("shingle"))
print("inv rows", inv.count())
pref = ngram_prefix_index(inv, sizes, 0.5)
pref.persist()
print("prefix rows", pref.count())
a, b = pref.alias("a"), pref.alias("b")
t = F.lit(0.5)
alpha = F.ceil(t / (t + F.lit(1.0)) * (F.col("a._size") + F.col("b._size")) - F.lit(1e-7))
cand = (
    a.join(b, on="shingle")
    .filter(F.col("a._id") < F.col("b._id"))
)
print("prefix join raw", cand.count())
cand2 = cand.filter(
    (F.col("b._size") >= F.ceil(t * F.col("a._size") - F.lit(1e-7)))
    & (F.col("a._size") >= F.ceil(t * F.col("b._size") - F.lit(1e-7)))
).filter(
    F.lit(1) + F.least(F.col("a._size") - F.col("a._rn"), F.col("b._size") - F.col("b._rn")) >= alpha
)
print("prefix join filtered", cand2.count())
print("prefix cand distinct", cand2.select(F.col("a._id"), F.col("b._id")).distinct().count())
spark.stop()
