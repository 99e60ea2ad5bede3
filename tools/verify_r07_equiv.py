"""Round-7 equivalence harness: every restructured operator must produce
EXACTLY the rows the round-6 plan produced, at every available SF.

Each check re-implements the ROUND-6 physical pipeline inline (copied from
the r6 tree) and full-outer-compares its result against the current
operator — zero diff rows required. Run:

    python tools/verify_r07_equiv.py [sf_dir ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from pysemantic_spark.operators import similarity
from pysemantic_spark.operators.similarity import hyperplane_buckets_arrow
from pysemantic_spark.session import get_spark


def cosine_arrow(a: Column, b: Column) -> Column:
    """Round-6 per-pair Arrow cosine (einsum); zero-norm pairs score 0.0."""

    @F.pandas_udf("double")
    def _cos(xs: pd.Series, ys: pd.Series) -> pd.Series:
        xa, ya = np.stack(xs.to_numpy()), np.stack(ys.to_numpy())
        num = np.einsum("ij,ij->i", xa, ya)
        den = np.linalg.norm(xa, axis=1) * np.linalg.norm(ya, axis=1)
        return pd.Series(np.divide(num, den, out=np.zeros_like(num), where=den != 0))

    return _cos(a, b)


def old_embedding_near_dup_pairs(
    df: DataFrame, dim: int, threshold: float,
    n_planes: int, n_tables: int, n_probe_bits: int, seed: int = 42,
) -> DataFrame:
    """Verbatim round-6 pipeline: probed bucket join → distinct candidate
    pairs → vector join-back → Arrow einsum cosine → round6 filter."""
    base = df.select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").alias("_vec"),
        hyperplane_buckets_arrow(
            F.col("embedding"), dim, n_planes, n_tables, seed
        ).alias("_buckets"),
    ).persist()
    bucketed = base.select("_id", F.posexplode("_buckets").alias("table", "bucket"))
    probed = bucketed
    if n_probe_bits == 1:
        probed = base.select(
            "_id", F.posexplode("_buckets").alias("table", "_b0")
        ).select(
            "_id",
            "table",
            F.explode(
                F.array(
                    F.col("_b0"),
                    *[F.col("_b0").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)],
                )
            ).alias("bucket"),
        )
    l, r = probed.alias("a"), bucketed.alias("b")
    cand = (
        l.join(r, on=["table", "bucket"])
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    vecs = base.select("_id", "_vec")
    return (
        cand.join(vecs.withColumnsRenamed({"_id": "id_a", "_vec": "vec_a"}), "id_a")
        .join(vecs.withColumnsRenamed({"_id": "id_b", "_vec": "vec_b"}), "id_b")
        .select("id_a", "id_b", cosine_arrow(F.col("vec_a"), F.col("vec_b")).alias("_raw"))
        .select("id_a", "id_b", F.round("_raw", 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def diff_count(a: DataFrame, b: DataFrame) -> tuple[int, int, int]:
    """(rows_a, rows_b, symmetric-difference row count) on full rows.
    Persists both sides so each pipeline computes once, not 3×."""
    a, b = a.persist(), b.persist()
    na, nb = a.count(), b.count()
    ea = a.exceptAll(b).count()
    eb = b.exceptAll(a).count()
    a.unpersist()
    b.unpersist()
    return na, nb, ea + eb


def main() -> None:
    sf_dirs = sys.argv[1:] or [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
        "/root/testdata/sf1.0",
    ]
    spark = get_spark(app_name="verify_r07", master="local[16]", shuffle_partitions=16)
    failures = 0
    for sf in sf_dirs:
        emb = spark.read.parquet(f"{sf}/embeddings.parquet").withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        old = old_embedding_near_dup_pairs(
            emb, dim=64, threshold=0.4, n_planes=8, n_tables=24, n_probe_bits=1
        )
        new = similarity.embedding_near_dup_pairs(
            emb, dim=64, threshold=0.4, n_planes=8, n_tables=24, n_probe_bits=1
        )
        na, nb, d = diff_count(old, new)
        status = "OK" if (d == 0 and na == nb) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(f"embedding_neardup_pairs {sf}: old={na} new={nb} diff={d} {status}")
        spark.catalog.clearCache()
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
