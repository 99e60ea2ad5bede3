"""The `__spark_entry__.py` driver contract: the exact-top-k memo's
invalidation key and its eviction of stale entries, the equivalence of
rewritten query shapes, the query wrapper's release of leftover
intermediates, and the text-mining queries' output shape."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from pysemantic_spark.operators.cache import materialize, tracked_count

SF001 = "/root/testdata/sf0.001"


def test_source_fingerprint_tracks_mtime_and_size(tmp_path):
    p = tmp_path / "embeddings.parquet"
    p.mkdir()
    f = p / "part-0.parquet"
    f.write_bytes(b"aaaa")
    fp1 = entrymod._source_fingerprint(str(tmp_path), "embeddings")
    f.write_bytes(b"bbbbbb")
    os.utime(f, (1, 1))
    fp2 = entrymod._source_fingerprint(str(tmp_path), "embeddings")
    assert fp1 != fp2


def test_exact_topk_memo_evicts_stale_fingerprints(spark):
    entrymod._EXACT_TOPK_MEMO.clear()
    abspath = os.path.abspath(SF001)
    for i in range(3):  # three dead fingerprints for the same sf_dir
        entrymod._EXACT_TOPK_MEMO[(abspath, (f"stale{i}", 0, 0))] = (None, None)
    entrymod._exact_topk5(spark, SF001)
    keys = [k for k in entrymod._EXACT_TOPK_MEMO if k[0] == abspath]
    assert len(keys) == 1
    assert keys[0][1] != ("stale0", 0, 0)
    entrymod._EXACT_TOPK_MEMO.clear()


def test_corpus_clean_conditional_agg_matches_filtered_groupby(spark):
    """corpus_clean's conditional aggregation must be row-identical to the
    filter-then-groupBy shape it replaced."""
    from pysemantic_spark.functions.text import fingerprint, lang_id, quality_score

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    scored = docs.select(
        "doc_id",
        F.round(quality_score("text"), 6).alias("quality"),
        lang_id("text").alias("pred_lang"),
        fingerprint("text").alias("fp"),
    )
    old = (
        scored.filter((F.col("quality") >= 0.45) & (F.col("pred_lang") == "en"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).cast("long").alias("n_dups"),
            F.max("quality").alias("quality"),
        )
        .select("doc_id", "fp", "n_dups", "quality")
    )
    keep = (F.col("quality") >= 0.45) & (F.col("pred_lang") == "en")
    new = (
        scored.groupBy("fp")
        .agg(
            F.min(F.when(keep, F.col("doc_id"))).alias("doc_id"),
            F.count(F.when(keep, 1)).cast("long").alias("n_dups"),
            F.max(F.when(keep, F.col("quality"))).alias("quality"),
        )
        .filter(F.col("n_dups") > 0)
        .select("doc_id", "fp", "n_dups", "quality")
    )
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_queries_wrapper_releases_previous_intermediates(spark):
    qs = entrymod.queries()
    # the streaming twin must carry a full oracle
    assert "streaming_drift_events" in qs
    assert "streaming_drift_events" in entrymod.oracle_sql()
    # the wrapper must call release on entry: simulate a leftover
    leftover = materialize(spark.range(4))
    leftover.count()
    assert tracked_count() > 0
    qs["top_events_by_value"](spark, SF001)
    assert tracked_count() == 0


def test_new_driver_queries_run_and_shape(spark):
    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    for name, cols in [
        ("ngram_prefix_pairs_documents", ["id_a", "id_b", "jaccard"]),
        ("simhash_wide_documents", ["id_a", "id_b", "hamming"]),
    ]:
        assert name in qs and name in osql
        df = qs[name](spark, SF001)
        assert df.columns == cols
        assert df.count() >= 0
