"""Round-7 optimization equivalence tests: the Arrow text kernels against
Spark's own tokenizer and token-stream fingerprint, the corpus_clean
conditional aggregation, and the SimHash candidate-scheme selection."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pysemantic_spark.functions import text as tx
from pysemantic_spark.operators import dedup


@pytest.fixture(scope="module")
def spark():
    from pysemantic_spark.session import get_spark

    return get_spark(app_name="r7tests", master="local[4]", shuffle_partitions=4)


def _kernel_vs_spark(df, n):
    """Rows of ``_text_kernel(n)`` next to plain-Python n-grams over Spark's
    tokens() arrays and Spark's token_stream_key, NULL rules included
    (n = 0 is the token array itself)."""
    ref = df.select(
        "doc_id",
        tx.tokens("text").alias("tok"),
        dedup.token_stream_key("text").alias("tfp"),
    ).collect()

    def grams(toks):
        if toks is None:
            return None if n <= 1 else []
        if n == 0:
            return toks
        out = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
        return list(dict.fromkeys(out))

    got = {
        r["doc_id"]: (r["st"]["arr"], r["st"]["tfp"])
        for r in df.select(
            "doc_id", dedup._text_kernel(n)(F.col("text")).alias("st")
        ).collect()
    }
    want = {r["doc_id"]: (grams(r["tok"]), r["tfp"]) for r in ref}
    return got, want


def test_arrow_shingle_tfp_matches_jvm(edge_df):
    for n in (1, 2, 3):
        got, want = _kernel_vs_spark(edge_df, n)
        assert got == want, n


def test_arrow_tokens_match_jvm(edge_df):
    got, want = _kernel_vs_spark(edge_df, 0)
    assert got == want


def test_corpus_clean_conditional_agg_matches_filtered_groupby(spark):
    """The round-7 conditional-aggregation rewrite of corpus_clean must be
    row-identical to the filter-then-groupBy original shape."""
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


def test_simhash_expansion_fires_for_driver_config(spark):
    """The operator auto-selects the expansion scheme exactly when banding
    is exhaustive and would be sub-12-bit; the driver's wide config (2x60
    bits, r=9 -> 12-bit bands) must stay on the band join."""
    assert dedup._chunk_layout(60, 1, 8) is not None
    assert dedup._chunk_layout(60, 1, 2) is None  # r<3: bounded expansion n/a
    # r=9 over 2 words: m = max(4, 2) = 4 chunks of 30 bits, k=2 - usable,
    # but the 12-bit bands mean the pairs path never asks for it
    lay = dedup._chunk_layout(60, 2, 9)
    assert lay is not None and lay[0] == 4 and lay[1] == 2
