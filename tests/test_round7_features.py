"""Round-7 optimization equivalence tests: the Arrow-vectorized text
kernels must be BYTE-IDENTICAL to the JVM expression paths they replace
(shingling + token-stream fingerprint, portable simhash words), including
the odd corners of Spark's string semantics (trim strips 0x20 only; split
keeps leading/trailing empties; NULL text)."""

from __future__ import annotations

import random
import warnings

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pysemantic_spark.operators import dedup


@pytest.fixture(scope="module")
def spark():
    from pysemantic_spark.session import get_spark

    return get_spark(app_name="r7tests", master="local[4]", shuffle_partitions=4)


EDGE_TEXTS = [
    None,
    "",
    "   ",
    " \t ",
    " \t x ",
    "x",
    "a b",
    "a b a b a",
    "x y z w",          # NBSP is NOT java \s: stays inside a token
    "tabs\tbetween\ttokens here",
    "trailing tab\t",
    "a  b   c    d",
    "ŵöřd ünïcode tökens 😀 mixed",
]


def _edge_df(spark):
    rng = random.Random(7)
    vocab = ["spark", "row", "scan", "a", "the", "dup", "x", "épée"]
    texts = list(EDGE_TEXTS) + [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30)))
        for _ in range(60)
    ]
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )


def test_arrow_shingle_tfp_matches_jvm(spark):
    df = _edge_df(spark)
    for n in (1, 2, 3):
        jvm = df.select(
            F.col("doc_id").alias("_id"),
            dedup._shingles("text", n).alias("_sh"),
            dedup.token_stream_key("text").alias("_tfp"),
        )
        py = df.select(
            F.col("doc_id").alias("_id"),
            dedup._sh_tfp_arrow(n)(F.col("text")).alias("_st"),
        ).select(
            "_id", F.col("_st.sh").alias("_sh"), F.col("_st.tfp").alias("_tfp")
        )
        assert jvm.exceptAll(py).count() == 0
        assert py.exceptAll(jvm).count() == 0


def test_arrow_tokens_match_jvm(spark):
    df = _edge_df(spark)
    jvm = df.select(
        F.col("doc_id").alias("_id"),
        dedup.tokens("text").alias("_tok"),
        dedup.token_stream_key("text").alias("_tfp"),
    )
    py = df.select(
        F.col("doc_id").alias("_id"), dedup._tok_tfp_arrow(F.col("text")).alias("_st")
    ).select("_id", F.col("_st.tok").alias("_tok"), F.col("_st.tfp").alias("_tfp"))
    assert jvm.exceptAll(py).count() == 0
    assert py.exceptAll(jvm).count() == 0


def test_arrow_simhash_words_match_jvm(spark):
    df = _edge_df(spark)
    tokf = df.select(
        F.col("doc_id").alias("_id"), dedup.tokens("text").alias("_tok")
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        for n_words, n_bands in ((1, 9), (2, 10)):
            jvm = dedup._simhash_fps_on_tok(
                tokf.select("_id", F.explode("_tok").alias("t")),
                n_bands, True, n_words,
            )
            py = dedup._simhash_fps_arrow(tokf, n_bands, n_words)
            assert jvm.exceptAll(py).count() == 0
            assert py.exceptAll(jvm).count() == 0


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


@pytest.mark.parametrize("portable", [True, False], ids=["portable", "xxhash64"])
def test_simhash_expansion_equals_banding(spark, portable):
    """The pigeonhole query-expansion candidate scheme (fires when
    exhaustive banding would need sub-12-bit bands: one 60-bit portable or
    64-bit xxhash64 word, r=8) must produce EXACTLY the band-join pair set
    — both are exact, so the outputs must be row-identical including the
    hamming values."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(250):
        toks = [rng.choice(vocab) for _ in range(rng.randint(8, 40))]
        rows.append((i, " ".join(toks)))
    # planted near-dups: light mutations of earlier docs
    for i in range(250, 300):
        base = list(rows[rng.randrange(0, 250)][1].split())
        base[rng.randrange(0, len(base))] = rng.choice(vocab)
        rows.append((i, " ".join(base)))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    tokf = dedup._materialize(
        df.select(F.col("doc_id").alias("_id"), dedup.tokens("text").alias("_tok"))
    )
    r, n_bands, n_words = 8, 9, 1
    layout = dedup._chunk_layout(60 if portable else 64, n_words, r)
    assert layout is not None and layout[0] == 3 and layout[1] == 2
    word_names = ["simhash"]
    tok = tokf.select("_id", F.explode("_tok").alias("t"))
    if portable:
        words = dedup._simhash_words_arrow(tokf, n_words)
    else:
        words = dedup._simhash_words_on_tok(tok, False, n_words)
    fps_words = dedup._materialize(words)
    via_expansion = {
        (x["id_a"], x["id_b"], x["hamming"])
        for x in dedup._simhash_pairs_expansion(
            fps_words, word_names, r, layout, small=True
        ).collect()
    }
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # narrow-band warning expected
        if portable:
            fps = dedup._simhash_fps_arrow(tokf, n_bands, n_words)
        else:
            fps = dedup._simhash_fps_on_tok(tok, n_bands, False, n_words)
        fps = dedup._materialize(fps)
    bucketed = fps.select(
        "_id",
        *word_names,
        F.posexplode(
            F.array(*[F.col(f"band{b}") for b in range(n_bands)])
        ).alias("bidx", "bval"),
    )
    a, c = bucketed.alias("a"), bucketed.alias("b")
    via_banding = {
        (x["id_a"], x["id_b"], x["hamming"])
        for x in (
            a.join(c, on=["bidx", "bval"])
            .filter(F.col("a._id") < F.col("b._id"))
            .select(
                F.col("a._id").alias("id_a"),
                F.col("b._id").alias("id_b"),
                F.bit_count(
                    F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
                ).alias("hamming"),
            )
            .filter(F.col("hamming") <= r)
            .distinct()
        ).collect()
    }
    dedup.release_intermediates()
    assert via_expansion == via_banding
    assert via_banding, "fixture produced no near-dup pairs - vacuous test"


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
