"""Round-5 additions: NULL-safe + adaptive keep-first dedup, connected-
components convergence (large-star/small-star contraction),
duplicate clusters over the identical-doc collapse guard, deterministic
IVF training sample, converter allowlist, exact-top-k memo invalidation."""

from __future__ import annotations

import itertools
import os
import random

import pandas as pd
import pytest
from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from pysemantic_spark.operators import dedup

SF001 = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# keep-first: NULL keys + adaptive strategy
# ---------------------------------------------------------------------------

def _null_key_df(spark):
    rows = [
        (1, 10), (1, 11),          # dup int key
        (None, 20), (None, 21),    # dup NULL key — the ADVICE regression
        (2, 30),                   # unique key
        (None, 19),                # NULL group, earliest order
    ]
    return spark.createDataFrame(rows, "k int, v int")


@pytest.mark.parametrize("strategy", ["split", "window"])
def test_keep_first_null_keys_dedup(spark, strategy):
    """NULL keys must group together (window/GROUP BY semantics) in BOTH
    plans — a plain equi anti-join would let every NULL-key row survive."""
    df = _null_key_df(spark)
    got = {
        tuple(r)
        for r in dedup.exact_dedup_keep_first(
            df, ["k"], ["v"], strategy=strategy
        ).collect()
    }
    # exactly one NULL-key survivor (the order_by-first one), one per int key
    assert got == {(None, 19), (1, 10), (2, 30)}


def test_keep_first_strategy_choice(spark):
    # every key duplicated ~100× → window; nearly all unique → split
    all_dup = spark.range(1000).select((F.col("id") % 10).alias("k"), "id")
    mostly_uniq = spark.range(1000).select(F.col("id").alias("k"), "id")
    assert dedup.keep_first_strategy(all_dup, ["k"]) == "window"
    assert dedup.keep_first_strategy(mostly_uniq, ["k"]) == "split"


def test_keep_first_auto_matches_naive_window_with_nulls(spark):
    df = _null_key_df(spark)
    w = Window.partitionBy("k").orderBy("v")
    exp = {
        tuple(r)
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .collect()
    }
    got = {
        tuple(r)
        for r in dedup.exact_dedup_keep_first(df, ["k"], ["v"]).collect()
    }
    assert got == exp


def test_runner_clean_path_null_keys(spark):
    """The execute/validate clean path's dup-split must also be NULL-safe:
    duplicate NULL-key rows dedup to one survivor, not all survive."""
    from pysemantic_spark.operators.runner import validate
    from pysemantic_spark.spec import DatasetSpec

    df = spark.createDataFrame(
        [(1, 10), (1, 11), (None, 20), (None, 21), (2, 30)], "k int, v int"
    )
    spec = DatasetSpec(name="t", uniqueness=[["k"]], order_by=["v"])
    clean = validate(spark, df, spec).clean
    got = {(r["k"], r["v"]) for r in clean.collect()}
    assert got == {(1, 10), (2, 30), (None, 20)}


# ---------------------------------------------------------------------------
# connected components: convergence + star contraction
# ---------------------------------------------------------------------------

def _pairs(spark, edges):
    return spark.createDataFrame(
        [Row(id_a=a, id_b=b) for a, b in edges]
    )


def test_cc_star_converges_on_long_chain(spark):
    """large-star/small-star is O(log n) rounds regardless of diameter:
    a 40-hop chain converges within 12 rounds."""
    chain = [(i, i + 1) for i in range(40)]
    got = dedup.connected_components(
        _pairs(spark, chain), max_iters=12, algorithm="star"
    ).collect()
    assert len(got) == 41
    assert all(r["cluster_rep"] == 0 for r in got)
    with pytest.raises(ValueError, match="unknown connected-components"):
        dedup.connected_components(_pairs(spark, chain), algorithm="label")


def _union_find_min_labels(edges):
    """Reference: node -> smallest node id of its component."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_cc_star_matches_label_on_random_graphs(spark, monkeypatch):
    """Distributed star contraction's cluster_rep equals the min label of
    each component, computed by a pure-Python union-find."""
    monkeypatch.setattr(dedup, "_LOCAL_FINISH_EDGES", 0)  # force rounds
    rng = random.Random(11)
    for _ in range(3):
        edges = list(
            {
                tuple(sorted(rng.sample(range(60), 2)))
                for _ in range(70)
            }
        )
        star = {
            r["node"]: r["cluster_rep"]
            for r in dedup.connected_components(
                _pairs(spark, edges), max_iters=25
            ).collect()
        }
        assert star == _union_find_min_labels(edges)


# ---------------------------------------------------------------------------
# identical-doc collapse guard: the stop-cap corner (the guard's other
# tests are in test_dedup_similarity_text.py)
# ---------------------------------------------------------------------------

def test_ngram_collapse_survives_stop_cap(spark):
    """Identical docs whose every shingle is stop-capped previously could
    not pair in the counting path (documented lossy corner); the collapse
    guard recovers them exactly."""
    body = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(i, body) for i in range(5)], "doc_id long, text string"
    )
    got = {
        tuple(r)
        for r in dedup.ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=0.9,
            max_shingle_freq=2, prefix_filter=False,
        ).collect()
    }
    assert got == {
        (a, b, 1.0) for a, b in itertools.combinations(range(5), 2)
    }


# ---------------------------------------------------------------------------
# quarantine lifecycle: park → refresh baseline → requalify → resume
# ---------------------------------------------------------------------------

def test_quarantine_requalify_lifecycle(spark, tmp_path):
    import numpy as np

    from pysemantic_spark.operators.drift import save_drift_baseline
    from pysemantic_spark.sources.tableio import (
        ParquetManifestIO,
        requalify_buckets,
        run_resumable,
    )
    from pysemantic_spark.spec import DatasetSpec

    rng = np.random.default_rng(6)
    base = spark.createDataFrame(
        pd.DataFrame({"v": rng.normal(100, 10, 4000), "k": range(4000)})
    )
    shifted_pdf = pd.DataFrame(
        {"v": rng.normal(170, 10, 4000), "k": range(4000)}
    )
    shifted = spark.createDataFrame(shifted_pdf)
    bl = str(tmp_path / "bl.json")
    save_drift_baseline(base, ["v"], bl)
    spec = DatasetSpec.from_dict(
        "t",
        {
            "column_rules": {"v": {"min": 0.0}},
            "drift": {"columns": ["v"], "baseline": bl,
                      "on_drift": "quarantine"},
        },
    )
    io = ParquetManifestIO(str(tmp_path / "tbl"))
    io.write_bucketed(shifted, "k", 4)
    first = run_resumable(spark, io, spec, chunk_size=4)
    assert sorted(first["quarantined"]) == [0, 1, 2, 3]

    # naming a non-quarantined bucket is rejected
    with pytest.raises(ValueError, match="not quarantined"):
        requalify_buckets(io, [0, 99])

    # operator accepts the drift: refresh the baseline from the new data,
    # then requalify — CLI verb for two buckets, API for the rest
    save_drift_baseline(shifted, ["v"], bl)
    from pysemantic_spark.cli import main as cli_main

    assert cli_main(
        ["requalify", "--table", io.root, "--bucket", "0", "--bucket", "1"]
    ) == 0
    m = io.load_manifest()
    assert sorted(m.pending()) == [0, 1]
    assert sorted(m.quarantined()) == [2, 3]
    assert requalify_buckets(io) == [2, 3]          # rest, default=all

    # resume revalidates ALL requalified buckets against the new baseline
    second = run_resumable(spark, io, spec, chunk_size=4)
    assert sorted(second["processed"]) == [0, 1, 2, 3]
    assert second["quarantined"] == []
    m = io.load_manifest()
    assert all(e.status == "done" for e in m.entries.values())


# ---------------------------------------------------------------------------
# duplicate_clusters: cluster assignment without the O(m²) pair list
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("algorithm", ["star"])
def test_duplicate_clusters_equals_pairlist_path(spark, clone_docs, algorithm):
    df = clone_docs  # 8 clones + near-dup + unrelated + 2 short clones
    kw = dict(n=3, threshold=0.5)
    exp = {
        (r["node"], r["cluster_rep"])
        for r in dedup.connected_components(
            dedup.ngram_jaccard_pairs(df, "doc_id", "text", **kw),
            max_iters=50,
        ).collect()
    }
    got = {
        (r["node"], r["cluster_rep"])
        for r in dedup.duplicate_clusters(
            df, "doc_id", "text", algorithm=algorithm, **kw
        ).collect()
    }
    assert got == exp
    # the 8-clone group + its near-dup form one cluster repped by doc 0
    assert {(i, 0) for i in range(8)} <= got
    assert (100, 0) in got
    # short clones never shingle → never cluster
    assert not any(n_ in (300, 301) for n_, _ in got)


def test_duplicate_clusters_clone_group_without_cross_pairs(spark):
    """A clone group with no near-dup partner still clusters (its members
    pair with each other in the uncollapsed view) — without any pair list
    being materialized."""
    body = " ".join(f"tok{i}" for i in range(12))
    df = spark.createDataFrame(
        [(i, body) for i in range(4)]
        + [(50, "completely different content on an unrelated topic entirely")],
        "doc_id long, text string",
    )
    got = {
        (r["node"], r["cluster_rep"])
        for r in dedup.duplicate_clusters(df, "doc_id", "text").collect()
    }
    assert got == {(0, 0), (1, 0), (2, 0), (3, 0)}


# ---------------------------------------------------------------------------
# deterministic IVF training sample
# ---------------------------------------------------------------------------

def test_ivf_sample_fraction_repartition_invariance(spark):
    from pysemantic_spark.operators import similarity

    emb = (
        spark.read.parquet(f"{SF001}/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kw = dict(dim=64, k=5, n_centroids=4, n_probe=2, sample_fraction=1.0)
    base = sorted(
        tuple(r)
        for r in similarity.ivf_topk(emb, queries, **kw).collect()
    )
    shuffled = sorted(
        tuple(r)
        for r in similarity.ivf_topk(
            emb.repartition(7), queries, **kw
        ).collect()
    )
    assert base == shuffled


# ---------------------------------------------------------------------------
# converter allowlist
# ---------------------------------------------------------------------------

def test_converter_dotted_path_allowlist(monkeypatch):
    from pysemantic_spark.errors import ParserArgumentError
    from pysemantic_spark.sources import readers

    # package-internal paths resolve (default allowlist)
    fn = readers.resolve_converter(
        "pysemantic_spark.sources.readers:normalize_ws"
    )
    assert fn is readers.normalize_ws
    # arbitrary stdlib import paths are rejected
    with pytest.raises(ParserArgumentError, match="allowlist"):
        readers.resolve_converter("os:system")
    with pytest.raises(ParserArgumentError, match="allowlist"):
        readers.resolve_converter("subprocess:run")
    # explicit env opt-in unlocks a prefix
    monkeypatch.setenv("PYSEMANTIC_SPARK_CONVERTER_MODULES", "math")
    import math

    assert readers.resolve_converter("math:sqrt") is math.sqrt


# ---------------------------------------------------------------------------
# exact-top-k memo invalidation key
# ---------------------------------------------------------------------------

def test_source_fingerprint_tracks_mtime_and_size(tmp_path):
    import __spark_entry__ as entrymod

    p = tmp_path / "embeddings.parquet"
    p.mkdir()
    f = p / "part-0.parquet"
    f.write_bytes(b"aaaa")
    fp1 = entrymod._source_fingerprint(str(tmp_path), "embeddings")
    f.write_bytes(b"bbbbbb")
    os.utime(f, (1, 1))
    fp2 = entrymod._source_fingerprint(str(tmp_path), "embeddings")
    assert fp1 != fp2
