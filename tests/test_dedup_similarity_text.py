"""Dedup family, similarity search, and text functions vs small oracles:
exact and keep-first dedup, connected components and duplicate clusters,
the n-gram, MinHash and SimHash miners with their identical-doc collapse
guard, Jaccard threshold rule and Arrow text kernels, the vector
operators, and the release of the operators' persisted intermediates."""

from __future__ import annotations

import itertools
import os
import pickle
import random
import subprocess
import sys
import warnings

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from pysemantic_spark.functions import text as tx
from pysemantic_spark.operators import dedup, similarity
from pysemantic_spark.operators.cache import (
    release_intermediates,
    tracked_count,
    tracked_intermediates,
)

SF001 = "/root/testdata/sf0.001"

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),      # near-dup of 0
    (2, "completely different content about spark engines"),
    (3, "the quick brown fox jumps over the lazy dog"),      # exact dup of 0
    (4, "spark engines process completely different content"),
    (5, ""),                                                  # degenerate
    (6, "tiny"),
]


def _jaccard(a: str, b: str, n: int = 2) -> float:
    def sh(t):
        toks = t.split()
        return set(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))
    A, B = sh(a), sh(b)
    return len(A & B) / len(A | B) if A | B else 0.0


def _rand_docs(n_docs=40, seed=7):
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(50)]
    docs = []
    for i in range(n_docs):
        base = [rng.choice(vocab) for _ in range(30)]
        docs.append((i, " ".join(base)))
        if rng.random() < 0.5:  # planted near-dup: few token edits
            mut = list(base)
            for _ in range(rng.randint(1, 3)):
                mut[rng.randrange(len(mut))] = rng.choice(vocab)
            docs.append((1000 + i, " ".join(mut)))
    return docs


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(pd.DataFrame(DOCS, columns=["doc_id", "text"]))


def test_exact_duplicates(spark, docs_df):
    got = dedup.exact_duplicates(docs_df, ["text"]).collect()
    assert len(got) == 1 and got[0]["dup_count"] == 2


def test_fingerprint_duplicates_whitespace_insensitive(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["A  b\tc", "a b c"]})
    )
    got = dedup.text_fingerprint_duplicates(df, "doc_id", "text").collect()
    assert len(got) == 1 and got[0]["ids"] == [1, 2]


def test_ngram_jaccard_matches_python_oracle(spark, docs_df):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            docs_df, "doc_id", "text", n=2, threshold=0.3
        ).collect()
    }
    exp = {}
    for (i, a), (j, b) in itertools.combinations(DOCS, 2):
        jc = _jaccard(a, b, 2)
        if jc >= 0.3:
            exp[(i, j)] = round(jc, 6)
    assert got == exp


def test_prefix_path_keeps_float_boundary_pair(spark):
    """Regression: the PPJoin positional filter computed
    α = ceil(t/(1+t)·(|x|+|y|)) in doubles; at t=0.2 with |x|+|y|=18 the
    product lands an ulp above its true value 3 (3.0000000000000004),
    ceil over-tightens α to 4, and a true threshold-boundary pair
    (overlap 3, jaccard exactly 0.2) was silently pruned — found by the
    prefix==counting hypothesis property test (seed 1). All ceil-based
    prune bounds now subtract _EXACT_EPS before rounding."""
    rng = random.Random(1)
    docs = []
    for i in range(6):
        L = rng.randint(2, 10)
        toks = [f"w{rng.randrange(8)}" for _ in range(L)]
        docs.append((i, " ".join(toks)))
        if rng.random() < 0.4:
            mut = list(toks)
            if rng.random() < 0.5 and len(mut) > 2:
                mut.pop(rng.randrange(len(mut)))
            else:
                mut.append(f"w{rng.randrange(8)}")
            docs.append((1000 + i, " ".join(mut)))
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    kw = dict(n=2, threshold=0.2)
    prefix = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(
            df, "doc_id", "text", prefix_filter=True, **kw
        ).collect()
    }
    counting = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(
            df, "doc_id", "text", prefix_filter=False, **kw
        ).collect()
    }
    assert (5, 1001, 0.2) in prefix  # the boundary pair the old α dropped
    assert prefix == counting


def test_ngram_prefix_filter_exact_recall(spark):
    docs = _rand_docs(n_docs=30, seed=11)
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    with tracked_intermediates():
        with_f = {
            (x["id_a"], x["id_b"], x["jaccard"])
            for x in dedup.ngram_jaccard_pairs(
                df, "doc_id", "text", n=2, threshold=0.5, prefix_filter=True
            ).collect()
        }
        without = {
            (x["id_a"], x["id_b"], x["jaccard"])
            for x in dedup.ngram_jaccard_pairs(
                df, "doc_id", "text", n=2, threshold=0.5, prefix_filter=False
            ).collect()
        }
    assert with_f == without
    assert with_f, "no pairs above threshold — vacuous"


def test_ngram_prefix_index_shrinks(spark):
    docs = _rand_docs(n_docs=30, seed=11)
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    with tracked_intermediates():
        sh = dedup._materialize(
            df.select(F.col("doc_id").alias("_id"), dedup._shingles_arrow("text", 2).alias("_sh"))
            .withColumn("_size", F.size("_sh"))
        )
        inv = sh.select("_id", F.explode("_sh").alias("shingle"))
        full = inv.count()
        pref = dedup.ngram_prefix_index(
            inv, sh.select("_id", "_size"), threshold=0.5
        ).count()
    assert pref < full * 0.7, (pref, full)


def test_minhash_lsh_finds_near_dups(spark, docs_df):
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            docs_df, "doc_id", "text", n=2, num_hashes=64, bands=32, threshold=0.3
        ).collect()
    }
    assert (0, 3) in got  # exact dup always collides
    assert (0, 1) in got  # near dup (j≈0.78)
    assert all(_jaccard(DOCS[a][1], DOCS[b][1], 2) >= 0.3 for a, b in got)


@pytest.mark.parametrize(
    "miner",
    [
        # the driver config: a J = 2/3 pair misses every 2-row band with
        # probability (1 − (2/3)²)³² ≈ 7·10⁻⁹
        lambda df, t: dedup.minhash_lsh_pairs(
            df, "doc_id", "text", n=1, num_hashes=64, bands=32, threshold=t
        ),
        lambda df, t: dedup.ngram_jaccard_pairs(
            df, "doc_id", "text", n=1, threshold=t, prefix_filter=True
        ),
        lambda df, t: dedup.ngram_jaccard_pairs(
            df, "doc_id", "text", n=1, threshold=t, prefix_filter=False
        ),
    ],
    ids=["minhash", "ngram_prefix", "ngram_counting"],
)
def test_jaccard_threshold_filters_unrounded(spark, miner):
    """{a, b} against {a, b, c} is jaccard 2/3, which rounds to the
    threshold 0.666667 but lies below it: every miner filters on the
    unrounded value and rounds only the output."""
    df = spark.createDataFrame([(1, "a b"), (2, "a b c")], "doc_id long, text string")
    with tracked_intermediates():
        assert miner(df, 0.666667).collect() == []
        assert [tuple(r) for r in miner(df, 0.6).collect()] == [(1, 2, 0.666667)]


def test_simhash_exact_dup_zero_hamming(spark, docs_df):
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_near_dup_pairs(
            docs_df, "doc_id", "text", max_hamming=10
        ).collect()
    }
    assert got.get((0, 3)) == 0
    assert (0, 2) not in got  # dissimilar docs far apart


def test_keep_first_deterministic(spark):
    pdf = pd.DataFrame(
        {"k": [1, 1, 2], "ord": [5, 3, 9], "v": ["late", "early", "solo"]}
    )
    df = spark.createDataFrame(pdf)
    got = dedup.exact_dedup_keep_first(df, ["k"], ["ord"]).orderBy("k").collect()
    assert [r["v"] for r in got] == ["early", "solo"]


def _first_per_key(df, key, order):
    """The naive keep-first: row_number() over the whole table."""
    w = Window.partitionBy(key).orderBy(order)
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def _null_key_df(spark):
    rows = [
        (1, 10), (1, 11),          # dup int key
        (None, 20), (None, 21),    # dup NULL key
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
    exp = {tuple(r) for r in _first_per_key(df, "k", "v").collect()}
    got = {
        tuple(r)
        for r in dedup.exact_dedup_keep_first(df, ["k"], ["v"]).collect()
    }
    assert got == exp


def test_keep_first_agg_min_matches_window(spark):
    rows = [(0, i, i * 7 % 13) for i in range(400)]  # mega key: 400 rows
    rows += [(k, 1000 + k, k % 5) for k in range(1, 50)]  # unique keys
    rows += [(7, 2000, 99), (7, 2001, 98)]  # small dup group
    rows += [(None, 3000, 1), (None, 3001, 2)]  # NULL keys group together
    df = spark.createDataFrame(rows, "k long, ord long, v long")
    nullsafe = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    got = {}
    for strat in ("window", "split", "agg_min"):
        got[strat] = sorted(
            (
                tuple(r)
                for r in dedup.exact_dedup_keep_first(
                    df, ["k"], ["ord"], strategy=strat
                ).collect()
            ),
            key=nullsafe,
        )
    assert got["agg_min"] == got["window"] == got["split"]
    # column order preserved by the agg_min plan
    out = dedup.exact_dedup_keep_first(df, ["k"], ["ord"], strategy="agg_min")
    assert out.columns == df.columns


def _events(spark, n=500, dup_every=50):
    pdf = pd.DataFrame(
        {
            "k": [i // 1 if i % dup_every else i - 1 for i in range(n)],
            "v": range(n),
        }
    )
    return spark.createDataFrame(pdf)


def test_keep_first_split_matches_naive_window(spark):
    df = _events(spark)
    got = (
        dedup.exact_dedup_keep_first(df, ["k"], ["v"])
        .orderBy("k", "v")
        .collect()
    )
    exp = _first_per_key(df, "k", "v").orderBy("k", "v").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]


def test_keep_first_window_input_is_dup_split_not_full_scan(spark):
    """The window must consume the SEMI-JOIN branch (dup keys only), never
    the full scan — the 10^12-row shuffle-volume guarantee."""
    df = _events(spark)
    plan = (
        dedup.exact_dedup_keep_first(df, ["k"], ["v"])
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # optimized plan: Window's child subtree contains the LeftSemi join
    win_at = plan.find("Window")
    assert win_at != -1
    assert "LeftSemi" in plan[win_at:], plan
    assert "LeftAnti" in plan, plan


# --- connected components and duplicate clusters -----------------------------

def _edges(spark, edges):
    return spark.createDataFrame(list(edges), "id_a long, id_b long")


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


def test_connected_components_known_graph(spark):
    """Chain, triangle, and 2-cycle: every node labeled with the smallest
    reachable id, clusters never merged across components."""
    pairs = pd.DataFrame(
        {
            "id_a": [1, 2, 3,   10, 11, 10,   20],
            "id_b": [2, 3, 4,   11, 12, 12,   21],
        }
    )
    got = {
        (r["node"], r["cluster_rep"])
        for r in dedup.connected_components(
            spark.createDataFrame(pairs)
        ).collect()
    }
    release_intermediates()
    exp = {(1, 1), (2, 1), (3, 1), (4, 1),
           (10, 10), (11, 10), (12, 10),
           (20, 20), (21, 20)}
    assert got == exp


def test_cc_star_converges_on_long_chain(spark):
    """large-star/small-star is O(log n) rounds regardless of diameter:
    a 40-hop chain converges within 12 rounds."""
    chain = [(i, i + 1) for i in range(40)]
    got = dedup.connected_components(
        _edges(spark, chain), max_iters=12, algorithm="star"
    ).collect()
    assert len(got) == 41
    assert all(r["cluster_rep"] == 0 for r in got)
    with pytest.raises(ValueError, match="unknown connected-components"):
        dedup.connected_components(_edges(spark, chain), algorithm="label")


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
                _edges(spark, edges), max_iters=25
            ).collect()
        }
        assert star == _union_find_min_labels(edges)


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


def test_is_star_forest_exact_shape_test(spark):
    stars = spark.createDataFrame([(3, 1), (2, 1), (9, 5)], "u long, v long")
    assert dedup._star_forest_probe(stars)[0]
    chain = spark.createDataFrame([(3, 2), (2, 1)], "u long, v long")
    assert not dedup._star_forest_probe(chain)[0]  # center 2 also a leaf
    dup_src = spark.createDataFrame([(3, 1), (3, 2)], "u long, v long")
    assert not dedup._star_forest_probe(dup_src)[0]  # u appears twice
    empty = spark.createDataFrame([], "u long, v long")
    assert dedup._star_forest_probe(empty)[0]  # vacuous star forest


def test_star_local_finish_equals_distributed(spark, monkeypatch):
    """The min-root union-find local finish must produce the SAME
    (node, cluster_rep) map as fully-distributed contraction rounds, on
    graphs mixing chains, cliques, and singletons-with-one-edge."""
    rng = random.Random(23)
    for trial in range(3):
        edges = {tuple(sorted(rng.sample(range(80), 2))) for _ in range(90)}
        edges |= {(i, i + 1) for i in range(60, 75)}  # chain tail
        p = _edges(spark, sorted(edges))
        monkeypatch.setattr(dedup, "_LOCAL_FINISH_EDGES", 0)  # force rounds
        dist = {
            r["node"]: r["cluster_rep"]
            for r in dedup.connected_components(
                p, max_iters=25, algorithm="star"
            ).collect()
        }
        monkeypatch.setattr(dedup, "_LOCAL_FINISH_EDGES", 10**9)  # force local
        loc = {
            r["node"]: r["cluster_rep"]
            for r in dedup.connected_components(
                p, max_iters=25, algorithm="star"
            ).collect()
        }
        assert dist == loc


def test_star_distributed_rounds_still_converge_on_chain(spark, monkeypatch):
    """With the local finish disabled the distributed large/small-star
    rounds must still reach the star forest on a diameter-40 chain —
    the cap is an optimization, not a correctness crutch."""
    monkeypatch.setattr(dedup, "_LOCAL_FINISH_EDGES", 0)
    chain = [(i, i + 1) for i in range(40)]
    got = dedup.connected_components(
        _edges(spark, chain), max_iters=12, algorithm="star"
    ).collect()
    assert len(got) == 41
    assert all(r["cluster_rep"] == 0 for r in got)


def test_star_local_finish_fires_under_default_cap(spark):
    """At test scale the measured edge count is far under the 1M cap, so
    the local path must fire (and be exact) without any patching."""
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)]
    got = {
        r["node"]: r["cluster_rep"]
        for r in dedup.connected_components(
            _edges(spark, edges), algorithm="star"
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20, 23: 20}


def test_duplicate_clusters_sub_shingle_clones_never_cluster(spark):
    body = "the quick brown fox jumps over the lazy dog again and again"
    docs = (
        [(i, body) for i in range(3)]
        + [(20, "tiny doc"), (21, "tiny doc")]  # identical but < shingle len
        + [(50, "completely different content on an unrelated topic entirely")]
    )
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["node"], r["cluster_rep"])
        for r in dedup.duplicate_clusters(df, "doc_id", "text").collect()
    }
    assert got == {(0, 0), (1, 0), (2, 0)}


# --- similarity -------------------------------------------------------------

@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((50, 8)).astype(float)
    vecs[7] = vecs[0] * 2.0           # same direction as 0 → cosine 1
    vecs[9] = -vecs[0]                # opposite
    pdf = pd.DataFrame(
        {"vec_id": range(50), "embedding": [list(map(float, v)) for v in vecs]}
    )
    return spark.createDataFrame(pdf), vecs


def test_cosine_topk_exact(spark, emb_df):
    df, vecs = emb_df
    queries = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.cosine_topk(df, queries, k=3).collect()
    # oracle: numpy cosine
    q = vecs[0]
    cos = vecs @ q / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    order = sorted(range(50), key=lambda i: (-round(cos[i], 6), i))[:3]
    assert [r["vec_id"] for r in got] == order
    assert got[0]["cos_sim"] == 1.0 and {r["vec_id"] for r in got} >= {0, 7}


def test_lsh_topk_subset_of_bucket(spark, emb_df):
    df, vecs = emb_df
    queries = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.lsh_bucketed_topk(df, queries, dim=8, k=5, n_planes=4).collect()
    assert 0 in {r["vec_id"] for r in got}  # identical vector same bucket
    assert all(r["cos_sim"] <= 1.000001 for r in got)


def test_lsh_topk_multiprobe_recall_dominates_single(spark, emb_df):
    """Multi-probe candidates are a superset of the exact-bucket ones, so
    for every query each rank's cos_sim is >= the single-probe result; and
    against the exact brute-force top-k the multi-probe recall must be at
    least the single-probe recall."""
    df, _ = emb_df
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def sims(n_probe_bits):
        rows = similarity.lsh_bucketed_topk(
            df, queries, dim=8, k=5, n_planes=4, n_probe_bits=n_probe_bits
        ).collect()
        out = {}
        for r in rows:
            out.setdefault(r["query_id"], []).append(r["cos_sim"])
        return {q: sorted(v, reverse=True) for q, v in out.items()}

    single, multi = sims(0), sims(1)
    for q, m in multi.items():
        s_ = single.get(q, [])
        assert len(m) >= len(s_)
        for rank, sim in enumerate(s_):
            assert m[rank] >= sim - 1e-9, (q, rank)


def test_embedding_near_dup_pairs(spark, emb_df):
    df, _ = emb_df
    got = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in similarity.embedding_near_dup_pairs(
            df, dim=8, threshold=0.999, n_planes=4
        ).collect()
    }
    assert got.get((0, 7)) == 1.0
    assert (0, 9) not in got


@pytest.mark.parametrize("n_planes, n_probe_bits", [(1, 0), (1, 1), (4, 0), (4, 1)])
def test_embedding_near_dup_pairs_verifies_bucket_pairs(spark, emb_df, n_planes, n_probe_bits):
    """The LSH miner verifies exactly its bucket pairs: per table, each
    bucket against itself and, with probing, against each one-bit flip at
    or above it. At threshold -1.0 every candidate survives, so the rows
    equal a numpy enumeration of those bucket pairs over the operator's
    own bucket function, deduplicated across tables."""
    df, vecs = emb_df
    n_tables = 3
    keys = similarity._hyperplane_keys(8, n_planes, n_tables, 42)(vecs)
    vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    flips = [0] + [1 << p for p in range(n_planes)] * n_probe_bits
    want = {}
    for t in range(n_tables):
        members: dict = {}
        for i, b in enumerate(keys[:, t].tolist()):
            members.setdefault(b, []).append(i)
        for b, own in members.items():
            for other in {b ^ f for f in flips if b ^ f >= b} & members.keys():
                cands = (itertools.combinations(own, 2) if other == b
                         else itertools.product(own, members[other]))
                for i, j in cands:
                    want[min(i, j), max(i, j)] = round(float(vn[i] @ vn[j]), 6)
    got = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in similarity.embedding_near_dup_pairs(
            df, dim=8, threshold=-1.0, n_planes=n_planes, n_tables=n_tables,
            n_probe_bits=n_probe_bits, seed=42,
        ).collect()
    }
    assert got.keys() == want.keys()
    for k_, v in got.items():
        assert v == pytest.approx(want[k_], abs=2e-6)
    if n_planes == 1 and n_probe_bits:  # two buckets, one flip apart: all pairs
        assert len(got) == len(vecs) * (len(vecs) - 1) // 2


def test_embedding_near_dup_multi_table_recall(spark):
    """Multi-table LSH must recover the recall a single sign-LSH table
    loses at moderate thresholds: at cos 0.5 one 6-plane table collides
    with p = (2/3)^6 ≈ 0.088, while 24 tables give 1-(1-p)^24 ≈ 0.89.
    Built per-pair: 120 planted pairs at ~55-60 deg (cos ~0.52-0.57)."""
    import numpy as np

    rng = np.random.default_rng(3)
    rows = []
    n_pairs, dim = 120, 16
    for i in range(n_pairs):
        a = rng.standard_normal(dim)
        a /= np.linalg.norm(a)
        # rotate by an angle giving cos in (0.52, 0.57): still >= 0.5
        o = rng.standard_normal(dim)
        o -= o.dot(a) * a
        o /= np.linalg.norm(o)
        theta = np.arccos(rng.uniform(0.52, 0.57))
        b = np.cos(theta) * a + np.sin(theta) * o
        rows.append((2 * i, [float(x) for x in 10 * a]))
        rows.append((2 * i + 1, [float(x) for x in 10 * b]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def recall(n_tables):
        got = similarity.embedding_near_dup_pairs(
            df, dim=dim, threshold=0.5, n_planes=6, n_tables=n_tables
        ).collect()
        planted = {(r["id_a"], r["id_b"]) for r in got
                   if r["id_b"] == r["id_a"] + 1 and r["id_a"] % 2 == 0}
        return len(planted) / n_pairs

    r1, r24 = recall(1), recall(24)
    assert r1 < 0.35          # single table demonstrably lossy here
    assert r24 > 0.75         # multi-table recovers (E ~ 0.89)
    assert r24 > r1 + 0.3


# --- persisted intermediates -------------------------------------------------

def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_dedup_operators_release_intermediates(spark):
    release_intermediates()
    base = _persistent_rdd_count(spark)
    docs = _rand_docs(n_docs=10)
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    dedup.ngram_jaccard_pairs(df, "doc_id", "text", n=2, threshold=0.5).count()
    dedup.minhash_lsh_pairs(
        df, "doc_id", "text", n=2, num_hashes=16, bands=8, threshold=0.5
    ).count()
    assert tracked_count() > 0
    freed = release_intermediates(blocking=True)
    assert freed > 0 and tracked_count() == 0
    assert _persistent_rdd_count(spark) <= base


def test_similarity_operators_release_intermediates(spark):
    release_intermediates()
    base = _persistent_rdd_count(spark)
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {
            "vec_id": range(60),
            "embedding": [rng.normal(size=8).tolist() for _ in range(60)],
        }
    )
    df = spark.createDataFrame(pdf)
    # single-pass bucket-local verify: nothing is (or should be)
    # persisted — the operator must not LEAK persisted RDDs
    similarity.embedding_near_dup_pairs(
        df, dim=8, threshold=0.5, n_planes=4, n_tables=4
    ).count()
    release_intermediates(blocking=True)
    assert _persistent_rdd_count(spark) <= base
    # the top-k operators score corpus batches in one kernel: they persist
    # nothing, tracked or not
    qdf = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    for out in (
        similarity.cosine_topk(df, qdf, k=3),
        similarity.lsh_bucketed_topk(
            df, qdf, dim=8, k=3, n_planes=4, n_tables=4, n_probe_bits=1),
        similarity.ivf_topk(df, qdf, dim=8, k=3, n_centroids=4),
    ):
        out.count()
        assert tracked_count() == 0
        assert _persistent_rdd_count(spark) <= base


# --- text functions ----------------------------------------------------------

def test_text_functions(spark):
    pdf = pd.DataFrame(
        {
            "t": [
                "the cat and the dog",
                "",
                "  spaced   out  ",
                "¡¡¡???",
            ]
        }
    )
    df = spark.createDataFrame(pdf)
    got = df.select(
        tx.token_count("t").alias("n"),
        tx.distinct_token_count("t").alias("d"),
        F.round(tx.punct_ratio("t"), 4).alias("p"),
        tx.lang_id("t").alias("lang"),
        tx.fingerprint("t").alias("fp"),
    ).collect()
    assert [r["n"] for r in got] == [5, 0, 2, 1]
    assert [r["d"] for r in got] == [4, 0, 2, 1]
    assert got[0]["lang"] == "en"
    assert got[1]["lang"] == "und"
    assert got[3]["p"] == 1.0
    import hashlib

    assert got[0]["fp"] == hashlib.md5(b"the cat and the dog").hexdigest()
    assert got[2]["fp"] == hashlib.md5(b"spaced out").hexdigest()


def test_quality_score_ordering(spark):
    pdf = pd.DataFrame(
        {
            "t": [
                "the quick brown fox is a fine and healthy animal of the forest",
                "!!!! ???? @@@@ ####",
            ]
        }
    )
    df = spark.createDataFrame(pdf)
    got = [r[0] for r in df.select(tx.quality_score("t")).collect()]
    assert got[0] > got[1]
    assert 0.0 <= got[1] <= got[0] <= 1.0


def test_ivf_topk_finds_identical_vector(spark, emb_df):
    df, vecs = emb_df
    queries = df.filter(F.col("vec_id").isin(0, 5)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.ivf_topk(df, queries, dim=8, k=3, n_centroids=4).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["vec_id"], r["cos_sim"]))
    # each query's own vector is in its cluster → rank 1 with cos 1.0
    assert by_q[0][0] == (0, 1.0)
    assert by_q[5][0] == (5, 1.0)
    # vec 7 = 2*vec0 has identical direction → same cluster region, found
    assert any(v == 7 for v, _ in by_q[0])


def test_cosine_pairs_exact_matches_numpy(spark, emb_df):
    """Blocked-GEMM all-pairs equals the O(n^2) numpy oracle exactly —
    same pair set, same cosines (to 6dp), across block-boundary splits."""
    df, vecs = emb_df
    vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    g = vn @ vn.T
    for thr in (0.5, 0.9):
        exact = {
            (i, j): round(float(g[i, j]), 6)
            for i in range(len(vecs))
            for j in range(i + 1, len(vecs))
            if g[i, j] >= thr
        }
        for n_blocks in (1, 3, 7):
            got = {
                (r["id_a"], r["id_b"]): r["cos_sim"]
                for r in similarity.cosine_pairs_exact(
                    df, threshold=thr, n_blocks=n_blocks
                ).collect()
            }
            assert got.keys() == exact.keys(), (thr, n_blocks)
            for k_, v in got.items():
                assert v == pytest.approx(exact[k_], abs=2e-6)


_UNPICKLE_AND_RUN = """
import pickle, sys
fn, arg = pickle.loads(sys.stdin.buffer.read())
out = fn(arg)
if not hasattr(out, "shape"):  # a map body yields frames or batches
    out = list(out)
loaded = sorted(m for m in sys.modules if m.startswith("pysemantic_spark"))
sys.stdout.buffer.write(pickle.dumps((out, loaded)))
"""


def _run_unpickled(fn, arg, cwd):
    """cloudpickle ``fn`` and ``arg``, call ``fn(arg)`` in a fresh Python
    that cannot import this package, and return (result, the package
    modules that call loaded)."""
    from pyspark import cloudpickle

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _UNPICKLE_AND_RUN],
        input=cloudpickle.dumps((fn, arg)),
        capture_output=True, cwd=cwd, env=env, check=False,
    )
    assert proc.returncode == 0, proc.stderr.decode()
    return pickle.loads(proc.stdout)


def test_gemm_kernel_pickles_by_value(tmp_path):
    """The all-pairs and top-k GEMM kernels must unpickle in a Python
    worker that cannot import this package: a helper moved to module level
    would be pickled by reference and make every cold worker import the
    package."""
    # a zero vector (id 2) and a repeated id (3) in one block
    same = (
        [1, 2, 3, 3],
        [[1, 0, 0, 0], [0, 0, 0, 0], [0.8, 0.2, 0, 0], [0.9, 0.1, 0, 0]],
    )
    # across blocks: id 5 on both sides, a zero vector (id 7)
    cross_a = ([1, 5], [[1, 0, 0, 0], [0, 1, 0, 0]])
    cross_b = ([5, 7, 9], [[0, 1, 0, 0], [0, 0, 0, 0], [0.5, 0.5, 0, 0]])
    # as one Arrow batch of two cells: block A against itself, and block A
    # (src 0) against block B (src 1)
    cells = pa.RecordBatch.from_pydict({
        "home": [0, 0],
        "same": [True, False],
        "src": [[0] * len(same[0]), [0] * len(cross_a[0]) + [1] * len(cross_b[0])],
        "ids": [same[0], cross_a[0] + cross_b[0]],
        "vecs": [same[1], cross_a[1] + cross_b[1]],
    }, schema=pa.schema([
        ("home", pa.int64()), ("same", pa.bool_()), ("src", pa.list_(pa.int64())),
        ("ids", pa.list_(pa.int64())), ("vecs", pa.list_(pa.list_(pa.float64()))),
    ]))
    batches, loaded = _run_unpickled(
        similarity._gemm_pairs(0.4), iter([cells]), tmp_path
    )
    assert loaded == []
    out = [r for b in batches for r in zip(*b.to_pydict().values())]

    def cos(x, y):
        x, y = np.asarray(x, float), np.asarray(y, float)
        den = np.linalg.norm(x) * np.linalg.norm(y)
        return round(float(x @ y / den), 6) if den else 0.0

    cells = [
        (same[0][i], same[1][i], same[0][j], same[1][j])
        for i, j in itertools.combinations(range(len(same[0])), 2)
    ] + [
        (ia, va, ib, vb)
        for ia, va in zip(*cross_a)
        for ib, vb in zip(*cross_b)
    ]
    exp = sorted(
        (min(ia, ib), max(ia, ib), cos(va, vb))
        for ia, va, ib, vb in cells
        if ia != ib and cos(va, vb) >= 0.4
    )
    got = sorted((int(a), int(b), c) for a, b, c in out)
    assert [g[:2] for g in got] == [e[:2] for e in exp]
    assert [g[2] for g in got] == pytest.approx([e[2] for e in exp], abs=1e-6)
    assert len(exp) == 4  # (1,3) ×2, (1,9), (5,9); (3,3) and (5,5) never pair

    # the top-k kernel, with a candidate mask, over two batches: a NULL, a
    # ragged and a zero vector, and a tie at 1.0 broken to the lower id
    vecs = [[1, 0], [0.6, 0.8], None, [1, 0, 0], [0, 0], [2, 0], [0, 1]]
    batches = [
        pd.DataFrame({"vec_id": ids, "_cvec": [vecs[i] for i in ids]})
        for ids in ([0, 1, 2, 3], [4, 5, 6])
    ]
    Q = np.array([[1.0, 0.0], [0.0, 0.0]])

    def keys(X):  # one table: key 1 when the first component is 0
        return (X[:, :1] == 0).astype(np.int64)

    probes = np.array([[[0, 1]], [[1, 1]]])  # query 11 hits key 1 only
    frames, loaded = _run_unpickled(
        similarity._gemm_topk(2, [10, 11], Q, keys, probes), iter(batches), tmp_path
    )
    assert loaded == []
    got = [r for df in frames for r in df.itertuples(index=False, name=None)]
    assert [(int(q), int(v), c) for q, v, c in got] == [
        (10, 0, 1.0), (10, 5, 1.0), (11, 4, 0.0), (11, 6, 0.0)
    ]


def test_near_dup_multiprobe_recall_dominates(spark):
    """1-bit multi-probe candidates per table are a strict superset of the
    exact-bucket candidates, so recall at equal tables can only rise."""
    rng = np.random.default_rng(11)
    rows = []
    n_pairs, dim = 80, 16
    for i in range(n_pairs):
        a = rng.standard_normal(dim); a /= np.linalg.norm(a)
        o = rng.standard_normal(dim); o -= o.dot(a) * a; o /= np.linalg.norm(o)
        theta = np.arccos(rng.uniform(0.52, 0.57))
        b = np.cos(theta) * a + np.sin(theta) * o
        rows.append((2 * i, [float(x) for x in a]))
        rows.append((2 * i + 1, [float(x) for x in b]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def recall(n_probe_bits, n_tables):
        got = similarity.embedding_near_dup_pairs(
            df, dim=dim, threshold=0.5, n_planes=8,
            n_tables=n_tables, n_probe_bits=n_probe_bits,
        ).collect()
        planted = {(r["id_a"], r["id_b"]) for r in got
                   if r["id_b"] == r["id_a"] + 1 and r["id_a"] % 2 == 0}
        return len(planted) / n_pairs

    r0, r1 = recall(0, 6), recall(1, 6)
    assert r1 >= r0
    assert r1 > 0.5  # p = q^8 + 8 q^7 (1-q) ~ 0.25/table at cos .52 -> E[r1@6] ~ .82


def test_lsh_topk_multi_table_recall_dominates_single(spark, emb_df):
    """n_tables=L candidates ⊇ table-0 candidates (table 0 uses the same
    seed), so per-rank cos_sim can only improve."""
    df, _ = emb_df
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def sims(n_tables):
        rows = similarity.lsh_bucketed_topk(
            df, queries, dim=8, k=5, n_planes=4, n_probe_bits=1,
            n_tables=n_tables,
        ).collect()
        out = {}
        for r in rows:
            out.setdefault(r["query_id"], []).append(r["cos_sim"])
        return {q: sorted(v, reverse=True) for q, v in out.items()}

    single, multi = sims(1), sims(8)
    for q, m in multi.items():
        s_ = single.get(q, [])
        assert len(m) >= len(s_)
        for rank, sim in enumerate(s_):
            assert m[rank] >= sim - 1e-9, (q, rank)


def test_ivf_nprobe_recall_dominates(spark, emb_df):
    """n_probe=3 candidate clusters ⊇ n_probe=1's nearest cluster, so each
    rank's cos_sim can only improve; self-vector is always found."""
    df, _ = emb_df
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def sims(n_probe):
        rows = similarity.ivf_topk(
            df, queries, dim=8, k=5, n_centroids=4, n_probe=n_probe
        ).collect()
        out = {}
        for r in rows:
            out.setdefault(r["query_id"], []).append(r["cos_sim"])
        return {q: sorted(v, reverse=True) for q, v in out.items()}

    p1, p3 = sims(1), sims(3)
    for q, m in p3.items():
        s_ = p1.get(q, [])
        assert len(m) >= len(s_)
        for rank, sim in enumerate(s_):
            assert m[rank] >= sim - 1e-9, (q, rank)
        assert m[0] == pytest.approx(1.0)  # self always in own cluster


# --- ANN on the sf0.001 embeddings: deterministic IVF training, recall ------

def _emb(spark):
    return (
        spark.read.parquet(f"{SF001}/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )


def _first_queries(emb, n):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def test_ivf_sample_fraction_repartition_invariance(spark):
    emb = _emb(spark)
    queries = _first_queries(emb, 3)
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


def _exact_sets(spark, emb, queries, k=5):
    exact = similarity.cosine_topk(emb, queries, k=k)
    out: dict = {}
    for r in exact.collect():
        out.setdefault(r["query_id"], set()).add(r["vec_id"])
    return out


def _recall(approx_df, exact_sets, k=5):
    got: dict = {}
    for r in approx_df.collect():
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    return sum(
        len(got.get(q, set()) & e) / len(e) for q, e in exact_sets.items()
    ) / len(exact_sets)


@pytest.mark.parametrize("frac", [1.0, 0.4])
def test_ivf_sample_layout_independent_beyond_cap(spark, frac):
    """sample_size=20 → cap 80 ≪ 500 corpus rows: a limit() prefix (or a
    per-partition-seeded Bernoulli set) would change under
    repartitioning. Centroids must be bit-identical."""
    emb = _emb(spark)
    base = similarity.train_ivf_centroids(
        emb, dim=64, n_centroids=4, sample_size=20, sample_fraction=frac
    )
    shuffled = similarity.train_ivf_centroids(
        emb.repartition(7), dim=64, n_centroids=4, sample_size=20,
        sample_fraction=frac,
    )
    assert np.array_equal(base, shuffled)


def test_lsh_recall_monotone_in_tables(spark):
    """Tables are seeded seed + 7919*t, so the first L tables of a larger
    run ARE the smaller run: candidates (hence recall) can only grow."""
    emb = _emb(spark)
    queries = _first_queries(emb, 3)
    exact = _exact_sets(spark, emb, queries)
    recalls = [
        _recall(
            similarity.lsh_bucketed_topk(
                emb, queries, dim=64, k=5, n_planes=8,
                n_tables=t, n_probe_bits=1,
            ),
            exact,
        )
        for t in (2, 6, 12)
    ]
    assert recalls == sorted(recalls), recalls


def test_ivf_recall_monotone_in_probes_and_probe_all_is_exact(spark):
    emb = _emb(spark)
    queries = _first_queries(emb, 3)
    exact = _exact_sets(spark, emb, queries)
    kw = dict(dim=64, k=5, n_centroids=6, sample_fraction=1.0)
    recalls = [
        _recall(similarity.ivf_topk(emb, queries, n_probe=p, **kw), exact)
        for p in (1, 2, 6)
    ]
    assert recalls == sorted(recalls), recalls
    # probing every centroid scores the whole corpus → exactly the exact
    # top-k (same rounding, same tie-break)
    full = similarity.ivf_topk(emb, queries, n_probe=6, **kw)
    got = {(r["query_id"], r["vec_id"]) for r in full.collect()}
    want = {(q, v) for q, s in exact.items() for v in s}
    assert got == want
    assert recalls[-1] == 1.0


def test_ivf_probe_all_equals_exact_property(spark):
    """Sweep (n_centroids, sample_fraction): probing ALL centroids must
    return the exact top-k whatever the coarse quantizer looks like."""
    emb = _emb(spark).cache()
    queries = _first_queries(emb, 2)
    want = {
        (q, v)
        for q, s in _exact_sets(spark, emb, queries, k=4).items()
        for v in s
    }

    @settings(
        max_examples=4,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        n_centroids=st.integers(min_value=2, max_value=8),
        frac=st.sampled_from([0.3, 0.7, 1.0]),
    )
    def check(n_centroids, frac):
        full = similarity.ivf_topk(
            emb, queries, dim=64, k=4, n_centroids=n_centroids,
            n_probe=n_centroids, sample_fraction=frac,
        )
        got = {(r["query_id"], r["vec_id"]) for r in full.collect()}
        assert got == want

    try:
        check()
    finally:
        emb.unpersist()


# --- SimHash banding ----------------------------------------------------------

def test_simhash_banding_exhaustive_at_radius(spark):
    """max_hamming+1 bands make banding exhaustive by pigeonhole: the
    banded pair set must EQUAL the brute-force hamming-<=r pair set of the
    fingerprints (round-2 VERDICT #7)."""
    pdf = pd.DataFrame(
        {
            "doc_id": range(40),
            "text": [
                f"alpha beta gamma delta {i % 5} epsilon zeta eta theta"
                for i in range(40)
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    r = 8
    fps = {
        row["_id"]: row["simhash"]
        for row in dedup.simhash_fingerprints(
            df, "doc_id", "text", n_bands=r + 1
        ).collect()
    }
    mask = (1 << 64) - 1  # fingerprints are signed 64-bit longs
    exact = {
        (a, b)
        for a in fps
        for b in fps
        if a < b and bin((fps[a] ^ fps[b]) & mask).count("1") <= r
    }
    got = {
        (row["id_a"], row["id_b"])
        for row in dedup.simhash_near_dup_pairs(
            df, "doc_id", "text", max_hamming=r
        ).collect()
    }
    assert got == exact and len(exact) > 0


def test_multiword_simhash_equals_brute_force(spark):
    """Property: exhaustive banding over a 2-word (128-bit) fingerprint
    returns EXACTLY the hamming<=r pair set of the fingerprints."""
    docs = _rand_docs()
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    r = 8
    with tracked_intermediates():
        got = {
            (x["id_a"], x["id_b"], x["hamming"])
            for x in dedup.simhash_near_dup_pairs(
                df, "doc_id", "text", max_hamming=r, n_words=2
            ).collect()
        }
        fps = (
            dedup.simhash_fingerprints(df, "doc_id", "text", n_bands=9, n_words=2)
            .select("_id", "simhash", "simhash1")
            .collect()
        )
    mask = (1 << 64) - 1
    exp = set()
    for i, a in enumerate(fps):
        for b in fps[i + 1:]:
            h = bin((a["simhash"] ^ b["simhash"]) & mask).count("1") + bin(
                (a["simhash1"] ^ b["simhash1"]) & mask
            ).count("1")
            if h <= r:
                lo, hi = sorted((a["_id"], b["_id"]))
                exp.add((lo, hi, h))
    assert got == exp
    assert exp, "fixture produced no near-dup pairs — test is vacuous"


def test_simhash_band_width_warning(spark):
    docs = _rand_docs(n_docs=5)
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    with pytest.warns(UserWarning, match="narrowest band"):
        dedup.simhash_fingerprints(df, "doc_id", "text", n_bands=9, n_words=1)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # 2 words x 9 bands -> >=12-bit bands
        dedup.simhash_fingerprints(df, "doc_id", "text", n_bands=9, n_words=2)


def test_single_word_simhash_layout_unchanged(spark):
    """n_words=1 keeps the public single-word schema: ``simhash`` plus
    band0..3 (the DuckDB oracle reads neither; it rebuilds the words from
    md5 itself)."""
    docs = _rand_docs(n_docs=5)
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    cols = dedup.simhash_fingerprints(
        df, "doc_id", "text", n_bands=4, portable_hash=True
    ).columns
    assert cols == ["_id", "simhash", "band0", "band1", "band2", "band3"]


# ---------------------------------------------------------------------------
# identical-doc collapse guard: the miners equal their uncollapsed cores
# ---------------------------------------------------------------------------

def _words_frame(df, n_words):
    """Materialized ``(_id, _w, _size)`` SimHash words of EVERY row of
    ``df`` (the ``_text_kernel(0, n_words)`` arrays), with no collapse."""
    return dedup._materialize(
        df.select(
            F.col("doc_id").alias("_id"),
            dedup._text_kernel(0, n_words)(F.col("text"))["arr"].alias("_w"),
        ).withColumn("_size", F.size("_w"))
    )


def _uncollapsed_pairs(miner, df, n=3, **kw):
    """``miner``'s mining core run over EVERY row of ``df`` with no
    collapse: the ground-truth reference for the collapse guard."""
    if miner is dedup.simhash_near_dup_pairs:
        nw = kw.get("n_words", 1)
        words = _words_frame(df, nw)
        return dedup._simhash_pairs_on_tokens(words, kw["max_hamming"], nw)
    sh = dedup._materialize(
        df.select(
            F.col("doc_id").alias("_id"), dedup._shingles_arrow("text", n).alias("_sh")
        ).withColumn("_size", F.size("_sh"))
    )
    if miner is dedup.minhash_lsh_pairs:
        return dedup._minhash_pairs_on_shingles(
            sh, kw["num_hashes"], kw["bands"], kw["threshold"]
        )
    return dedup._ngram_pairs_on_shingles(
        sh, kw["threshold"], kw.get("max_shingle_freq"), kw.get("prefix_filter")
    )


def _pair_rows(df_pairs, score_col):
    """Sorted (id_a, id_b, score) rows: duplicates would show."""
    return sorted(
        (r["id_a"], r["id_b"], round(r[score_col], 6))
        for r in df_pairs.collect()
    )


def _collapsed_and_core(miner, score_col, df, **kw):
    """(collapsed pair rows, uncollapsed-core pair rows) of one miner."""
    return (
        _pair_rows(miner(df, "doc_id", "text", **kw), score_col),
        _pair_rows(_uncollapsed_pairs(miner, df, **kw), score_col),
    )


def test_collapse_identical_docs_reps(spark, clone_docs):
    reps, clones = dedup._collapse_and_mine(
        clone_docs, "doc_id", dedup._text_kernel(3)(F.col("text")), "_sh",
        lambda frame: frame,
    )
    members, mined, _ = clones
    # 8 identical bodies → 1 rep; shorts → 1 rep; others 1 each
    assert reps.count() == 5
    m = {r["_id"]: r["_rep"] for r in members.collect()}
    m.update({r["_id"]: r["_id"] for r in reps.collect() if r["_id"] not in m})
    assert len(m) == 13
    assert all(m[i] == 0 for i in range(8))
    assert m[300] == m[301] == 300
    # the short group never shingles at n=3, so only the 8-clone group mines
    assert {r["_id"] for r in mined.collect()} == {0}


def test_minhash_collapse_matches_uncollapsed(spark, clone_docs):
    on, off = _collapsed_and_core(
        dedup.minhash_lsh_pairs, "jaccard", clone_docs,
        n=3, num_hashes=32, bands=8, threshold=0.5,
    )
    assert on == off
    # all 28 identical-group pairs present at jaccard 1.0
    for a, b in itertools.combinations(range(8), 2):
        assert (a, b, 1.0) in on
    # sub-shingle-length identical docs never pair
    assert not any(a == 300 or b == 300 for a, b, _ in on)


def test_simhash_collapse_matches_uncollapsed(spark, clone_docs):
    on, off = _collapsed_and_core(
        dedup.simhash_near_dup_pairs, "hamming", clone_docs, max_hamming=3
    )
    assert on == off
    for a, b in itertools.combinations(range(8), 2):
        assert (a, b, 0) in on
    # "too short" has tokens (2) → fingerprints exist; identical → hamming 0
    assert (300, 301, 0) in on


def test_collapse_candidate_volume_is_linear(spark):
    """m identical docs must contribute ONE representative to banding —
    the band self-join sees O(groups), not O(m), rows, so candidate rows
    inside any bucket grow O(reps²) with reps independent of m."""
    body = " ".join(f"tok{i}" for i in range(12))
    m = 50
    df = spark.createDataFrame(
        [(i, body) for i in range(m)] + [(999, "totally different words here now ok")],
        "doc_id long, text string",
    )
    reps, (members, _, _) = dedup._collapse_and_mine(
        df, "doc_id", dedup._text_kernel(3)(F.col("text")), "_sh",
        lambda frame: frame,
    )
    assert reps.count() == 2          # 1 rep for the m clones + 1 other
    assert members.count() == m       # every clone maps to its rep
    ids = {r["_id"] for r in members.collect()} | {r["_id"] for r in reps.collect()}
    assert len(ids) == m + 1
    # end-to-end: the full C(m,2) duplicate pair list is still recovered
    out = dedup.minhash_lsh_pairs(
        df, "doc_id", "text", n=3, num_hashes=32, bands=8, threshold=0.9
    )
    assert out.count() == m * (m - 1) // 2


@pytest.mark.parametrize("prefix_filter", [True, False])
def test_ngram_collapse_matches_uncollapsed(spark, clone_docs, prefix_filter):
    on, off = _collapsed_and_core(
        dedup.ngram_jaccard_pairs, "jaccard", clone_docs,
        n=3, threshold=0.5, prefix_filter=prefix_filter,
    )
    assert on == off
    for a, b in itertools.combinations(range(8), 2):
        assert (a, b, 1.0) in on
    assert not any(a == 300 or b == 300 for a, b, _ in on)


def test_collapse_fast_path_no_clones(spark):
    docs = [(i, f"unique document number {i} about topic {i % 7} words "
                f"padding alpha beta gamma {i}") for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    full, clones = dedup._collapse_and_mine(
        df, "doc_id", dedup._text_kernel(3)(F.col("text")), "_sh",
        lambda frame: frame,
    )
    assert clones is None
    assert full.count() == 40
    on, off = _collapsed_and_core(
        dedup.ngram_jaccard_pairs, "jaccard", df, threshold=0.3
    )
    assert on == off


def test_collapse_multi_expansion_matches_reference(spark):
    """The multi-group-only expansion must be row-identical to the
    uncollapsed core on a corpus mixing clones, near-dups, singletons, and
    a sub-shingle clone group (which must NOT pair)."""
    body = "the quick brown fox jumps over the lazy dog again and again"
    near = "the quick brown fox jumps over the lazy dog again and once"
    docs = (
        [(i, body) for i in range(4)]
        + [(10, near), (11, "completely different text on another topic here")]
        + [(20, "too short"), (21, "too short")]  # < 3 tokens: never mines
        + [(30, f"filler document {i} unrelated") for i in (0,)]
    )
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got, ref = _collapsed_and_core(
        dedup.ngram_jaccard_pairs, "jaccard", df, threshold=0.5
    )
    assert got == ref
    # clone-group pairs present with score 1.0; sub-shingle clones absent
    ids = {(a, b) for a, b, _ in got}
    assert (0, 1) in ids and (20, 21) not in ids


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


_corpus_strategy = st.lists(
    st.tuples(
        # doc body: 4-9 tokens from a tiny vocab (forces shared shingles)
        st.lists(
            st.sampled_from([f"w{i}" for i in range(12)]),
            min_size=4,
            max_size=9,
        ),
        # clone multiplicity: how many byte-identical copies of this body
        st.integers(min_value=1, max_value=5),
    ),
    min_size=2,
    max_size=6,
)

_GUARDED_MINERS = {
    "minhash": (dedup.minhash_lsh_pairs, "jaccard",
                dict(n=2, num_hashes=16, bands=8, threshold=0.4)),
    "ngram_prefix": (dedup.ngram_jaccard_pairs, "jaccard",
                     dict(n=2, threshold=0.4, prefix_filter=True)),
    "ngram_count": (dedup.ngram_jaccard_pairs, "jaccard",
                    dict(n=2, threshold=0.4, prefix_filter=False)),
    "simhash": (dedup.simhash_near_dup_pairs, "hamming", dict(max_hamming=3)),
}


@pytest.mark.parametrize("miner", list(_GUARDED_MINERS))
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=_corpus_strategy)
def test_collapse_guard_property(spark, miner, corpus):
    """For ARBITRARY clone-heavy corpora, each miner's collapsed output is
    its uncollapsed core's pair set, with identical scores."""
    rows, nid = [], 0
    for body, mult in corpus:
        for _ in range(mult):
            rows.append((nid, " ".join(body)))
            nid += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fn, score_col, kw = _GUARDED_MINERS[miner]
    on, off = _collapsed_and_core(fn, score_col, df, **kw)
    assert on == off
    dedup.release_intermediates()


def test_collapse_for_mining_reports_broadcastable_clone_map(spark):
    docs = [(i, "same exact text body here repeated") for i in range(4)] + [
        (10, "another unrelated document body entirely different")
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # the shingle frame (n-gram miners) and the words frame (SimHash)
    kernels = ((dedup._text_kernel(3), "_sh"), (dedup._text_kernel(0, 1), "_w"))
    for kernel, arr_col in kernels:
        _, clones = dedup._collapse_and_mine(
            df, "doc_id", kernel(F.col("text")), arr_col, lambda frame: frame
        )
        assert clones is not None
        mm, mined, small = clones
        assert small is True  # 4 clone members, far under the broadcast cap
        assert mm.count() == 4
        assert mined.count() == 1  # one clone-group rep, and it mines


# ---------------------------------------------------------------------------
# Arrow text kernels (tokens / shingles + fingerprint, SimHash words)
# ---------------------------------------------------------------------------

def _duckdb_simhash_words(tok_pdf, n_words):
    """Bit-vote words in DuckDB over (doc_id, t) token rows: the portable
    hash + vote, independent of the Spark kernel."""
    import duckdb

    words = range(n_words)
    hashes = ", ".join(
        f"('0x' || substr(md5(t), {1 + 15 * w}, 15))::BIGINT AS h{w}"
        for w in words
    )
    votes = ", ".join(
        f"sum(case when (h{w} >> {i}) & 1 = 1 then 1 else -1 end) AS v{w}_{i}"
        for w in words
        for i in range(60)
    )
    fps = ", ".join(
        " + ".join(
            f"(case when v{w}_{i} > 0 then (1::BIGINT << {i}) else 0 end)"
            for i in range(60)
        )
        for w in words
    )
    con = duckdb.connect()
    con.register("tok", tok_pdf)
    rows = con.execute(
        f"""WITH h AS (SELECT doc_id, {hashes} FROM tok),
        v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id)
        SELECT doc_id, {fps} FROM v"""
    ).fetchall()
    return {r[0]: tuple(r[1:]) for r in rows}


def test_simhash_portable_hash_matches_duckdb(spark, edge_df):
    """The 60-bit md5 token words must be byte-identical in DuckDB (the
    cross-engine verification contract), for 1 and 2 words. DuckDB gets
    Spark's exploded tokens(), so the check covers hash + vote, not
    DuckDB's splitter."""
    df = edge_df
    tokf = df.select(F.col("doc_id").alias("_id"), tx.tokens("text").alias("_tok"))
    tok_pdf = tokf.select(
        F.col("_id").alias("doc_id"), F.explode("_tok").alias("t")
    ).toPandas()
    for n_words in (1, 2):
        duck = _duckdb_simhash_words(tok_pdf, n_words)
        names = ["simhash", "simhash1"][:n_words]
        fps = dedup.simhash_fingerprints(
            df, "doc_id", "text", portable_hash=True, n_words=n_words
        )
        got = {r["_id"]: tuple(r[c] for c in names) for r in fps.collect()}
        assert got == duck, n_words


def test_simhash_rejects_non_portable_hash(spark, docs_df):
    for fn in (dedup.simhash_fingerprints, dedup.simhash_near_dup_pairs):
        with pytest.raises(ValueError, match="portable_hash"):
            fn(docs_df, "doc_id", "text", portable_hash=False)
        with pytest.raises(ValueError, match="at most 2 words"):
            fn(docs_df, "doc_id", "text", n_words=3)


def test_simhash_null_and_empty_docs(spark):
    """NULL text and text that trims to "" get no fingerprint row and never
    pair, through the collapse guard or in the uncollapsed core. Trim
    strips spaces only, so " \t " is two empty tokens: it gets a
    fingerprint and pairs with its clone at hamming 0."""
    texts = [None, None, "", "", "   ", "   ", " \t ", " \t ",
             "the quick brown fox", "the quick brown fox"]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    ids = {r["_id"] for r in dedup.simhash_fingerprints(df, "doc_id", "text").collect()}
    assert ids == {6, 7, 8, 9}
    kw = dict(max_hamming=3)
    for collapse, pairs in (
        (True, dedup.simhash_near_dup_pairs(df, "doc_id", "text", **kw)),
        (False, _uncollapsed_pairs(dedup.simhash_near_dup_pairs, df, **kw)),
    ):
        assert {tuple(r) for r in pairs.collect()} == {(6, 7, 0), (8, 9, 0)}, collapse


def _planted_near_dup_docs(spark):
    """300 docs over a 30-word vocabulary; the last 50 are one-token
    edits of earlier ones."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(250):
        toks = [rng.choice(vocab) for _ in range(rng.randint(8, 40))]
        rows.append((i, " ".join(toks)))
    for i in range(250, 300):
        base = list(rows[rng.randrange(0, 250)][1].split())
        base[rng.randrange(0, len(base))] = rng.choice(vocab)
        rows.append((i, " ".join(base)))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_simhash_expansion_equals_banding(spark, monkeypatch):
    """At one 60-bit word and r=8 the picker takes the k=2 expansion (3
    chunks of 20 bits). Forced onto the k=0 band join over the 9
    exhaustive bands, the one chunk join must return the same rows,
    hamming values included: both layouts are exact."""
    words = _words_frame(_planted_near_dup_docs(spark), 1)
    r = 8
    assert dedup._simhash_layout(r, 1) == (2, [(0, 0, 20), (0, 20, 20), (0, 40, 20)])
    via_expansion = {tuple(x) for x in dedup._simhash_pairs_on_tokens(words, r, 1).collect()}
    bands = dedup._simhash_chunks(r + 1, 1)
    assert min(w for _, _, w in bands) < 12
    monkeypatch.setattr(dedup, "_simhash_layout", lambda *_: (0, bands))
    via_banding = {tuple(x) for x in dedup._simhash_pairs_on_tokens(words, r, 1).collect()}
    dedup.release_intermediates()
    assert via_expansion == via_banding
    assert via_banding, "fixture produced no near-dup pairs - vacuous test"


def test_simhash_expansion_fires_for_driver_config(spark):
    """The picker takes the expansion exactly when the r+1 bands would be
    sub-12-bit: `simhash_neardups_documents` (one word, r=8) expands with
    no warning, `simhash_wide_documents` (2x60 bits, r=9 -> 12-bit bands)
    stays on the band join, and small radii band."""
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert dedup._simhash_layout(8, 1) == (2, dedup._simhash_chunks(3, 1))
        k, bands = dedup._simhash_layout(9, 2)
        assert k == 0 and len(bands) == 10 and {w for _, _, w in bands} == {12}
        assert dedup._simhash_layout(2, 1) == (0, [(0, 0, 20), (0, 20, 20), (0, 40, 20)])
        # r=12 over 2 words: 13 bands would be 8-9 bits; m = max(5, 2)
        # chunks, 3 in word 0 and 2 in word 1, within k=2 bits
        assert dedup._simhash_layout(12, 2) == (
            2, [(0, 0, 20), (0, 20, 20), (0, 40, 20), (1, 0, 30), (1, 30, 30)]
        )
    # a radius no layout covers with >=12-bit bands or bounded flips
    with pytest.warns(UserWarning, match="narrowest band"):
        k, bands = dedup._simhash_layout(60, 1)
    assert k == 0 and len(bands) == 61


def test_simhash_two_word_expansion_matches_brute_force(spark):
    """r=12 over two words takes the k=2 expansion over 5 chunks: the pair
    set must equal the brute-force hamming-<=12 set over the
    fingerprint words."""
    df = _planted_near_dup_docs(spark)
    r = 12
    assert dedup._simhash_layout(r, 2)[0] == 2
    words = [
        (row["_id"], row["simhash"], row["simhash1"])
        for row in dedup.simhash_fingerprints(df, "doc_id", "text", n_words=2).collect()
    ]
    mask = (1 << 64) - 1
    want = set()
    for (ia, a0, a1), (ib, b0, b1) in itertools.combinations(words, 2):
        h = bin((a0 ^ b0) & mask).count("1") + bin((a1 ^ b1) & mask).count("1")
        if h <= r:
            want.add((min(ia, ib), max(ia, ib), h))
    got = {
        tuple(x)
        for x in dedup.simhash_near_dup_pairs(
            df, "doc_id", "text", max_hamming=r, n_words=2
        ).collect()
    }
    dedup.release_intermediates()
    assert got == want
    assert want, "fixture produced no near-dup pairs - vacuous test"


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


@pytest.mark.parametrize(
    "kernel", ["shingles1", "shingles3", "tokens", "simhash_words"]
)
def test_text_kernels_pickle_by_value(spark, tmp_path, edge_texts, kernel):
    """Each Arrow text kernel unpickles and runs in a Python worker that
    cannot import this package, returning the in-process rows."""
    udf = {
        "shingles1": dedup._text_kernel(1),
        "shingles3": dedup._text_kernel(3),
        "tokens": dedup._text_kernel(0),
        "simhash_words": dedup._text_kernel(0, 2),
    }[kernel]
    series = pd.Series(edge_texts, dtype=object)
    out, loaded = _run_unpickled(udf.func, series, tmp_path)
    assert loaded == []
    assert out.to_dict("list") == udf.func(series).to_dict("list")


# id 1 NULL, 4 repeats 2 (cos 1.0), 5 all-zero, 7 ragged, 8 opposite of 2
BAD_VECS = {
    1: None, 2: [0.6, 0.8, 0.0, 0.0], 3: [1.0, 1.0, 1.0, 0.0],
    4: [0.6, 0.8, 0.0, 0.0], 5: [0.0, 0.0, 0.0, 0.0], 6: [0.0, 0.1, 1.0, 0.5],
    7: [1.0, 0.0], 8: [-0.6, -0.8, 0.0, 0.0],
}


def _cos6(x, y):
    x, y = np.asarray(x, float), np.asarray(y, float)
    den = np.linalg.norm(x) * np.linalg.norm(y)
    return round(float(x @ y / den), 6) if den else 0.0


# every operator is set up so all valid vectors are candidates (1 plane +
# 1-bit probe = every bucket; n_probe = n_centroids), so the exact oracle holds
BAD_VEC_OPS = {
    "cosine_topk": lambda df, q: similarity.cosine_topk(df, q, k=3),
    "lsh_bucketed_topk": lambda df, q: similarity.lsh_bucketed_topk(
        df, q, dim=4, k=3, n_planes=1, n_probe_bits=1, n_tables=2),
    "ivf_topk": lambda df, q: similarity.ivf_topk(
        df, q, dim=4, k=3, n_centroids=2, n_probe=2, sample_fraction=1.0),
    "cosine_pairs_exact": lambda df, q: similarity.cosine_pairs_exact(
        df, threshold=-1.0, n_blocks=1),
    "embedding_near_dup_pairs": lambda df, q: similarity.embedding_near_dup_pairs(
        df, dim=4, threshold=-1.0, n_planes=1, n_tables=2, n_probe_bits=1),
}


@pytest.mark.parametrize("op", list(BAD_VEC_OPS))
def test_vector_operators_bad_vectors(spark, op):
    """One rule for all five vector operators: a NULL vector, or one whose
    length is not dim, never scores, never appears and never moves another
    row's id; an all-zero vector scores 0.0; a NULL or ragged query returns
    no rows. The two operators with no dim argument (cosine_topk takes it
    from its queries, cosine_pairs_exact has none) raise a ValueError that
    names a length mismatch instead of skipping."""
    schema = "vec_id long, embedding array<double>"
    df = spark.createDataFrame(list(BAD_VECS.items()), schema)
    queries = df.filter(F.col("vec_id").isin(1, 2, 5, 7)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    no_dim = op in ("cosine_topk", "cosine_pairs_exact")
    got = sorted(tuple(r) for r in BAD_VEC_OPS[op](
        df.filter(F.col("vec_id") != 7) if op == "cosine_pairs_exact" else df,
        queries.filter(F.col("query_id") != 7) if no_dim else queries,
    ).collect())
    valid = {i: v for i, v in BAD_VECS.items() if v is not None and len(v) == 4}
    if "pairs" in op:
        want = sorted((a, b, _cos6(valid[a], valid[b]))
                      for a, b in itertools.combinations(sorted(valid), 2))
    else:  # queries 2 and 5 (zero: every cosine 0.0, so the lowest ids)
        want = sorted(
            (q, i, _cos6(valid[q], valid[i]))
            for q in (2, 5)
            for _, i in sorted((-_cos6(valid[q], valid[i]), i) for i in valid)[:3]
        )
    assert [g[:2] for g in got] == [w[:2] for w in want]
    assert [g[2] for g in got] == pytest.approx([w[2] for w in want], abs=1e-6)
    if no_dim:
        with pytest.raises(Exception, match=r"lengths \[2, 4\]"):
            BAD_VEC_OPS[op](df, queries).collect()


@pytest.mark.parametrize("op", ["cosine_pairs_exact", "embedding_near_dup_pairs"])
def test_all_pairs_null_id_never_pairs(spark, op):
    """A NULL id never pairs and never moves another row's id in the
    all-pairs operators: collect_list skips a NULL id but not its vector,
    which shifted a cell's ids against its vectors (wrong pairs, or an
    IndexError in the kernel)."""
    valid = {2: [1.0, 0.1, 0.0, 0.0], 3: [1.0, 0.2, 0.0, 0.0], 4: [0.0, 1.0, 0.0, 0.0]}
    df = spark.createDataFrame(
        [(None, [1.0, 0.0, 0.0, 0.0]), *valid.items()], "vec_id long, embedding array<double>"
    )
    got = sorted(tuple(r) for r in BAD_VEC_OPS[op](df, None).collect())
    want = sorted((a, b, _cos6(valid[a], valid[b]))
                  for a, b in itertools.combinations(sorted(valid), 2))
    assert [g[:2] for g in got] == [w[:2] for w in want]
    assert [g[2] for g in got] == pytest.approx([w[2] for w in want], abs=1e-6)


def test_nearest_centroids_matches_numpy():
    """The IVF kernel ranks centroids like a full squared-L2 argsort, ties
    to the lower id. Integer coordinates make every distance exact, so the
    second corpus has real ties."""
    rng = np.random.default_rng(5)
    for cents, vecs in (
        (rng.standard_normal((6, 4)), rng.standard_normal((40, 4))),
        (rng.integers(-2, 3, (6, 4)) * 1.0, rng.integers(-2, 3, (40, 4)) * 1.0),
    ):
        d = ((vecs[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        want = np.argsort(d, axis=1, kind="stable")[:, :3]
        got = similarity._centroid_ranks(cents)(vecs, 3)
        assert got.tolist() == want.tolist()
    top = np.sort(d, axis=1)[:, :3]
    assert (top[:, 1:] == top[:, :-1]).any()  # the ties are exercised
