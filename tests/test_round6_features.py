"""The skew-safe ``agg_min`` keep-first plan, the collapse guard's
sub-shingle clones and clone map, the star-contraction fixpoint and its
local finish, the layout-independent IVF training sample, ANN recall
monotonicity and probe-everything == exact, resume over partial sink
writes, CLI requalify on a missing manifest, the exact-top-k memo's
eviction, and the PPJoin float-boundary regression."""

from __future__ import annotations

import os
import random

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from pysemantic_spark.fixtures import dim_tools_pdf, transcripts_pdf, transcripts_spec
from pysemantic_spark.operators import dedup, similarity
from pysemantic_spark.sources.tableio import ParquetManifestIO, run_resumable

SF001 = "/root/testdata/sf0.001"


def _emb(spark):
    return (
        spark.read.parquet(f"{SF001}/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )


def _first_queries(emb, n):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


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


def _edges(spark, edges):
    return spark.createDataFrame(list(edges), "id_a long, id_b long")


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


def test_is_star_forest_exact_shape_test(spark):
    stars = spark.createDataFrame([(3, 1), (2, 1), (9, 5)], "u long, v long")
    assert dedup._star_forest_probe(stars)[0]
    chain = spark.createDataFrame([(3, 2), (2, 1)], "u long, v long")
    assert not dedup._star_forest_probe(chain)[0]  # center 2 also a leaf
    dup_src = spark.createDataFrame([(3, 1), (3, 2)], "u long, v long")
    assert not dedup._star_forest_probe(dup_src)[0]  # u appears twice
    empty = spark.createDataFrame([], "u long, v long")
    assert dedup._star_forest_probe(empty)[0]  # vacuous star forest


def test_collapse_for_mining_reports_broadcastable_clone_map(spark):
    docs = [(i, "same exact text body here repeated") for i in range(4)] + [
        (10, "another unrelated document body entirely different")
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # the shingle frame (n-gram miners) and the token frame (SimHash)
    for n, arr_col in ((3, "_sh"), (0, "_tok")):
        _, clones = dedup._collapse_and_mine(
            df, "doc_id", "text", n, arr_col, lambda frame: frame
        )
        assert clones is not None
        mm, mined, small = clones
        assert small is True  # 4 clone members, far under the broadcast cap
        assert mm.count() == 4
        assert mined.count() == 1  # one clone-group rep, and it mines


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


def test_resume_prunes_done_buckets_despite_partial_writes(spark, tmp_path):
    """Kill semantics: a killed run leaves (a) a manifest with only its
    completed chunks marked done and (b) PARTIAL in-flight sink output for
    the chunk it died inside. Resume must revalidate exactly the non-done
    buckets, and the authoritative output (the sink dirs named by the
    manifest's per-bucket run_ids) must equal a clean never-killed run
    row-for-row — the stale partial dir is dead weight, never read."""
    pdf = transcripts_pdf(n_rows=4_000)
    df = spark.createDataFrame(pdf)
    dims = {"dim_tools": spark.createDataFrame(dim_tools_pdf())}
    spec = transcripts_spec()

    io = ParquetManifestIO(str(tmp_path / "tbl"))
    io.write_bucketed(df, "conv_id", 8)

    # killed attempt: 1 chunk (buckets 0,1) completes…
    first = run_resumable(spark, io, spec, dims=dims, chunk_size=2, max_chunks=1)
    assert sorted(first["processed"]) == [0, 1]
    # …and the kill leaves a PARTIAL in-flight write for the next chunk:
    # a run dir the manifest never acknowledged, holding garbage rows
    stale = tmp_path / "tbl" / "violations" / "run=deadbeefkill" / "chunk=2"
    spark.createDataFrame(
        [("POISON", -1)], "conv_id string, turn_idx long"
    ).write.parquet(str(stale))

    # resume: prunes exactly the done buckets
    second = run_resumable(spark, io, spec, dims=dims, chunk_size=2)
    assert sorted(second["skipped"]) == [0, 1]
    assert sorted(second["processed"]) == [2, 3, 4, 5, 6, 7]

    m = io.load_manifest()
    assert m.pending() == []
    run_ids = {e.run_id for e in m.entries.values()}
    assert "deadbeefkill" not in run_ids  # stale attempt never acknowledged

    # authoritative violations = the manifest-named run dirs only
    def collect_viols(root, ids):
        frames = []
        vroot = os.path.join(root, "violations")
        for rid in ids:
            d = os.path.join(vroot, f"run={rid}")
            if os.path.isdir(d):
                for chunk in sorted(os.listdir(d)):
                    frames.append(
                        spark.read.parquet(os.path.join(d, chunk)).toPandas()
                    )
        out = pd.concat(frames, ignore_index=True)
        return out.sort_values(list(out.columns)).reset_index(drop=True)

    got = collect_viols(str(tmp_path / "tbl"), sorted(run_ids))
    assert not (got["conv_id"] == "POISON").any()

    # clean never-killed twin on identical data
    io2 = ParquetManifestIO(str(tmp_path / "tbl2"))
    io2.write_bucketed(df, "conv_id", 8)
    clean = run_resumable(spark, io2, spec, dims=dims, chunk_size=8)
    want = collect_viols(str(tmp_path / "tbl2"), [clean["run_id"]])
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True)
    )
    # per-bucket manifest outcomes identical too (input_fingerprints are
    # per-table lineage — part-file names are write-unique — so each
    # manifest records its own, both non-empty)
    m2 = io2.load_manifest()
    for b in range(8):
        assert m.entries[b].n_rows == m2.entries[b].n_rows, b
        assert m.entries[b].n_violating_rows == m2.entries[b].n_violating_rows, b
        assert m.entries[b].input_fingerprint and m2.entries[b].input_fingerprint, b


def test_cli_requalify_missing_manifest_exits_1(tmp_path, capsys):
    from pysemantic_spark import cli

    rc = cli.main(["requalify", "--table", str(tmp_path / "nowhere")])
    assert rc == 1
    err = capsys.readouterr().err
    assert "no checkpoint manifest" in err


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
