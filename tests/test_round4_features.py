"""Keep-first dup-split, multi-word SimHash, n-gram prefix filtering,
legacy YAML tags, dotted-path converters, the release of persisted
intermediates, the driver's text-mining queries, and connected
components on a known graph."""

from __future__ import annotations

import random
import warnings

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from pysemantic_spark.errors import ParserArgumentError, SpecValidationError
from pysemantic_spark.operators import dedup, similarity
from pysemantic_spark.operators.cache import (
    materialize,
    release_intermediates,
    tracked_count,
    tracked_intermediates,
)
from pysemantic_spark.sources.readers import load_dataset
from pysemantic_spark.sources.tableio import ParquetManifestIO, run_resumable
from pysemantic_spark.spec import DatasetSpec, load_spec_file

SF001 = "/root/testdata/sf0.001"


def _events(spark, n=500, dup_every=50):
    pdf = pd.DataFrame(
        {
            "k": [i // 1 if i % dup_every else i - 1 for i in range(n)],
            "v": range(n),
        }
    )
    return spark.createDataFrame(pdf)


def _first_per_key(df, key, order):
    """The naive keep-first: row_number() over the whole table."""
    w = Window.partitionBy(key).orderBy(order)
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


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


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


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


def test_legacy_python_name_tags(tmp_path):
    p = tmp_path / "dict.yaml"
    p.write_text(
        """
iris:
  path: /tmp/iris.csv
  delimiter: ','
  dtypes:
    Species: !!python/name:__builtin__.str ''
    Petal Length: !!python/name:builtins.float ''
    Count: !!python/name:builtins.int ''
    Fresh: !!python/name:builtins.bool ''
"""
    )
    specs = load_spec_file(str(p))
    d = {c: r for c, r in specs["iris"].dtypes.items()}
    assert d == {
        "Species": "string",
        "Petal Length": "double",
        "Count": "int",
        "Fresh": "boolean",
    }


def test_legacy_python_name_tag_rejects_unknown(tmp_path):
    p = tmp_path / "bad.yaml"
    p.write_text(
        """
x:
  dtypes:
    c: !!python/name:os.system ''
"""
    )
    with pytest.raises(SpecValidationError, match="python/name"):
        load_spec_file(str(p))


def test_dotted_path_converter(spark, tmp_path):
    """A spec-file-only custom converter via module:function — no registry
    registration, no engine-code edit."""
    csv = tmp_path / "d.csv"
    csv.write_text('name\n"  Alice   M  "\n"  bob "\n')
    spec = DatasetSpec.from_dict(
        "d",
        {
            "path": str(csv),
            "dtypes": {"name": "str"},
            "column_rules": {
                "name": {
                    "converters": [
                        "pysemantic_spark.sources.readers:normalize_ws"
                    ]
                }
            },
        },
    )
    got = sorted(r["name"] for r in load_dataset(spark, spec).collect())
    assert got == ["Alice M", "bob"]


def test_dotted_path_converter_bad_path_fails_at_compile(spark, tmp_path, monkeypatch):
    from pysemantic_spark.sources.readers import resolve_converter

    with pytest.raises(ParserArgumentError, match="cannot import"):
        resolve_converter("pysemantic_spark.no_such_module_xyz:fn")
    # non-allowlisted modules are rejected BEFORE import
    with pytest.raises(ParserArgumentError, match="allowlist"):
        resolve_converter("os:not_a_function_xyz")
    monkeypatch.setenv("PYSEMANTIC_SPARK_CONVERTER_MODULES", "os")
    with pytest.raises(ParserArgumentError, match="no callable"):
        resolve_converter("os:not_a_function_xyz")
    with pytest.raises(ParserArgumentError, match="unknown converter"):
        resolve_converter("not_registered")


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


def test_run_resumable_skipped_disjoint_from_quarantined(spark, tmp_path):
    """skipped must mean verifiably DONE; quarantined buckets are parked,
    never double-reported as skipped."""
    io = ParquetManifestIO(str(tmp_path / "t"))
    pdf = pd.DataFrame(
        {"k": [f"k{i}" for i in range(200)], "v": range(200)}
    )
    io.write_bucketed(spark.createDataFrame(pdf), bucket_key="k", n_buckets=4)
    spec = DatasetSpec.from_dict("t", {"column_rules": {"v": {"min": 0}}})
    first = run_resumable(spark, io, spec, chunk_size=1, max_chunks=2)
    second = run_resumable(spark, io, spec, chunk_size=1)
    assert set(second["skipped"]) == set(first["processed"])
    assert set(second["skipped"]).isdisjoint(set(second["quarantined"]))
    m = io.load_manifest()
    assert all(m.entries[b].status == "done" for b in second["skipped"])


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
