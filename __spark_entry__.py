"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family from SURVEY.md §2
through the pysemantic_spark engine; ``oracle_sql()`` holds the equivalent
DuckDB SQL over the same parquet views. Column names/aliases match exactly
between the two (driver hashes values after sorting columns by name).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pysemantic_spark.functions.text import (
    LANG_MARKERS,
    distinct_token_count,
    fingerprint,
    lang_id,
    mean_token_length,
    token_count,
)
from pysemantic_spark.operators import dedup, similarity
from pysemantic_spark.operators.runner import validate
from pysemantic_spark.spec import DatasetSpec


_SCAN_SPLITS_MEMO: dict[str, tuple[float, int, int]] = {}


def _scan_splittability(path: str) -> tuple[int, int]:
    """(total row groups, total bytes) of a parquet file/dir — parquet
    scans parallelize at ROW-GROUP granularity, so this is the number of
    tasks a scan can actually use no matter how small the byte splits
    are. Memoized per path+mtime (footer reads are driver-local, ~ms)."""
    import pyarrow.parquet as pq

    files = []
    if os.path.isfile(path):
        files = [path]
    else:
        for root, _, names in os.walk(path):
            files += [os.path.join(root, n) for n in names if n.endswith(".parquet")]
    key = path
    mt = max((os.stat(f).st_mtime for f in files), default=0.0)
    hit = _SCAN_SPLITS_MEMO.get(key)
    if hit and hit[0] == mt:
        return hit[1], hit[2]
    rg = sum(pq.ParquetFile(f).num_row_groups for f in files)
    nbytes = sum(os.path.getsize(f) for f in files)
    _SCAN_SPLITS_MEMO[key] = (mt, rg, nbytes)
    return rg, nbytes


def _read(
    spark: SparkSession, sf_dir: str, table: str, widen: bool = True
) -> DataFrame:
    """Read a fixture table; WIDEN row-group-limited scans (round 7).

    The fixture tables are single parquet files with ≤6 row groups, so a
    plain scan runs at parallelism ≤6 regardless of cores — every
    downstream projection (regex checks, shingling, hashing) was
    single-digit-threaded on a 32-core host. When the scan cannot split
    to the session's parallelism AND the table is small enough that one
    exchange is trivial, hash-repartition on the leading column right
    after the read (guide §2.5: "one huge unsplittable file … repartition
    immediately after the read"). Deterministic: the hash partitioning is
    a per-row function, so retried tasks reproduce it, and every declared
    query is row-order-insensitive. At cluster scale inputs arrive as many
    files (rg ≫ parallelism) and this is a no-op."""
    path = f"{sf_dir}/{table}.parquet"
    df = spark.read.parquet(path)
    par = spark.sparkContext.defaultParallelism
    rg, nbytes = _scan_splittability(path)
    # widen=False: callers whose FIRST operator is itself an exchange (a
    # groupBy/bucketing shuffle) or whose per-row scan work is trivial opt
    # out — the widening repartition would be a pure extra exchange there
    # (measured: lsh_topk 2.2 → 1.5 s at sf1.0 without it, while
    # cosine_topk, then an interpreted per-row scorer, needed it: 0.4 vs
    # 1.7 s; not re-measured since it scores in the GEMM top-k kernel)
    if widen and rg < par and nbytes < 256 * 1024 * 1024:
        # HASH repartition on the leading column (the fixture tables all
        # lead with a well-distributed id), not round-robin: round-robin
        # first pays a LOCAL SORT of the whole input inside the single
        # scan task (spark.sql.execution.sortBeforeRepartition,
        # SPARK-23207 — needed there because retried tasks must reproduce
        # the row→partition assignment), while hash partitioning is a
        # deterministic per-row function — retry-safe with no sort.
        df = df.repartition(par, F.col(df.columns[0]))
    return df


# ---------------------------------------------------------------------------
# Validation-engine queries (SURVEY.md §2.2/§2.3 rule operators)
# ---------------------------------------------------------------------------

_LINEITEM_SPEC = {
    "column_rules": {
        "l_quantity": {"min": 5, "max": 45},
        "l_discount": {"min": 0.01},
        "l_shipdate": {"max": "2000-12-31 00:00:00"},
    },
    "uniqueness": [["l_orderkey", "l_linenumber"]],
    "order_by": ["l_linenumber"],
}


def q_stats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide per-column stats agg (C-rules stat side; SURVEY §2.5 aggs).

    Projects to the stat columns BEFORE validating: the agg-side unpivot
    blocks Catalyst from pruning aggregate exprs, so pruning is done at the
    DataFrame level (PLANS.md §7 residual, resolved here)."""
    li = _read(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount"
    )
    res = validate(spark, li, DatasetSpec.from_dict("lineitem", {
        "column_rules": {"l_quantity": {"min": 5, "max": 45}},
    }))
    return (
        res.stats.filter(
            F.col("column").isin("l_quantity", "l_extendedprice", "l_discount")
        )
        .select(
            "column",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_nulls").cast("long").alias("n_nulls"),
            F.col("min").cast("double").alias("min_v"),
            F.col("max").cast("double").alias("max_v"),
        )
    )


def q_range_violations_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max range checks → violation rows (C4/C5)."""
    li = _read(spark, sf_dir, "lineitem")
    res = validate(spark, li, DatasetSpec.from_dict("lineitem", _LINEITEM_SPEC))
    return res.violations.select("l_orderkey", "l_linenumber", "check_name")


def q_levels_violations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """categorical levels + exclude checks (C7/C8)."""
    orders = _read(spark, sf_dir, "orders")
    spec = DatasetSpec.from_dict(
        "orders",
        {
            "column_rules": {
                "o_orderstatus": {"unique_values": ["O", "F"], "exclude": ["P"]},
            },
            "uniqueness": [["o_orderkey"]],
        },
    )
    res = validate(spark, orders, spec)
    return res.violations.select("o_orderkey", "check_name")


def q_regex_null_violations_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regex + not-null + min checks on events (C2/C4/C6)."""
    ev = _read(spark, sf_dir, "events")
    spec = DatasetSpec.from_dict(
        "events",
        {
            "column_rules": {
                "event_type": {"regex": "^(click|view|purchase)$", "is_drop_na": True},
                "value": {"min": 1.0},
            },
            "uniqueness": [["event_id"]],
        },
    )
    res = validate(spark, ev, spec)
    return res.violations.select("event_id", "check_name")


def q_unique_key_dupes_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """uniqueness via sort-merge dedup counts (C3)."""
    li = _read(spark, sf_dir, "lineitem")
    return dedup.exact_duplicates(li, ["l_orderkey"]).select(
        "l_orderkey", F.col("dup_count").cast("long").alias("dup_count")
    )


def q_referential_violations_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """referential integrity via broadcast anti-join (north_star join op)."""
    ev = _read(spark, sf_dir, "events")
    valid_users = _read(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100)
    spec = DatasetSpec.from_dict(
        "events",
        {
            "column_rules": {
                "user_id": {"reference": {"table": "valid_users", "column": "c_custkey"}},
            },
            "uniqueness": [["event_id"]],
        },
    )
    res = validate(spark, ev, spec, dims={"valid_users": valid_users})
    return res.violations.select("event_id", "check_name")


def q_partition_report_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-partition pass/fail rows (north_star sink shape)."""
    orders = _read(spark, sf_dir, "orders")
    spec = DatasetSpec.from_dict(
        "orders",
        {"column_rules": {"o_orderstatus": {"unique_values": ["O", "F"]}}},
    )
    res = validate(
        spark, orders, spec, bucket_expr=F.pmod(F.col("o_orderkey"), F.lit(16)).cast("int")
    )
    return res.partition_report.select(
        F.col("bucket").cast("int").alias("bucket"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_violating_rows").cast("long").alias("n_violating_rows"),
        "passed",
    )


def q_dedup_keep_first_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window-function dedup-keep-first (SURVEY §2.5 window op)."""
    ev = _read(spark, sf_dir, "events")
    first = dedup.exact_dedup_keep_first(ev, ["user_id"], ["ts", "event_id"])
    return first.select("user_id", "event_id")


def q_top_events_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sort + limit (top-k violation-sample shape)."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.orderBy(F.col("value").desc(), F.col("event_id").asc())
        .select("event_id", F.round("value", 2).alias("value_r"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Training-data pipeline queries (dedup / similarity / text analysis)
# ---------------------------------------------------------------------------

def q_text_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """token counting + fingerprinting (text-analysis ops)."""
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        distinct_token_count("text").alias("n_distinct_tokens"),
        F.round(mean_token_length("text"), 6).alias("mean_token_len"),
        fingerprint("text").alias("fp"),
    )


def q_lang_id_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """language-ID heuristic vs labeled lang (text-analysis op)."""
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select("lang", lang_id("text").alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_top_docs_by_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", token_count("text").alias("n_tokens"))
        .orderBy(F.col("n_tokens").desc(), F.col("doc_id").asc())
        .limit(10)
    )


def q_ngram_jaccard_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact n-gram Jaccard near-dup pairs via shared-shingle join."""
    docs = _read(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.12, max_shingle_freq=100
    )


def q_fingerprint_dupes_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact text dedup groups via md5 fingerprint."""
    docs = _read(spark, sf_dir, "documents")
    return dedup.text_fingerprint_duplicates(docs, "doc_id", "text").select(
        "fp", F.col("dup_count").cast("long").alias("dup_count")
    )


def q_minhash_lsh_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates, exact-Jaccard verified.

    Oracle-checkable at threshold 0.5: every pair with exact Jaccard ≥ 0.5
    collides in ≥1 of 32 two-row bands with probability 1−(1−0.25)^32
    ≈ 1−10⁻⁴ (the synthetic corpus has no pairs near the boundary — its
    jaccard distribution is bimodal, <0.15 or >0.8), and the emitted
    jaccard values are exact (computed on the full shingle sets), so the
    output equals the exact-Jaccard oracle restricted to j ≥ 0.5."""
    docs = _read(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_hashes=64, bands=32, threshold=0.5
    )


def q_simhash_neardups_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs — FULL value oracle (upgraded from rows-only
    in round 3): the portable 60-bit md5 token hash is byte-identical in
    DuckDB, and the pigeonhole chunk join is exact (any pair within
    hamming ≤ 8 agrees within 2 bits on ≥ 1 of 3 disjoint 20-bit chunks),
    so the verified output EQUALS the exact hamming-≤8 pair set that the
    oracle computes brute-force from its own identical fingerprints."""
    docs = _read(spark, sf_dir, "documents")
    pairs = dedup.simhash_near_dup_pairs(
        docs, "doc_id", "text", max_hamming=8, portable_hash=True
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


_EXACT_TOPK_MEMO: dict[tuple, tuple] = {}


def _source_fingerprint(sf_dir: str, table: str) -> tuple:
    """(relpath, mtime_ns, size) of every file under the table's parquet
    path — the memo-invalidation key: if the data at the path changes in
    a long-lived session, the memo entry no longer matches and the exact
    result is recomputed instead of served stale."""
    p = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isfile(p):
        st = os.stat(p)
        return ((table, st.st_mtime_ns, st.st_size),)
    entries = []
    for root, _, names in os.walk(p):
        for nm in sorted(names):
            fp = os.path.join(root, nm)
            st = os.stat(fp)
            entries.append((os.path.relpath(fp, p), st.st_mtime_ns, st.st_size))
    return tuple(entries)


def _exact_topk5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for query vectors vec_id<5 —
    computed ONCE per (sf_dir, source fingerprint) per process (the
    result is 25 tiny rows) and shared by the three ANN queries
    (`cosine_topk_embeddings` plus both recall gates). Round-3 finding:
    each gate recomputed the O(n·q) exact scoring inline, so one bench
    pass paid it three times. Round-5: the key includes the parquet
    files' mtime/size so a data refresh invalidates the memo; bench.py
    clears it before the timed `cosine_topk_embeddings` run so that
    timing measures the real brute-force plan, not a memo replay."""
    key = (os.path.abspath(sf_dir), _source_fingerprint(sf_dir, "embeddings"))
    if key not in _EXACT_TOPK_MEMO:
        # one live fingerprint per sf_dir: a long-lived session that
        # repeatedly refreshes the fixture would otherwise accrete one dead
        # (pandas, schema) entry per refresh (round-5 ADVICE)
        for stale in [k for k in _EXACT_TOPK_MEMO if k[0] == key[0]]:
            del _EXACT_TOPK_MEMO[stale]
        # widen=False: cosine_topk collects the query side first, so a
        # widened read scans and exchanges the table twice (measured at
        # sf0.1 on 4 cores: 0.86-1.01 s widened, 0.61-0.74 s plain); the top-k
        # window breaks score ties by vec_id, so the rows do not depend
        # on the partitioning
        emb = _read(spark, sf_dir, "embeddings", widen=False).withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        qs = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = similarity.cosine_topk(emb, qs, k=5)
        _EXACT_TOPK_MEMO[key] = (exact.toPandas(), exact.schema)
    pdf, schema = _EXACT_TOPK_MEMO[key]
    return spark.createDataFrame(pdf, schema=schema)


def q_cosine_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """brute-force cosine top-k similarity search."""
    return _exact_topk5(spark, sf_dir)


def _drift_halves(spark: SparkSession, sf_dir: str) -> list[list[int]]:
    """n_chars bin counts (20 bins on [0, 600)) of the even and the odd
    doc_id half: ONE drift sketch of the documents keyed by doc_id % 2."""
    from pysemantic_spark.operators.drift import drift_sketch, sketch_counts

    layout = {"columns": {"n_chars": {"kind": "hist", "lo": 0.0, "hi": 600.0, "n_bins": 20}}}
    docs = _read(spark, sf_dir, "documents", widen=False)
    rows = drift_sketch(docs, layout, ["n_chars"], {"half": F.col("doc_id") % 2}).collect()
    return [
        sketch_counts(layout, ["n_chars"], [r[1:] for r in rows if r["half"] == h])[0]["n_chars"]
        for h in (0, 1)
    ]


def q_psi_drift_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distribution-drift PSI of n_chars, even- vs odd-doc_id halves."""
    from pysemantic_spark.operators.drift import _psi_laplace_counts

    psi = _psi_laplace_counts(*_drift_halves(spark, sf_dir))
    return spark.createDataFrame([("n_chars", psi)], "column string, psi double")


def q_ks_drift_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS statistic of n_chars over the binned ECDFs, even- vs
    odd-doc_id halves."""
    from pysemantic_spark.operators.drift import _ks_counts

    ks = _ks_counts(*_drift_halves(spark, sf_dir))
    return spark.createDataFrame([("n_chars", ks)], "column string, ks double")


def q_spec_drift_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YAML `drift:` block end-to-end through compile_spec + execute():
    baseline sketch from the even-doc_id half, current = odd half; PSI + KS
    on n_chars (histogram) and PSI on lang (categorical)."""
    import os
    import tempfile

    from pysemantic_spark.operators.drift import save_drift_baseline
    from pysemantic_spark.operators.runner import execute

    docs = _read(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    cur = docs.filter(F.col("doc_id") % 2 == 1)
    bl = os.path.join(tempfile.mkdtemp(prefix="psdrift_"), "baseline.json")
    save_drift_baseline(base, ["n_chars", "lang"], bl, n_bins=20)
    spec = DatasetSpec.from_dict(
        "documents",
        {"drift": {"columns": ["n_chars", "lang"], "baseline": bl,
                   "n_bins": 20, "ks_threshold": 0.1, "psi_threshold": 0.2}},
    )
    out = execute(spark, cur, spec, bucket_by="doc_id", n_buckets=16)
    return (
        spark.createDataFrame(out["drift"])
        .select("column", "metric", "value",
                F.col("threshold").cast("double").alias("threshold"), "drifted")
        .orderBy("column", "metric")
    )


def q_quality_score_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """composite text-quality scoring (pretraining-filter analog)."""
    from pysemantic_spark.functions.text import quality_score

    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score("text").alias("quality"))


def q_events_hourly_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time-windowed aggregation (batch analog of the streaming windows)."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


def q_ngram_prefix_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dups through the AllPairs/PPJoin PREFIX path
    (selective threshold 0.5, NO stop-shingle cap): exact-recall by the
    prefix-filter theorem, so the output must equal DuckDB's full
    inverted-index brute force — the provably-exact configuration of the
    round-4 dual-plan operator (the 0.12 driver query exercises the
    counting path)."""
    docs = _read(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, prefix_filter=True
    )


def q_simhash_wide_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-word (2×60-bit portable md5) SimHash near-dups at radius 9 —
    the round-4 SCALE configuration: 10 exhaustive bands of exactly 12
    bits each (the width floor below which band self-joins go quadratic;
    no warning fires), impossible on a single 60-bit word where radius 9
    would force 6-bit bands. Radius 9/120 sits just below the corpus's
    random-pair noise floor (the hamming histogram's bulk starts ~12), so
    the output is the true near-dup set: 21 pairs at sf0.01, 345 at
    sf0.1. Fully value-oracled: DuckDB rebuilds both md5 words
    bit-for-bit and takes the quadratic hamming-≤9 pair set, which the
    pigeonhole-exhaustive Spark output must equal."""
    docs = _read(spark, sf_dir, "documents")
    pairs = dedup.simhash_near_dup_pairs(
        docs, "doc_id", "text", max_hamming=9, n_words=2, portable_hash=True
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def q_dedup_clusters_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER assignment — the step after pair mining that a
    real training-data dedup needs: near-dup pairs (exact prefix-path
    jaccard ≥ 0.5) → connected components via star contraction →
    (doc_id, cluster_rep) with one canonical representative per cluster.
    Oracle: DuckDB recursive-CTE transitive closure over the SAME pair
    set — the exact fixpoint the iterative contraction converges to."""
    docs = _read(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, prefix_filter=True
    )
    return dedup.connected_components(pairs).select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("cluster_rep").cast("long").alias("cluster_rep"),
    )


def q_dedup_clusters_star_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same duplicate-cluster contract as `dedup_clusters_documents`, but
    via the SCALE composition `dedup.duplicate_clusters`: identical
    token streams collapse to representatives, ngram pairs are mined
    among reps only, connected components run on the rep graph with the
    ALTERNATING LARGE-STAR/SMALL-STAR contraction (Kiveris et al. 2014 —
    O(log n) rounds on any diameter), and members inherit their rep's
    cluster by join — so a million-clone boilerplate group costs O(m)
    rows end-to-end instead of an m²/2-edge pair list. The result must
    be row-identical to the pair-list path (`dedup_clusters_documents`),
    so this query shares the recursive-CTE transitive-closure
    oracle — the agreement of the two pipelines is itself
    oracle-checked."""
    docs = _read(spark, sf_dir, "documents")
    return dedup.duplicate_clusters(
        docs, "doc_id", "text", n=3, threshold=0.5,
        algorithm="star", prefix_filter=True,
    ).select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("cluster_rep").cast("long").alias("cluster_rep"),
    )


def q_corpus_clean_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus CLEANING in one declarative plan — the composed
    pretraining-filter pipeline: quality gate (round-6 score ≥ 0.45) →
    language filter (pred_lang = 'en') → exact near-whitespace dedup
    keeping the smallest doc_id per fingerprint (groupBy-min: no window,
    no shuffle of text bodies — only (fp, doc_id, quality) triples move).
    Returns (doc_id, fp, n_dups, quality). Every stage reuses an
    individually-oracled primitive; the composed SQL oracle re-derives
    the whole pipeline from the same marker table and formulas."""
    from pysemantic_spark.functions.text import fingerprint, lang_id, quality_score

    docs = _read(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.round(quality_score("text"), 6).alias("quality"),
        lang_id("text").alias("pred_lang"),
        fingerprint("text").alias("fp"),
    )
    # Quality/language gate as CONDITIONAL AGGREGATION, not a filter
    # (round 7): a `filter(quality >= …)` on the computed columns gets
    # predicate-pushed below the scan-widening repartition into the
    # single-row-group scan task, where the ~13 regex evaluations per doc
    # it embeds ran single-threaded AND were then re-evaluated by the
    # surviving projection (guide §4.4's duplication, in JVM-expr form —
    # measured 7.1 s at sf1.0). With the gate folded into `when()`s inside
    # the aggregate there is no filter to push: the scored projection runs
    # once, after the exchange, and each expression is evaluated once per
    # row. Row-identical: groups are keyed by the same fp; min/count/max
    # see exactly the gated rows; groups with no gated row (n_dups = 0)
    # are dropped — the same groups the filtered groupBy never formed.
    keep = (F.col("quality") >= 0.45) & (F.col("pred_lang") == "en")
    return (
        scored.groupBy("fp")
        .agg(
            F.min(F.when(keep, F.col("doc_id"))).alias("doc_id"),
            F.count(F.when(keep, 1)).cast("long").alias("n_dups"),
            F.max(F.when(keep, F.col("quality"))).alias("quality"),
        )
        .filter(F.col("n_dups") > 0)
        .select("doc_id", "fp", "n_dups", "quality")
    )


def q_salted_user_counts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation (skew.salted_group_count): partial
    count per (user_id, salt) then final sum per user — the explicit-salt
    shape the north_rule's skewed-conversation handling uses, result
    invariant to salt_factor (property-tested) and here oracle-equal to a
    plain GROUP BY. The salt is a deterministic hash of within-key entropy
    columns, never random (stage-retry safety)."""
    from pysemantic_spark.operators.skew import salted_group_count

    ev = _read(spark, sf_dir, "events")
    return salted_group_count(
        ev, ["user_id"], salt_factor=8, entropy_cols=("event_id",)
    ).select("user_id", F.col("cnt").cast("long").alias("cnt"))


def q_skewed_user_counts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pathological-skew stress twin of `salted_user_counts_events`: every
    user_id divisible by 10 is folded into ONE mega-key (0), so the
    hottest key holds ~10% of all rows — the north_rule's "one skewed
    conversation" shape, deliberately worse than the fixture's natural
    distribution. The salted two-stage plan (partial count per (key,
    salt_16) → final sum per key) must still equal a plain GROUP BY —
    value-oracled. bench.py additionally times the skew-safe vs window
    keep-first plans on a generated mega-key table (skew_* extras)."""
    from pysemantic_spark.operators.skew import salted_group_count

    ev = _read(spark, sf_dir, "events")
    skewed = ev.withColumn(
        "skew_key",
        F.when(F.col("user_id") % 10 == 0, F.lit(0)).otherwise(F.col("user_id")),
    )
    return salted_group_count(
        skewed, ["skew_key"], salt_factor=16, entropy_cols=("event_id",)
    ).select(
        F.col("skew_key").cast("long").alias("skew_key"),
        F.col("cnt").cast("long").alias("cnt"),
    )


def q_streaming_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming drift end-to-end: baseline sketch from the
    even-event_id half (batch), then the odd half replayed as a parquet
    STREAM through `windowed_drift_sketch` (watermark + 1-hour tumbling
    windows, availableNow) into a memory sink; the completed windows are
    scored together (as their union) with `drift_rows_report` against the
    same baseline (exercised, must be non-empty). Returns the per-window sketch rows — the exact
    count vectors the streaming path emits — which a SQL oracle reproduces
    independently (date_trunc windows + the baseline's min/max binning),
    so the streaming twin carries a FULL value oracle like its batch
    sibling (spec_drift_documents)."""
    import tempfile
    import uuid

    from pysemantic_spark.operators.drift import (
        build_drift_baseline,
        drift_rows_report,
        windowed_drift_sketch,
    )

    ev_path = f"{sf_dir}/events.parquet"
    # _read widens the row-group-limited fixture scan (round 7) — the
    # BATCH side (baseline sketch over the even half) is projection-heavy;
    # schema and values are unaffected by the repartition
    ev = _read(spark, sf_dir, "events")
    base = ev.filter(F.col("event_id") % 2 == 0).select("value", "event_type")
    baseline = build_drift_baseline(base, ["value", "event_type"], n_bins=20)

    # the file stream source requires a DIRECTORY; the fixture is a single
    # parquet file — stage it into a temp dir (bytes unchanged)
    import shutil

    stage_dir = os.path.join(
        tempfile.gettempdir(), f"stream_drift_src_{uuid.uuid4().hex[:12]}"
    )
    os.makedirs(stage_dir)
    shutil.copy(ev_path, os.path.join(stage_dir, "events.parquet"))
    stream = (
        spark.readStream.schema(ev.schema)
        .parquet(stage_dir)
        .filter(F.col("event_id") % 2 == 1)
        # watermarks require TIMESTAMP (with zone); the fixture's ts is
        # TIMESTAMP_NTZ — the session tz is pinned UTC (session.py), so
        # this cast is epoch-preserving and the window boundaries align
        # with the oracle's naive date_trunc
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    sk = windowed_drift_sketch(
        stream, baseline, ["value", "event_type"], ts_col="ts", window="1 hour"
    )
    qname = f"driftsk_{uuid.uuid4().hex[:12]}"
    # The stateful sketch agg's state cardinality is windows × cols × bins
    # (a few thousand rows), but every micro-batch commits ONE state store
    # per shuffle partition — at the session default (32) that is 32
    # store commits per batch for ~50 rows each. Streaming queries pin
    # their shuffle-partition count at FIRST start, so scope a small value
    # to this query only (round-7, guide §2.4/§5; result-invariant: the
    # agg output does not depend on partitioning).
    _old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            sk.writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", _old_sp)
    rows = spark.table(qname)
    # wire the scorer: the union of the windows gets a full metric report
    report = drift_rows_report(rows.collect(), baseline)
    assert len(report) >= 3, "drift_rows_report produced no metrics"
    shutil.rmtree(stage_dir, ignore_errors=True)
    return rows.select(
        "window_start",
        "window_end",
        F.col("column").alias("drift_col"),
        "bin",
        "cnt",
    )


def q_streaming_drift_append_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode twin of `streaming_drift_events` (round-5 VERDICT item
    8): the complete-mode memory sink re-emits every window each batch —
    fine for an oracle, unbounded at production window counts — while this
    query emits each window ONCE, when the watermark closes it, so sink
    volume and store state are bounded by the watermark, not the input
    rate.

    Determinism: the staged source is TWO chronologically-mtime'd files
    read one-per-micro-batch (``maxFilesPerTrigger=1``): the real events,
    then a single far-future SENTINEL row (odd event_id so it passes the
    stream filter; its own window never closes, so it contributes no
    output). Append mode emits a window only in a batch AFTER the
    watermark passes its end; the sentinel batch advances the watermark
    past every real window, so the emitted set is exactly the full
    per-window sketch over the odd half — the SAME value oracle as the
    complete-mode twin, now reached through watermark eviction instead of
    a full-state re-emit (verified empirically at sf0.001 and sf0.01:
    emitted set == complete set, sentinel absent)."""
    import datetime
    import shutil
    import tempfile
    import uuid

    from pysemantic_spark.operators.drift import (
        build_drift_baseline,
        windowed_drift_sketch,
    )

    ev_path = f"{sf_dir}/events.parquet"
    # _read widens the row-group-limited fixture scan (round 7) — the
    # BATCH side (baseline sketch over the even half) is projection-heavy;
    # schema and values are unaffected by the repartition
    ev = _read(spark, sf_dir, "events")
    base = ev.filter(F.col("event_id") % 2 == 0).select("value", "event_type")
    baseline = build_drift_baseline(base, ["value", "event_type"], n_bins=20)

    max_ts = ev.filter(F.col("event_id") % 2 == 1).agg(F.max("ts")).first()[0]
    stage_dir = os.path.join(
        tempfile.gettempdir(), f"append_drift_src_{uuid.uuid4().hex[:12]}"
    )
    os.makedirs(stage_dir)
    fa = os.path.join(stage_dir, "a_events.parquet")
    shutil.copy(ev_path, fa)
    # keyed by NAME against the fixture schema (round-6 ADVICE: a fixture
    # column reorder would silently misassign a positional tuple where
    # types coincide), then projected into the schema's declared order
    _sent = {
        "event_id": 999999999,
        "ts": max_ts + datetime.timedelta(hours=10),
        "user_id": 1,
        "event_type": "click",
        "value": 5.0,
        "props": "{}",
    }
    # write the 1-row sentinel parquet DRIVER-SIDE with pyarrow against the
    # source file's own arrow schema (round 7): the previous
    # createDataFrame + coalesce(1).write.parquet spent a whole Spark job +
    # commit protocol (~3 s of this query's wall time) materializing one
    # row; identical bytes-on-disk semantics — same column types, same
    # values — so micro-batch 2 and the watermark eviction are unchanged
    import pyarrow as pa
    import pyarrow.parquet as pq

    src_schema = pq.read_schema(ev_path)
    fb = os.path.join(stage_dir, "b_sentinel.parquet")
    pq.write_table(
        pa.Table.from_pydict(
            {name: [_sent[name]] for name in src_schema.names},
            schema=src_schema,
        ),
        fb,
    )
    import time as _time

    now = _time.time()  # file order = micro-batch order: events, sentinel
    os.utime(fa, (now - 7200, now - 7200))
    os.utime(fb, (now, now))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
        .filter(F.col("event_id") % 2 == 1)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    sk = windowed_drift_sketch(
        stream, baseline, ["value", "event_type"],
        ts_col="ts", window="1 hour", watermark="1 second",
    )
    qname = f"driftap_{uuid.uuid4().hex[:12]}"
    # same per-query shuffle-partition scoping as the complete-mode twin
    # (round-7 / VERDICT r06 item 2): append mode pays the per-partition
    # state-store commit cost TWICE (two micro-batches) plus watermark
    # eviction reads; state is windows × cols × bins (~thousands of rows),
    # so 4 stores per batch, not 32. Result-invariant.
    _old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            sk.writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", _old_sp)
    rows = spark.table(qname)
    shutil.rmtree(stage_dir, ignore_errors=True)
    return rows.select(
        "window_start",
        "window_end",
        F.col("column").alias("drift_col"),
        "bin",
        "cnt",
    )


def _topk_recall_gate(
    exact: DataFrame, approx: DataFrame, k: int, bound: float
) -> DataFrame:
    """Per-query recall@k of an ANN result vs the exact top-k, as
    oracle-checkable gate rows: (query_id, exact_kth_cos, recall_ok).

    ``exact_kth_cos`` (the k-th best exact cosine) is recomputable by any
    engine — it anchors the row to the data; ``recall_ok`` gates
    |approx ∩ exact| / k ≥ bound, deterministic because the LSH/IVF seeds
    are plan literals. This is the round-2 VERDICT's prescribed oracle
    shape for approximate operators (recall-vs-exact, gated)."""
    hits = exact.select("query_id", "vec_id", "cos_sim").join(
        approx.select("query_id", "vec_id", F.lit(1).alias("_hit")),
        on=["query_id", "vec_id"],
        how="left",
    )
    return (
        hits.groupBy("query_id")
        .agg(
            F.min("cos_sim").alias("exact_kth_cos"),
            ((F.count("_hit") / F.lit(k)) >= bound).alias("recall_ok"),
        )
    )


def q_lsh_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH approximate top-k, emitted as per-query recall gates vs the
    exact top-k (oracle-checked; upgraded from rows-only in round 3).

    Operating point k=8 planes × L=16 tables, 1-bit multi-probe: per-
    neighbor find prob p = q^8 + 8q^7(1−q) ≈ 0.14 per table at the
    fixture's ~cos 0.3-0.45 neighbor band (q≈0.63), miss (1−p)^16 ≈ 0.08 —
    measured recall@5 = 1.0 for all 5 queries at sf0.01 and ≥ 0.6 at
    sf0.1; gate at 0.6."""
    # widen=False: when this plan re-partitioned anyway (bucket groupBy,
    # candidate distinct; both gone, scoring now runs where the scan reads)
    # the widening exchange was pure overhead — 2.2 → 1.5 s at sf1.0.
    # Result-identical: buckets are per-row functions and the top-k window
    # breaks ties by vec_id, so the output never depends on partition layout.
    emb = _read(spark, sf_dir, "embeddings", widen=False).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = _exact_topk5(spark, sf_dir)
    approx = similarity.lsh_bucketed_topk(
        emb, queries, dim=64, k=5, n_planes=8, n_tables=16, n_probe_bits=1
    )
    return _topk_recall_gate(exact, approx, k=5, bound=0.6)


def q_event_gaps_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window lag(): inter-event gap seconds per user (ordering analog of
    the per-turn ts monotonicity check)."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            "event_id",
            (
                F.col("ts").cast("timestamp").cast("long")
                - F.lag(F.col("ts").cast("timestamp").cast("long")).over(w)
            ).alias("gap_sec"),
        )
        # first event per user has no predecessor: exclude so the column is
        # null-free (pandas keeps int64 on both engines)
        .filter(F.col("gap_sec").isNotNull())
    )


def q_events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sessionization: new session when gap > 30 min (window + cumulative
    sum) — the batch shape of stateful streaming session windows."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    with_gap = ev.withColumn(
        "gap", F.col("ts").cast("timestamp").cast("long") - F.lag(F.col("ts").cast("timestamp").cast("long")).over(w)
    )
    new_sess = F.when(F.col("gap").isNull() | (F.col("gap") > 1800), 1).otherwise(0)
    with_sess = with_gap.withColumn(
        "session_id", F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        with_sess.groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def q_value_percentiles_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact percentiles per group (linear interpolation)."""
    ev = _read(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


def q_distinct_counts_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact distinct counts (test-path analog of the HLL stats)."""
    li = _read(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_orderkey").alias("d_orders"),
        F.countDistinct("l_partkey").alias("d_parts"),
        F.countDistinct("l_returnflag", "l_linestatus").alias("d_flag_status"),
    )


def q_ivf_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k, emitted as per-query recall gates vs the
    exact top-k (oracle-checked; upgraded from rows-only in round 3).

    8 coarse centroids, n_probe=3 (the isotropic fixture has no real
    cluster structure, so single-probe recall is poor by nature — probing
    3 clusters scores ~0.38n candidates); measured recall@5 per query is
    ≥ 0.6 at sf0.01 and ≥ 0.4 at sf0.1; gate at 0.4. Deterministic in
    both SET and ORDER at any corpus size: ``sample_fraction=1.0`` makes
    the capped training sample the 4×sample_size rows with the smallest
    xxhash64(seed, vec) — a pure function of the vector values (round-5
    ADVICE: the old Bernoulli sample() reseeded per partition and the
    bare limit() cap took a scan-order prefix, so the set could change
    under repartitioning once the corpus outgrew the cap) — the sample
    is canonically ordered driver-side (lexsort), and all seeds are plan
    literals, so the centroids, and the gate, are a pure function of the
    data."""
    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = _exact_topk5(spark, sf_dir)
    approx = similarity.ivf_topk(
        emb, queries, dim=64, k=5, n_centroids=8, n_probe=3,
        sample_fraction=1.0,
    )
    return _topk_recall_gate(exact, approx, k=5, bound=0.4)


def q_embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via multi-table multi-probe sign-LSH
    + exact Arrow verify — FULL value oracle (upgraded in round 3 from a
    vacuous rows-only row that had returned 0 rows at threshold 0.5, which
    the fixture's iid vectors essentially never reach).

    Threshold 0.4 sits in the fixture's actual top-pair range (59 exact
    pairs at sf0.01, 920 at sf0.1). Operating point k=8 planes × L=24
    tables × 1-bit probe: per-pair collision p ≈ 0.14 at the 0.4 boundary
    (q≈0.63), miss (1−p)^24 ≈ 2.6e-2 per boundary pair — measured recall
    1.0 at sf0.01 (oracle scale) and 0.975 at sf0.1; emitted cosines are
    exact (verified on candidates), so at the oracle scale the output
    equals the brute-force pair set. The blocked-GEMM twin
    (embedding_neardup_exact) checks the same set exactly at every
    scale."""
    # NO cast to array<double> here (round 7): the operator's verify GEMM
    # upcasts float32→float64 exactly, so the emitted cosines are
    # bit-identical while the fixture's float32 vectors shuffle at half
    # the width
    emb = _read(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup_pairs(
        emb, dim=64, threshold=0.4, n_planes=8, n_tables=24, n_probe_bits=1
    )


def q_embedding_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs cosine near-dup via blocked GEMM
    (cosine_pairs_exact): the brute-force baseline the LSH path is measured
    against — deterministic, seed-free, fully oracle-checkable."""
    # same no-cast rationale as q_embedding_neardup_pairs: the blocked
    # GEMM upcasts float32→float64 exactly inside the kernel
    emb = _read(spark, sf_dir, "embeddings")
    return similarity.cosine_pairs_exact(emb, threshold=0.4, n_blocks=16).select(
        "id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim")
    )


# ---------------------------------------------------------------------------
# Driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full validation check suite on sf0.001 lineitem —
    violation counts per check."""
    sf_dir = "/root/testdata/sf0.001"
    li = _read(spark, sf_dir, "lineitem")
    res = validate(spark, li, DatasetSpec.from_dict("lineitem", _LINEITEM_SPEC))
    return res.check_counts


def _with_cache_release(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """Free the PREVIOUS query's tracked persisted intermediates before
    building the next plan. By the time the driver invokes query N+1 it
    has already collected query N's result, so N's shingle/signature/
    bucket caches are dead weight; releasing here keeps a long-lived
    session's storage bounded regardless of how many dedup/similarity
    queries it runs (round-3 VERDICT: `_materialize` never unpersisted).
    Releasing early is always safe — an un-collected plan just recomputes
    the branch from lineage."""
    import functools

    from pysemantic_spark.operators.cache import release_intermediates

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_intermediates()
        return fn(spark, sf_dir)

    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        name: _with_cache_release(fn) for name, fn in _RAW_QUERIES.items()
    }


_RAW_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "stats_lineitem": q_stats_lineitem,
        "range_violations_lineitem": q_range_violations_lineitem,
        "levels_violations_orders": q_levels_violations_orders,
        "regex_null_violations_events": q_regex_null_violations_events,
        "unique_key_dupes_lineitem": q_unique_key_dupes_lineitem,
        "referential_violations_events": q_referential_violations_events,
        "partition_report_orders": q_partition_report_orders,
        "dedup_keep_first_events": q_dedup_keep_first_events,
        "top_events_by_value": q_top_events_by_value,
        "text_stats_documents": q_text_stats_documents,
        "lang_id_documents": q_lang_id_documents,
        "top_docs_by_tokens": q_top_docs_by_tokens,
        "ngram_jaccard_pairs_documents": q_ngram_jaccard_pairs_documents,
        "fingerprint_dupes_documents": q_fingerprint_dupes_documents,
        "minhash_lsh_pairs_documents": q_minhash_lsh_pairs_documents,
        "simhash_neardups_documents": q_simhash_neardups_documents,
        "cosine_topk_embeddings": q_cosine_topk_embeddings,
        "embedding_neardup_pairs": q_embedding_neardup_pairs,
        "embedding_neardup_exact": q_embedding_neardup_exact,
        "event_gaps_lag": q_event_gaps_lag,
        "events_sessionization": q_events_sessionization,
        "value_percentiles_events": q_value_percentiles_events,
        "distinct_counts_lineitem": q_distinct_counts_lineitem,
        "psi_drift_documents": q_psi_drift_documents,
        "ks_drift_documents": q_ks_drift_documents,
        "spec_drift_documents": q_spec_drift_documents,
        "quality_score_documents": q_quality_score_documents,
        "events_hourly_agg": q_events_hourly_agg,
        "lsh_topk_embeddings": q_lsh_topk_embeddings,
        "ivf_topk_embeddings": q_ivf_topk_embeddings,
        "streaming_drift_events": q_streaming_drift_events,
        "streaming_drift_append_events": q_streaming_drift_append_events,
        "ngram_prefix_pairs_documents": q_ngram_prefix_pairs_documents,
        "simhash_wide_documents": q_simhash_wide_documents,
        "salted_user_counts_events": q_salted_user_counts_events,
        "skewed_user_counts_events": q_skewed_user_counts_events,
        "dedup_clusters_documents": q_dedup_clusters_documents,
        "dedup_clusters_star_documents": q_dedup_clusters_star_documents,
        "corpus_clean_documents": q_corpus_clean_documents,
    }


def _simhash_wide_sql(n_words: int, max_hamming: int) -> str:
    """Brute-force oracle for both simhash queries: each word w is the
    60-bit integer from md5 hex digits [1+15w, 15+15w) — byte-identical to
    word w of the Spark text kernel's SimHash words (`dedup._text_kernel`)
    — bit-voted independently; hamming = sum of per-word popcounts.
    Quadratic over all doc pairs (no banding needed oracle-side); the
    pigeonhole-exact Spark output must equal this set, for one word at
    r = 8 (`simhash_neardups_documents`) and two at r = 9
    (`simhash_wide_documents`)."""
    words = range(n_words)
    votes = ", ".join(
        f"sum(case when (h{w} >> {i}) & 1 = 1 then 1 else -1 end) as v{w}_{i}"
        for w in words
        for i in range(60)
    )
    fps = ", ".join(
        " + ".join(
            f"(case when v{w}_{i} > 0 then (1::BIGINT << {i}) else 0 end)"
            for i in range(60)
        )
        + f" AS f{w}"
        for w in words
    )
    hamming = " + ".join(f"bit_count(xor(a.f{w}, b.f{w}))" for w in words)
    hashes = ", ".join(
        f"('0x' || substr(md5(t), {1 + 15 * w}, 15))::BIGINT AS h{w}" for w in words
    )
    return f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
            FROM documents WHERE trim(text) <> ''
        ),
        h AS (SELECT doc_id, {hashes} FROM tok),
        v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id),
        fp AS (SELECT doc_id, {fps} FROM v)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               ({hamming})::BIGINT AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE {hamming} <= {max_hamming}
    """


_NGRAM_BRUTE_05_SQL = """
    WITH tok AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
        FROM documents WHERE trim(text) <> ''
    ),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 3
                    THEN list_distinct([array_to_string(t[i:i+2], ' ')
                                        for i in range(1, len(t) - 1)])
                    ELSE [] END AS g
        FROM tok
    ),
    sizes AS (SELECT doc_id, len(g) AS sz FROM sh),
    inv AS (SELECT doc_id, unnest(g) AS shingle FROM sh),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM inv a JOIN inv b USING (shingle)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.5
"""


# exact brute-force oracle for BOTH embedding near-dup queries: the LSH
# path's operating point makes its recall 1.0 at the oracle scale (and its
# emitted cosines are exact), and the blocked-GEMM path is exact by
# construction — both must equal this set
_NEARDUP_EXACT_SQL = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    -- threshold the ROUND-6 value, matching the engine exactly: raw-value
    -- thresholds are 1-ulp-fragile across accumulation orders
    WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
"""


def _topk_gate_sql(bound_note: str) -> str:
    """Oracle for the ANN recall-gate queries: the exact k-th cosine per
    query is engine-recomputable; recall_ok is the gate the (deterministic,
    seed-literal) ANN result must clear (documented per query via
    ``bound_note``, e.g. 'recall@5 >= 0.6 per query')."""
    return f"""
        -- ANN gate: {bound_note}""" + """
        WITH q AS (
            SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
            FROM embeddings WHERE vec_id < 5
        ),
        scored AS (
            SELECT q.query_id, e.vec_id,
                   round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6)
                     AS cos_sim
            FROM embeddings e CROSS JOIN q
        ),
        top AS (
            SELECT * FROM scored
            QUALIFY row_number() OVER (
                PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) <= 5
        )
        SELECT query_id, min(cos_sim) AS exact_kth_cos, TRUE AS recall_ok
        FROM top GROUP BY query_id
    """


def _lang_id_sql() -> str:
    """Build the lang-ID oracle from the same marker table the Spark expr
    uses, so the two can't drift apart."""
    score_cols = []
    for lang, words in LANG_MARKERS.items():
        inlist = ", ".join(f"'{w}'" for w in words)
        score_cols.append(
            f"len(list_filter(string_split_regex(trim(text), '\\s+'), "
            f"t -> lower(t) IN ({inlist}))) AS s_{lang}"
        )
    langs = list(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    case = "CASE "
    for lg in langs:
        case += f"WHEN {best} > 0 AND s_{lg} = {best} THEN '{lg}' "
    case += "ELSE 'und' END"
    return f"""
        WITH scored AS (
            SELECT lang, {', '.join(score_cols)} FROM documents
        )
        SELECT lang, {case} AS pred_lang, count(*) AS n
        FROM scored GROUP BY 1, 2
    """


def _corpus_clean_sql() -> str:
    """Composed pipeline oracle: quality formula + marker-argmax lang +
    normalized-md5 fingerprint (each identical to its standalone oracle),
    filtered and grouped exactly like the Spark plan."""
    score_cols = []
    for lang, words in LANG_MARKERS.items():
        inlist = ", ".join(f"'{w}'" for w in words)
        score_cols.append(
            f"len(list_filter(string_split_regex(trim(text), '\\s+'), "
            f"t -> lower(t) IN ({inlist}))) AS s_{lang}"
        )
    langs = list(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    case = "CASE "
    for lg in langs:
        case += f"WHEN {best} > 0 AND s_{lg} = {best} THEN '{lg}' "
    case += "ELSE 'und' END"
    return f"""
        WITH f AS (
            SELECT doc_id, text,
                   CASE WHEN length(text) >= 50 AND length(text) <= 100000
                        THEN 1.0 WHEN length(text) > 0 THEN 0.3 ELSE 0.0
                   END AS len_ok,
                   CASE WHEN length(text) > 0
                        THEN length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                             * 1.0 / length(text)
                        ELSE 0.0 END AS punct,
                   CASE WHEN trim(text) = '' THEN 0.0
                        ELSE len(list_filter(string_split_regex(trim(text), '\\s+'),
                                 t -> lower(t) IN ('the','and','of','to','is')))
                             * 1.0
                             / len(string_split_regex(trim(text), '\\s+'))
                   END AS sw,
                   {', '.join(score_cols)}
            FROM documents
        ),
        scored AS (
            SELECT doc_id,
                   round(len_ok * 0.4
                         + (1.0 - least(punct * 4, 1.0)) * 0.3
                         + least(sw * 5, 1.0) * 0.3, 6) AS quality,
                   {case} AS pred_lang,
                   md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
            FROM f
        )
        SELECT min(doc_id) AS doc_id, fp, count(*)::BIGINT AS n_dups,
               max(quality) AS quality
        FROM scored
        WHERE quality >= 0.45 AND pred_lang = 'en'
        GROUP BY fp
    """


def oracle_sql() -> dict[str, str]:
    ngram_jaccard = """
        WITH tok AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
            FROM documents WHERE trim(text) <> ''
        ),
        sh AS (
            SELECT doc_id,
                   CASE WHEN len(t) >= 3
                        THEN list_distinct([array_to_string(t[i:i+2], ' ')
                                            for i in range(1, len(t) - 1)])
                        ELSE [] END AS g
            FROM tok
        ),
        sizes AS (SELECT doc_id, len(g) AS sz FROM sh),
        inv0 AS (SELECT doc_id, unnest(g) AS shingle FROM sh),
        -- stop-shingle cap (matches max_shingle_freq=100 on the Spark side):
        -- ultra-common shingles are dropped from the inverted index only
        hot AS (SELECT shingle FROM inv0 GROUP BY shingle HAVING count(*) > 100),
        inv AS (SELECT * FROM inv0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
            FROM inv a JOIN inv b USING (shingle)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
        FROM pairs
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.12
    """
    d = {
        "stats_lineitem": """
            SELECT col AS "column", n_rows, n_nulls, min_v, max_v FROM (
              SELECT 'l_quantity' AS col, count(*) AS n_rows,
                     count(*) FILTER (l_quantity IS NULL) AS n_nulls,
                     min(l_quantity)::DOUBLE AS min_v, max(l_quantity)::DOUBLE AS max_v
              FROM lineitem
              UNION ALL
              SELECT 'l_extendedprice', count(*),
                     count(*) FILTER (l_extendedprice IS NULL),
                     min(l_extendedprice)::DOUBLE, max(l_extendedprice)::DOUBLE
              FROM lineitem
              UNION ALL
              SELECT 'l_discount', count(*),
                     count(*) FILTER (l_discount IS NULL),
                     min(l_discount)::DOUBLE, max(l_discount)::DOUBLE
              FROM lineitem
            )
        """,
        "range_violations_lineitem": """
            SELECT l_orderkey, l_linenumber, 'min:l_quantity' AS check_name
              FROM lineitem WHERE l_quantity IS NOT NULL AND l_quantity < 5
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'max:l_quantity'
              FROM lineitem WHERE l_quantity IS NOT NULL AND l_quantity > 45
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'min:l_discount'
              FROM lineitem WHERE l_discount IS NOT NULL AND l_discount < 0.01
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'max:l_shipdate'
              FROM lineitem
             WHERE l_shipdate IS NOT NULL AND l_shipdate > TIMESTAMP '2000-12-31 00:00:00'
        """,
        "levels_violations_orders": """
            SELECT o_orderkey, 'levels:o_orderstatus' AS check_name
              FROM orders
             WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O','F')
            UNION ALL
            SELECT o_orderkey, 'exclude:o_orderstatus'
              FROM orders
             WHERE o_orderstatus = 'P'
        """,
        "regex_null_violations_events": """
            SELECT event_id, 'not_null:event_type' AS check_name
              FROM events WHERE event_type IS NULL
            UNION ALL
            SELECT event_id, 'regex:event_type'
              FROM events
             WHERE event_type IS NOT NULL
               AND NOT regexp_matches(event_type, '^(click|view|purchase)$')
            UNION ALL
            SELECT event_id, 'min:value'
              FROM events WHERE value IS NOT NULL AND value < 1.0
        """,
        "unique_key_dupes_lineitem": """
            SELECT l_orderkey, count(*) AS dup_count
            FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1
        """,
        "referential_violations_events": """
            SELECT event_id, 'referential:user_id' AS check_name
            FROM events
            WHERE user_id IS NOT NULL
              AND user_id NOT IN (SELECT c_custkey FROM customer WHERE c_custkey < 100)
        """,
        "partition_report_orders": """
            SELECT (o_orderkey % 16)::INT AS bucket,
                   count(*) AS n_rows,
                   (count(*) FILTER (o_orderstatus IS NOT NULL
                             AND o_orderstatus NOT IN ('O','F')))::BIGINT
                       AS n_violating_rows,
                   count(*) FILTER (o_orderstatus IS NOT NULL
                             AND o_orderstatus NOT IN ('O','F')) = 0 AS passed
            FROM orders GROUP BY 1
        """,
        "dedup_keep_first_events": """
            SELECT user_id, event_id FROM events
            QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
        """,
        "top_events_by_value": """
            SELECT event_id, round(value, 2) AS value_r
            FROM events ORDER BY value DESC, event_id ASC LIMIT 20
        """,
        "text_stats_documents": r"""
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(list_distinct(string_split_regex(trim(text), '\s+')))
                        END AS n_distinct_tokens,
                   CASE WHEN trim(text) = '' THEN 0.0
                        ELSE round(
                          list_aggregate(list_transform(
                            string_split_regex(trim(text), '\s+'),
                            t -> length(t)), 'sum')
                          * 1.0 / len(string_split_regex(trim(text), '\s+')), 6)
                        END AS mean_token_len,
                   md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
            FROM documents
        """,
        "lang_id_documents": _lang_id_sql(),
        "top_docs_by_tokens": r"""
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
            FROM documents
            ORDER BY n_tokens DESC, doc_id ASC LIMIT 10
        """,
        "ngram_jaccard_pairs_documents": ngram_jaccard,
        # exact-Jaccard oracle for the LSH path: full shingle sets (no
        # stop-shingle cap — the verify step computes jaccard on the full
        # sets), threshold 0.5 where band-collision probability ≈ 1
        "minhash_lsh_pairs_documents": """
            WITH tok AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                FROM documents WHERE trim(text) <> ''
            ),
            sh AS (
                SELECT doc_id,
                       CASE WHEN len(t) >= 3
                            THEN list_distinct([array_to_string(t[i:i+2], ' ')
                                                for i in range(1, len(t) - 1)])
                            ELSE [] END AS g
                FROM tok
            ),
            sizes AS (SELECT doc_id, len(g) AS sz FROM sh),
            inv AS (SELECT doc_id, unnest(g) AS shingle FROM sh),
            pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
                FROM inv a JOIN inv b USING (shingle)
                WHERE a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
            FROM pairs
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.5
        """,
        "fingerprint_dupes_documents": r"""
            SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
                   count(*) AS dup_count
            FROM documents GROUP BY 1 HAVING count(*) > 1
        """,
        "cosine_topk_embeddings": """
            WITH q AS (
                SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                FROM embeddings WHERE vec_id < 5
            ),
            scored AS (
                SELECT q.query_id, e.vec_id,
                       round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6)
                         AS cos_sim
                FROM embeddings e CROSS JOIN q
            )
            SELECT query_id, vec_id, cos_sim FROM scored
            QUALIFY row_number() OVER (
                PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) <= 5
        """,
        "event_gaps_lag": """
            SELECT * FROM (
                SELECT user_id, event_id,
                       floor(epoch(ts))::BIGINT
                       - lag(floor(epoch(ts))::BIGINT) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id) AS gap_sec
                FROM events
            ) WHERE gap_sec IS NOT NULL
        """,
        "events_sessionization": """
            WITH g AS (
                SELECT user_id, event_id, ts,
                       floor(epoch(ts))::BIGINT - lag(floor(epoch(ts))::BIGINT) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id) AS gap
                FROM events
            ),
            s AS (
                SELECT user_id, event_id, ts,
                       (sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
                           OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING))::BIGINT AS session_id
                FROM g
            )
            SELECT user_id, session_id, count(*) AS n_events
            FROM s GROUP BY 1, 2
        """,
        "value_percentiles_events": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.9), 6) AS p90,
                   round(quantile_cont(value, 0.99), 6) AS p99
            FROM events GROUP BY 1
        """,
        "distinct_counts_lineitem": """
            SELECT count(DISTINCT l_orderkey) AS d_orders,
                   count(DISTINCT l_partkey) AS d_parts,
                   count(DISTINCT (l_returnflag, l_linestatus)) AS d_flag_status
            FROM lineitem
        """,
        "psi_drift_documents": """
            WITH binned AS (
                SELECT CASE WHEN n_chars IS NULL THEN NULL
                            WHEN n_chars < 0 THEN 0
                            WHEN n_chars >= 600 THEN 21
                            ELSE (floor((n_chars - 0.0) / 30.0))::INT + 1 END AS bin,
                       doc_id % 2 AS half
                FROM documents
            ),
            grid AS (SELECT unnest(range(22)) AS bin),
            b AS (SELECT bin, count(*) cb FROM binned WHERE half = 0 AND bin IS NOT NULL GROUP BY 1),
            c AS (SELECT bin, count(*) cc FROM binned WHERE half = 1 AND bin IS NOT NULL GROUP BY 1),
            j AS (
                SELECT coalesce(cb, 0) AS cb, coalesce(cc, 0) AS cc
                FROM grid LEFT JOIN b USING (bin) LEFT JOIN c USING (bin)
            ),
            t AS (SELECT sum(cb)::DOUBLE tb, sum(cc)::DOUBLE tc FROM j)
            SELECT 'n_chars' AS "column",
                   round(sum(((cb + 1)/(tb + 22) - (cc + 1)/(tc + 22))
                         * ln(((cb + 1)/(tb + 22)) / ((cc + 1)/(tc + 22)))), 6) AS psi
            FROM j CROSS JOIN t
        """,
        "ks_drift_documents": """
            WITH binned AS (
                SELECT CASE WHEN n_chars IS NULL THEN NULL
                            WHEN n_chars < 0 THEN 0
                            WHEN n_chars >= 600 THEN 21
                            ELSE (floor((n_chars - 0.0) / 30.0))::INT + 1 END AS bin,
                       doc_id % 2 AS half
                FROM documents
            ),
            grid AS (SELECT unnest(range(22)) AS bin),
            b AS (SELECT bin, count(*) cb FROM binned WHERE half = 0 AND bin IS NOT NULL GROUP BY 1),
            c AS (SELECT bin, count(*) cc FROM binned WHERE half = 1 AND bin IS NOT NULL GROUP BY 1),
            j AS (
                SELECT bin, coalesce(cb, 0) AS cb, coalesce(cc, 0) AS cc
                FROM grid LEFT JOIN b USING (bin) LEFT JOIN c USING (bin)
            ),
            t AS (SELECT sum(cb)::DOUBLE tb, sum(cc)::DOUBLE tc FROM j),
            cum AS (
                SELECT sum(cb) OVER (ORDER BY bin)::DOUBLE ccb,
                       sum(cc) OVER (ORDER BY bin)::DOUBLE ccc
                FROM j
            )
            SELECT 'n_chars' AS "column",
                   round(max(abs(ccb / tb - ccc / tc)), 6) AS ks
            FROM cum CROSS JOIN t
        """,
        "spec_drift_documents": """
            WITH lohi AS (
                SELECT min(n_chars)::DOUBLE lo, max(n_chars)::DOUBLE hi
                FROM documents WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL
            ),
            binned AS (
                SELECT CASE WHEN n_chars IS NULL THEN NULL
                            WHEN n_chars < lo THEN 0
                            WHEN n_chars >= hi THEN 21
                            ELSE (floor((n_chars - lo) / ((hi - lo) / 20.0)))::INT + 1 END AS bin,
                       doc_id % 2 AS half
                FROM documents CROSS JOIN lohi
            ),
            grid AS (SELECT unnest(range(22)) AS bin),
            b AS (SELECT bin, count(*) cb FROM binned WHERE half = 0 AND bin IS NOT NULL GROUP BY 1),
            c AS (SELECT bin, count(*) cc FROM binned WHERE half = 1 AND bin IS NOT NULL GROUP BY 1),
            j AS (
                SELECT bin, coalesce(cb, 0) AS cb, coalesce(cc, 0) AS cc
                FROM grid LEFT JOIN b USING (bin) LEFT JOIN c USING (bin)
            ),
            t AS (SELECT sum(cb)::DOUBLE tb, sum(cc)::DOUBLE tc FROM j),
            hist_psi AS (
                SELECT 'n_chars' AS "column", 'psi' AS metric,
                       round(sum(((cb + 1)/(tb + 22) - (cc + 1)/(tc + 22))
                             * ln(((cb + 1)/(tb + 22)) / ((cc + 1)/(tc + 22)))), 6) AS value
                FROM j CROSS JOIN t
            ),
            cum AS (
                SELECT sum(cb) OVER (ORDER BY bin)::DOUBLE ccb,
                       sum(cc) OVER (ORDER BY bin)::DOUBLE ccc
                FROM j
            ),
            hist_ks AS (
                SELECT 'n_chars' AS "column", 'ks' AS metric,
                       round(max(abs(ccb / tb - ccc / tc)), 6) AS value
                FROM cum CROSS JOIN t
            ),
            bl AS (SELECT lang, count(*) cb FROM documents
                   WHERE doc_id % 2 = 0 AND lang IS NOT NULL GROUP BY 1),
            cl AS (SELECT lang, count(*) cc FROM documents
                   WHERE doc_id % 2 = 1 AND lang IS NOT NULL GROUP BY 1),
            jl AS (
                SELECT coalesce(bl.lang, cl.lang) AS lang,
                       coalesce(cb, 0) AS cb, coalesce(cc, 0) AS cc
                FROM bl FULL OUTER JOIN cl ON bl.lang = cl.lang
            ),
            kt AS (SELECT count(*)::DOUBLE k, sum(cb)::DOUBLE tb, sum(cc)::DOUBLE tc FROM jl),
            cat_psi AS (
                SELECT 'lang' AS "column", 'psi' AS metric,
                       round(sum(((cb + 1)/(tb + k) - (cc + 1)/(tc + k))
                             * ln(((cb + 1)/(tb + k)) / ((cc + 1)/(tc + k)))), 6) AS value
                FROM jl CROSS JOIN kt
            ),
            allrows AS (
                SELECT * FROM hist_psi
                UNION ALL SELECT * FROM hist_ks
                UNION ALL SELECT * FROM cat_psi
            )
            SELECT "column", metric, value,
                   (CASE WHEN metric = 'ks' THEN 0.1 ELSE 0.2 END)::DOUBLE AS threshold,
                   value > (CASE WHEN metric = 'ks' THEN 0.1 ELSE 0.2 END) AS drifted
            FROM allrows
            ORDER BY "column", metric
        """,
        "quality_score_documents": r"""
            WITH f AS (
                SELECT doc_id,
                       length(text) AS n,
                       CASE WHEN length(text) >= 50 AND length(text) <= 100000
                            THEN 1.0 WHEN length(text) > 0 THEN 0.3 ELSE 0.0
                       END AS len_ok,
                       CASE WHEN length(text) > 0
                            THEN length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
                                 * 1.0 / length(text)
                            ELSE 0.0 END AS punct,
                       CASE WHEN trim(text) = '' THEN 0.0
                            ELSE len(list_filter(string_split_regex(trim(text), '\s+'),
                                     t -> lower(t) IN ('the','and','of','to','is')))
                                 * 1.0
                                 / len(string_split_regex(trim(text), '\s+'))
                       END AS sw
                FROM documents
            )
            SELECT doc_id,
                   round(len_ok * 0.4
                         + (1.0 - least(punct * 4, 1.0)) * 0.3
                         + least(sw * 5, 1.0) * 0.3, 6) AS quality
            FROM f
        """,
        "events_hourly_agg": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n, round(sum(value), 4) AS total_value
            FROM events GROUP BY 1, 2
        """,
        # streaming twin: reproduces windowed_drift_sketch's per-window
        # count vectors — tumbling 1h windows == date_trunc, numeric bins
        # from the baseline's (min,max,20) via the same floor formula
        # (bin 0 = underflow, 21 = overflow), categorical bins = values
        "streaming_drift_events": """
            WITH b AS (
                SELECT min(value)::DOUBLE AS lo, max(value)::DOUBLE AS hi
                FROM events WHERE event_id % 2 = 0
            ),
            cur AS (SELECT * FROM events WHERE event_id % 2 = 1),
            num AS (
                SELECT date_trunc('hour', ts) AS window_start,
                       'value' AS drift_col,
                       CASE WHEN value IS NULL THEN NULL
                            WHEN value < lo THEN '0'
                            WHEN value >= hi THEN '21'
                            ELSE (floor((value - lo) / ((hi - lo) / 20))::INT + 1)::VARCHAR
                       END AS bin
                FROM cur, b
            ),
            cat AS (
                SELECT date_trunc('hour', ts) AS window_start,
                       'event_type' AS drift_col, event_type AS bin
                FROM cur
            ),
            u AS (
                SELECT * FROM num WHERE bin IS NOT NULL
                UNION ALL
                SELECT * FROM cat WHERE bin IS NOT NULL
            )
            SELECT window_start,
                   window_start + INTERVAL 1 HOUR AS window_end,
                   drift_col, bin, count(*)::BIGINT AS cnt
            FROM u GROUP BY 1, 2, 3, 4
        """,
        "simhash_neardups_documents": _simhash_wide_sql(n_words=1, max_hamming=8),
        "simhash_wide_documents": _simhash_wide_sql(n_words=2, max_hamming=9),
        # two-stage salted agg must equal the plain GROUP BY for any salt
        "salted_user_counts_events": """
            SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
        """,
        # pathological skew: one synthetic mega-key holds ~10% of rows;
        # the salted plan must still equal the plain GROUP BY
        "skewed_user_counts_events": """
            SELECT (CASE WHEN user_id % 10 = 0 THEN 0 ELSE user_id END)::BIGINT
                       AS skew_key,
                   count(*) AS cnt
            FROM events GROUP BY 1
        """,
        # prefix path is exact-recall with NO stop cap: brute-force
        # inverted-index jaccard at the selective threshold
        "ngram_prefix_pairs_documents": _NGRAM_BRUTE_05_SQL,
        # duplicate clusters: transitive closure (recursive CTE) over the
        # SAME brute-force pair set; cluster_rep = min reachable id, the
        # exact fixpoint the star contraction must converge to
        "dedup_clusters_documents": f"""
            WITH RECURSIVE p AS (
                SELECT id_a, id_b FROM ({_NGRAM_BRUTE_05_SQL})
            ),
            edges AS (
                SELECT id_a AS u, id_b AS v FROM p
                UNION
                SELECT id_b AS u, id_a AS v FROM p
            ),
            reach(u, v) AS (
                SELECT u, v FROM edges
                UNION
                SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
            )
            SELECT u AS doc_id,
                   least(u, min(v))::BIGINT AS cluster_rep
            FROM reach GROUP BY u
        """,
        "corpus_clean_documents": _corpus_clean_sql(),
        "embedding_neardup_pairs": _NEARDUP_EXACT_SQL,
        "embedding_neardup_exact": _NEARDUP_EXACT_SQL,
        "lsh_topk_embeddings": _topk_gate_sql("recall@5 >= 0.6 per query"),
        "ivf_topk_embeddings": _topk_gate_sql("recall@5 >= 0.4 per query"),
    }
    # the pair-list and rep-graph compositions must reach the SAME
    # fixpoint, so the star query shares the transitive-closure oracle
    # verbatim
    d["dedup_clusters_star_documents"] = d["dedup_clusters_documents"]
    # the append-mode twin must emit EXACTLY the complete-mode window set
    # (the sentinel closes every real window; its own never closes), so it
    # shares the per-window sketch oracle verbatim
    d["streaming_drift_append_events"] = d["streaming_drift_events"]
    return d
