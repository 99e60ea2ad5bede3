"""Similarity search over embedding columns (array<float>).

- `cosine_topk`         — exact brute-force top-k: every corpus row scores
                          against every query where it is read.
- `cosine_pairs_exact`  — exact all-pairs cosine ≥ threshold via BLOCKED
                          GEMM (one cell row per block pair, `mapInArrow`):
                          the honest brute-force baseline, and the RIGHT
                          scale path when the threshold sits near the bulk
                          of the cosine distribution (weak selectivity),
                          where any LSH operating point degenerates to
                          all-pairs anyway.
- `lsh_bucketed_topk`   — sub-linear top-k: random-hyperplane LSH buckets
                          (seeded planes, multi-table + multi-probe); each
                          query scores only its buckets' candidates.
- `ivf_topk`            — sub-linear top-k: k-means coarse clusters, each
                          query scores only its n_probe nearest clusters.
- `embedding_near_dup_pairs` — cosine ≥ threshold pairs via multi-table
                          (optionally multi-probe) LSH bucket cells +
                          exact verify.

One kernel per job, each a float64 GEMM of unit vectors with cosines
rounded to 6 places: the top-k operators score in :func:`_gemm_topk` and
rank in :func:`_top_k`; the all-pairs operators verify in
:func:`_gemm_pairs`. The top-k operators evaluate the small query side
once on the driver and ship it inside the kernel, so the corpus is scanned
once and never joined or shuffled; LSH and IVF mask each query's scoring
to the corpus rows whose keys hit its probe set. The keys come from the
function behind :func:`hyperplane_buckets_arrow` (buckets) and from
:func:`_centroid_ranks` (clusters), run inside the kernel on the
corpus side and on the driver for the queries. Only n_queries × k rows per
task reach the final rank.

The all-pairs operators route each vector, tagged with its block or
bucket ``src``, straight to its cells: one ``groupBy`` packs them, with no
join, into the Arrow cell rows that :func:`_gemm_pairs` verifies.

Bad vectors, one rule for all five: a NULL vector, or one whose length is
not ``dim``, never scores, never appears in the output and never moves
another row's id; an all-zero vector scores 0.0; a NULL or ragged query
returns no rows. ``cosine_topk`` takes ``dim`` from its queries and
``cosine_pairs_exact`` has none; their docstrings say how a length
mismatch fails.

The blocked-GEMM path shuffles each vector n_blocks times by
construction (that IS all-pairs work); its knob is block size = one
bounded GEMM per task.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _gemm_topk(k: int, query_ids, queries: np.ndarray, keys=None, probes=None):
    """The one top-k scoring kernel: a ``mapInPandas`` body mapping corpus
    rows (vec_id, _cvec) to the task's k best (query_id, vec_id, cos_sim)
    rows per query. Each batch is one float64 matmul of unit vectors
    against the (n_queries × dim) ``queries`` matrix (a zero vector scores
    0.0), rounded to 6 places; each query keeps a running top-k, ties to
    the lower vec_id. A NULL or not-``dim``-long vector never scores. With
    ``keys`` (a (rows × dim) → (rows × tables) key function) and
    ``probes`` (n_queries × tables × keys), query j scores only rows whose
    key hits ``probes[j]`` in some table. Helpers stay nested, as in
    :func:`_gemm_pairs`."""
    qids = np.asarray(query_ids)
    dim = queries.shape[1]
    qn = np.linalg.norm(queries, axis=1)
    qn[qn == 0] = 1.0
    Qt = (queries / qn[:, None]).T  # (dim, n_queries)

    def best_k(ids, cos):
        if len(cos) > k:  # keep the k-th value's ties, then order exactly
            kth = np.partition(cos, len(cos) - k)[len(cos) - k]
            keep = cos >= kth
            ids, cos = ids[keep], cos[keep]
        o = np.lexsort((ids, -cos))[:k]
        return ids[o], cos[o]

    def score(batches):
        best = [None] * len(qids)
        for pdf in batches:
            vs = pdf["_cvec"].to_numpy()
            ok = np.fromiter((v is not None and len(v) == dim for v in vs), bool, len(vs))
            if not ok.any():
                continue
            C = np.stack(vs[ok]).astype(np.float64, copy=False)
            K = None if keys is None else keys(C)  # (rows, tables)
            cn = np.linalg.norm(C, axis=1)
            cn[cn == 0] = 1.0
            # + 0.0 turns a rounded -0.0 into 0.0
            G = np.round((C / cn[:, None]) @ Qt, 6) + 0.0  # (rows, n_queries)
            ids = pdf["vec_id"].to_numpy()[ok]
            for j in range(len(qids)):
                hit = slice(None) if K is None else (
                    K[:, :, None] == probes[j][None]).any(axis=(1, 2))
                cand = (ids[hit], G[hit, j])
                if best[j] is not None:
                    cand = tuple(map(np.concatenate, zip(best[j], cand)))
                best[j] = best_k(*cand)
        kept = [j for j, b in enumerate(best) if b is not None and len(b[0])]
        if kept:
            yield pd.DataFrame({
                "query_id": np.repeat(qids[kept], [len(best[j][0]) for j in kept]),
                "vec_id": np.concatenate([best[j][0] for j in kept]),
                "cos_sim": np.concatenate([best[j][1] for j in kept]),
            })

    return score


def _top_k(
    corpus: DataFrame, queries: DataFrame, k: int, dim: int | None = None,
    keys=None, probes=None,
) -> DataFrame:
    """Each query's k best (query_id, vec_id, cos_sim) rows from corpus
    rows (vec_id, _cvec) and query rows (query_id, _qvec). The queries are
    collected once; one whose vector is NULL or not ``dim`` long is dropped
    (``dim`` None: the queries' one length, a ValueError if they differ),
    and ``probes`` maps the query matrix to its probe keys on the driver.
    Each task emits ≤ k rows per query from :func:`_gemm_topk`; a
    ``row_number`` window picks the final k."""
    rows = queries.collect()
    if dim is None:
        lens = sorted({len(r._qvec) for r in rows if r._qvec is not None})
        if len(lens) > 1:
            raise ValueError(f"query vectors have lengths {lens}; they need one length")
        dim = lens[0] if lens else 0
    rows = [r for r in rows if r._qvec is not None and len(r._qvec) == dim]
    Q = np.array([r._qvec for r in rows], dtype=np.float64).reshape(len(rows), dim)
    scored = corpus.mapInPandas(
        _gemm_topk(k, [r.query_id for r in rows], Q, keys,
                   None if probes is None else probes(Q)),
        schema=f"query_id {queries.schema['query_id'].dataType.simpleString()}, "
        f"vec_id {corpus.schema['vec_id'].dataType.simpleString()}, cos_sim double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine: (query_id, vec_id, cos_sim), k rows/query.

    The query side is evaluated once on the driver (this call runs a job)
    and every corpus row scores against all queries in :func:`_gemm_topk`;
    :func:`_top_k` ranks. There is no ``dim`` argument: the query vectors
    set it and must all have one length (ValueError otherwise). A NULL
    query returns no rows; a NULL corpus vector, or one of another length,
    never scores; an all-zero vector scores 0.0."""
    return _top_k(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cvec")),
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
        ),
        k,
    )


def _gemm_pairs(threshold: float):
    """The one all-pairs verify kernel: a ``mapInArrow`` body mapping cell
    rows (home, same, src, ids, vecs) to (id_a, id_b, cos_sim) with id_a <
    id_b and cos_sim ≥ ``threshold``. A cell's vectors are unit-normalized
    once (a zero vector scores 0.0); those whose ``src`` is ``home`` form
    block A, scored against itself (upper triangle) when ``same`` is set
    and against each other ``src`` value's vectors, one float64 GEMM per
    block pair. Vectors of different lengths in one cell raise a
    ValueError naming them. The cells are read from the Arrow offsets and
    flat value buffers, and each input batch yields one record batch whose
    ids keep the type of ``ids``. Helpers stay nested in here: cloudpickle
    ships a closure by value but a module-level function by reference,
    which would make every cold Python worker import this package."""
    thr = float(threshold)

    def keep(G, ids_a, ids_b, out, upper=False):
        # threshold the rounded value, as the SQL oracle does: a raw-value
        # threshold is 1-ulp-fragile under another engine's summation order
        cos = np.round(G, 6)
        hit = cos >= thr
        ii, jj = np.nonzero(np.triu(hit, 1) if upper else hit)
        ia, ib = ids_a[ii], ids_b[jj]
        lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
        ok = lo != hi  # a repeated id never pairs with itself
        for part, col in zip(out, (lo[ok], hi[ok], cos[ii, jj][ok])):
            part.append(col)

    def values(lists):  # (offsets, flat values) of a list column
        return lists.offsets.to_numpy(), lists.values.to_numpy(zero_copy_only=False)

    def score(batches):
        for batch in batches:
            home, same, src, ids, vecs = (batch.column(c) for c in (
                "home", "same", "src", "ids", "vecs"))
            home, same = home.to_numpy(), same.to_numpy(zero_copy_only=False)
            (src_off, srcs), (id_off, idv) = values(src), values(ids)
            cell_off, (vec_off, flat) = vecs.offsets.to_numpy(), values(vecs.values)
            out = ([idv[:0]], [idv[:0]], [np.empty(0)])
            for c in range(batch.num_rows):
                v0, v1 = cell_off[c], cell_off[c + 1]
                lens = np.diff(vec_off[v0:v1 + 1])
                if (lens != lens[0]).any():
                    raise ValueError(f"vectors of lengths {sorted(set(lens.tolist()))} in "
                                     "one cell; all-pairs cosine needs one length")
                M = flat[vec_off[v0]:vec_off[v1]].astype(np.float64).reshape(v1 - v0, lens[0])
                norms = np.linalg.norm(M, axis=1)
                norms[norms == 0] = 1.0
                M /= norms[:, None]
                s, cid = srcs[src_off[c]:src_off[c + 1]], idv[id_off[c]:id_off[c + 1]]
                a = s == home[c]
                if not a.any():
                    continue
                A, ids_a = M[a], cid[a]
                if same[c]:
                    keep(A @ A.T, ids_a, ids_a, out, upper=True)
                for b in np.unique(s[~a]):
                    keep(A @ M[s == b].T, ids_a, cid[s == b], out)
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.concatenate(part), type=t) for part, t in
                 zip(out, (ids.type.value_type, ids.type.value_type, pa.float64()))],
                names=["id_a", "id_b", "cos_sim"])

    return score


def cosine_pairs_exact(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_blocks: int = 32,
    id_type: str = "long",
) -> DataFrame:
    """EXACT all-pairs cosine near-dup: (id_a, id_b, cos_sim) with
    id_a < id_b and cos_sim ≥ threshold, via blocked GEMM.

    Plan: hash-assign each vector to one of ``n_blocks`` blocks and route
    it to the cell (least(b, p), greatest(b, p)) of every partner block p;
    one ``groupBy`` packs each cell into ONE row (no join, no cartesian),
    and :func:`_gemm_pairs` runs one numpy matmul per cell inside
    ``mapInArrow``: a block against itself in cell (b, b), block lo
    against block hi in cell (lo, hi). Every task is a bounded
    (|block| × |block|) GEMM and holds at most two blocks; size n_blocks
    so a block is ~tens of MB. The shuffle moves each vector n_blocks
    times (the all-pairs data movement — use the LSH paths when the
    threshold prunes).

    A NULL vector or id never pairs and never moves another row's id; an
    all-zero vector scores 0.0. There is no ``dim`` argument: vectors of
    different lengths fail the job with a ValueError naming the lengths.
    """
    # vectors shuffle in their source element type (the kernel upcasts to
    # float64 exactly), and a NULL vector or id is dropped before packing:
    # collect_list would skip it but keep the other
    routed = df.filter(F.col(vec_col).isNotNull() & F.col(id_col).isNotNull()).select(
        F.col(id_col).cast(id_type).alias("_id"),
        F.col(vec_col).alias("_vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("src"),
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("p"),
    )
    cells = routed.groupBy(
        F.least("src", "p").alias("home"), F.greatest("src", "p").alias("other")
    ).agg(F.collect_list("src").alias("src"), F.collect_list("_id").alias("ids"),
          F.collect_list("_vec").alias("vecs"))
    return cells.select(
        "home", (F.col("home") == F.col("other")).alias("same"), "src", "ids", "vecs"
    ).mapInArrow(
        _gemm_pairs(threshold), schema=f"id_a {id_type}, id_b {id_type}, cos_sim double"
    )


def _arrow_keys(keys, dim: int, return_type: str):
    """An Arrow pandas UDF applying the numpy key function ``keys``
    ((rows × dim) float64 → (rows × n)) to each batch's valid vectors. A
    NULL vector, or one whose length is not ``dim``, gets a NULL result
    instead of failing the batch."""

    @F.pandas_udf(return_type)
    def _keys(vecs: pd.Series) -> pd.Series:
        vs = vecs.to_numpy()
        ok = np.fromiter((v is not None and len(v) == dim for v in vs), bool, len(vs))
        out = [None] * len(vs)
        if ok.any():
            X = np.stack(vs[ok]).astype(np.float64, copy=False)
            for i, row in zip(np.flatnonzero(ok), keys(X)):
                out[i] = row
        return pd.Series(out, dtype=object)

    return _keys


def _hyperplane_keys(dim: int, n_planes: int, n_tables: int, seed: int):
    """(rows × dim) → (rows × n_tables) sign-LSH bucket ids; see
    :func:`hyperplane_buckets_arrow`."""
    planes = np.concatenate([
        np.random.default_rng(seed + 7919 * t).standard_normal((n_planes, dim))
        for t in range(n_tables)
    ])  # (T*P, dim)
    weights = np.ascontiguousarray(planes.T)  # (dim, T*P)
    bit_vals = (1 << np.arange(n_planes, dtype=np.int64))  # per-table bit weights

    def buckets(X):
        bits = ((X @ weights) >= 0).reshape(len(X), n_tables, n_planes)
        return (bits * bit_vals).sum(axis=2)

    return buckets


def hyperplane_buckets_arrow(
    vec_col: Column, dim: int, n_planes: int, n_tables: int, seed: int = 42
) -> Column:
    """All tables' sign-LSH bucket ids in ONE Arrow-batched matmul:
    array<long> of length n_tables — the one bucket kernel of
    :func:`lsh_bucketed_topk` (which runs it inside :func:`_gemm_topk`)
    and :func:`embedding_near_dup_pairs`.

    Table t's ``n_planes`` hyperplanes are drawn from
    ``np.random.default_rng(seed + 7919*t)`` on the driver (table 0 uses
    ``seed`` itself), so buckets are deterministic across runs and
    workers. A vector's bucket in table t packs the signs of its dot
    products with that table's planes into an int: bit p is set when the
    dot with plane p is ≥ 0. Every (table, plane) dot product comes from
    one (batch × dim) @ (dim × T·P) numpy matmul. A dot within float error
    of zero may take either sign (either bucket is equally valid for LSH
    recall). A NULL vector, or one whose length is not ``dim``, gets a
    NULL result instead of failing the batch: it is in no bucket."""
    keys = _hyperplane_keys(dim, n_planes, n_tables, seed)
    return _arrow_keys(keys, dim, "array<long>")(vec_col)


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    n_planes: int = 8,
    n_probe_bits: int = 1,
    n_tables: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only corpus rows sharing one of the
    query's LSH buckets — multi-probe, optionally multi-table.

    The candidate set shrinks ~2^-p per plane. ``n_probe_bits=1`` (standard
    multi-probe) also probes every bucket one plane-flip away: a neighbor
    at per-plane agreement prob q is found with P(≥n_planes−1 planes agree)
    instead of P(all agree) — e.g. q=0.75, 8 planes: 0.10 → 0.37.
    ``n_tables=L`` repeats that over L independent plane sets: per-neighbor
    miss drops to (1−p)^L.

    The query side (vectors and L·(1 + n_planes·n_probe_bits) probe
    buckets) is evaluated once on the driver. Each corpus row is bucketed
    where it is read and scored in :func:`_gemm_topk` for the queries whose
    probe set it hits in some table (once, however many tables hit); the
    corpus is never joined or shuffled. A NULL or ragged vector (length ≠
    ``dim``) is in no bucket and never scores; such a query returns no
    rows; an all-zero vector scores 0.0."""
    if n_probe_bits not in (0, 1):
        raise ValueError("n_probe_bits supports 0 (single) or 1 (multi-probe)")
    if n_tables < 1:
        raise ValueError("n_tables must be >= 1")

    buckets = _hyperplane_keys(dim, n_planes, n_tables, seed)
    # per table: the query's bucket and its one-bit flips
    flips = np.array([0] + [1 << p for p in range(n_planes)] * n_probe_bits)
    return _top_k(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cvec")),
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
        ),
        k, dim, keys=buckets, probes=lambda Q: buckets(Q)[:, :, None] ^ flips,
    )


def train_ivf_centroids(
    corpus: DataFrame,
    dim: int,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    sample_size: int = 10_000,
    n_iters: int = 10,
    seed: int = 42,
    sample_fraction: float | None = None,
) -> np.ndarray:
    """Coarse quantizer for IVF: k-means on a driver-side sample, in ONE
    scan with no count() pre-pass. The centroids are a tiny (n_centroids
    × dim) model shipped inside :func:`_centroid_ranks`; only the
    sample reaches the driver. NULL and ragged vectors (length ≠ ``dim``)
    are left out of the sample.

    With ``sample_fraction`` set the sample is LAYOUT-INDEPENDENT:
    membership is a hash shard on ``xxhash64(seed, vec)`` (a pure function
    of the vector values; a seeded ``sample()`` reseeds per partition) and
    the 4×sample_size cap keeps the rows with the SMALLEST hash via
    TakeOrderedAndProject (per-partition top-N + driver merge, no sort
    shuffle). Without it a plain limit() prefix is taken: it stops the
    scan early and suits k-means seeding unless determinism across layouts
    matters."""
    sel = corpus.select(vec_col)
    if sample_fraction is not None:
        h = F.xxhash64(F.lit(int(seed)), F.col(vec_col))
        sel = sel.withColumn("_h", h)
        f = float(sample_fraction)
        if f < 1.0:
            m = 1 << 30
            sel = sel.filter(F.pmod(F.col("_h"), F.lit(m)) < int(f * m))
        sample = (
            sel.orderBy("_h").limit(sample_size * 4).drop("_h").toPandas()[vec_col]
        )
    else:
        sample = sel.limit(sample_size * 4).toPandas()[vec_col]
    # NULL and ragged vectors cannot be clustered; they are left out of the
    # sample (and are in no cluster: _gemm_topk never scores them)
    x = np.array([
        np.asarray(v, dtype=np.float64)
        for v in sample
        if v is not None and len(v) == dim
    ])
    # canonical sample ORDER (lexicographic on values): collected row order
    # follows partition layout, and k-means seeding depends on it, so the
    # sort makes the centroids a pure function of the sampled set
    if len(x):
        x = x[np.lexsort(x.T[::-1])]
    if len(x) > sample_size:
        sub = np.random.default_rng(seed + 1).choice(
            len(x), size=sample_size, replace=False
        )
        x = x[np.sort(sub)]
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(n_iters):
        d = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(0)
    return cents


def _centroid_ranks(centroids: np.ndarray):
    """ranks(X, n): (rows × dim) → (rows × n) int32 nearest centroid ids,
    nearest first: the one IVF assignment kernel.

    Every (row, centroid) distance comes from one BLAS matmul:
    argmin_c ||x−c||² = argmin_c (||c||² − 2·x·c), since ||x||² is
    constant per row. The ranking is a stable argsort, so ties go to the
    lower centroid id; a vector equidistant to two centroids up to float
    error may rank either first."""
    C = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64))
    c_sq = (C * C).sum(axis=1)

    def ranks(X, n):
        d = c_sq[None, :] - 2.0 * (X @ C.T)
        return np.argsort(d, axis=1, kind="stable")[:, :n].astype(np.int32)

    return ranks


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 1,
    seed: int = 42,
    sample_fraction: float | None = None,
) -> DataFrame:
    """IVF approximate top-k: score only corpus rows in the query's
    ``n_probe`` nearest coarse clusters. Both sides are assigned by
    :func:`_centroid_ranks` (corpus n=1, queries n=n_probe). The
    query side (vectors and probe lists) is evaluated once on the driver;
    each corpus row is assigned where it is read and scored in
    :func:`_gemm_topk` only for the queries that probe its cluster, so the
    corpus is never joined or shuffled. A NULL or ragged vector (length ≠
    ``dim``) is in no cluster and never scores; such a query returns no
    rows; an all-zero vector scores 0.0.

    ``sample_fraction`` flows to :func:`train_ivf_centroids`; set it for
    every oracle-gated or reproducibility-sensitive run, so the centroids
    cannot change on a repartition."""
    cents = train_ivf_centroids(
        corpus, dim, n_centroids=n_centroids, vec_col=vec_col, seed=seed,
        sample_fraction=sample_fraction,
    )
    ranks = _centroid_ranks(cents)
    return _top_k(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cvec")),
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
        ),
        # one "table": a row's cluster against the query's n_probe nearest
        k, dim, keys=lambda X: ranks(X, 1),
        probes=lambda Q: ranks(Q, n_probe)[:, None, :],
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 1,
    n_probe_bits: int = 0,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cos_sim ≥ threshold)
    via MULTI-TABLE sign-LSH: candidates collide in ≥1 of ``n_tables``
    independent ``n_planes``-plane tables, then exact-cosine verify.

    Recall math (choose the operating point per target threshold): a pair
    at angle θ agrees on one random hyperplane with prob q = 1−θ/π,
    collides in one k-plane table with p = q^k, and survives L tables with
    recall = 1 − (1−p)^L. ``n_probe_bits=1`` additionally matches pairs
    whose signatures differ by ≤1 bit within a table (one side's buckets
    expand to the k one-bit flips), lifting the per-table collision prob
    to p = q^k + k·q^(k−1)(1−q) — fewer tables for equal recall. Examples:
      cos ≥ 0.95 (θ≤18°): k=8 → p≈0.43; L=8 → recall ≈ 0.99
      cos ≥ 0.5  (θ≤60°): k=6 → p≈0.088; L=24 → recall ≈ 0.89
      cos ≥ 0.4 (θ≤66.4°): k=8+probe → p≈0.14; L=24 → recall ≈ 0.975
    A single table has recall = p — 9% at cos 0.5.

    Verification is BUCKET-LOCAL: each vector is routed to the cell of its
    (table, bucket) and, with probing, to the cell of each one-bit flip
    below its bucket, so the smaller bucket of a pair owns it; one
    ``groupBy`` packs each cell into one row (no join). In
    :func:`_gemm_pairs` (``mapInArrow``) a cell's own bucket is verified
    against itself and against each flip bucket by ONE float64 GEMM per
    bucket pair, and only pairs with cos ≥ threshold leave the task,
    deduplicated across tables by a tiny groupBy. No candidate-pair
    rows exist (building them measured 114M pairs / ~120 GB of
    attached vectors at 20k docs, 157 s, vs ~7 s bucket-local). Shuffle
    volume is each vector × n_tables (× at most 1 + n_planes cells with
    probing). A NULL or ragged vector (length ≠ ``dim``) is in no bucket
    and never pairs, nor does a NULL id; an all-zero vector scores 0.0. Skew note: one
    pathological bucket (a near-constant direction) is one cell, one row
    and one task; identical-vector floods should be collapsed upstream
    like the text miners do."""
    if n_probe_bits not in (0, 1):
        raise ValueError("n_probe_bits supports 0 (single) or 1 (multi-probe)")
    id_type = df.schema[id_col].dataType.simpleString()
    # _vec keeps the source element type: the GEMM kernel upcasts to
    # float64 exactly, so a float32 corpus shuffles half the bytes
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        hyperplane_buckets_arrow(F.col(vec_col), dim, n_planes, n_tables, seed)
        .alias("_buckets"),
    )
    # posexplode_outer plus an explicit filter, not posexplode: the inner
    # generator makes the optimizer infer `size(_buckets) > 0` below the
    # projection, which runs the bucket UDF a second time. A NULL id is
    # dropped too: collect_list would skip it but keep its vector
    exploded = base.select(
        "_id", "_vec", F.posexplode_outer("_buckets").alias("tbl", "src")
    ).filter(F.col("src").isNotNull() & F.col("_id").isNotNull())
    # A bucket pairs with itself and (probing) each one-bit flip; the
    # smaller bucket owns the pair, so a vector goes to its own cell and to
    # the cell of each flip below it (a set bit cleared). Flips are NULL-
    # padded and dropped after the explode: array_compact is a lambda.
    src = F.col("src")
    cells = [src] + [F.when(src.bitwiseAND(1 << p) != 0, src.bitwiseXOR(1 << p))
                     for p in range(n_planes * n_probe_bits)]
    routed = exploded.select(
        "tbl", "src", "_id", "_vec", F.explode(F.array(*cells)).alias("home")
    ).filter(F.col("home").isNotNull())
    survivors = routed.groupBy("tbl", "home").agg(
        F.collect_list("src").alias("src"), F.collect_list("_id").alias("ids"),
        F.collect_list("_vec").alias("vecs"),
    ).select("home", F.lit(True).alias("same"), "src", "ids", "vecs").mapInArrow(
        _gemm_pairs(threshold), schema=f"id_a {id_type}, id_b {id_type}, cos_sim double"
    )
    # a pair surviving in several (table, cell) rows is emitted once per
    # row; max() keeps one value even if BLAS blocking ever differed
    return survivors.groupBy("id_a", "id_b").agg(F.max("cos_sim").alias("cos_sim"))
