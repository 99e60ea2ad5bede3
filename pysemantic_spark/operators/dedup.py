"""Deduplication operators for training-data pipelines.

Four families, all shuffle-conscious:

- exact:        hash-groupBy on the dedup key (or md5 fingerprint of text).
- ngram-jaccard: candidate pairs via a shared-shingle self-join (documents
                with no common shingle never meet — no crossJoin), exact
                Jaccard on the candidates.
- MinHash+LSH:  shingle → K minhashes (xxhash64 with per-hash seed mix) →
                band buckets → pairs within buckets → exact-Jaccard verify.
- SimHash:      bit-vote fingerprint of one or two 60-bit md5 token-hash
                words; near-dup = small Hamming distance, candidates via one
                pigeonhole chunk join (≤k-bit chunk flips against exact
                chunk values; k = 0 is plain banding), exact popcount filter.

Both Jaccard miners share one candidate verify (``_verify_jaccard``) and
one threshold rule: filter on the unrounded jaccard, round only the output.
Every text miner makes one Python pass per call: one Arrow text kernel
(``_text_kernel``) tokenizes each doc, fingerprints its token stream for
the identical-doc collapse, and emits the miner's array (shingles, or the
SimHash words).

Scale notes (100 TB / 10^9 docs):
- The shingle self-join shuffles on the shingle; ultra-common shingles are
  skew bombs → `max_shingle_freq` drops the top of the DF (standard
  "stop-shingle" trick, same as dropping stopwords in an inverted index).
- MinHash signatures are 8*K bytes/doc — the band join shuffles signatures,
  not text. Exact-verify joins text back only for candidate pairs (a tiny
  fraction), so full text crosses the wire O(candidates), not O(pairs).
"""

from __future__ import annotations

import hashlib
import logging
import operator
import re
import warnings
from functools import reduce
from itertools import combinations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pysemantic_spark.functions.text import fingerprint, tokens
from pysemantic_spark.operators.cache import materialize as _materialize  # noqa: F401
from pysemantic_spark.operators.cache import release_intermediates  # noqa: F401

_LOG = logging.getLogger(__name__)

# ---------------------------------------------------------------------------
# Arrow text kernel: tokens / shingles + token-stream fingerprint.
#
# One Arrow-batched Python pass per batch instead of JVM higher-order
# functions, which do NOT whole-stage-codegen (every element goes through
# the interpreted evaluator). Measured at sf1.0 (50k docs, 2.6M shingles,
# 32 cores): 3.1 s for a split + sequence + transform(concat_ws(slice)) +
# array_distinct shingle projection vs 0.7 s per Arrow batch (guide §4.2).
# The kernel's contract is Spark's own string semantics, so its token
# arrays equal :func:`pysemantic_spark.functions.text.tokens` and its
# fingerprint equals :func:`token_stream_key`, byte for byte:
#   - trim strips SPACES (0x20) only (not Java String.trim's ≤0x20 set)
#   - Java regex \s == Python re.ASCII \s ([ \t\n\x0B\f\r])
#   - split keeps leading/trailing empty tokens (Pattern.split, limit -1),
#     so " \t " is ["", ""]; text that trims to "" is []
#   - md5 of the UTF-8 bytes == Spark md5(cast(string as binary))
#   - n-grams are distinct in first-occurrence order (array_distinct)
#   - NULL text: tokens NULL, 1-grams NULL, n ≥ 2-grams [], SimHash words
#     [], and the fingerprint is md5("") (concat_ws skips a NULL array)
# (tests: test_arrow_shingle_tfp_matches_jvm + the miners' oracles).
# ---------------------------------------------------------------------------

_TEXT_KERNELS: dict[tuple[int, int], object] = {}


def _text_kernel(n: int, n_words: int = 0):
    """pandas_udf: text → struct(arr, tfp: string) in ONE Arrow-batched
    pass; ``tfp`` is the token-stream md5. ``arr`` is an array<string>:
    the token array for ``n = 0``, the distinct word n-grams for ``n ≥ 1``.
    With ``n_words`` 1 or 2 (SimHash calls it with ``n = 0``) it is
    instead the doc's ``n_words`` SimHash words (array<long>, empty when
    the doc has no token): word w's token hash is the int of md5 hex
    digits [15w, 15w+15) (hashlib md5 of the UTF-8 bytes, identical to
    Spark's and DuckDB's), and bit i is set iff strictly more tokens have
    it set than clear, one (n_tokens × 60) numpy popcount per word. So the
    token stream never leaves its scan task (no exploded-token shuffle
    aggregation; measured ~4× on the sf1.0 miners), and a SimHash call
    makes this one Python pass.

    The helpers stay nested: cloudpickle ships a closure by value but a
    module-level function by reference, which would make every cold
    Python worker import this package. (Created lazily — pandas_udf DDL
    return types need an active session.)"""
    if (n, n_words) not in _TEXT_KERNELS:
        import numpy as np

        ws = re.compile(r"\s+", re.ASCII)
        shifts = np.arange(_WORD_BITS, dtype=np.uint64)

        def words(toks: list[str]) -> list[int]:
            hexes = [hashlib.md5(t.encode("utf-8")).hexdigest() for t in toks]
            out = []
            for w in range(n_words if hexes else 0):
                vals = np.array(
                    [int(h[15 * w : 15 * w + 15], 16) for h in hexes], dtype=np.uint64
                )
                ones = ((vals[:, None] >> shifts) & np.uint64(1)).sum(
                    axis=0, dtype=np.int64
                )
                # vote > 0  ⟺  ones*2 > n (votes are ones - (n - ones))
                bits = (2 * ones > len(hexes)).astype(np.uint64)
                out.append(int((bits << shifts).sum()))
            return out

        def grams(toks: list[str], joined: str) -> list[str]:
            # n-grams as substrings of the space-joined stream (one slice
            # per gram, no per-gram join)
            if n == 0:
                return toks
            if n == 1:
                return list(dict.fromkeys(toks))
            offs, pos = [], 0
            for tk in toks:
                offs.append(pos)
                pos += len(tk) + 1
            return list(
                dict.fromkeys(
                    joined[offs[i] : offs[i + n - 1] + len(toks[i + n - 1])]
                    for i in range(len(toks) - n + 1)
                )
            )

        @F.pandas_udf(f"arr array<{'long' if n_words else 'string'}>, tfp string")
        def _udf(texts: pd.Series) -> pd.DataFrame:
            arrs, fps = [], []
            for s in texts:
                if s is None:
                    arrs.append(None if n <= 1 and not n_words else [])
                    fps.append(hashlib.md5(b"").hexdigest())
                    continue
                st = s.strip(" ")
                toks = ws.split(st) if st else []
                joined = " ".join(toks)
                arr = grams(toks, joined)
                arrs.append(words(arr) if n_words else arr)
                fps.append(hashlib.md5(joined.encode("utf-8")).hexdigest())
            return pd.DataFrame({"arr": arrs, "tfp": fps})

        _TEXT_KERNELS[n, n_words] = _udf
    return _TEXT_KERNELS[n, n_words]


def _shingles_arrow(text_col: str, n: int) -> "F.Column":
    """Distinct word n-gram shingles (n ≥ 1) of the whitespace-token stream."""
    return _text_kernel(n)(F.col(text_col))["arr"]


def exact_duplicates(df: DataFrame, cols: list[str]) -> DataFrame:
    """Groups occurring more than once. Returns cols + dup_count.
    One hash-shuffle on the key; partial agg map-side."""
    return (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def split_by_dup_keys(
    df: DataFrame, dup_keys: DataFrame, cols: list[str]
) -> tuple[DataFrame, DataFrame]:
    """NULL-safe (dup_part, uniq_part) split of ``df`` against a dup-key
    frame. Plain ``on=cols`` equi-joins never match NULL keys, so rows
    whose key columns are NULL would ALL fall into the anti branch and
    survive dedup — silently diverging from window / GROUP BY semantics,
    which group NULL keys together. ``eqNullSafe`` (<=>) keeps the joins
    hash-plannable (Catalyst extracts null-safe equality as an equi-join
    key via coalesce wrapping) while matching NULL = NULL."""
    dk = dup_keys.select(*[F.col(c).alias(f"__dk_{c}") for c in cols])
    cond = None
    for c in cols:
        eq = F.col(c).eqNullSafe(F.col(f"__dk_{c}"))
        cond = eq if cond is None else cond & eq
    return df.join(dk, cond, "left_semi"), df.join(dk, cond, "left_anti")


# distinct keys / rows at or above which keep-first takes the dup-split
_SPLIT_THRESHOLD = 0.7


def keep_first_strategy(df: DataFrame, cols: list[str]) -> str:
    """Pick the keep-first physical plan from one cheap agg: count + an
    approx_count_distinct sketch of the key struct (both map-side
    combinable — a single scan with a tiny shuffle). distinct_keys/rows
    near 1 means almost every row is unique → the dup-split avoids
    shuffling them through the window exchange; near 0 means most rows
    ARE duplicated → the split degenerates (empty anti branch) and pays a
    groupBy + two joins ON TOP of the same full window, measured 10×
    slower than the plain window on an all-duplicate table. The split
    wins from ``_SPLIT_THRESHOLD`` up."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct(F.struct(*cols)).alias("k"),
    ).first()
    n, k = row["n"], row["k"]
    return "split" if n == 0 or k / n >= _SPLIT_THRESHOLD else "window"


# Slack subtracted inside every ceil()-based PPJoin prune bound before
# rounding: double arithmetic can land an ulp above a true integer
# (0.2/1.2*18 = 3.0000000000000004), and ceil of that over-tightens an
# "exact" filter into dropping threshold-boundary pairs. 1e-7 is orders of
# magnitude above accumulated double error at any realistic shingle-set
# size and orders below 1, so it can only relax a bound that float error
# had spuriously tightened — extra candidates are removed by the exact
# verify stage.
_EXACT_EPS = 1e-7

def exact_dedup_keep_first(
    df: DataFrame,
    cols: list[str],
    order_by: list[str],
    strategy: str = "auto",
) -> DataFrame:
    """Keep the first row per key under a deterministic order.

    Three physical plans; ``strategy="auto"`` picks between the first two
    adaptively from the measured distinct-key fraction
    (:func:`keep_first_strategy`):

    - ``"split"`` — semi/anti dup-split (same pattern as the runner's
      clean path, runner.py execute): only keys that actually occur more
      than once enter the window shuffle; unique-key rows (the
      overwhelming majority of any real table) pass through a NULL-safe
      anti-join untouched. At 10^12 rows with <1% duplicate keys a naive
      full-table row_number() would shuffle ~100× more volume — full
      text bodies included — through the window exchange.
    - ``"window"`` — plain row_number() over the whole table: right when
      most keys ARE duplicated, where the split's anti branch is empty
      and its groupBy + joins are pure overhead on top of the same
      window.
    - ``"agg_min"`` (opt-in, round-6) — ``min_by(struct(all columns),
      struct(order_by))`` per key: a plain hash aggregation with FULL
      map-side combine and no sort, so a mega-key (one conversation
      holding 10% of rows — the north_rule skew case) reduces to one
      partial row per map task instead of one reducer sorting 10% of the
      table; measured ~5× faster than the window plan on exactly that
      shape (bench.py skew extras). Equals the window plan whenever
      ``order_by`` is a NON-NULL total order within each key (ties and
      NULL order keys are nondeterministic in BOTH plans; min_by
      additionally ignores rows whose whole order struct is NULL-fielded
      differently than a sort would — don't use it with nullable order
      columns). Column order is preserved.

    NULL keys group together in all plans (window partitioning and
    GROUP BY treat NULLs as one group; the split uses
    :func:`split_by_dup_keys`'s null-safe joins), so duplicate NULL-key
    rows dedup to one survivor either way."""
    if strategy == "auto":
        strategy = keep_first_strategy(df, cols)
    if strategy not in ("split", "window", "agg_min"):
        raise ValueError(f"unknown keep-first strategy {strategy!r}")
    if strategy == "agg_min":
        payload = F.struct(*[F.col(c) for c in df.columns])
        ordk = F.struct(*[F.col(c) for c in order_by])
        return (
            df.groupBy(*cols)
            .agg(F.min_by(payload, ordk).alias("_row"))
            .select("_row.*")
        )
    w = Window.partitionBy(*cols).orderBy(*[F.col(c) for c in order_by])
    if strategy == "window":
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    dup_keys = (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") > 1)
        .select(*cols)
    )
    dup_part, uniq_part = split_by_dup_keys(df, dup_keys, cols)
    dup_kept = (
        dup_part.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return uniq_part.unionByName(dup_kept)


def text_fingerprint_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact near-whitespace dedup: md5(normalized text) groups > 1.
    Returns fingerprint, dup_count, doc_ids (sorted array)."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.sort_array(F.collect_list(id_col)).alias("ids"),
        )
        .filter(F.col("dup_count") > 1)
    )


def ngram_prefix_index(
    inv: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """AllPairs/PPJoin prefix index (Bayardo et al. 2007, exact-recall).

    Under ANY global total order on shingles, two sets with
    Jaccard ≥ t MUST share at least one shingle among each set's first
    ``|x| − ⌈t·|x|⌉ + 1`` shingles — so only those prefix shingles need
    to enter the inverted index for candidate generation. We order by
    ascending document frequency (rarest first, ties by shingle string):
    correct for any order, and frequency-ascending pushes the ubiquitous
    shingles OUT of every prefix, which is what stops candidate growth
    at low thresholds — the skewiest join keys simply never appear.

    ``inv`` = (_id, shingle) exploded rows; ``sizes`` = (_id, _size) FULL
    distinct-shingle counts (prefix length must use the full set size
    even if the caller pre-filtered ``inv``). Returns each doc's prefix
    as (_id, shingle, _rn, _size) — rank and full size ride along so the
    candidate join can apply the PPJoin positional filter."""
    freq = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("_f"))
    ranked = (
        inv.join(freq, "shingle")
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("_id").orderBy("_f", "shingle")
            ),
        )
    )
    # _EXACT_EPS inside the ceil: t·|x| computed in doubles can land an
    # ulp ABOVE its true integer value (0.2*15 = 3.0000000000000004), which
    # would shorten the prefix below the exact-recall bound and silently
    # drop boundary pairs. Subtracting the epsilon can only lengthen the
    # prefix (looser, still exact); it is far above double error (~1e-10
    # at realistic set sizes) and far below any legitimate non-integer gap
    # the filter should respect.
    plen = (
        F.col("_size")
        - F.ceil(F.lit(float(threshold)) * F.col("_size") - F.lit(_EXACT_EPS))
        + 1
    )
    return (
        ranked.join(sizes, "_id")
        .filter(F.col("_rn") <= plen)
        .select("_id", "shingle", "_rn", "_size")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.7,
    max_shingle_freq: int | None = None,
    prefix_filter: bool | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index self-join.

    Returns (id_a, id_b, jaccard) with id_a < id_b. A pair is kept when its
    unrounded jaccard is ≥ ``threshold``; only the output column is
    rounded, to 6 places (:func:`_jaccard_at_least`).

    Two exact plans, chosen by the threshold (``prefix_filter=None``,
    the default, picks automatically; True/False force):

    - **Prefix path** (selective thresholds, auto when t ≥ 0.35 —
      AllPairs/PPJoin): only each doc's first ⌈(1−t)·|g|⌉+1 shingles in
      global rarity order enter the index (:func:`ngram_prefix_index`,
      exact-recall by construction) → candidate pairs → the two-stage
      verify of :func:`_verify_jaccard` (hashed overlap bound, then the
      exact ``array_intersect`` of the shingle arrays). The
      most frequent shingles — the quadratic join keys — never enter
      any prefix, so candidates stop scaling with the common-shingle
      tail. Per-candidate verify costs O(|g|), which is why this path
      needs a selective threshold: few candidates, each verified once.
    - **Counting path** (low thresholds): full-index self-join counts
      shared shingles per pair in one shuffle aggregation (no per-pair
      array work), then Jaccard from the counts. At t ≈ 0.1 the prefix
      keeps ~90% of the index AND candidates are plentiful — measured
      3× slower than counting at sf0.1 — so counting wins below the
      crossover; its skew guard is the ``max_shingle_freq`` stop-cap
      (documented LOSSY: pairs whose every common shingle is capped are
      missed; the prefix path needs no cap to be exact).

    No crossJoin in either plan. Identical token streams mine as one
    representative (:func:`_collapse_and_mine`); because of that, identical
    docs whose every common shingle exceeds ``max_shingle_freq`` still pair,
    at jaccard 1.0."""
    pairs, clones = _collapse_and_mine(
        df, id_col, _text_kernel(n)(F.col(text_col)), "_sh",
        lambda sh: _ngram_pairs_on_shingles(
            sh, threshold, max_shingle_freq, prefix_filter
        ),
    )
    return _expand_pairs_multi(pairs, clones, "jaccard", 1.0)


def _ngram_pairs_on_shingles(
    sh: DataFrame,
    threshold: float,
    max_shingle_freq: int | None = None,
    prefix_filter: bool | None = None,
) -> DataFrame:
    """The two exact mining plans of :func:`ngram_jaccard_pairs`, over a
    prepared (materialized) ``(_id, _sh, _size)`` shingle frame."""
    if prefix_filter is None:
        prefix_filter = threshold >= 0.35
    sizes = sh.select("_id", "_size")
    inv = sh.select("_id", F.explode("_sh").alias("shingle"))
    if max_shingle_freq is not None:
        freq = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("_f"))
        inv = inv.join(
            F.broadcast(freq.filter(F.col("_f") > max_shingle_freq).select("shingle")),
            "shingle",
            "left_anti",
        )
    if prefix_filter:
        # materialized: the self-join references the index TWICE — without
        # persist the whole index construction (frequency agg + rarity
        # row_number window) is computed once per side (round-7 plan audit:
        # two full Window+SortMergeJoin subtrees in the before-plan)
        #
        # The self-join key is xxhash64(shingle), not the shingle string
        # (round 7): the join compares/shuffles 8-byte longs instead of
        # ~20-byte strings. A hash collision can only ADD a candidate pair,
        # and every candidate is exact-verified below, so the output set is
        # unchanged.
        pref = _materialize(
            ngram_prefix_index(inv, sizes, threshold).select(
                "_id", F.xxhash64("shingle").alias("_shk"), "_rn", "_size"
            )
        )
        a, b = pref.alias("a"), pref.alias("b")
        t = F.lit(float(threshold))
        # PPJoin pruning at candidate generation, both EXACT for J ≥ t:
        # length filter — J ≥ t ⟹ t·|x| ≤ |y| ≤ |x|/t; positional
        # filter — at the first common prefix shingle (positions i, j in
        # rarity order) every one of the α required common shingles ranks
        # no earlier in either doc, so 1 + min(|x|−i, |y|−j) ≥
        # α = ⌈t/(1+t)·(|x|+|y|)⌉ must hold there; a qualifying pair
        # always survives at that occurrence, so keeping pairs with ≥1
        # surviving occurrence loses nothing.
        # all three prune bounds subtract _EXACT_EPS inside the ceil: the
        # float product can land an ulp above its true integer value
        # (measured: 0.2/1.2·18 = 3.0000000000000004 → ceil 4, pruning a
        # true boundary pair with overlap 3 and jaccard exactly 0.2); the
        # epsilon only ever LOOSENS pruning, and the exact array_intersect
        # verify below removes any extra candidates it admits.
        alpha = F.ceil(
            t / (t + F.lit(1.0)) * (F.col("a._size") + F.col("b._size"))
            - F.lit(_EXACT_EPS)
        )
        cand = (
            a.join(b, on="_shk")
            .filter(F.col("a._id") < F.col("b._id"))
            .filter(
                (
                    F.col("b._size")
                    >= F.ceil(t * F.col("a._size") - F.lit(_EXACT_EPS))
                )
                & (
                    F.col("a._size")
                    >= F.ceil(t * F.col("b._size") - F.lit(_EXACT_EPS))
                )
            )
            .filter(
                F.lit(1)
                + F.least(
                    F.col("a._size") - F.col("a._rn"),
                    F.col("b._size") - F.col("b._rn"),
                )
                >= alpha
            )
            .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        )
        return _verify_jaccard(cand, sh, threshold)
    a, b = inv.alias("a"), inv.alias("b")
    pairs = (
        a.join(b, on="shingle")
        .filter(F.col("a._id") < F.col("b._id"))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _jaccard_at_least(
        pairs.join(sizes.withColumnsRenamed({"_id": "id_a", "_size": "size_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"_id": "id_b", "_size": "size_b"}), "id_b"),
        threshold,
    )


def _verify_jaccard(cand: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """The one candidate verify of the Jaccard miners: (id_a, id_b)
    candidate pairs, repeats allowed, against the miner's ``(_id, _sh,
    _size)`` shingle frame → (id_a, id_b, jaccard) of the pairs at or
    above ``threshold`` (:func:`_jaccard_at_least`).

    Two stages (round 7). The exact per-candidate string
    ``array_intersect`` was the measured wall (~15 s of a 21 s prefix-path
    query at sf1.0: 17M candidates × a hash-set build over ~53 strings
    each). Stage 1 is a LOOSENED EXACT pre-filter on 64-bit hashed
    shingle arrays (the AllPairs/PPJoin overlap bound, Bayardo et al.
    2007: J ≥ t ⟺ overlap ≥ t/(1+t)·(|x|+|y|)): longs intersect ~4×
    cheaper than strings and halve the attach-join payload. Hash
    collisions distort the hashed intersection in two ways, both handled:
    a cross-doc collision can only INFLATE it (extra survivors, removed by
    stage 2); two TRUE common shingles colliding can DEFLATE it, but only
    by as many slots as collide within a doc's own array, which is
    exactly ``_size − size(array_distinct(hashed))`` per doc, so adding
    both docs' collision counts restores a provable upper bound on the
    true overlap and a qualifying pair always passes. The candidate
    stream is not distinct()ed first (one fewer full exchange); the
    survivors are. Stage 2 is the exact string verify over them."""
    t = F.lit(float(threshold))
    # not materialized: a cache that both join sides read was computed twice
    # whenever their query stages ran at once, and hashing each side's
    # shingles measured no slower than persisting them (bench_extra.py, sf0.1)
    hsets = sh.select(
        "_id", "_size", F.transform("_sh", lambda s: F.xxhash64(s)).alias("_shh")
    ).withColumn("_hdup", F.col("_size") - F.size(F.array_distinct("_shh")))
    # the alpha ceil subtracts _EXACT_EPS for the reason the prefix path's
    # prune bounds do: it only ever loosens stage 1
    alpha = F.ceil(
        t / (t + F.lit(1.0)) * (F.col("size_a") + F.col("size_b"))
        - F.lit(_EXACT_EPS)
    )
    survivors = (
        cand.join(hsets.toDF("id_a", "size_a", "hh_a", "dup_a"), "id_a")
        .join(hsets.toDF("id_b", "size_b", "hh_b", "dup_b"), "id_b")
        .filter(
            F.size(F.array_intersect("hh_a", "hh_b"))
            + F.col("dup_a")
            + F.col("dup_b")
            >= alpha
        )
        .select("id_a", "id_b")
        .distinct()
    )
    exact = sh.select("_id", "_sh", "_size")
    return _jaccard_at_least(
        survivors.join(exact.toDF("id_a", "sh_a", "size_a"), "id_a")
        .join(exact.toDF("id_b", "sh_b", "size_b"), "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b"))),
        threshold,
    )


def _jaccard_at_least(pairs: DataFrame, threshold: float) -> DataFrame:
    """The one Jaccard threshold rule of the text miners: over (id_a, id_b,
    inter, size_a, size_b) rows, keep the pairs whose UNROUNDED jaccard
    inter / (size_a + size_b − inter) is ≥ ``threshold``, and round only
    the output column to 6 places. Every Jaccard oracle filters the same
    way."""
    j = F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter"))
    return pairs.filter(j >= threshold).select(
        "id_a", "id_b", F.round(j, 6).alias("jaccard")
    )


def token_stream_key(text_col: str) -> "F.Column":
    """md5 of the space-joined whitespace-token stream. Tokens contain no
    whitespace (they're split on it), so the joined string — and the key —
    is an INJECTIVE function of the token sequence: equal keys ⟺ equal
    token streams ⟺ equal shingle sets, minhash signatures, AND simhash
    fingerprints. NOT :func:`fingerprint` (that lowercases; minhash/
    simhash are case-sensitive)."""
    return F.md5(F.concat_ws(" ", tokens(text_col)))


# clone-map rows below this measured size broadcast in the expansion
# joins: ~16 MB serialized at the cap for LONG ids (two 8-byte values per
# row), far under executor memory, and the alternative is 4-6
# tiny-but-scheduled shuffle stages per miner call. NOTE the estimate
# assumes fixed-width ids: with long STRING doc ids the map can be an
# order of magnitude larger (row count is the cap, not bytes) — still
# bounded (~100-byte ids ≈ 200 MB worst case), but size the cap down if
# ids are fat strings and executors are small (round-6 ADVICE).
_BROADCAST_MEMBERS = 1_000_000


def _fused_collapse(
    df: DataFrame, id_col: str, kernel: "F.Column", arr_col: str
) -> tuple[DataFrame, DataFrame, bool, bool]:
    """Collapse-guard bookkeeping FUSED into the miner's own text scan:
    ``kernel`` is a :func:`_text_kernel` struct column over the text, so
    one projection yields the miner's array (shingles, or SimHash words,
    landed in ``arr_col``) AND the token-stream fingerprint. Text is
    scanned once, by the miner's only Python pass, and the guard's sizing
    action doubles as the warm-up of the array cache the mining plan
    reads anyway. The clone-eligibility predicate (``size(arr) > 0``)
    later reads the cached ``_size``.

    Returns (frame, groups, clones?, broadcastable?): ``frame`` = cached
    (_id, arr_col, _tfp, _size) for every doc; ``groups`` = cached
    (_tfp, _rep, _gs); the flags come from the single sizing action
    (broadcastable? = measured clone-member count under the cap)."""
    # the struct is selected once so the UDF runs once per row
    full = _materialize(
        df.select(F.col(id_col).alias("_id"), kernel.alias("_st"))
        .select(
            "_id",
            F.col("_st.arr").alias(arr_col),
            F.col("_st.tfp").alias("_tfp"),
        )
        .withColumn("_size", F.size(arr_col))
    )
    groups = _materialize(
        full.groupBy("_tfp").agg(
            F.min("_id").alias("_rep"), F.count(F.lit(1)).alias("_gs")
        )
    )
    row = (
        groups.filter(F.col("_gs") > 1)
        .agg(
            F.count(F.lit(1)).alias("g"),
            F.coalesce(F.sum("_gs"), F.lit(0)).alias("m"),
        )
        .first()
    )
    return full, groups, row["g"] > 0, row["m"] <= _BROADCAST_MEMBERS


def _collapse_and_mine(
    df: DataFrame, id_col: str, kernel: "F.Column", arr_col: str, mine
) -> tuple[DataFrame, tuple[DataFrame, DataFrame, bool] | None]:
    """The identical-doc guard behind every text miner: docs with the same
    token stream mine as ONE representative (the group's min id).

    m byte-identical documents (dead-common at crawl scale: boilerplate,
    mirrored pages, retry dupes) share every shingle and land in the same
    bucket of every MinHash/SimHash band and index key, so mined as-is
    they cost O(m²) candidate rows before any verification — the first
    thing that falls over at 10⁹ docs. Mining representatives makes that
    O(reps²). The guard is lossless: identical token streams score
    jaccard 1.0 / hamming 0 with each other and the same as their rep
    against everything else, so the dropped rows are recovered exactly
    afterwards (:func:`_expand_pairs_multi`, or the label join of
    :func:`duplicate_clusters`).

    One :func:`_fused_collapse` over ``kernel``, the miner's
    :func:`_text_kernel` column, yields the array column ``arr_col`` and
    the fingerprint in the miner's own text scan. ``mine`` maps an
    ``(_id, arr_col, _size)`` frame to its output. Returns (output,
    clones): with no clones anywhere ``mine`` runs over every doc and
    ``clones`` is None; otherwise ``mine`` runs over the representative
    rows and ``clones`` = (members, mined_reps, small):
    ``members`` = (_id, _rep) for every member of a multi-member group,
    ``mined_reps`` = (_id) of those groups' reps whose docs mine (≥1
    shingle or token; shorter docs never pair), and ``small`` = the clone
    map is measured under the broadcast cap."""
    full, groups, clones, small = _fused_collapse(df, id_col, kernel, arr_col)
    if not clones:
        return mine(full.drop("_tfp")), None
    # materialized: the mining plan's several references (sizes, inverted
    # index, verify arrays) share one copy of the representative rows
    reps = _materialize(
        full.join(
            groups.select(F.col("_rep").alias("_id")), "_id", "left_semi"
        ).drop("_tfp")
    )
    out = mine(reps)
    # both read the cached frames only: no text kernel recomputation
    multi = groups.filter(F.col("_gs") > 1)
    members = (
        full.select("_id", "_tfp")
        .join(multi.select("_tfp", "_rep"), "_tfp")
        .select("_id", "_rep")
    )
    mined_reps = multi.select(F.col("_rep").alias("_id")).join(
        full.filter(F.col("_size") > 0).select("_id"), "_id", "left_semi"
    )
    return out, (members, mined_reps, small)


def _maybe_broadcast(df: DataFrame, small: bool) -> DataFrame:
    return F.broadcast(df) if small else df


def _expand_pairs_multi(
    rep_pairs: DataFrame,
    clones: tuple[DataFrame, DataFrame, bool] | None,
    score_col: str,
    identical_score,
) -> DataFrame:
    """Expand the representative pairs of :func:`_collapse_and_mine` back
    to all-document pairs (ids re-canonicalized to id_a < id_b); with no
    ``clones`` they already are.

    - cross-group: each (rep_a, rep_b, score) pair expands to every
      (member_a, member_b) with the SAME score. The joins are left joins
      against the multi-member groups only: a singleton rep has no member
      row, so coalesce keeps the rep id, and join traffic is O(pairs +
      clone members) instead of O(pairs × n).
    - intra-group: all pairs within a multi-member group whose rep mines,
      scored ``identical_score`` (jaccard 1.0 / hamming 0).

    With ``small`` the clone-map sides broadcast and the pair stream never
    exchanges."""
    if clones is None:
        return rep_pairs
    members_multi, mined_multi, small = clones
    ma = members_multi.select(F.col("_rep").alias("id_a"), F.col("_id").alias("_a"))
    mb = members_multi.select(F.col("_rep").alias("id_b"), F.col("_id").alias("_b"))
    ca = F.coalesce(F.col("_a"), F.col("id_a"))
    cb = F.coalesce(F.col("_b"), F.col("id_b"))
    cross = (
        rep_pairs.join(_maybe_broadcast(ma, small), "id_a", "left")
        .join(_maybe_broadcast(mb, small), "id_b", "left")
        .select(
            F.least(ca, cb).alias("id_a"),
            F.greatest(ca, cb).alias("id_b"),
            F.col(score_col),
        )
    )
    mm = members_multi.join(
        _maybe_broadcast(mined_multi.select(F.col("_id").alias("_rep")), small),
        "_rep",
        "left_semi",
    )
    intra = (
        mm.select("_rep", F.col("_id").alias("_a"))
        .join(_maybe_broadcast(mm.select("_rep", F.col("_id").alias("_b")), small), "_rep")
        .filter(F.col("_a") < F.col("_b"))
        .select(
            F.col("_a").alias("id_a"),
            F.col("_b").alias("id_b"),
            F.lit(identical_score).alias(score_col),
        )
    )
    return cross.unionByName(intra)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
) -> DataFrame:
    """MinHash+LSH near-dup pairs: band-bucket candidates, then the exact
    Jaccard verify of :func:`_verify_jaccard` (shingles join back only for
    candidates).

    Returns (id_a, id_b, jaccard). A pair is kept when its unrounded
    jaccard is ≥ ``threshold``; only the output column is rounded, to 6
    places (:func:`_jaccard_at_least`). With bands=16/num_hashes=64 (r=4),
    collision prob at j=0.7 ≈ 0.98 — tune bands per target threshold.
    Identical token streams band as one representative
    (:func:`_collapse_and_mine`), and one shingle scan feeds both the
    signatures and the verify arrays."""
    pairs, clones = _collapse_and_mine(
        df, id_col, _text_kernel(n)(F.col(text_col)), "_sh",
        lambda sh: _minhash_pairs_on_shingles(sh, num_hashes, bands, threshold),
    )
    return _expand_pairs_multi(pairs, clones, "jaccard", 1.0)


def _minhash_pairs_on_shingles(
    sh: DataFrame, num_hashes: int, bands: int, threshold: float
) -> DataFrame:
    """Banding + candidate join over a prepared (materialized) ``(_id,
    _sh, _size)`` shingle frame, verified by :func:`_verify_jaccard` — one
    shingle computation feeds the signatures AND the verify arrays (the
    pre-fusion plan scanned text twice: once for signatures, once for
    verify)."""
    # The generated expression lists are SQL text, one F.expr per element:
    # one JVM call each, where building the same Column tree costs one call
    # per node. The text holds only integers and internal column names.
    r = num_hashes // bands
    inv = sh.select("_id", F.explode("_sh").alias("shingle"))
    mins = [
        F.expr(f"min(xxhash64({i}, shingle)) AS h{i}") for i in range(num_hashes)
    ]
    hs = ", ".join(f"h{i}" for i in range(num_hashes))
    sig = _materialize(
        inv.groupBy("_id").agg(*mins).select("_id", F.expr(f"array({hs}) AS sig"))
    )
    # one (band, bucket) row per band: bucket = xxhash64(band, its r minhashes)
    band_structs = ", ".join(
        f"named_struct('band', {b}, 'bucket', xxhash64({b}, "
        + ", ".join(f"sig[{b * r + j}]" for j in range(r))
        + "))"
        for b in range(bands)
    )
    bucketed = sig.select("_id", F.expr(f"inline(array({band_structs}))"))
    a, b_ = bucketed.alias("a"), bucketed.alias("b")
    cand = (
        a.join(b_, on=["band", "bucket"])
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
    )
    return _verify_jaccard(cand, sh, threshold)


def _band_widths(n_bits: int, n_bands: int) -> list[int]:
    """Split n_bits into n_bands near-equal contiguous widths."""
    base, extra = divmod(n_bits, n_bands)
    return [base + (1 if b < extra else 0) for b in range(n_bands)]


# SimHash word width: one md5 hex digest (32 digits) holds two disjoint
# 15-digit words, so fingerprints are one or two 60-bit words
_WORD_BITS = 60
# bands narrower than this make band self-joins near-quadratic at scale
_MIN_BAND_BITS = 12
_SIMHASH_WORDS = ("simhash", "simhash1")


def _check_simhash_args(portable_hash: bool, n_words: int) -> None:
    """``portable_hash`` has one legal value, True (md5 token words); md5's
    128 bits hold at most 2 words."""
    if portable_hash is not True:
        raise ValueError(
            f"portable_hash={portable_hash!r}: only the portable md5 token "
            f"hash (True) is supported"
        )
    if n_words > 2:
        raise ValueError("portable_hash supports at most 2 words (md5 is 128 bits)")


def simhash_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bands: int = 4,
    portable_hash: bool = True,
    n_words: int = 1,
) -> DataFrame:
    """SimHash per doc: per-token hash words, bit-vote, sign → bits.

    Word w's token hash is the 60-bit integer of md5 hex digits
    [15w, 15w+15) — byte-identical in any engine with md5 (DuckDB:
    ``('0x' || substr(md5(t), 1+15*w, 15))::BIGINT``), so fingerprints,
    hamming distances, and the near-dup pair set are externally
    verifiable bit-for-bit. Bit i of a word is set iff strictly more of
    the doc's tokens have it set than clear. ``portable_hash`` has one
    legal value, True; any other raises ValueError.

    ``n_words`` (1 or 2) widens the fingerprint to ``n_words`` × 60 bits
    so EXHAUSTIVE banding at a large Hamming radius keeps wide bands: at
    radius 8, a single word forces 9 bands of ~7 bits (~100 buckets/band
    → the band self-joins degenerate toward all-pairs at 10⁹ docs — the
    round-3 scale-killer); two words give 9 bands of 12-15 bits. The
    radius scales with width (same bit-flip rate per edited token), so
    compare radii as a FRACTION of n_bits across widths. The bands are
    the chunks of :func:`_simhash_chunks`: disjoint, covering all bits,
    spread over the words and split within each. Emits a computed-width
    warning when any band is narrower than 12 bits (candidate-explosion
    risk at corpus scale).

    Only docs with ≥1 token get a row: NULL text and text that trims to
    "" (``""``, ``"   "``) have none. Trim strips spaces only, so
    ``" \\t "`` is the two empty tokens ``["", ""]`` and does get one.

    Output: (_id, simhash[, simhash1], band0..band{B-1}). Word 0 keeps
    the name ``simhash`` so single-word callers see the same schema."""
    _check_simhash_args(portable_hash, n_words)
    bands = _simhash_chunks(n_bands, n_words)
    _warn_if_narrow(bands)
    words = df.select(
        F.col(id_col).alias("_id"),
        _text_kernel(0, n_words)(F.col(text_col))["arr"].alias("_w"),
    )
    # docs with no token have no words; an outer explode and a filter above
    # it drop them, where a filter on size(_w) would be pushed below the
    # projection and run the kernel a second time
    return (
        words.select("_id", "_w", F.posexplode_outer("_w").alias("_pos", "_v"))
        .filter(F.col("_pos") == 0)
        .select(
            "_id",
            *[F.col("_w")[w].alias(_SIMHASH_WORDS[w]) for w in range(n_words)],
            *[v.alias(f"band{b}") for b, v in enumerate(_chunk_values(bands))],
        )
    )


def _simhash_chunks(m: int, n_words: int) -> list[tuple[int, int, int]]:
    """``m`` disjoint contiguous bit chunks ``[(word, offset, width)]``
    covering the fingerprint: chunks spread over the words in near-equal
    counts, and each word's chunks split its 60 bits into near-equal
    widths (with fewer chunks than words, the last words get none)."""
    chunks = []
    for w, nc in enumerate(_band_widths(m, n_words)):
        offset = 0
        for width in _band_widths(_WORD_BITS, nc) if nc else []:
            chunks.append((w, offset, width))
            offset += width
    return chunks


def _chunk_values(chunks: list[tuple[int, int, int]]) -> list["F.Column"]:
    """Each chunk's bits of its word in the ``_w`` words column."""
    return [
        F.shiftrightunsigned(F.col("_w")[w], offset).bitwiseAND(
            F.lit((1 << width) - 1)
        )
        for w, offset, width in chunks
    ]


def _warn_if_narrow(bands: list[tuple[int, int, int]]) -> None:
    narrowest = min(width for _, _, width in bands)
    if narrowest < _MIN_BAND_BITS:
        warnings.warn(
            f"simhash banding: narrowest band is {narrowest} bits "
            f"(<{_MIN_BAND_BITS}) — ~{1 << narrowest} buckets/band makes band "
            f"self-joins near-quadratic at large corpus sizes; widen the "
            f"fingerprint (n_words) or lower the radius/bands",
            stacklevel=3,
        )


def _simhash_layout(
    max_hamming: int, n_words: int
) -> tuple[int, list[tuple[int, int, int]]]:
    """``(k, chunks)`` of the pigeonhole chunk join at radius r: a pair
    within Hamming r of each other agrees within k = ⌊r/m⌋ bits on SOME
    of the m disjoint chunks, so joining every ≤k-bit flip of one side's
    chunk values to the other side's exact values finds every pair.

    - m = r + 1, k = 0 (the band join: some band is equal) when every
      band is ≥ 12 bits wide;
    - else m = max(⌊r/3⌋ + 1, n_words), k = ⌊r/m⌋ ≤ 2 when every chunk
      width is in [k + 1, 30], which bounds the flips per chunk
      (1 + w + C(w, 2) ≤ 466);
    - else the narrow band join, with a warning."""
    bands = _simhash_chunks(max_hamming + 1, n_words)
    if min(width for _, _, width in bands) >= _MIN_BAND_BITS:
        return 0, bands
    m = max(max_hamming // 3 + 1, n_words)
    k = max_hamming // m
    chunks = _simhash_chunks(m, n_words)
    if all(k + 1 <= width <= 30 for _, _, width in chunks):
        return k, chunks
    _warn_if_narrow(bands)
    return 0, bands


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    portable_hash: bool = True,
    n_words: int = 1,
) -> DataFrame:
    """Near-dup pairs with Hamming(fingerprint) ≤ max_hamming.

    Returns (id_a, id_b, hamming). Fingerprints, ``portable_hash`` and
    ``n_words`` are those of :func:`simhash_fingerprints`; multi-word
    fingerprints compute hamming as the sum of per-word popcounts. Docs
    without a fingerprint (NULL, or text that trims to "") never pair.

    Candidates come from one pigeonhole chunk join (Manku, Jain and Das
    Sarma, WWW 2007): the fingerprint is cut into m disjoint chunks, and
    a pair within Hamming ≤ r agrees within k = ⌊r/m⌋ bits on at least
    one of them, so joining each doc's ≤k-bit chunk flips to every doc's
    exact chunk values, then filtering on the exact popcount, yields
    EXACTLY the hamming-≤r pair set of the fingerprints (not a
    recall-lossy approximation). With r + 1 chunks of ≥ 12 bits, k = 0
    and the join is plain banding (some band is equal); narrower bands
    switch to fewer, wider chunks with k ≤ 2 (:func:`_simhash_layout`).
    Wide fingerprints (``n_words=2``) keep large radii on the band join;
    a warning fires when neither layout avoids sub-12-bit bands.

    Identical token streams mine as one representative
    (:func:`_collapse_and_mine`): hamming 0 within a group, and a member
    inherits its rep's hamming to everything else. The collapse frame
    holds each doc's SimHash words, from the same Arrow pass of
    :func:`_text_kernel` that fingerprints its token stream, so a call
    makes one Python pass over the text."""
    _check_simhash_args(portable_hash, n_words)
    pairs, clones = _collapse_and_mine(
        df, id_col, _text_kernel(0, n_words)(F.col(text_col)), "_w",
        lambda words: _simhash_pairs_on_tokens(words, max_hamming, n_words),
    )
    return _expand_pairs_multi(pairs, clones, "hamming", 0)


def _simhash_pairs_on_tokens(
    words: DataFrame, max_hamming: int, n_words: int
) -> DataFrame:
    """Candidate join + exact popcount filter of
    :func:`simhash_near_dup_pairs`, over a prepared (materialized)
    ``(_id, _w, ...)`` frame of the docs' SimHash words
    (:func:`_text_kernel` with ``n_words``).

    Both sides are projections of that one cached frame. The
    exact side explodes each doc's m chunk values to ``(ci, cv)`` rows.
    At k = 0 the probe side is that same projection, a self-join on
    equal bands. At k > 0 it carries every ≤k-bit flip of each chunk:
    at 60 bits / r = 8 the 9 exhaustive bands would be 6-7 bits wide
    (≤128 buckets), and their measured candidate stream at 50k docs was
    9.1×10⁸ pairs, nearly all discarded by the popcount; 3 chunks of 20
    bits with 211 flips each cut it 3.9× (→ 2.3×10⁸)."""
    k, chunks = _simhash_layout(max_hamming, n_words)
    fps = words.filter(F.col("_size") > 0)
    # MEASURED broadcast decision (same discipline as _BROADCAST_MEMBERS).
    # The count also fills the cached words frame (with clones, the
    # collapse's `reps`) before the join's two sides read it; left to the
    # join, both would compute it at once. The exact side is m rows/doc of ~32 bytes; under
    # the cap it broadcasts and the probe side becomes a pure
    # scan→explode→probe pipeline with NO exchange (the static planner
    # can't see this through the Generate). Past the cap the join falls
    # back to the planner's shuffle strategy on (chunk, value), which keeps
    # the candidate reduction.
    small = fps.count() * len(chunks) <= 2_000_000
    values = _chunk_values(chunks)

    def side(s: str, *cols: "F.Column") -> DataFrame:
        """``(id_s, sh{s}_0[, sh{s}_1], *cols)`` over the fingerprints."""
        return fps.select(
            F.col("_id").alias(f"id_{s}"),
            *[F.col("_w")[w].alias(f"sh{s}_{w}") for w in range(n_words)],
            *cols,
        )

    chunk_rows = F.posexplode(F.array(*values)).alias("ci", "cv")
    exact = side("b", chunk_rows)
    if k == 0:
        probe = side("a", chunk_rows)
    else:
        # One probe branch per chunk, unioned: each branch explodes a
        # LITERAL flip array (constant-folded to a single array object)
        # and XORs the chunk value AFTER the explode. Building one array
        # of 633 xor-structs per row instead blew the whole-stage-codegen
        # method limit and de-codegen'd the entire probe stage — explode,
        # join, popcount and the distinct's partial aggregate all ran
        # interpreted, measured ~10× slower than this shape on the same
        # candidate volume.
        probe = None
        for ci, ((_, _, width), cv) in enumerate(zip(chunks, values)):
            flips = [
                sum(1 << p for p in bits)
                for j in range(k + 1)
                for bits in combinations(range(width), j)
            ]
            branch = side(
                "a",
                F.lit(ci).alias("ci"),
                cv.alias("_cv0"),
                F.explode(F.array(*[F.lit(f) for f in flips])).alias("_f"),
            ).select(
                "id_a",
                *[f"sha_{w}" for w in range(n_words)],
                "ci",
                F.col("_cv0").bitwiseXOR(F.col("_f")).alias("cv"),
            )
            probe = branch if probe is None else probe.unionByName(branch)
    cands = probe.join(_maybe_broadcast(exact, small), on=["ci", "cv"]).filter(
        F.col("id_a") < F.col("id_b")
    )
    hamming = reduce(
        operator.add,
        [
            F.bit_count(F.col(f"sha_{w}").bitwiseXOR(F.col(f"shb_{w}")))
            for w in range(n_words)
        ],
    )
    # popcount-filter BEFORE the distinct: the raw candidate stream is
    # O(Σ bucket²) rows, and the hamming filter is a pure per-row function
    # of (sha, shb), constants per doc pair, so filter∘distinct ≡
    # distinct∘filter — row-identical — but the filter runs inside the
    # join's whole-stage-codegen pipeline and only TRUE near-dups (a ~10⁴×
    # smaller set) reach the distinct's exchange.
    return (
        cands.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def duplicate_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    algorithm: str = "star",
    max_iters: int = 25,
    **ngram_kw,
) -> DataFrame:
    """Document → duplicate-cluster assignment WITHOUT materializing the
    all-pairs list: the composition a 10⁹-doc dedup actually wants.

    ``pairs → connected_components`` is exact but its input is the pair
    LIST, and a group of m byte-identical documents contributes
    m(m−1)/2 intra-group pairs — at crawl scale a million-clone
    boilerplate group alone is 5×10¹¹ edge rows before clustering even
    starts. This operator never builds them: identical token streams
    collapse to one representative (:func:`_collapse_and_mine`),
    ngram-Jaccard pairs are mined among REPRESENTATIVES only, connected
    components (star contraction; ``algorithm`` and ``max_iters`` pass
    through to :func:`connected_components`) run on that rep graph, and
    members inherit their rep's cluster with one join. Since each rep is the MINIMUM id of its
    group, the rep-graph cluster minimum equals the full-graph cluster
    minimum, so the output is row-identical to
    ``connected_components(ngram_jaccard_pairs(df, ...))`` — including
    membership semantics: docs in a multi-member identical group belong
    to a cluster even when their rep has no cross-group pair (they pair
    with each other), docs too short to produce a shingle never cluster,
    and singleton docs with no qualifying pair are absent.

    Docs pair when their unrounded jaccard is ≥ ``threshold``, the rule
    of :func:`ngram_jaccard_pairs` (whose mining plans run here).

    Returns (node, cluster_rep). Property-tested equal to the pair-list
    path on mixed clone/near-dup corpora."""
    unknown = set(ngram_kw) - {"max_shingle_freq", "prefix_filter"}
    if unknown:
        raise TypeError(f"duplicate_clusters: unknown ngram kwargs {unknown}")
    rep_labels, clones = _collapse_and_mine(
        df, id_col, _text_kernel(n)(F.col(text_col)), "_sh",
        lambda sh: connected_components(
            _ngram_pairs_on_shingles(
                sh,
                threshold,
                ngram_kw.get("max_shingle_freq"),
                ngram_kw.get("prefix_filter"),
            ),
            algorithm=algorithm,
            max_iters=max_iters,
        ),
    )
    if clones is None:  # no clones: the full graph IS the rep graph
        return rep_labels
    members_multi, mined, small = clones
    # multi-member groups cluster even with no cross-group pair — but only
    # if the group produces shingles (sub-shingle-length docs never pair)
    labels_rep = rep_labels.select(F.col("node").alias("_rep"), "cluster_rep")
    mm = members_multi.join(
        _maybe_broadcast(mined.select(F.col("_id").alias("_rep")), small),
        "_rep",
        "left_semi",
    )
    multi_out = mm.join(labels_rep, "_rep", "left").select(
        F.col("_id").alias("node"),
        F.coalesce(F.col("cluster_rep"), F.col("_rep")).alias("cluster_rep"),
    )
    # singleton reps keep their label rows as-is; multi-group reps are
    # replaced by the expansion above (which includes the rep itself,
    # since members_multi carries the (_id=rep, _rep=rep) row)
    single_out = rep_labels.join(
        _maybe_broadcast(
            members_multi.select(F.col("_rep").alias("node")).distinct(), small
        ),
        "node",
        "left_anti",
    )
    return single_out.unionByName(multi_out)


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al. 2014, "Connected Components
    in MapReduce and Beyond"): for each node u with m = min(Γ(u) ∪ {u}),
    connect every STRICTLY LARGER neighbor to m. Input/output edges are
    canonical big→small rows (u > v), so the symmetric neighbor view is
    rebuilt here. Emitted rows keep u > v (v > u ≥ m ⟹ v > m)."""
    sym = edges.select("u", "v").unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select("u", F.least(F.col("_mn"), F.col("u")).alias("m"))
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: for each node u, connect all of u's SMALLER
    neighbors (and u itself) to their minimum. The canonical big→small
    edge list IS the smaller-neighbor adjacency (each undirected edge is
    stored exactly once as (big, small)), so no symmetric view is
    needed. Output rows keep u > v."""
    mins = edges.groupBy("u").agg(F.min("v").alias("m"))
    nbr = (
        edges.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    own = mins.select("u", F.col("m").alias("v"))
    return nbr.unionByName(own).distinct()


def _star_forest_probe(edges: DataFrame) -> tuple[bool, int]:
    """EXACT star-forest test in ONE aggregation job, no joins: a
    canonical (u > v) edge set is a star forest ⟺ every u appears in
    exactly one row AND no v ever appears as a u (count(edges) ==
    countDistinct(u) and the u-set and v-set are disjoint, i.e.
    countDistinct(u ∪ v) == countDistinct(u) + countDistinct(v)). Both
    conditions come from one agg over the stacked (node, side) frame.
    This is the fixpoint test AND the invariant: a star forest is
    provably a fixpoint of the large∘small round, each star's center is
    its component minimum by canonicality (all edges point at the
    smaller endpoint), and the rounds preserve connectivity — so
    stopping at the FIRST star-forest state is exact, needs no extra
    confirmation round, and cannot be spoofed by a hash collision (the
    round-5 signature-equality test could, with probability 2⁻⁶⁴ —
    round-5 ADVICE).

    Returns (is_star_forest, edge_count) — the edge count rides the same
    agg for free and drives the local-finish decision."""
    stacked = edges.select(F.col("u").alias("n"), F.lit(1).alias("s")).unionAll(
        edges.select(F.col("v").alias("n"), F.lit(0).alias("s"))
    )
    r = stacked.agg(
        F.count(F.when(F.col("s") == 1, 1)).alias("ne"),
        F.count_distinct(F.when(F.col("s") == 1, F.col("n"))).alias("du"),
        F.count_distinct(F.when(F.col("s") == 0, F.col("n"))).alias("dv"),
        F.count_distinct("n").alias("dall"),
    ).first()
    return (
        r["ne"] == r["du"] and r["dall"] == r["du"] + r["dv"],
        int(r["ne"]),
    )


# Edge count at or below which the contraction FINISHES LOCALLY (Kiveris
# et al. 2014 §Optimizations: once the shrinking graph fits on one
# machine, finish it there instead of paying log-n more distributed
# rounds). 1M canonical (long, long) edges ≈ 16 MB — driver-trivial. The
# decision is MEASURED: the per-round shape-test agg already counts the
# edges, so the fallback costs nothing when it doesn't fire. Set to 0 to
# force fully-distributed rounds (the property tests exercise both).
_LOCAL_FINISH_EDGES = 1_000_000


def _local_star_finish(edges: DataFrame) -> DataFrame:
    """Finish the contraction on the driver: min-root union-find over a
    measured-small edge list, emitting the same star forest the
    distributed rounds converge to — (u, v=component minimum) for every
    non-minimum node, exactly (root = min id because unions always attach
    the larger root under the smaller one). Deterministic: output depends
    only on the edge SET."""
    spark = edges.sparkSession
    pdf = edges.select("u", "v").toPandas()
    us, vs = pdf["u"].tolist(), pdf["v"].tolist()  # native py objs
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in zip(us, vs):
        ru, rv = find(u), find(v)
        if ru != rv:
            hi, lo = (ru, rv) if rv < ru else (rv, ru)
            parent[hi] = lo
    rows = sorted(
        (n, find(n)) for n in set(us).union(vs) if find(n) != n
    )
    return spark.createDataFrame(rows, schema=edges.select("u", "v").schema)


def _star_contraction(edges0: DataFrame, max_iters: int) -> DataFrame:
    """Alternating large-star/small-star contraction: converges to per-
    component stars centered on the component minimum in O(log n) rounds
    REGARDLESS of graph diameter (the provable fix for chain-shaped dup
    graphs, where min-label propagation needs O(diameter) rounds).

    Termination: the EXACT star-forest shape test
    (:func:`_star_forest_probe`) runs once per round — it fires on the first star-forest state, one
    full round EARLIER than the round-5 signature-equality test (which
    needed an identity round to observe "nothing changed"), and it IS the
    correctness invariant, so the 2⁻⁶⁴ signature-collision hole is closed
    structurally rather than asserted after the fact. Rounds are
    lineage-TRUNCATED, not merely persisted: persist leaves the
    compounding plan for Catalyst to re-analyze every round, which grows
    driver compile time superlinearly with round count. The checkpoint is
    LAZY and the shape-test agg is the materializing action, so each
    round runs ONE Spark job, not two (round-5 VERDICT: per-round fixed
    job latency dominated the sf0.1 wall time — eager localCheckpoint +
    a separate agg paid the scheduler floor twice per round)."""
    edges = edges0.localCheckpoint(eager=False)
    for _ in range(max_iters + 1):
        # the shape test is the first action over the lazy checkpoint: one
        # job materializes the round AND decides termination; its agg also
        # measures the live edge count for the local-finish decision
        star, ne = _star_forest_probe(edges)
        if star:
            # star forest: every row is (node, its component's minimum)
            return edges
        if ne <= _LOCAL_FINISH_EDGES:
            # the graph (now) fits on one machine: finish there instead of
            # paying the scheduler floor for O(log n) more tiny rounds
            # (Kiveris et al. 2014's own local-finish optimization). At
            # crawl scale the first rounds shrink the graph geometrically,
            # so this absorbs the long tail of small rounds; at bench
            # scale it fires immediately.
            return _local_star_finish(edges)
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=False)
    raise RuntimeError(
        f"star contraction did not reach a star forest in {max_iters} "
        f"rounds — this should not happen (O(log n) bound); raise max_iters"
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
    algorithm: str = "star",
) -> DataFrame:
    """Duplicate-cluster assignment from a near-dup pair list: connected
    components. Returns (node, cluster_rep) for every node appearing in
    ``pairs``; cluster_rep = the smallest node id reachable through the
    pair graph, so each cluster has one canonical representative (the
    training-data dedup contract: keep the representative, drop the
    rest).

    Alternating large-star/small-star contraction (Kiveris et al. 2014,
    :func:`_star_contraction`): O(log n) rounds regardless of component
    diameter, so chain-shaped dup graphs (crawl shingle chains,
    boilerplate drift) converge as fast as near-cliques. Each round
    truncates lineage (LAZY localCheckpoint, materialized by the round's
    own convergence action — one job per round), so each round's plan —
    and Catalyst's per-round analysis cost — stays ONE round deep instead
    of compounding. ``algorithm`` has one legal value, ``"star"``; any
    other raises ValueError."""
    if algorithm != "star":
        raise ValueError(f"unknown connected-components algorithm {algorithm!r}")
    # persist the two-column pair projection ONCE: edges0, the node set,
    # and every caller-side branch over the result would otherwise each
    # re-run the full upstream mining DAG — measured 3× mining evaluations
    # per duplicate_clusters call at sf0.1
    pairs_uv = _materialize(
        pairs.select(F.col(id_a).alias("_pa"), F.col(id_b).alias("_pb"))
    )
    edges0 = (
        pairs_uv.select(
            F.greatest(F.col("_pa"), F.col("_pb")).alias("u"),
            F.least(F.col("_pa"), F.col("_pb")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    stars = _star_contraction(edges0, max_iters)
    nodes = (
        pairs_uv.select(F.col("_pa").alias("node"))
        .unionByName(pairs_uv.select(F.col("_pb").alias("node")))
        .distinct()
    )
    return nodes.join(
        stars.select(F.col("u").alias("node"), F.col("v").alias("_rep")),
        "node",
        "left",
    ).select(
        "node", F.coalesce(F.col("_rep"), F.col("node")).alias("cluster_rep")
    )
