"""Distribution-drift checks: PSI and KS of current data vs a baseline.

One sketch: fixed-bin counts. ``bin_expr`` maps a numeric value to a bin id
in [0, n_bins+1] (0 = underflow, n_bins+1 = overflow); a categorical value
is its own bin. Counts are n_bins+2 numbers per column whatever the input
size, and sketches of two parts of the data merge by summing their counts.

- :func:`multi_sketch_counts` counts every drift column's bins in ONE scan,
  for the baseline file (:func:`save_drift_baseline`) and for the current
  side of :func:`spec_drift_report` (the YAML ``drift:`` block execute()
  runs). The streaming sketch (``streaming.validate_stream``) counts the
  same bins per window. Batch and streaming rows come from one scorer,
  :func:`_drift_rows`.
- :func:`psi_between` / :func:`ks_between` are the same metrics as 1-row
  declarative DataFrames (two pruned scans, a tiny bin spine), so external
  engines can replicate them from SQL.
- :func:`ecdf_sketch_arrow` — per-bucket quantile grid via Arrow
  `applyInPandas` (the pandas/Arrow-UDAF path): each bucket's pandas group
  computes a q-grid. Arrow-batched, never per-row Python.

Metrics, from the baseline counts cb and current counts cc (totals tb, tc),
rounded to 6 decimals:

- PSI = Σ (p_i − q_i) · ln(p_i / q_i), Laplace-smoothed:
  p_i = (cb_i + 1) / (tb + NB), q_i = (cc_i + 1) / (tc + NB), NB = n_bins+2
- KS  = max_i |cumsum(cb)_i / tb − cumsum(cc)_i / tc|  (totals floored at 1)
- categorical PSI = the same Laplace PSI over the union K of both sides'
  categories: p = (cb + 1) / (tb + |K|)

A column whose current side has no values (all NULL, or absent from every
scored window) while its baseline has some is reported drifted on every
row. Its value stays what the formula gives, which can read as no drift:
Laplace smoothing makes an empty side uniform, so categorical PSI against
a uniform baseline is exactly 0.0.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bin_expr(col: str, lo: float, hi: float, n_bins: int) -> "F.Column":
    """Bin id in [0, n_bins+1]: 0 = underflow, n_bins+1 = overflow."""
    c = F.col(col).cast("double")
    width = (hi - lo) / n_bins
    raw = F.floor((c - F.lit(lo)) / F.lit(width)).cast("int") + 1
    return (
        F.when(c.isNull(), None)
        .when(c < lo, 0)
        .when(c >= hi, n_bins + 1)
        .otherwise(raw)
    )


def _bin_spine(
    baseline: DataFrame, current: DataFrame, col: str, lo: float, hi: float,
    n_bins: int,
) -> tuple[DataFrame, DataFrame]:
    """(bin, cb, cc) for every bin id 0..n_bins+1 (0 where a side has no
    rows in the bin), and the 1-row totals (tb, tc) as doubles.

    Each side is one pruned scan of ``col`` and a partial+final agg of
    ≤ n_bins+2 groups, left-joined onto a ``range`` spine of the bin ids;
    nothing after the aggs grows with input size."""
    def binned(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select(bin_expr(col, lo, hi, n_bins).alias("bin"))
            .filter(F.col("bin").isNotNull())
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias(name))
        )

    bins = baseline.sparkSession.range(0, n_bins + 2).select(
        F.col("id").cast("int").alias("bin")
    )
    joined = (
        bins.join(binned(baseline, "cb"), "bin", "left")
        .join(binned(current, "cc"), "bin", "left")
        .select(
            "bin",
            F.coalesce("cb", F.lit(0)).alias("cb"),
            F.coalesce("cc", F.lit(0)).alias("cc"),
        )
    )
    totals = joined.agg(
        F.sum("cb").cast("double").alias("tb"), F.sum("cc").cast("double").alias("tc")
    )
    return joined, totals


def psi_between(
    baseline: DataFrame,
    current: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_bins: int = 20,
) -> DataFrame:
    """Distributed PSI between two frames as a 1-row DataFrame
    (column, psi) — fully declarative so external engines can replicate it
    bit-for-bit (Laplace-smoothed: p_i = (c_i + 1) / (t + n_bins + 2)).

    Two pruned scans (only ``col``), two partial+final aggs of ≤ n_bins+2
    groups, one tiny join — nothing here grows with input size."""
    nb = n_bins + 2
    joined, totals = _bin_spine(baseline, current, col, lo, hi, n_bins)
    # totals come from their own agg and a broadcast cross join, so no
    # scalar subquery is needed
    with_tot = joined.crossJoin(F.broadcast(totals))
    p = (F.col("cb") + 1) / (F.col("tb") + nb)
    q = (F.col("cc") + 1) / (F.col("tc") + nb)
    return with_tot.agg(
        F.round(F.sum((p - q) * F.log(p / q)), 6).alias("psi")
    ).select(F.lit(col).alias("column"), "psi")


def ks_between(
    baseline: DataFrame,
    current: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_bins: int = 20,
) -> DataFrame:
    """Distributed KS statistic between two frames as a 1-row DataFrame
    (column, ks) — the declarative twin of :func:`psi_between`.

    KS = max_bin |CDF_baseline − CDF_current| over the binned ECDF.
    Two pruned scans (only ``col``), two partial+final aggs of ≤ n_bins+2
    groups, a tiny spine join, then a window cumsum over the n_bins+2
    aggregated rows (single tiny partition — input size never reaches the
    window). Fully SQL-replicable for external verification."""
    from pyspark.sql import Window

    joined, totals = _bin_spine(baseline, current, col, lo, hi, n_bins)
    # one partition is fine: the window only sees the n_bins+2 aggregated
    # rows (Spark still logs "No Partition Defined" for it)
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = joined.select(
        F.sum("cb").over(w).cast("double").alias("ccb"),
        F.sum("cc").over(w).cast("double").alias("ccc"),
    ).crossJoin(F.broadcast(totals))
    # greatest(total, 1) mirrors the driver-side _ks_counts guard: an empty
    # side reports ks as a real number (max |cdf| of the other side), never
    # a NULL that silently reads as "no drift"
    return cum.agg(
        F.round(
            F.max(
                F.abs(
                    F.col("ccb") / F.greatest(F.col("tb"), F.lit(1.0))
                    - F.col("ccc") / F.greatest(F.col("tc"), F.lit(1.0))
                )
            ),
            6,
        ).alias("ks")
    ).select(F.lit(col).alias("column"), "ks")


# ---------------------------------------------------------------------------
# Driver-side metrics over bin counts (formulas in the module docstring;
# psi_between/ks_between compute the same numbers in SQL)
# ---------------------------------------------------------------------------


def _psi_laplace_counts(cb: list[int], cc: list[int]) -> float:
    nb = len(cb)
    tb, tc = sum(cb), sum(cc)
    out = 0.0
    for b_, c_ in zip(cb, cc):
        p = (b_ + 1) / (tb + nb)
        q = (c_ + 1) / (tc + nb)
        out += (p - q) * math.log(p / q)
    return round(out, 6)


def _ks_counts(cb: list[int], cc: list[int]) -> float:
    tb, tc = max(sum(cb), 1), max(sum(cc), 1)
    cum_b = cum_c = 0.0
    worst = 0.0
    for b_, c_ in zip(cb, cc):
        cum_b += b_
        cum_c += c_
        worst = max(worst, abs(cum_b / tb - cum_c / tc))
    return round(worst, 6)


def _cat_psi_laplace(base: dict[str, int], cur: dict[str, int]) -> float:
    keys = sorted(set(base) | set(cur))
    k = len(keys)
    tb, tc = sum(base.values()), sum(cur.values())
    out = 0.0
    for key in keys:
        p = (base.get(key, 0) + 1) / (tb + k)
        q = (cur.get(key, 0) + 1) / (tc + k)
        out += (p - q) * math.log(p / q)
    return round(out, 6)


def multi_sketch_counts(
    df: DataFrame,
    numeric_specs: dict[str, tuple[float, float, int]],
    cat_cols: list[str],
    max_categories: int = 10_000,
) -> tuple[dict[str, list[int]], dict[str, dict[str, int]]]:
    """Sketch counts for EVERY drift column in ONE scan.

    All columns' bin ids / category values are stacked into a single
    array<string> and posexploded, so one pass + one agg of
    Σ(n_bins+2) + Σ|categories| groups covers the whole drift block —
    no per-column scans. Null values drop out per element (nulls are
    tracked by the null-rate stat, not the drift sketch).

    The driver collect is BOUNDED: before collecting, a per-column group
    count (partial+final agg over the already-aggregated counts frame,
    ≤ one row per column) verifies every categorical column has at most
    ``max_categories`` distinct values; a miscategorized high-cardinality
    column (user_id, free text) raises SpecValidationError instead of
    landing Σ|categories| rows on the driver. Bin/hash such columns into
    a bounded numeric surrogate to put them under drift."""
    from pysemantic_spark.errors import SpecValidationError

    exprs: list = []
    order: list[tuple[str, str]] = []
    for c, (lo, hi, nbins) in numeric_specs.items():
        exprs.append(bin_expr(c, lo, hi, nbins).cast("string"))
        order.append(("hist", c))
    for c in cat_cols:
        exprs.append(F.col(c).cast("string"))
        order.append(("cat", c))
    hist = {c: [0] * (nbins + 2) for c, (_, _, nbins) in numeric_specs.items()}
    cat: dict[str, dict[str, int]] = {c: {} for c in cat_cols}
    if not exprs:
        return hist, cat
    counts = (
        df.select(F.posexplode(F.array(*exprs)).alias("ci", "val"))
        .filter(F.col("val").isNotNull())
        .groupBy("ci", "val")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if cat_cols:
        counts = counts.persist()
        sizes = (
            counts.groupBy("ci").agg(F.count(F.lit(1)).alias("n_distinct")).collect()
        )
        oversized = {
            order[r["ci"]][1]: r["n_distinct"]
            for r in sizes
            if order[r["ci"]][0] == "cat" and r["n_distinct"] > max_categories
        }
        if oversized:
            counts.unpersist()
            raise SpecValidationError(
                f"categorical drift column(s) exceed max_categories="
                f"{max_categories}: {oversized} — a sketch must stay bounded; "
                "hash/bin the column to a bounded numeric surrogate, or raise "
                "`max_categories` in the drift block if the cardinality is "
                "genuinely intended"
            )
    rows = counts.collect()
    if cat_cols:
        counts.unpersist()
    for r in rows:
        kind, c = order[r["ci"]]
        if kind == "hist":
            hist[c][int(r["val"])] = r["cnt"]
        else:
            cat[c][r["val"]] = r["cnt"]
    return hist, cat


def build_drift_baseline(
    df: DataFrame, columns: list[str], n_bins: int = 64,
    max_categories: int = 10_000,
) -> dict:
    """Sketch the baseline frame for the given drift columns.

    Numeric columns → histogram sketch with (lo, hi) = observed min/max
    (one skinny agg); string/boolean columns → categorical value counts.
    Returns a JSON-serializable dict; persist with :func:`save_drift_baseline`.
    """
    from pyspark.sql import types as T

    numeric: list[str] = []
    cats: list[str] = []
    for c in columns:
        dt = df.schema[c].dataType
        if isinstance(dt, T.NumericType):
            numeric.append(c)
        elif isinstance(dt, (T.StringType, T.BooleanType)):
            cats.append(c)
        else:
            raise ValueError(
                f"drift column {c!r} has unsupported type {dt.simpleString()} "
                "(numeric → histogram, string/boolean → categorical)"
            )
    numeric_specs: dict[str, tuple[float, float, int]] = {}
    if numeric:
        bounds = df.agg(
            *[F.min(c).cast("double").alias(f"{c}__lo") for c in numeric],
            *[F.max(c).cast("double").alias(f"{c}__hi") for c in numeric],
        ).collect()[0]
        for c in numeric:
            lo = bounds[f"{c}__lo"]
            hi = bounds[f"{c}__hi"]
            if lo is None:  # all-null column: degenerate empty sketch
                lo, hi = 0.0, 1.0
            if hi <= lo:
                hi = lo + 1.0
            numeric_specs[c] = (float(lo), float(hi), n_bins)
    hist, cat = multi_sketch_counts(
        df, numeric_specs, cats, max_categories=max_categories
    )
    out: dict = {"n_bins": n_bins, "columns": {}}
    for c, (lo, hi, nbins) in numeric_specs.items():
        out["columns"][c] = {
            "kind": "hist", "lo": lo, "hi": hi, "n_bins": nbins, "counts": hist[c],
        }
    for c in cats:
        out["columns"][c] = {"kind": "cat", "counts": cat[c]}
    return out


def save_drift_baseline(
    df: DataFrame, columns: list[str], path: str, n_bins: int = 64,
    max_categories: int = 10_000,
) -> dict:
    """Build and atomically write the baseline sketch JSON."""
    import json
    import os

    baseline = build_drift_baseline(
        df, columns, n_bins=n_bins, max_categories=max_categories
    )
    d = os.path.dirname(path)
    if d:
        os.makedirs(d, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(baseline, f)
    os.replace(tmp, path)
    return baseline


def load_drift_baseline(path: str) -> dict:
    import json

    with open(path) as f:
        return json.load(f)


def spec_drift_baseline(drift_spec) -> dict:
    """Load the baseline sketch a DriftSpec names and check that it covers
    every declared column; raises SpecValidationError otherwise. File I/O
    only, no Spark job, so execute() runs it before starting any."""
    from pysemantic_spark.errors import SpecValidationError

    if not drift_spec.baseline:
        raise SpecValidationError(
            "drift: block declared without a `baseline` sketch path — "
            "build one with save_drift_baseline(baseline_df, columns, path)"
        )
    base = load_drift_baseline(drift_spec.baseline)
    missing = [c for c in drift_spec.columns if c not in base["columns"]]
    if missing:
        raise SpecValidationError(
            f"drift baseline {drift_spec.baseline} lacks sketches for "
            f"columns {missing} — rebuild it with the full column list"
        )
    return base


def spec_drift_report(
    df: DataFrame, drift_spec, baseline: dict | None = None
) -> pd.DataFrame:
    """Run a DriftSpec (YAML ``drift:`` block) against its baseline file,
    or against ``baseline`` when the caller already loaded and checked it
    with :func:`spec_drift_baseline`.

    Current-side sketches for every declared column come from ONE fused
    scan (:func:`multi_sketch_counts`); metrics are computed driver-side
    from the two tiny count vectors. Returns pandas
    (column, metric, value, threshold, drifted) — the rows execute()
    attaches to its output."""
    base = spec_drift_baseline(drift_spec) if baseline is None else baseline
    numeric_specs = {
        c: (e["lo"], e["hi"], e["n_bins"])
        for c, e in base["columns"].items()
        if c in set(drift_spec.columns) and e["kind"] == "hist"
    }
    cat_cols = [
        c for c in drift_spec.columns if base["columns"][c]["kind"] == "cat"
    ]
    hist, cat = multi_sketch_counts(
        df, numeric_specs, cat_cols,
        max_categories=getattr(drift_spec, "max_categories", 10_000),
    )
    return _drift_rows(
        base, drift_spec.columns, hist, cat,
        psi_threshold=drift_spec.psi_threshold,
        ks_threshold=drift_spec.ks_threshold,
    )


def _drift_rows(
    base: dict,
    columns: list[str],
    hist: dict[str, list[int]],
    cat: dict[str, dict[str, int]],
    psi_threshold: float,
    ks_threshold: float,
) -> pd.DataFrame:
    """Score current counts against a loaded baseline sketch: pandas
    (column, metric, value, threshold, drifted), one psi and one ks row per
    histogram column and one psi row per categorical column, in
    ``columns`` order. ``hist``/``cat`` hold the current side's counts as
    :func:`multi_sketch_counts` returns them. A column with no current
    values and a non-empty baseline is drifted on every row, whatever its
    value (see the module docstring)."""
    rows = []
    for c in columns:
        entry = base["columns"][c]
        if entry["kind"] == "hist":
            empty = not sum(hist[c]) and sum(entry["counts"]) > 0
            metrics = (
                ("psi", _psi_laplace_counts(entry["counts"], hist[c]), psi_threshold),
                ("ks", _ks_counts(entry["counts"], hist[c]), ks_threshold),
            )
        else:
            empty = not sum(cat[c].values()) and sum(entry["counts"].values()) > 0
            metrics = (
                ("psi", _cat_psi_laplace(entry["counts"], cat[c]), psi_threshold),
            )
        for metric, value, thr in metrics:
            rows.append(
                {"column": c, "metric": metric, "value": value,
                 "threshold": thr, "drifted": empty or value > thr}
            )
    return pd.DataFrame(rows)


def ecdf_sketch_arrow(
    df: DataFrame, col: str, bucket_col: str, n_quantiles: int = 101
) -> pd.DataFrame:
    """Per-bucket quantile grid via applyInPandas (Arrow UDAF path).

    Returns pandas DF (bucket, q, value) with n_quantiles rows per bucket.
    Each group is one Arrow batch into pandas — vectorized, no row loop."""
    qs = [i / (n_quantiles - 1) for i in range(n_quantiles)]

    def grid(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = pdf[col].dropna()
        if len(vals) == 0:
            return pd.DataFrame({"bucket": [], "q": [], "value": []})
        quant = vals.quantile(qs, interpolation="linear")
        return pd.DataFrame(
            {"bucket": pdf[bucket_col].iloc[0], "q": qs, "value": quant.values}
        )

    out = (
        df.select(bucket_col, col)
        .groupBy(bucket_col)
        .applyInPandas(grid, schema="bucket long, q double, value double")
    )
    return out.toPandas()

