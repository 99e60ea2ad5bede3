"""Distribution-drift checks: PSI and KS of current data vs a baseline.

One sketch: fixed-bin counts. ``bin_expr`` maps a numeric value to a bin id
in [0, n_bins+1] (0 = underflow, n_bins+1 = overflow); a categorical value
is its own bin. The sketch is rows ``(*by, column, bin, cnt)``, built by
ONE function, :func:`drift_sketch`: a single scan and one
``groupBy(*by, column, bin)`` count over every drift column, in the bin
layout of a baseline sketch (its ``lo``/``hi``/``n_bins``). Counts of equal
``(column, bin)`` merge by summing, so the same rows serve a baseline
(``by`` empty), each bucket of an ``execute()`` (``by`` = the bucket), a
streaming window (``by`` = the window) and any union of these; counts merge
only when binned under the same baseline layout.

- :func:`sketch_counts` is the one reader: it sums sketch rows into the
  count vectors the metrics take, for the baseline file
  (:func:`build_drift_baseline`) and for :func:`_drift_rows`, the one
  scorer behind :func:`spec_drift_report` (the YAML ``drift:`` block
  execute() runs), :func:`drift_rows_report` (streaming windows) and the
  per-bucket counts of a resumable run (``sources.tableio``).
- :func:`windowed_drift_sketch` is :func:`drift_sketch` under a
  watermark, keyed by tumbling window.

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


# ---------------------------------------------------------------------------
# Driver-side metrics over bin counts (formulas in the module docstring)
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


def drift_sketch(
    df: DataFrame, baseline: dict, columns: list[str],
    by: dict[str, "F.Column"] | None = None,
) -> DataFrame:
    """The drift sketch of ``df``: rows ``(*by, column, bin, cnt)`` for
    every drift column, in ``baseline``'s bin layout.

    A numeric column's bin is ``bin_expr`` over the baseline's lo/hi/n_bins,
    a categorical column's bin is its value, both as strings; NULL bins drop
    out (nulls are tracked by the null-rate stat). ``by`` maps output names
    to key expressions over ``df`` (a bucket, a window). One scan of the
    drift and key columns, one ``groupBy(*by, column, bin)`` count: at most
    Σ(n_bins+2) + Σ|categories| rows per key."""
    from pysemantic_spark.errors import SpecValidationError

    by = by or {}
    missing = [c for c in columns if c not in baseline.get("columns", {})]
    if missing:
        raise SpecValidationError(f"drift baseline lacks sketches for columns {missing}")
    cells = []
    for c in columns:
        e = baseline["columns"][c]
        b = bin_expr(c, e["lo"], e["hi"], e["n_bins"]) if e["kind"] == "hist" else F.col(c)
        cells.append(F.struct(F.lit(c).alias("column"), b.cast("string").alias("bin")))
    return (
        df.select(*[k.alias(n) for n, k in by.items()], F.inline(F.array(*cells)))
        .filter(F.col("bin").isNotNull())
        .groupBy(*by, "column", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _collect_sketch(
    df: DataFrame, baseline: dict, columns: list[str],
    by: dict[str, "F.Column"] | None, max_categories: int,
) -> list:
    """:func:`drift_sketch` collected to the driver, BOUNDED, in one
    collect: the keyed rows are regrouped by ``(column, bin)``, each with
    its per-key counts as a list, and at most ``bound + 1`` groups are
    collected, bound = Σ(n_bins+2) over the histogram columns +
    ``max_categories`` per categorical column, then expanded back to rows
    ``(*by, column, bin, cnt)``. A histogram column has at most n_bins+2
    bins, so a collect that reaches ``bound + 1`` groups holds more than
    ``max_categories`` bins of some categorical column; a miscategorized
    high-cardinality column (user_id, free text) raises SpecValidationError
    instead of landing on the driver, and no sketch is persisted or counted
    first. The collect is at most (keys) × bound rows; without a
    categorical column the keyed rows are collected as they are. Bin/hash
    such columns into a bounded numeric surrogate to put them under
    drift."""
    from collections import Counter

    from pyspark.sql import Row

    from pysemantic_spark.errors import SpecValidationError

    by = by or {}
    entries = baseline["columns"]
    sketch = drift_sketch(df, baseline, columns, by)
    cats = [c for c in columns if entries[c]["kind"] == "cat"]
    if not cats:  # histogram bins alone are bounded by construction
        return sketch.collect()
    bound = sum(entries[c]["n_bins"] + 2 for c in columns if c not in cats)
    bound += max_categories * len(cats)
    groups = (
        sketch.groupBy("column", "bin")
        .agg(F.collect_list(F.struct(*by, "cnt")).alias("keyed"))
        .limit(bound + 1)
        .collect()
    )
    seen = Counter(g["column"] for g in groups)
    oversized = {c: seen[c] for c in cats if seen[c] > max_categories}
    if oversized:
        raise SpecValidationError(
            f"categorical drift column(s) exceed max_categories="
            f"{max_categories}: {oversized} values (counted up to the collect "
            "bound) — a sketch must stay bounded; hash/bin the column to a "
            "bounded numeric surrogate, or raise `max_categories` in the "
            "drift block if the cardinality is genuinely intended"
        )
    row = Row(*by, "column", "bin", "cnt")
    return [row(*k[:-1], g["column"], g["bin"], k[-1]) for g in groups for k in g["keyed"]]


def sketch_counts(
    baseline: dict, columns: list[str], counts
) -> tuple[dict[str, list[int]], dict[str, dict[str, int]]]:
    """Sum sketch rows ``counts`` — (column, bin, cnt) triples of any keys,
    in ``baseline``'s bin layout — into per-column count vectors: ``hist``
    (n_bins+2 counts per numeric column) and ``cat`` (value → count per
    categorical column). Rows of columns not in ``columns`` are ignored."""
    entries = baseline["columns"]
    hist = {c: [0] * (entries[c]["n_bins"] + 2) for c in columns if entries[c]["kind"] == "hist"}
    cat: dict[str, dict[str, int]] = {c: {} for c in columns if entries[c]["kind"] != "hist"}
    for c, b, n in counts:
        if c in hist:
            hist[c][int(b)] += int(n)
        elif c in cat:
            cat[c][str(b)] = cat[c].get(str(b), 0) + int(n)
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
    out: dict = {"n_bins": n_bins, "columns": {}}
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
            out["columns"][c] = {"kind": "hist", "lo": float(lo), "hi": float(hi), "n_bins": n_bins}
    for c in cats:
        out["columns"][c] = {"kind": "cat"}
    cols = list(out["columns"])
    hist, cat = sketch_counts(
        out, cols, _collect_sketch(df, out, cols, None, max_categories)
    )
    for c in cols:
        out["columns"][c]["counts"] = hist[c] if c in hist else cat[c]
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
    every declared column; raises SpecValidationError naming the path when
    the file is missing or not JSON, or lacks a column. File I/O only, no
    Spark job, so execute() and CLI ``validate`` run it before starting
    any."""
    from pysemantic_spark.errors import SpecValidationError

    if not drift_spec.baseline:
        raise SpecValidationError(
            "drift: block declared without a `baseline` sketch path — "
            "build one with save_drift_baseline(baseline_df, columns, path)"
        )
    try:
        base = load_drift_baseline(drift_spec.baseline)
    except (OSError, ValueError) as e:  # missing, unreadable or not JSON
        raise SpecValidationError(
            f"drift baseline {drift_spec.baseline} cannot be loaded: {e}"
        ) from e
    missing = [c for c in drift_spec.columns if c not in base["columns"]]
    if missing:
        raise SpecValidationError(
            f"drift baseline {drift_spec.baseline} lacks sketches for "
            f"columns {missing} — rebuild it with the full column list"
        )
    return base


def spec_drift_report(
    df: DataFrame, drift_spec, bucket: "F.Column", baseline: dict | None = None
) -> tuple[pd.DataFrame, dict]:
    """Run a DriftSpec (YAML ``drift:`` block) against its baseline file,
    or against ``baseline`` when the caller already loaded and checked it
    with :func:`spec_drift_baseline`.

    The current side is ONE drift sketch keyed by ``bucket`` (an int
    Column over ``df``), collected under the ``max_categories`` bound of
    :func:`_collect_sketch`: at most (buckets) × (Σ(n_bins+2) +
    Σ max_categories) rows. Returns ``(rows, counts)``: pandas (column,
    metric, value, threshold, drifted) scored over the sum of every
    bucket's counts — the rows execute() attaches to its output — and
    bucket → that bucket's sketch rows as [column, bin, cnt] lists."""
    base = spec_drift_baseline(drift_spec) if baseline is None else baseline
    counts: dict = {}
    for r in _collect_sketch(
        df, base, drift_spec.columns, {"bucket": bucket}, drift_spec.max_categories
    ):
        counts.setdefault(r["bucket"], []).append(list(r[1:]))
    rows = _drift_rows(
        base, drift_spec.columns, [t for ts in counts.values() for t in ts],
        psi_threshold=drift_spec.psi_threshold,
        ks_threshold=drift_spec.ks_threshold,
    )
    return rows, counts


def _drift_rows(
    base: dict,
    columns: list[str],
    counts,
    psi_threshold: float,
    ks_threshold: float,
) -> pd.DataFrame:
    """Score current sketch rows against a loaded baseline sketch: pandas
    (column, metric, value, threshold, drifted), one psi and one ks row per
    histogram column and one psi row per categorical column, in
    ``columns`` order. ``counts`` are (column, bin, cnt) triples, summed by
    :func:`sketch_counts`. A column with no current values and a non-empty
    baseline is drifted on every row, whatever its value (see the module
    docstring)."""
    hist, cat = sketch_counts(base, columns, counts)
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


def windowed_drift_sketch(
    stream_df: DataFrame,
    baseline: dict,
    columns: list[str],
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked per-window drift sketch of a (streaming) frame:
    :func:`drift_sketch` keyed by the tumbling window of ``ts_col``, as
    rows (window_start, window_end, column, bin, cnt). State is bounded by
    the watermark, never by the input rate, and the output is append-mode
    capable. Streaming never computes the metric inline: PSI/KS need a
    window's full bin vector, which exists only once the watermark closes
    the window; feed completed windows to :func:`drift_rows_report`.

    ``baseline`` is a loaded sketch dict (save_drift_baseline /
    load_drift_baseline)."""
    return drift_sketch(
        stream_df.withWatermark(ts_col, watermark), baseline, columns,
        {"w": F.window(ts_col, window)},
    ).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "column", "bin", "cnt",
    )


def drift_rows_report(
    sketch_rows,
    baseline: dict,
    ks_threshold: float = 0.1,
    psi_threshold: float = 0.2,
) -> pd.DataFrame:
    """Score sketch rows (collected Rows or pandas with column, bin, cnt,
    e.g. from :func:`windowed_drift_sketch`) against the baseline with
    :func:`_drift_rows`, for every baseline column. Counts of the same
    (column, bin) are summed, so rows of several windows are scored as the
    union of those windows; pass one window's rows to score that window."""
    if isinstance(sketch_rows, pd.DataFrame):
        counts = sketch_rows[["column", "bin", "cnt"]].itertuples(index=False)
    else:
        counts = ((r["column"], r["bin"], r["cnt"]) for r in sketch_rows)
    return _drift_rows(
        baseline, list(baseline["columns"]), counts,
        psi_threshold=psi_threshold, ks_threshold=ks_threshold,
    )
