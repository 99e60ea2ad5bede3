"""Structured Streaming validation.

The reference has no streaming (batch pandas only); the batch engine's
resumability is the checkpoint manifest (sources/tableio.py). This module
covers the *streaming ingest* case anyway: the SAME compiled CheckPlan is
applied to a streaming DataFrame — the fused violation-bitmap projection is
stateless, so it rides `readStream` unchanged; referential checks join
against static broadcast dims (stream-static join, supported natively).

Shapes:
- `attach_checks(stream_df, plan, dims)` → stream with `_violations`
- `violation_stream(...)`               → per-violation rows for a sink
- `windowed_violation_counts(...)`      → watermarked per-window per-check
  counts (late data handled by the watermark; output append-mode capable)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pysemantic_spark.plans.compiler import CheckPlan, compile_spec
from pysemantic_spark.spec import DatasetSpec

VIOLATIONS_COL = "_violations"


def attach_checks(
    stream_df: DataFrame,
    spec: DatasetSpec | CheckPlan,
    dims: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Add the fused `_violations` bitmap to a (possibly streaming) frame.

    Identical expression tree to the batch runner — one projection, plus a
    stream-static broadcast join per referential check."""
    plan = spec if isinstance(spec, CheckPlan) else compile_spec(spec)
    dims = dims or {}
    work = stream_df
    ref_flags = []
    for ref in plan.referential:
        if ref.dim_table not in dims:
            raise KeyError(f"missing dim table {ref.dim_table!r}")
        mark = f"__ref_ok__{ref.column}"
        dim = (
            dims[ref.dim_table]
            .select(F.col(ref.dim_column).alias(ref.column))
            .distinct()
            .withColumn(mark, F.lit(True))
        )
        work = work.join(F.broadcast(dim), on=ref.column, how="left")
        ref_flags.append(
            (ref.name, F.col(ref.column).isNotNull() & F.col(mark).isNull())
        )
    flags = [F.when(c.violation_expr(), F.lit(c.name)) for c in plan.row_checks]
    flags += [
        F.when(F.coalesce(e, F.lit(False)), F.lit(n)) for n, e in ref_flags
    ]
    arr = F.array_compact(F.array(*flags)) if flags else F.array().cast("array<string>")
    return work.withColumn(VIOLATIONS_COL, arr).select(
        *stream_df.columns, VIOLATIONS_COL
    )


def violation_stream(
    stream_df: DataFrame,
    spec: DatasetSpec | CheckPlan,
    key_cols: list[str],
    dims: dict[str, DataFrame] | None = None,
) -> DataFrame:
    flagged = attach_checks(stream_df, spec, dims)
    return flagged.filter(F.size(VIOLATIONS_COL) > 0).select(
        *key_cols, F.explode(VIOLATIONS_COL).alias("check_name")
    )


def windowed_violation_counts(
    stream_df: DataFrame,
    spec: DatasetSpec | CheckPlan,
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
    dims: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Watermarked tumbling-window violation counts per check.

    Append-mode compatible: state for a window is dropped once the
    watermark passes, bounding memory at any input rate."""
    flagged = attach_checks(stream_df, spec, dims)
    return (
        flagged.filter(F.size(VIOLATIONS_COL) > 0)
        .withWatermark(ts_col, watermark)
        .select(F.col(ts_col), F.explode(VIOLATIONS_COL).alias("check_name"))
        .groupBy(F.window(ts_col, window).alias("w"), "check_name")
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "check_name",
            "n_violations",
        )
    )


def windowed_drift_sketch(
    stream_df: DataFrame,
    baseline: dict,
    columns: list[str],
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked per-window drift SKETCH stream (append-mode capable).

    Emits (window_start, window_end, column, bin, cnt) rows: for numeric
    drift columns the bin is the baseline histogram's bin id, for
    categorical columns the category value — exactly the count vectors the
    batch drift metrics consume, ≤ Σ(n_bins+2)+Σ|categories| rows per
    window (state bounded by the watermark, never by input rate). Feed
    completed windows to :func:`drift_rows_report` to score PSI/KS against
    the same baseline the batch path uses. Streaming never computes the
    metric inline: PSI/KS need a window's FULL bin vector, which only
    exists once the watermark closes the window — emitting the mergeable
    sketch keeps the operator single-pass and restart-safe.

    ``baseline`` is a loaded sketch dict (save_drift_baseline /
    load_drift_baseline)."""
    from pysemantic_spark.errors import SpecValidationError
    from pysemantic_spark.operators.drift import bin_expr

    missing = [c for c in columns if c not in baseline.get("columns", {})]
    if missing:
        raise SpecValidationError(
            f"drift baseline lacks sketches for columns {missing}"
        )
    exprs = []
    for c in columns:
        entry = baseline["columns"][c]
        if entry["kind"] == "hist":
            e = bin_expr(c, entry["lo"], entry["hi"], entry["n_bins"]).cast("string")
        else:
            e = F.col(c).cast("string")
        exprs.append(F.struct(F.lit(c).alias("column"), e.alias("bin")))
    return (
        stream_df.withWatermark(ts_col, watermark)
        .select(F.col(ts_col), F.explode(F.array(*exprs)).alias("cb"))
        .filter(F.col("cb.bin").isNotNull())
        .groupBy(
            F.window(ts_col, window).alias("w"),
            F.col("cb.column").alias("column"),
            F.col("cb.bin").alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "column",
            "bin",
            "cnt",
        )
    )


def drift_rows_report(
    sketch_rows,
    baseline: dict,
    ks_threshold: float = 0.1,
    psi_threshold: float = 0.2,
):
    """Score sketch rows (from :func:`windowed_drift_sketch`) against the
    baseline: pandas (column, metric, value, threshold, drifted) for every
    baseline column — the batch spec-drift rows and formulas
    (``drift._drift_rows``).

    Counts of the same (column, bin) are summed, so rows of several
    windows are scored as the union of those windows; pass one window's
    rows to score that window."""
    import pandas as pd

    from pysemantic_spark.operators.drift import _drift_rows

    pdf = (
        sketch_rows
        if isinstance(sketch_rows, pd.DataFrame)
        else pd.DataFrame([r.asDict() for r in sketch_rows])
    )
    entries = baseline["columns"]
    hist = {
        c: [0] * (e["n_bins"] + 2) for c, e in entries.items() if e["kind"] == "hist"
    }
    cat: dict[str, dict[str, int]] = {
        c: {} for c, e in entries.items() if e["kind"] != "hist"
    }
    if len(pdf):
        for c, b, n in pdf[["column", "bin", "cnt"]].itertuples(index=False):
            if c in hist:
                hist[c][int(b)] += int(n)
            elif c in cat:
                cat[c][str(b)] = cat[c].get(str(b), 0) + int(n)
    return _drift_rows(
        baseline, list(entries), hist, cat,
        psi_threshold=psi_threshold, ks_threshold=ks_threshold,
    )
