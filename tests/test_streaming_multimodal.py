"""Streaming drift tests: the window-keyed drift sketch and its scorer."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from pysemantic_spark.operators import drift


def test_windowed_drift_sketch_stream_matches_batch(spark, tmp_path):
    """Streaming drift: the per-window sketch stream scored by
    drift_rows_report must reproduce the BATCH spec-drift metrics exactly
    when all data falls in one window (same formulas, same baseline)."""
    from pysemantic_spark.operators.drift import (
        load_drift_baseline,
        save_drift_baseline,
        spec_drift_report,
    )
    from pysemantic_spark.spec import DatasetSpec

    rng = np.random.default_rng(9)
    n = 4000
    base_pdf = pd.DataFrame(
        {
            "v": rng.normal(100, 15, n),
            "cat": rng.choice(["a", "b", "c"], n),
            "ts": pd.Timestamp("2024-01-01 00:00:30"),
        }
    )
    cur_pdf = base_pdf.copy()
    cur_pdf["v"] = rng.normal(130, 15, n)  # shifted → drift
    bl_path = str(tmp_path / "bl.json")
    save_drift_baseline(
        spark.createDataFrame(base_pdf[["v", "cat"]]), ["v", "cat"], bl_path
    )
    baseline = load_drift_baseline(bl_path)

    src = str(tmp_path / "src")
    spark.createDataFrame(cur_pdf).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    sk = drift.windowed_drift_sketch(
        stream, baseline, ["v", "cat"], ts_col="ts", window="1 minute"
    )
    q = (
        sk.writeStream.format("memory").queryName("driftsk")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.processAllAvailable(); q.stop()
    rows = spark.sql("select * from driftsk").collect()
    assert len(rows) > 0
    assert len({(r["window_start"], r["window_end"]) for r in rows}) == 1

    got = drift.drift_rows_report(rows, baseline).set_index(["column", "metric"])
    spec = DatasetSpec.from_dict(
        "t", {"drift": {"columns": ["v", "cat"], "baseline": bl_path}}
    )
    exp = spec_drift_report(
        spark.createDataFrame(cur_pdf[["v", "cat"]]), spec.drift, F.lit(0)
    )[0].set_index(["column", "metric"])
    assert sorted(got.index) == sorted(exp.index)
    for idx in exp.index:
        assert got.loc[idx, "value"] == exp.loc[idx, "value"], idx
        assert got.loc[idx, "drifted"] == exp.loc[idx, "drifted"], idx
    assert bool(got.loc[("v", "psi"), "drifted"])
    assert not bool(got.loc[("cat", "psi"), "drifted"])


def test_drift_rows_report_scores_several_windows_as_their_union():
    """Rows of two windows are scored as the union of the windows: counts
    of the same bin are summed, never overwritten by the later window."""
    from pysemantic_spark.operators.drift import (
        _cat_psi_laplace,
        _ks_counts,
        _psi_laplace_counts,
    )

    baseline = {
        "n_bins": 2,
        "columns": {
            "v": {"kind": "hist", "lo": 0.0, "hi": 2.0, "n_bins": 2,
                  "counts": [0, 50, 50, 0]},
            "cat": {"kind": "cat", "counts": {"a": 50, "b": 50}},
        },
    }
    w1, w2 = "2024-01-01 00:00", "2024-01-01 00:01"
    rows = pd.DataFrame(
        [
            (w1, "v", "1", 40), (w1, "v", "2", 10),
            (w2, "v", "1", 10), (w2, "v", "2", 40),
            (w1, "cat", "a", 45), (w1, "cat", "b", 5),
            (w2, "cat", "a", 5), (w2, "cat", "b", 45),
        ],
        columns=["window_start", "column", "bin", "cnt"],
    )
    got = drift.drift_rows_report(rows, baseline).set_index(["column", "metric"])
    union_v, union_cat = [0, 50, 50, 0], {"a": 50, "b": 50}
    assert got.loc[("v", "psi"), "value"] == _psi_laplace_counts(
        baseline["columns"]["v"]["counts"], union_v) == 0.0
    assert got.loc[("v", "ks"), "value"] == _ks_counts(
        baseline["columns"]["v"]["counts"], union_v) == 0.0
    assert got.loc[("cat", "psi"), "value"] == _cat_psi_laplace(
        baseline["columns"]["cat"]["counts"], union_cat) == 0.0
    assert not got["drifted"].any()
    # one window alone still drifts
    one = drift.drift_rows_report(rows[rows.window_start == w1], baseline)
    assert one.set_index(["column", "metric"]).loc[("v", "psi"), "drifted"]


def test_drift_rows_report_empty_column_is_drifted():
    """A baseline column with no rows in the scored windows is drifted on
    every row; its values stay as the formulas give them."""
    baseline = {
        "n_bins": 2,
        "columns": {
            "v": {"kind": "hist", "lo": 0.0, "hi": 2.0, "n_bins": 2,
                  "counts": [0, 50, 50, 0]},
            "cat": {"kind": "cat", "counts": {"a": 50, "b": 50}},
        },
    }
    rows = pd.DataFrame(
        [("2024-01-01 00:00", "v", "1", 50), ("2024-01-01 00:00", "v", "2", 50)],
        columns=["window_start", "column", "bin", "cnt"],
    )
    got = drift.drift_rows_report(rows, baseline).set_index(["column", "metric"])
    assert got.loc[("cat", "psi"), "value"] == 0.0
    assert bool(got.loc[("cat", "psi"), "drifted"])
    assert not got.loc["v", "drifted"].any()
    empty = drift.drift_rows_report(rows.iloc[:0], baseline)
    assert empty["drifted"].all()
