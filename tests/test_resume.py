"""Checkpoint/resume: kill after K chunks → rerun validates ONLY the
remaining buckets, and the combined result equals a never-killed run
(SURVEY.md §5.2 item 4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pysemantic_spark.fixtures import dim_tools_pdf, transcripts_pdf, transcripts_spec
from pysemantic_spark.sources.tableio import ParquetManifestIO, run_resumable

N_BUCKETS = 8


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("tbl"))
    pdf = transcripts_pdf(n_rows=6_000)
    df = spark.createDataFrame(pdf)
    io = ParquetManifestIO(root)
    io.write_bucketed(df, "conv_id", N_BUCKETS)
    dims = {"dim_tools": spark.createDataFrame(dim_tools_pdf())}
    return io, dims, len(pdf)


def test_partition_pruning_in_plan(spark, table):
    io, _, _ = table
    df = io.read_buckets(spark, [1, 3])
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in physical
    got_buckets = {r["bucket"] for r in df.select("bucket").distinct().collect()}
    assert got_buckets <= {1, 3}


def test_read_buckets_packs_small_files_into_shared_splits(spark, table):
    """Spark's own split sizing packs the small per-bucket files into shared
    scan splits; a session cap on maxPartitionBytes at the 4 MB file open
    cost would plan one split per file. The parallelism the sizing divides
    the bytes by is pinned so the check does not depend on the core count."""
    import glob
    import os

    io, _, _ = table
    chunk = [0, 1, 2, 3]
    n_files = sum(
        len(glob.glob(os.path.join(io.data_dir, f"bucket={b}", "*.parquet")))
        for b in chunk
    )
    spark.conf.set("spark.sql.files.minPartitionNum", "2")
    try:
        n_splits = io.read_buckets(spark, chunk).rdd.getNumPartitions()
    finally:
        spark.conf.unset("spark.sql.files.minPartitionNum")
    assert n_files > 2
    assert n_splits < n_files


def test_kill_and_resume(spark, table):
    io, dims, n_total = table
    spec = transcripts_spec()

    # simulated kill: only 2 chunks of 2 buckets complete
    first = run_resumable(spark, io, spec, dims=dims, chunk_size=2, max_chunks=2)
    assert len(first["processed"]) == 4
    m = io.load_manifest()
    assert len(m.pending()) == N_BUCKETS - 4

    # resume: must process exactly the remaining buckets
    second = run_resumable(spark, io, spec, dims=dims, chunk_size=2)
    assert sorted(second["processed"]) == sorted(m.pending())
    assert sorted(second["skipped"]) == sorted(first["processed"])

    final = io.load_manifest()
    assert final.pending() == []
    assert sum(e.n_rows for e in final.entries.values()) == n_total
    # lineage recorded for every bucket
    assert all(e.input_fingerprint for e in final.entries.values())
    assert all(e.run_id for e in final.entries.values())
    # two distinct run ids prove the split execution
    assert len({e.run_id for e in final.entries.values()}) == 2
    # each chunk's first bucket keeps the chunk's duplicate-key facts
    for first_bucket in (0, 2, 4, 6):
        rec = final.entries[first_bucket].stats
        assert rec["dupes_path"].endswith(f"chunk={first_bucket}_dupes")
        assert {"phase_timings", "n_dup_keys", "dupes_path"} <= set(rec)
    assert sum(final.entries[b].stats["n_dup_keys"] for b in (0, 2, 4, 6)) > 0
    assert all(final.entries[b].stats == {} for b in (1, 3, 5, 7))


def test_resume_matches_single_run(spark, table, tmp_path):
    """Killed+resumed totals equal a fresh single run on the same data."""
    io, dims, _ = table
    spec = transcripts_spec()
    root2 = str(tmp_path / "tbl2")
    io2 = ParquetManifestIO(root2)
    df = io.read_buckets(spark, list(range(N_BUCKETS))).drop("bucket")
    io2.write_bucketed(df, "conv_id", N_BUCKETS)
    run_resumable(spark, io2, spec, dims=dims, chunk_size=N_BUCKETS)

    m_split = io.load_manifest()
    m_single = io2.load_manifest()
    for b in range(N_BUCKETS):
        assert m_split.entries[b].n_rows == m_single.entries[b].n_rows, b
        assert (
            m_split.entries[b].n_violating_rows
            == m_single.entries[b].n_violating_rows
        ), b


def test_resumed_table_report_equals_one_execute(spark, tmp_path):
    """A table validated in a killed run (2 chunks of 2 buckets) and its
    resume reports exactly what one execute() over the same rows reports:
    per-bucket counts, per-check counts, per-column nulls/min/max and the
    theta-sketch distinct estimates, merged from the summary each bucket
    stored."""
    from pysemantic_spark.operators.runner import execute
    from pysemantic_spark.sources.tableio import table_report

    spec = transcripts_spec()
    dims = {"dim_tools": spark.createDataFrame(dim_tools_pdf())}
    io = ParquetManifestIO(str(tmp_path / "tbl"))
    io.write_bucketed(
        spark.createDataFrame(transcripts_pdf(n_rows=4_000)), "conv_id", N_BUCKETS
    )
    run_resumable(spark, io, spec, dims=dims, chunk_size=2, max_chunks=2)
    run_resumable(spark, io, spec, dims=dims, chunk_size=2)
    m = io.load_manifest()
    assert all(e.status == "done" and e.summary for e in m.entries.values())

    got = table_report(io)
    df = io.read_buckets(spark, list(range(N_BUCKETS))).drop("bucket")
    want = execute(spark, df, spec, dims=dims, bucket_by="conv_id", n_buckets=N_BUCKETS)

    cols = ["bucket", "n_rows", "n_violating_rows", "passed"]
    assert got["partition_report"][cols].to_dict("records") == (
        want["partition_report"][cols].to_dict("records")
    )
    assert got["n_rows"] == want["n_rows"]
    assert got["check_counts"].to_dict("records") == want["check_counts"].to_dict("records")
    assert got["stats"].to_dict("records") == want["stats"].to_dict("records")
    assert got["n_violating_rows"] == int(want["partition_report"]["n_violating_rows"].sum())
    assert got["stats"]["approx_distinct"].gt(0).any()


def test_idempotent_when_done(spark, table):
    io, dims, _ = table
    third = run_resumable(spark, io, transcripts_spec(), dims=dims)
    assert third["processed"] == []
    assert len(third["skipped"]) == N_BUCKETS


def test_run_resumable_depends_only_on_the_io_interface(spark, tmp_path):
    """Interface-shape contract for pluggable table IO (IcebergIO on a real
    cluster, ParquetManifestIO here): run_resumable must drive ANY object
    exposing read_buckets/load_manifest/save_manifest/_bucket_fingerprint
    and a root, touching nothing else — asserted with a recording mock that
    delegates storage to ParquetManifestIO."""
    import pandas as pd

    from pysemantic_spark.sources import tableio
    from pysemantic_spark.spec import DatasetSpec

    inner = tableio.ParquetManifestIO(str(tmp_path / "t"))
    pdf = pd.DataFrame(
        {"conv_id": [f"c{i % 7}" for i in range(200)], "turn_idx": list(range(200))}
    )
    inner.write_bucketed(spark.createDataFrame(pdf), "conv_id", n_buckets=4)

    calls = []

    class RecordingIO:
        root = inner.root

        def read_buckets(self, spark_, buckets):
            calls.append(("read_buckets", tuple(buckets)))
            return inner.read_buckets(spark_, buckets)

        def load_manifest(self):
            calls.append(("load_manifest",))
            return inner.load_manifest()

        def save_manifest(self, m):
            calls.append(("save_manifest", tuple(sorted(
                b for b, e in m.entries.items() if e.status == "done"
            ))))
            inner.save_manifest(m)

        def _bucket_fingerprint(self, b):
            return inner._bucket_fingerprint(b)

    spec = DatasetSpec.from_dict("t", {"uniqueness": [["conv_id", "turn_idx"]]})
    out = tableio.run_resumable(
        spark, RecordingIO(), spec, chunk_size=2,
        violations_dir=str(tmp_path / "viol"),
    )
    assert sorted(out["processed"]) == [0, 1, 2, 3]
    # contract: one load, one read per chunk, one save per chunk
    assert calls[0] == ("load_manifest",)
    reads = [c for c in calls if c[0] == "read_buckets"]
    saves = [c for c in calls if c[0] == "save_manifest"]
    assert reads == [("read_buckets", (0, 1)), ("read_buckets", (2, 3))]
    # manifest checkpointing is incremental: done-set grows per chunk
    assert saves == [("save_manifest", (0, 1)), ("save_manifest", (0, 1, 2, 3))]


def test_icebergio_fails_loudly_without_runtime(spark):
    """No iceberg jar in this sandbox: the IcebergIO surface must raise a
    clear RuntimeError naming the fallback, never silently degrade."""
    import pytest as _pytest

    from pysemantic_spark.sources.tableio import IcebergIO

    io = IcebergIO("cat.db.transcripts")
    with _pytest.raises(RuntimeError, match="ParquetManifestIO"):
        io.write_bucketed(None, "conv_id", 16)
    with _pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        io.read_buckets(spark, [0])


def test_execute_on_drift_fail_raises(spark, tmp_path):
    """drift.on_drift: fail → execute raises DriftDetectedError carrying
    the report when any metric crosses its threshold."""
    import pandas as pd
    import numpy as np

    from pysemantic_spark.errors import DriftDetectedError
    from pysemantic_spark.operators.drift import save_drift_baseline
    from pysemantic_spark.operators.runner import execute
    from pysemantic_spark.spec import DatasetSpec

    rng = np.random.default_rng(5)
    base = spark.createDataFrame(
        pd.DataFrame({"v": rng.normal(100, 10, 5000), "k": range(5000)})
    )
    shifted = spark.createDataFrame(
        pd.DataFrame({"v": rng.normal(160, 10, 5000), "k": range(5000)})
    )
    bl = str(tmp_path / "bl.json")
    save_drift_baseline(base, ["v"], bl)
    spec = DatasetSpec.from_dict(
        "t",
        {"drift": {"columns": ["v"], "baseline": bl, "on_drift": "fail"}},
    )
    with pytest.raises(DriftDetectedError) as exc:
        execute(spark, shifted, spec, bucket_by="k", n_buckets=4)
    assert exc.value.report is not None
    assert bool(exc.value.report["drifted"].any())
    # ignore (default) completes and reports the same rows
    ok = DatasetSpec.from_dict(
        "t", {"drift": {"columns": ["v"], "baseline": bl}}
    )
    out = execute(spark, shifted, ok, bucket_by="k", n_buckets=4)
    assert bool(out["drift"]["drifted"].any())


def _drift_frames(spark, tmp_path, columns):
    """A baseline sketch of ``v`` ~ N(100, 10) and a current frame shifted
    to N(160, 10), both with a unique ``k``; returns (current, baseline
    path)."""
    import numpy as np
    import pandas as pd

    from pysemantic_spark.operators.drift import save_drift_baseline

    rng = np.random.default_rng(5)
    base = spark.createDataFrame(
        pd.DataFrame({"v": rng.normal(100, 10, 2000), "k": range(2000)})
    )
    shifted = spark.createDataFrame(
        pd.DataFrame({"v": rng.normal(160, 10, 2000), "k": range(2000)})
    )
    bl = str(tmp_path / "bl.json")
    save_drift_baseline(base, columns, bl)
    return shifted, bl


def test_execute_drift_fail_leaves_nothing_persisted(spark, tmp_path):
    """A DriftDetectedError raised after the jobs ran releases what execute
    persisted without sinks: the violations frame and the dup-key groups."""
    from pysemantic_spark.errors import DriftDetectedError
    from pysemantic_spark.operators.runner import execute
    from pysemantic_spark.spec import DatasetSpec

    shifted, bl = _drift_frames(spark, tmp_path, ["v"])
    spec = DatasetSpec.from_dict(
        "t",
        {
            "uniqueness": [["k"]],
            "drift": {"columns": ["v"], "baseline": bl, "on_drift": "fail"},
        },
    )
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(DriftDetectedError):
        execute(spark, shifted, spec, bucket_by="k", n_buckets=4)
    assert jsc.getPersistentRDDs().size() == before


def test_execute_bad_drift_block_fails_before_any_sink(spark, tmp_path):
    """A baseline that lacks a declared drift column is a spec error, raised
    before any job runs: the violations sink is never written."""
    from pysemantic_spark.errors import SpecValidationError
    from pysemantic_spark.operators.runner import execute
    from pysemantic_spark.spec import DatasetSpec

    shifted, bl = _drift_frames(spark, tmp_path, ["v"])
    spec = DatasetSpec.from_dict(
        "t", {"drift": {"columns": ["v", "k"], "baseline": bl}}
    )
    sink = tmp_path / "violations"
    with pytest.raises(SpecValidationError, match="lacks sketches"):
        execute(
            spark, shifted, spec, bucket_by="k", n_buckets=4,
            violations_sink=str(sink),
        )
    assert not sink.exists()


def test_run_resumable_quarantines_drifted_chunk(spark, tmp_path):
    """VERDICT r2 #9: on_drift: quarantine parks the drifted chunk's
    buckets (status=quarantined, recorded drift rows) and a rerun SKIPS
    them instead of revalidating."""
    import pandas as pd
    import numpy as np

    from pysemantic_spark.operators.drift import save_drift_baseline
    from pysemantic_spark.spec import DatasetSpec

    rng = np.random.default_rng(6)
    base = spark.createDataFrame(
        pd.DataFrame({"v": rng.normal(100, 10, 4000), "k": range(4000)})
    )
    shifted = spark.createDataFrame(
        pd.DataFrame({"v": rng.normal(170, 10, 4000), "k": range(4000)})
    )
    bl = str(tmp_path / "bl.json")
    save_drift_baseline(base, ["v"], bl)
    spec = DatasetSpec.from_dict(
        "t",
        {
            "column_rules": {"v": {"min": 0.0}},
            "drift": {"columns": ["v"], "baseline": bl,
                      "on_drift": "quarantine"},
        },
    )
    io = ParquetManifestIO(str(tmp_path / "tbl"))
    io.write_bucketed(shifted, "k", 4)
    first = run_resumable(spark, io, spec, chunk_size=4)
    assert sorted(first["quarantined"]) == [0, 1, 2, 3]
    m = io.load_manifest()
    assert m.pending() == []  # parked, not retried
    assert all(e.status == "quarantined" for e in m.entries.values())
    # drift evidence rides the manifest
    assert any("drift" in e.stats for e in m.entries.values())
    second = run_resumable(spark, io, spec, chunk_size=4)
    assert second["processed"] == []
    assert sorted(second["quarantined"]) == [0, 1, 2, 3]
