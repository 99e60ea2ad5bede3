"""Checkpoint/resume: kill after K chunks → rerun validates ONLY the
remaining buckets, and the combined result equals a never-killed run
(SURVEY.md §5.2 item 4); drift quarantine and requalify; the CLI's
`validate` and `requalify` error paths."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pysemantic_spark.fixtures import dim_tools_pdf, transcripts_pdf, transcripts_spec
from pysemantic_spark.sources.tableio import ParquetManifestIO, run_resumable
from pysemantic_spark.spec import DatasetSpec

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


def test_read_buckets_reads_with_the_stored_schema(spark, tmp_path):
    """write_bucketed keeps the table schema in the manifest, so a bucket
    read starts no Spark job (Parquet schema inference starts one). A
    manifest written before the schema was kept reads with the inferred
    schema, the same one, and its table still validates and resumes."""
    import json

    pdf = transcripts_pdf(n_rows=2_000)
    io = ParquetManifestIO(str(tmp_path / "tbl"))
    io.write_bucketed(spark.createDataFrame(pdf), "conv_id", 4)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup() or [])
    stored = io.read_buckets(spark, [0, 1])
    assert set(tracker.getJobIdsForGroup() or []) - before == set()

    with open(io.manifest_path) as f:
        old = json.load(f)
    del old["table_schema"]
    with open(io.manifest_path, "w") as f:
        json.dump(old, f)
    assert io.read_buckets(spark, [0, 1]).schema == stored.schema
    spec = transcripts_spec()
    dims = {"dim_tools": spark.createDataFrame(dim_tools_pdf())}
    first = run_resumable(spark, io, spec, dims=dims, chunk_size=2, max_chunks=1)
    second = run_resumable(spark, io, spec, dims=dims, chunk_size=2)
    assert first["processed"] == [0, 1] and second["processed"] == [2, 3]
    m = io.load_manifest()
    assert m.pending() == []
    assert sum(e.n_rows for e in m.entries.values()) == len(pdf)


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
    buckets (status=quarantined, each with its own drift counts) and a
    rerun SKIPS them instead of revalidating."""
    import pandas as pd
    import numpy as np

    from pysemantic_spark.operators.drift import save_drift_baseline

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
    # per-bucket drift evidence rides the manifest: every quarantined
    # entry carries its own counts (all of its rows, v has no NULLs),
    # which score drifted on their own
    from pysemantic_spark.operators.drift import _drift_rows

    for e in m.entries.values():
        assert e.drift_baseline and sum(n for _, _, n in e.drift_counts) == e.n_rows > 0
        assert _drift_rows(counts=e.drift_counts, **m.drift)["drifted"].all()
    second = run_resumable(spark, io, spec, chunk_size=4)
    assert second["processed"] == []
    assert sorted(second["quarantined"]) == [0, 1, 2, 3]


# ---------------------------------------------------------------------------
# per-bucket drift: the ROADMAP probe shape
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def probe(spark, tmp_path_factory):
    """4,000 rows in 8 buckets on conv_id, ``v`` ~ N(100, 10) with bucket
    3's ``v`` shifted by +60, as a bucketed table; and a 20-bin baseline
    of the unshifted rows. Returns (io, baseline path)."""
    import numpy as np
    import pandas as pd

    from pysemantic_spark.operators.drift import save_drift_baseline
    from pysemantic_spark.operators.runner import _bucket_expr_default

    rng = np.random.default_rng(11)
    base = spark.createDataFrame(pd.DataFrame({
        "conv_id": [f"c{i % 400:08d}" for i in range(4_000)],
        "v": rng.normal(100, 10, 4_000),
    }))
    in3 = _bucket_expr_default("conv_id", N_BUCKETS) == 3
    shifted = base.withColumn("v", F.when(in3, F.col("v") + 60).otherwise(F.col("v")))
    root = tmp_path_factory.mktemp("probe")
    bl = str(root / "bl.json")
    save_drift_baseline(base, ["v"], bl, n_bins=20)
    io = ParquetManifestIO(str(root / "tbl"))
    io.write_bucketed(shifted, "conv_id", N_BUCKETS)
    return io, bl


def _drift_spec(bl, on_drift):

    return DatasetSpec.from_dict(
        "t", {"drift": {"columns": ["v"], "baseline": bl, "n_bins": 20,
                        "on_drift": on_drift}},
    )


def _killed_and_resumed(spark, io, spec, chunk_size):
    """Every bucket back to pending, a run killed after one chunk, and its
    resume."""
    m = io.load_manifest()
    for e in m.entries.values():
        e.status = "pending"
    io.save_manifest(m)
    run_resumable(spark, io, spec, chunk_size=chunk_size, max_chunks=1)
    return run_resumable(spark, io, spec, chunk_size=chunk_size)


@pytest.mark.parametrize("chunk_size", [1, 2, N_BUCKETS])
def test_resumed_drift_is_per_bucket(spark, probe, chunk_size):
    """Killed and resumed at any chunk size, ``table_report``'s drift rows
    equal one execute()'s over the same rows, value for value, and
    ``on_drift: quarantine`` parks exactly the shifted bucket."""
    from pysemantic_spark.operators.runner import execute
    from pysemantic_spark.sources.tableio import table_report

    io, bl = probe
    spec = _drift_spec(bl, "ignore")
    _killed_and_resumed(spark, io, spec, chunk_size)
    got = table_report(io)
    df = io.read_buckets(spark, list(range(N_BUCKETS))).drop("bucket")
    want = execute(spark, df, spec, bucket_by="conv_id", n_buckets=N_BUCKETS)
    assert got["drift"].to_dict("records") == want["drift"].to_dict("records")
    assert got["drift"]["drifted"].any() and got["drift_excluded"] == []

    out = _killed_and_resumed(spark, io, _drift_spec(bl, "quarantine"), chunk_size)
    assert out["quarantined"] == [3]
    m = io.load_manifest()
    assert sorted(b for b, e in m.entries.items() if e.status == "done") == [
        0, 1, 2, 4, 5, 6, 7
    ]


def test_table_report_drift_merges_only_the_current_baseline(spark, probe, tmp_path):
    """After a baseline refresh, requalify and resume, the done buckets
    were binned under two baselines. ``table_report`` scores only those
    binned under the manifest's current baseline and names the rest in
    ``drift_excluded``; every other number still covers all done buckets."""
    import shutil

    from pysemantic_spark.operators.drift import save_drift_baseline
    from pysemantic_spark.operators.runner import execute
    from pysemantic_spark.sources.tableio import requalify_buckets, table_report

    io, bl0 = probe
    bl = str(tmp_path / "bl.json")
    shutil.copy(bl0, bl)
    spec = _drift_spec(bl, "quarantine")
    assert _killed_and_resumed(spark, io, spec, 2)["quarantined"] == [3]
    assert table_report(io)["drift_excluded"] == []

    # the operator accepts the drift: a baseline refreshed from the parked
    # bucket has new lo/hi
    save_drift_baseline(io.read_buckets(spark, [3]).drop("bucket"), ["v"], bl, n_bins=20)
    assert requalify_buckets(io) == [3]
    resumed = run_resumable(spark, io, spec, chunk_size=2)
    assert resumed["processed"] == [3] and resumed["quarantined"] == []
    got = table_report(io)
    assert got["drift_excluded"] == [0, 1, 2, 4, 5, 6, 7]
    assert got["n_rows"] == 4_000
    want = execute(
        spark, io.read_buckets(spark, [3]).drop("bucket"), spec,
        bucket_by="conv_id", n_buckets=N_BUCKETS,
    )
    assert got["drift"].to_dict("records") == want["drift"].to_dict("records")


def test_cli_validate_missing_dim_exits_1(spark, tmp_path, capsys):
    """`validate` with a spec whose referential dim is not passed via
    --dim prints one line naming the check and the missing dim, and exits
    1, before any job runs. A fresh (not --resume) run leaves the
    manifest as it was: its finished buckets stay done."""
    from pysemantic_spark.cli import main as cli_main

    io = ParquetManifestIO(str(tmp_path / "tbl"))
    io.write_bucketed(spark.createDataFrame(transcripts_pdf(n_rows=200)), "conv_id", 4)
    dims = {"dim_tools": spark.createDataFrame(dim_tools_pdf())}
    run_resumable(spark, io, transcripts_spec(), dims=dims, chunk_size=2, max_chunks=1)
    assert [b for b, e in io.load_manifest().entries.items() if e.status == "done"]
    with open(io.manifest_path, "rb") as f:
        before = f.read()
    spec = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "specs", "transcripts.yaml")
    capsys.readouterr()
    rc = cli_main(["validate", "--spec", spec, "--dataset", "transcripts",
                   "--table", io.root])
    err = capsys.readouterr().err.strip().splitlines()
    assert rc == 1
    assert len(err) == 1 and "referential:tool" in err[0] and "dim_tools" in err[0], err
    assert "Traceback" not in err[0]
    with open(io.manifest_path, "rb") as f:
        assert f.read() == before


def test_cli_validate_bad_drift_baseline_exits_1(spark, tmp_path, capsys):
    """`validate` with a spec whose drift baseline is missing, or is not
    JSON, prints one line naming the baseline path and exits 1 before the
    session starts. A fresh (not --resume) run leaves the manifest as it
    was: its finished buckets stay done."""
    from pysemantic_spark.cli import main as cli_main

    io = ParquetManifestIO(str(tmp_path / "tbl"))
    io.write_bucketed(spark.createDataFrame(transcripts_pdf(n_rows=200)), "conv_id", 4)
    dims = {"dim_tools": spark.createDataFrame(dim_tools_pdf())}
    run_resumable(spark, io, transcripts_spec(), dims=dims, chunk_size=2, max_chunks=1)
    assert [b for b, e in io.load_manifest().entries.items() if e.status == "done"]
    with open(io.manifest_path, "rb") as f:
        before = f.read()
    not_json = tmp_path / "not_json.json"
    not_json.write_text("not json")
    for baseline in (tmp_path / "missing.json", not_json):
        spec = tmp_path / "drift.yaml"
        spec.write_text(
            "t:\n"
            "  column_rules:\n    turn_idx:\n      min: 0\n"
            f"  drift:\n    columns: [turn_idx]\n    baseline: {baseline}\n"
        )
        capsys.readouterr()
        rc = cli_main(["validate", "--spec", str(spec), "--dataset", "t",
                       "--table", io.root])
        err = capsys.readouterr().err.strip().splitlines()
        assert rc == 1
        assert len(err) == 1 and str(baseline) in err[0], err
        assert "Traceback" not in err[0]
        with open(io.manifest_path, "rb") as f:
            assert f.read() == before


def test_cli_requalify_missing_manifest_exits_1(tmp_path, capsys):
    from pysemantic_spark import cli

    rc = cli.main(["requalify", "--table", str(tmp_path / "nowhere")])
    assert rc == 1
    err = capsys.readouterr().err
    assert "no checkpoint manifest" in err


def test_quarantine_requalify_lifecycle(spark, tmp_path):
    """park → refresh baseline → requalify → resume."""
    import numpy as np
    import pandas as pd

    from pysemantic_spark.operators.drift import save_drift_baseline
    from pysemantic_spark.sources.tableio import requalify_buckets

    rng = np.random.default_rng(6)
    base = spark.createDataFrame(
        pd.DataFrame({"v": rng.normal(100, 10, 4000), "k": range(4000)})
    )
    shifted_pdf = pd.DataFrame(
        {"v": rng.normal(170, 10, 4000), "k": range(4000)}
    )
    shifted = spark.createDataFrame(shifted_pdf)
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

    # naming a non-quarantined bucket is rejected
    with pytest.raises(ValueError, match="not quarantined"):
        requalify_buckets(io, [0, 99])

    # operator accepts the drift: refresh the baseline from the new data,
    # then requalify — CLI verb for two buckets, API for the rest
    save_drift_baseline(shifted, ["v"], bl)
    from pysemantic_spark.cli import main as cli_main

    assert cli_main(
        ["requalify", "--table", io.root, "--bucket", "0", "--bucket", "1"]
    ) == 0
    m = io.load_manifest()
    assert sorted(m.pending()) == [0, 1]
    assert sorted(m.quarantined()) == [2, 3]
    assert requalify_buckets(io) == [2, 3]          # rest, default=all

    # resume revalidates ALL requalified buckets against the new baseline
    second = run_resumable(spark, io, spec, chunk_size=4)
    assert sorted(second["processed"]) == [0, 1, 2, 3]
    assert second["quarantined"] == []
    m = io.load_manifest()
    assert all(e.status == "done" for e in m.entries.values())


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
