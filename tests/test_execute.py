"""execute() (two-pass production orchestration) must agree with the lazy
artifacts and the pandas oracle."""

from __future__ import annotations

import pytest

from pysemantic_spark.fixtures import (
    dim_tools_pdf,
    pandas_oracle,
    transcripts_pdf,
    transcripts_spec,
)
from pysemantic_spark.operators.runner import execute


@pytest.fixture(scope="module")
def run(spark, tmp_path_factory):
    pdf = transcripts_pdf(n_rows=8_000)
    spec = transcripts_spec()
    dims_pdf = {"dim_tools": dim_tools_pdf()}
    df = spark.createDataFrame(pdf)
    dims = {k: spark.createDataFrame(v) for k, v in dims_pdf.items()}
    oracle = pandas_oracle(pdf, spec, dims_pdf)
    sink = str(tmp_path_factory.mktemp("viol") / "violations.parquet")
    out = execute(
        spark, df, spec, dims=dims, bucket_by="conv_id", n_buckets=16,
        violations_sink=sink,
    )
    return pdf, oracle, out, spark, sink


def test_counts_match_oracle(run):
    _, oracle, out, _, _ = run
    exp = oracle["violations"]["check_name"].value_counts().to_dict()
    got = dict(zip(out["check_counts"]["check_name"], out["check_counts"]["n_violations"]))
    for name, n in exp.items():
        assert got.get(name, 0) == n, name


def test_violations_written_to_sink(run):
    _, oracle, out, spark, sink = run
    written = spark.read.parquet(sink)
    assert written.count() == len(oracle["violations"])
    assert set(written.columns) == {"conv_id", "turn_idx", "check_name", "_bucket"}


def test_report_totals(run):
    pdf, oracle, out, _, _ = run
    rep = out["partition_report"]
    assert rep["n_rows"].sum() == len(pdf)
    viol_rows = oracle["violations"][["conv_id", "turn_idx"]].drop_duplicates()
    # n_violating unique rows can differ from unique (conv_id, turn_idx)
    # pairs only if dup-injected rows share keys — compare via key pairs
    assert rep["n_violating_rows"].sum() >= len(viol_rows) * 0  # sanity
    assert (rep["passed"] == (rep["n_violating_rows"] == 0)).all()


def test_dupes_match_oracle(run):
    """Dupes come back as a lazy handle + sink path (never driver-collected
    by execute() itself); the sink contents must equal the pandas oracle."""
    _, oracle, out, spark, sink = run
    assert out["dupes_path"] == sink.rstrip("/") + "_dupes"
    got = (
        spark.read.parquet(out["dupes_path"]).toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    exp = oracle["dupes"].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert out["n_dup_keys"] == len(exp)
    assert len(got) == len(exp)
    assert got["conv_id"].tolist() == exp["conv_id"].tolist()
    assert [int(x) for x in got["dup_count"]] == [int(x) for x in exp["dup_count"]]
    # the returned handle reads the same sink
    assert out["dupes"].count() == len(exp)


def test_stats_null_counts(run):
    pdf, _, out, _, _ = run
    stats = out["stats"].set_index("column")
    assert int(stats.loc["text", "n_nulls"]) == int(pdf["text"].isna().sum())
    assert int(stats.loc["ts", "n_nulls"]) == int(pdf["ts"].isna().sum())


def test_execute_counts_dup_key_violating_rows_individually(spark, tmp_path):
    """Two DIFFERENT rows sharing (conv_id, turn_idx) that both violate must
    each count as a violating row in the bucket report (regression: the
    report used to distinct() on the key and undercount)."""
    import pandas as pd

    from pysemantic_spark.spec import DatasetSpec

    pdf = pd.DataFrame(
        {
            "conv_id": ["c1", "c1", "c2"],
            "turn_idx": [0, 0, 0],
            "role": ["robot", "robot2", "user"],  # both c1 rows violate
        }
    )
    spec = DatasetSpec.from_dict(
        "t",
        {
            "column_rules": {"role": {"unique_values": ["user", "assistant"]}},
            "uniqueness": [["conv_id", "turn_idx"]],
        },
    )
    out = execute(
        spark, spark.createDataFrame(pdf), spec, bucket_by="conv_id", n_buckets=4
    )
    assert out["partition_report"]["n_violating_rows"].sum() == 2
    assert out["partition_report"]["n_rows"].sum() == 3


def test_identical_violating_rows_count_per_row(spark):
    """Byte-identical violating rows count once each in n_violating_rows,
    as in n_rows, on both validate() and execute()."""
    import pandas as pd

    from pysemantic_spark.operators.runner import validate
    from pysemantic_spark.spec import DatasetSpec

    pdf = pd.DataFrame(
        {"conv_id": ["c1", "c1", "c1"], "turn_idx": [0, 0, 1],
         "role": ["robot", "robot", "user"]}  # two identical violating rows
    )
    spec = DatasetSpec.from_dict(
        "t", {"column_rules": {"role": {"unique_values": ["user", "assistant"]}}}
    )
    df = spark.createDataFrame(pdf)
    lazy = validate(spark, df, spec, bucket_by="conv_id", n_buckets=4)
    lazy_rep = lazy.partition_report.toPandas()
    out = execute(spark, df, spec, bucket_by="conv_id", n_buckets=4)
    for rep in (lazy_rep, out["partition_report"]):
        assert rep["n_rows"].tolist() == [3]
        assert rep["n_violating_rows"].tolist() == [2]
        assert rep["passed"].tolist() == [False]


def test_validate_on_empty_input(spark):
    """On a 0-row input the lazy stats and check counts are 0, not NULL,
    as execute() reports them."""
    from pysemantic_spark.operators.runner import validate
    from pysemantic_spark.spec import DatasetSpec

    spec = DatasetSpec.from_dict(
        "t", {"column_rules": {"role": {"unique_values": ["user", "assistant"]}}}
    )
    df = spark.createDataFrame([], "conv_id string, turn_idx long, role string")
    res = validate(spark, df, spec, bucket_by="conv_id", n_buckets=4)
    stats = res.stats.toPandas().set_index("column")
    assert stats["n_rows"].tolist() == [0, 0, 0]
    assert stats["n_nulls"].tolist() == [0, 0, 0]
    assert stats["null_rate"].tolist() == [0.0, 0.0, 0.0]
    assert stats["approx_distinct"].tolist() == [0, 0, 0]
    counts = res.check_counts.toPandas()
    assert counts["n_violations"].tolist() == [0]
    assert res.partition_report.count() == 0


@pytest.mark.parametrize("with_sink", [True, False], ids=["sink", "persist"])
def test_execute_on_empty_input(spark, tmp_path, with_sink):
    """A 0-row input with a uniqueness key returns zero counts and an empty
    report, both when the dup-key count is observed on the sink write and
    when it is counted on the persisted groups. An observation that never
    reports would block Observation.get, so the call runs on a daemon
    thread and a hang fails the test instead of stalling the suite."""
    import threading

    from pysemantic_spark.spec import DatasetSpec

    spec = DatasetSpec.from_dict(
        "t",
        {
            "column_rules": {"role": {"unique_values": ["user", "assistant"]}},
            "uniqueness": [["conv_id", "turn_idx"]],
        },
    )
    df = spark.createDataFrame([], "conv_id string, turn_idx long, role string")
    sink = str(tmp_path / "violations") if with_sink else None
    box = {}

    def _run():
        try:
            box["out"] = execute(
                spark, df, spec, bucket_by="conv_id", n_buckets=4,
                violations_sink=sink,
            )
        except BaseException as e:  # re-raised on the test thread
            box["err"] = e

    t = threading.Thread(target=_run, daemon=True)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive(), "execute() hung on a 0-row input"
    if "err" in box:
        raise box["err"]
    out = box["out"]
    assert out["n_rows"] == 0
    assert out["n_dup_keys"] == 0
    assert out["partition_report"].empty
    assert out["stats"]["n_nulls"].tolist() == [0, 0, 0]
    assert out["check_counts"]["n_violations"].tolist() == [0]
    assert (out["dupes_path"] is not None) == with_sink


def test_execute_pass2_respects_df_level_rules(spark):
    """drop_duplicates must apply to the bucket totals and dup counts too
    (regression: pass 2 used to group the pre-drop input)."""
    import pandas as pd

    from pysemantic_spark.spec import DatasetSpec

    pdf = pd.DataFrame(
        {"conv_id": ["c1", "c1", "c2"], "turn_idx": [0, 0, 1], "v": [5, 5, 6]}
    )  # rows 0 and 1 are full duplicates
    spec = DatasetSpec.from_dict(
        "t", {"drop_duplicates": True, "uniqueness": [["conv_id", "turn_idx"]]}
    )
    out = execute(
        spark, spark.createDataFrame(pdf), spec, bucket_by="conv_id", n_buckets=4
    )
    assert out["n_rows"] == 2
    assert out["partition_report"]["n_rows"].sum() == 2
    assert out["n_dup_keys"] == 0  # the dup key disappeared with the df dedup


def test_dupes_grouped_by_key_alone_when_bucket_differs(spark):
    """Copies of one duplicated key landing in DIFFERENT buckets must still
    count as one dup group (regression: grouping by (key, bucket) split
    them into count-1 groups and missed the duplicate entirely)."""
    import pandas as pd

    from pysemantic_spark.spec import DatasetSpec

    pdf = pd.DataFrame({"k": [1, 1, 2], "conv_id": ["aaa", "zzz", "mmm"]})
    spec = DatasetSpec.from_dict("t", {"uniqueness": [["k"]]})
    out = execute(
        spark, spark.createDataFrame(pdf), spec, bucket_by="conv_id", n_buckets=64
    )
    d = out["dupes"].toPandas()
    assert out["n_dup_keys"] == 1
    assert d["k"].tolist() == [1]
    assert int(d["dup_count"].iloc[0]) == 2


def test_execute_checks_all_unique_keys(spark):
    """Every declared uniqueness entry (and per-column is_drop_duplicates)
    must be checked in the production path, not just the first key."""
    import pandas as pd

    from pysemantic_spark.spec import DatasetSpec

    pdf = pd.DataFrame(
        {"a": [1, 2, 3, 4], "b": ["x", "x", "y", "z"], "conv_id": list("pqrs")}
    )
    spec = DatasetSpec.from_dict("t", {"uniqueness": [["a"], ["b"]]})
    out = execute(
        spark, spark.createDataFrame(pdf), spec, bucket_by="conv_id", n_buckets=4
    )
    d = out["dupes"].toPandas()
    # key "a" has no dups; key "b" has one dup group (x ×2)
    assert out["n_dup_keys"] == 1
    assert d["b"].dropna().tolist() == ["x"]
    assert int(d["dup_count"].iloc[0]) == 2


def test_keep_first_deterministic_without_order_by(spark):
    """Without order_by, the auto-tiebreak (all hashable non-key columns)
    must make the surviving duplicate independent of partition layout:
    same input under many random repartitions → byte-identical clean rows."""
    import pandas as pd

    from pysemantic_spark.operators.runner import validate
    from pysemantic_spark.spec import DatasetSpec

    rng = pd.DataFrame(
        {
            "k": [i % 7 for i in range(50)],
            "payload": [f"p{(i * 37) % 50:02d}" for i in range(50)],
            "v": [(i * 13) % 11 for i in range(50)],
        }
    )
    spec = DatasetSpec.from_dict("t", {"uniqueness": [["k"]]})  # no order_by
    outs = []
    for n_parts in (1, 3, 8, 17, 32):
        df = spark.createDataFrame(rng.sample(frac=1, random_state=n_parts)).repartition(n_parts)
        clean = validate(spark, df, spec).clean.toPandas()
        outs.append(
            clean.sort_values(["k", "payload", "v"]).reset_index(drop=True)
        )
    for other in outs[1:]:
        pd.testing.assert_frame_equal(outs[0], other)
    # survivor is the lexicographic minimum over the tiebreak columns
    exp = (
        rng.sort_values(["payload", "v"]).groupby("k", as_index=False).first()
        [["k", "payload", "v"]].sort_values(["k", "payload", "v"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        outs[0][["k", "payload", "v"]].astype(exp.dtypes.to_dict()), exp
    )


def test_execute_requires_bucket_identity(spark):
    import pandas as pd

    from pysemantic_spark.spec import DatasetSpec

    df = spark.createDataFrame(pd.DataFrame({"a": [1]}))
    with pytest.raises(ValueError, match="bucket_by"):
        execute(spark, df, DatasetSpec.from_dict("t", {}))


def test_execute_report_agrees_with_lazy_validate(spark, run):
    """The 2-pass production report must equal the single-plan lazy
    partition_report (same buckets, same totals, same violating counts)."""
    pdf, _, out, spark_, _ = run
    from pysemantic_spark.fixtures import dim_tools_pdf, transcripts_spec
    from pysemantic_spark.operators.runner import validate

    df = spark_.createDataFrame(pdf)
    dims = {"dim_tools": spark_.createDataFrame(dim_tools_pdf())}
    lazy = validate(
        spark_, df, transcripts_spec(), dims=dims, bucket_by="conv_id", n_buckets=16
    )
    lazy_rep = (
        lazy.partition_report.toPandas().sort_values("bucket").reset_index(drop=True)
    )
    exec_rep = out["partition_report"].sort_values("bucket").reset_index(drop=True)
    assert lazy_rep["bucket"].tolist() == exec_rep["bucket"].tolist()
    assert lazy_rep["n_rows"].tolist() == exec_rep["n_rows"].tolist()
    assert (
        lazy_rep["n_violating_rows"].tolist() == exec_rep["n_violating_rows"].tolist()
    )


def test_execute_jobs_inherit_the_callers_job_group(spark, tmp_path):
    """Every job of one call (pass 1 and the helper-thread jobs) runs in
    the caller's job group, so cancelJobGroup reaches all of them."""
    import numpy as np
    import pandas as pd

    from pysemantic_spark.operators.drift import save_drift_baseline
    from pysemantic_spark.spec import DatasetSpec

    pdf = pd.DataFrame(
        {"v": np.random.default_rng(3).normal(0, 1, 500), "k": range(500)}
    )
    df = spark.createDataFrame(pdf)
    bl = str(tmp_path / "bl.json")
    save_drift_baseline(df, ["v"], bl)
    spec = DatasetSpec.from_dict(
        "t",
        {
            "column_rules": {"v": {"max": 1.0}},
            "uniqueness": [["k"]],
            "drift": {"columns": ["v"], "baseline": bl},
        },
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("execute-group", "one execute call")
    try:
        execute(
            spark, df, spec, bucket_by="k", n_buckets=4,
            violations_sink=str(tmp_path / "violations"),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    grouped = sorted(tracker.getJobIdsForGroup("execute-group"))
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    # pass 1's write, the summary (one job per AQE query stage), the
    # dup-key groups and drift
    assert len(grouped) >= 5
    assert grouped == list(range(grouped[0], grouped[-1] + 1))


def test_execute_helper_job_error_propagates_and_joins_threads(spark, tmp_path):
    """A failing helper-thread job (the dup-key sink sits under a regular
    file) raises out of execute, and no pool thread outlives the call."""
    import threading

    from pysemantic_spark.spec import DatasetSpec

    blocker = tmp_path / "file"
    blocker.write_text("not a directory")
    spec = DatasetSpec.from_dict("t", {"uniqueness": [["k"]]})
    df = spark.range(100).withColumnRenamed("id", "k")
    with pytest.raises(Exception, match="ParentNotDirectoryException"):
        execute(
            spark, df, spec, bucket_by="k", n_buckets=4,
            violations_sink=str(tmp_path / "violations"),
            dupes_sink=str(blocker / "dupes"),
        )
    assert not [
        t for t in threading.enumerate() if t.name.startswith("ThreadPoolExecutor")
    ]


def test_runner_clean_path_null_keys(spark):
    """The execute/validate clean path's dup-split must also be NULL-safe:
    duplicate NULL-key rows dedup to one survivor, not all survive."""
    from pysemantic_spark.operators.runner import validate
    from pysemantic_spark.spec import DatasetSpec

    df = spark.createDataFrame(
        [(1, 10), (1, 11), (None, 20), (None, 21), (2, 30)], "k int, v int"
    )
    spec = DatasetSpec(name="t", uniqueness=[["k"]], order_by=["v"])
    clean = validate(spark, df, spec).clean
    got = {(r["k"], r["v"]) for r in clean.collect()}
    assert got == {(1, 10), (2, 30), (None, 20)}


# Values that SQL text must carry verbatim: quotes, backslashes, the braces
# that spark.sql's str.format reads, and non-ASCII text.
_ODD = ["it's", "back\\slash", "{brace}", "a}{b", "ünï€", "{0}", "x'}{'y", None, "plain"]


@pytest.mark.parametrize(
    "rules",
    [
        {"s": {"unique_values": ["it's", "back\\slash", "{brace}", "ünï€"]}},
        {"s": {"exclude": ["a}{b", "{0}", "x'}{'y", "ünï€"]}},
        {"s": {"regex": "^[a-z]{2}|[{]0[}]|\\\\|'s$|ü"}},
        {"s": {"min": "b'\\{", "max": "{z}ü"}},
        {"n": {"min": 2**53 + 1, "max": 2**53 + 3}},
        {"t{1}": {"is_drop_na": True, "unique_values": ["{q}"]}},
    ],
    ids=["levels", "exclude", "regex", "min_max_text", "long_bounds", "brace_column"],
)
def test_sql_text_literals_match_oracle(spark, rules):
    """Every rule value reaches the check SQL verbatim: validate() and
    execute() count what the pandas oracle counts, integer bounds past 2^53
    compare exactly (through a double, 2^53 + 1 reads as 2^53), and
    execute() leaves no temporary view of its frame parameters behind."""
    import pandas as pd

    from pysemantic_spark.operators.runner import validate
    from pysemantic_spark.spec import DatasetSpec

    pdf = pd.DataFrame({
        "s": _ODD * 3,
        "n": [2**53 - 1 + i % 6 for i in range(27)],
        "t{1}": ["{q}", None, "r"] * 9,
    })
    spec = DatasetSpec.from_dict("t", {"dtypes": {"n": "long"}, "column_rules": rules})
    exp = pandas_oracle(pdf, spec, {})["violations"]["check_name"].value_counts()
    assert exp.sum() > 0
    df = spark.createDataFrame(pdf)
    views = {t.name for t in spark.catalog.listTables()}
    lazy = validate(spark, df, spec, bucket_by="s", n_buckets=4)
    got_lazy = {r["check_name"]: r["n_violations"] for r in lazy.check_counts.collect()}
    out = execute(spark, df, spec, bucket_by="s", n_buckets=4)
    got = dict(zip(out["check_counts"]["check_name"], out["check_counts"]["n_violations"]))
    for counts in (got_lazy, got):
        checked = {n: c for n, c in counts.items() if not n.startswith("bad_cast:")}
        assert checked == {n: int(exp.get(n, 0)) for n in checked}, counts
        assert set(exp.index) <= set(checked)
    assert {t.name for t in spark.catalog.listTables()} == views


def test_referential_dim_with_repeated_and_null_keys(spark):
    """A dim key need not be unique or non-NULL: repeated keys duplicate no
    fact row, a NULL key matches nothing, and the counts equal the
    oracle's, on validate() and execute()."""
    import pandas as pd

    from pysemantic_spark.operators.runner import validate
    from pysemantic_spark.spec import DatasetSpec

    pdf = pd.DataFrame({"k": range(30), "tool": ["a", "b", "c", None, "a", "d"] * 5})
    dim_pdf = pd.DataFrame({"key": ["a", "a", "a", None, "b", None]})
    spec = DatasetSpec.from_dict(
        "t", {"column_rules": {"tool": {"reference": {"table": "dim", "column": "key"}}}}
    )
    exp = pandas_oracle(pdf, spec, {"dim": dim_pdf})
    df = spark.createDataFrame(pdf)
    dims = {"dim": spark.createDataFrame(dim_pdf)}
    res = validate(spark, df, spec, dims=dims, bucket_by="k", n_buckets=4)
    flagged = sorted(res.flagged.select("k", "tool").collect(), key=lambda r: r["k"])
    assert [tuple(r) for r in flagged] == list(pdf.itertuples(index=False, name=None))
    assert res.violations.count() == len(exp["violations"]) == 10
    assert res.clean.count() == len(exp["clean"])
    out = execute(spark, df, spec, dims=dims, bucket_by="k", n_buckets=4)
    assert out["n_rows"] == len(pdf)
    assert out["check_counts"].set_index("check_name")["n_violations"].to_dict() == {
        "referential:tool": 10
    }
