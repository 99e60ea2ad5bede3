"""Reader/spec surface: dict-form random nrows, multi-column datetime
combine, all-column na_values, header falsy semantics, Excel and
postprocessor hardening, and dotted-path converters with their module
allowlist."""

from __future__ import annotations

import pandas as pd
import pytest

from pysemantic_spark.errors import ParserArgumentError, SpecValidationError
from pysemantic_spark.sources.readers import load_dataset
from pysemantic_spark.spec import DatasetSpec


@pytest.fixture(scope="module")
def wide_csv(tmp_path_factory):
    p = tmp_path_factory.mktemp("rdr") / "w.csv"
    pdf = pd.DataFrame(
        {
            "id": range(1000),
            "v": [i % 97 for i in range(1000)],
            "s": [f"row{i}" for i in range(1000)],
        }
    )
    pdf.to_csv(p, index=False)
    return str(p), pdf


def test_nrows_random_fraction_is_seeded_bernoulli(spark, wide_csv):
    path, pdf = wide_csv
    spec = {"path": path, "dtypes": {"id": "long", "v": "long"},
            "nrows": {"random": True, "fraction": 0.2, "seed": 7}}
    a = load_dataset(spark, DatasetSpec.from_dict("w", spec)).toPandas()
    b = load_dataset(spark, DatasetSpec.from_dict("w", spec)).toPandas()
    assert 100 <= len(a) <= 320  # Bernoulli around 200
    assert sorted(a["id"]) == sorted(b["id"])  # same seed → same sample


def test_nrows_random_count_exact_and_deterministic(spark, wide_csv):
    path, _ = wide_csv
    spec = {"path": path, "dtypes": {"id": "long"},
            "nrows": {"random": True, "count": 50, "seed": 3}}
    a = load_dataset(spark, DatasetSpec.from_dict("w", spec)).toPandas()
    b = load_dataset(spark, DatasetSpec.from_dict("w", spec)).toPandas()
    assert len(a) == 50
    assert sorted(a["id"]) == sorted(b["id"])


def test_nrows_dict_validation():
    for bad in (
        {"fraction": 0.5},                        # missing random: true
        {"random": True},                         # neither fraction nor count
        {"random": True, "fraction": 0.5, "count": 5},  # both
        {"random": True, "fraction": 1.5},        # out of range
        {"random": True, "count": 0},
        {"random": True, "fraction": 0.5, "seed": "x"},
        {"random": True, "fraction": 0.5, "bogus": 1},
    ):
        with pytest.raises(SpecValidationError):
            DatasetSpec.from_dict("t", {"nrows": bad})
    # int form unchanged
    assert DatasetSpec.from_dict("t", {"nrows": 10}).nrows == 10


def test_combine_dt_columns_matches_pandas_parse_dates(spark, tmp_path):
    p = tmp_path / "dt.csv"
    pdf = pd.DataFrame(
        {
            "d": ["2024-01-02", "2024-03-04", "not-a-date", "2024-05-06"],
            "t": ["10:11:12", "23:59:59", "00:00:00", "07:08:09"],
            "x": [1, 2, 3, 4],
        }
    )
    pdf.to_csv(p, index=False)
    spec = DatasetSpec.from_dict(
        "dt",
        {"path": str(p), "dtypes": {"x": "long"},
         "combine_dt_columns": {"ts": ["d", "t"]}},
    )
    got = load_dataset(spark, spec).toPandas()
    assert set(got.columns) == {"ts", "x"}  # sources dropped
    exp = pd.to_datetime(pdf["d"] + " " + pdf["t"], errors="coerce")
    assert got["ts"].isna().tolist() == exp.isna().tolist()
    ok = ~exp.isna()
    assert (
        got["ts"][ok].dt.strftime("%Y-%m-%d %H:%M:%S").tolist()
        == exp[ok].dt.strftime("%Y-%m-%d %H:%M:%S").tolist()
    )


def test_combine_dt_missing_source_raises(spark, tmp_path):
    p = tmp_path / "m.csv"
    pd.DataFrame({"a": [1]}).to_csv(p, index=False)
    spec = DatasetSpec.from_dict(
        "m", {"path": str(p), "combine_dt_columns": {"ts": ["a", "nope"]}}
    )
    with pytest.raises(ParserArgumentError, match="nope"):
        load_dataset(spark, spec)


def test_combine_dt_validation():
    with pytest.raises(SpecValidationError, match="combine_dt_columns"):
        DatasetSpec.from_dict("t", {"combine_dt_columns": {"ts": []}})
    with pytest.raises(SpecValidationError, match="combine_dt_columns"):
        DatasetSpec.from_dict("t", {"combine_dt_columns": {"ts": "d"}})


def test_na_values_null_numeric_sentinels_in_inferred_columns(spark, tmp_path):
    """Dataset-level na_values must hit ALL columns — including numeric
    sentinel codes (-999) in inferSchema'd numeric columns, like pandas."""
    p = tmp_path / "na.csv"
    pd.DataFrame(
        {"a": [1, -999, 3], "b": ["x", "NA", "-999"], "c": [1.5, 2.5, -999.0]}
    ).to_csv(p, index=False)
    # no dtypes → inference path; two sentinels, one numeric-ish one not
    spec = DatasetSpec.from_dict("na", {"path": str(p), "na_values": ["NA", -999]})
    got = load_dataset(spark, spec).toPandas()
    assert got["a"].isna().tolist() == [False, True, False]
    assert got["b"].isna().tolist() == [False, True, True]
    assert got["c"].isna().tolist() == [False, False, True]


def test_na_values_single_projection(spark, tmp_path):
    """Many sentinels × many columns must not stack withColumn projections."""
    p = tmp_path / "wide.csv"
    cols = {f"c{i}": [1, 2, 3] for i in range(30)}
    pd.DataFrame(cols).to_csv(p, index=False)
    spec = DatasetSpec.from_dict(
        "w", {"path": str(p), "na_values": ["NA", "null", "-", "?", -999]}
    )
    df = load_dataset(spark, spec)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Project") <= 2  # one fused projection (+scan-level)


def test_header_false_means_no_header(spark, tmp_path):
    p = tmp_path / "nh.csv"
    p.write_text("7,x\n8,y\n")
    spec = DatasetSpec.from_dict(
        "nh", {"path": str(p), "header": False, "column_names": ["n", "s"]}
    )
    got = load_dataset(spark, spec).toPandas()
    assert len(got) == 2  # first row NOT consumed as a header
    assert got["n"].astype(int).tolist() == [7, 8]


def test_header_offset_raises(spark, tmp_path):
    p = tmp_path / "h2.csv"
    p.write_text("junk\na,b\n1,2\n")
    spec = DatasetSpec.from_dict("h2", {"path": str(p), "header": 2})
    with pytest.raises(ParserArgumentError, match="header"):
        load_dataset(spark, spec)


def test_unknown_postprocessor_raises(spark):
    from pysemantic_spark.operators.runner import validate

    pdf = pd.DataFrame({"a": ["x", "y"]})
    df = spark.createDataFrame(pdf)
    spec = DatasetSpec.from_dict(
        "t", {"column_rules": {"a": {"postprocessors": ["no_such_fn"]}}}
    )
    with pytest.raises(ParserArgumentError, match="no_such_fn"):
        validate(spark, df, spec).clean.count()
    spec2 = DatasetSpec.from_dict("t", {"postprocessors": ["also_missing"]})
    with pytest.raises(ParserArgumentError, match="also_missing"):
        validate(spark, df, spec2).clean.count()


def test_excel_without_engine_raises_parser_error(spark, tmp_path):
    """No openpyxl in this environment: the Excel path must fail with a
    clear ParserArgumentError, not a bare ImportError."""
    pytest.importorskip("pandas")
    try:
        import openpyxl  # noqa: F401

        pytest.skip("openpyxl available — hardening branch not reachable")
    except ImportError:
        pass
    import zipfile

    p = tmp_path / "d.xlsx"
    zipfile.ZipFile(p, "w").close()  # valid zip → format sniff passes,
    # so pandas reaches the engine import and raises ImportError
    spec = DatasetSpec.from_dict("x", {"path": str(p)})
    with pytest.raises(ParserArgumentError, match="openpyxl"):
        load_dataset(spark, spec)


def test_combine_dt_part_columns_parse_via_fallback(spark, tmp_path):
    """ADVICE r2 #1: pandas' parse_dates list form commonly combines
    year/month/day PART columns ('2021 3 7'); the default Spark pattern
    rejects that shape, so the reader must fall back — not silently ship
    an all-NULL column."""
    p = tmp_path / "parts.csv"
    pd.DataFrame(
        {"y": [2021, 2022], "m": [3, 11], "d": [7, 30], "x": [1, 2]}
    ).to_csv(p, index=False)
    spec = DatasetSpec.from_dict(
        "parts",
        {"path": str(p), "dtypes": {"x": "long"},
         "combine_dt_columns": {"ts": ["y", "m", "d"]}},
    )
    got = load_dataset(spark, spec).toPandas().sort_values("x")
    assert got["ts"].dt.strftime("%Y-%m-%d").tolist() == ["2021-03-07", "2022-11-30"]


def test_combine_dt_explicit_format(spark, tmp_path):
    p = tmp_path / "fmt.csv"
    pd.DataFrame({"d": ["07/03/2021", "30/11/2022"], "x": [1, 2]}).to_csv(p, index=False)
    spec = DatasetSpec.from_dict(
        "fmt",
        {"path": str(p), "dtypes": {"x": "long"},
         "combine_dt_columns": {"ts": {"columns": ["d"], "format": "dd/MM/yyyy"}}},
    )
    got = load_dataset(spark, spec).toPandas().sort_values("x")
    assert got["ts"].dt.strftime("%Y-%m-%d").tolist() == ["2021-03-07", "2022-11-30"]


def test_combine_dt_all_null_raises_with_format_hint(spark, tmp_path):
    """100%-unparseable combine output = whole-column data loss → loud
    ParserArgumentError naming the fix, not a silent NULL column."""
    p = tmp_path / "bad.csv"
    pd.DataFrame({"a": ["ab~cd", "ef~gh"], "b": ["ij", "kl"]}).to_csv(p, index=False)
    spec = DatasetSpec.from_dict(
        "bad", {"path": str(p), "combine_dt_columns": {"ts": ["a", "b"]}}
    )
    with pytest.raises(ParserArgumentError, match="format"):
        load_dataset(spark, spec)


def test_combine_dt_dict_form_validation():
    with pytest.raises(SpecValidationError, match="unknown keys"):
        DatasetSpec.from_dict(
            "t", {"combine_dt_columns": {"ts": {"columns": ["a"], "fmt": "x"}}}
        )
    with pytest.raises(SpecValidationError, match="combine_dt_columns"):
        DatasetSpec.from_dict("t", {"combine_dt_columns": {"ts": {"format": "x"}}})


def test_converter_dotted_path_allowlist(monkeypatch):
    from pysemantic_spark.sources import readers

    # package-internal paths resolve (default allowlist)
    fn = readers.resolve_converter(
        "pysemantic_spark.sources.readers:normalize_ws"
    )
    assert fn is readers.normalize_ws
    # arbitrary stdlib import paths are rejected
    with pytest.raises(ParserArgumentError, match="allowlist"):
        readers.resolve_converter("os:system")
    with pytest.raises(ParserArgumentError, match="allowlist"):
        readers.resolve_converter("subprocess:run")
    # explicit env opt-in unlocks a prefix
    monkeypatch.setenv("PYSEMANTIC_SPARK_CONVERTER_MODULES", "math")
    import math

    assert readers.resolve_converter("math:sqrt") is math.sqrt


def test_dotted_path_converter(spark, tmp_path):
    """A spec-file-only custom converter via module:function — no registry
    registration, no engine-code edit."""
    csv = tmp_path / "d.csv"
    csv.write_text('name\n"  Alice   M  "\n"  bob "\n')
    spec = DatasetSpec.from_dict(
        "d",
        {
            "path": str(csv),
            "dtypes": {"name": "str"},
            "column_rules": {
                "name": {
                    "converters": [
                        "pysemantic_spark.sources.readers:normalize_ws"
                    ]
                }
            },
        },
    )
    got = sorted(r["name"] for r in load_dataset(spark, spec).collect())
    assert got == ["Alice M", "bob"]


def test_dotted_path_converter_bad_path_fails_at_compile(spark, tmp_path, monkeypatch):
    from pysemantic_spark.sources.readers import resolve_converter

    with pytest.raises(ParserArgumentError, match="cannot import"):
        resolve_converter("pysemantic_spark.no_such_module_xyz:fn")
    # non-allowlisted modules are rejected BEFORE import
    with pytest.raises(ParserArgumentError, match="allowlist"):
        resolve_converter("os:not_a_function_xyz")
    monkeypatch.setenv("PYSEMANTIC_SPARK_CONVERTER_MODULES", "os")
    with pytest.raises(ParserArgumentError, match="no callable"):
        resolve_converter("os:not_a_function_xyz")
    with pytest.raises(ParserArgumentError, match="unknown converter"):
        resolve_converter("not_registered")
