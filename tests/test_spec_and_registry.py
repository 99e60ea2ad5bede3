"""Spec compilation, bad-dictionary errors, registry + Project + CLI parity
(reference: test_project.py / test_custom_traits.py / test_cli.py shapes),
and pysemantic's legacy ``!!python/name`` dtype tags."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
import yaml

from pysemantic_spark import registry
from pysemantic_spark.errors import (
    MissingConfigError,
    MissingProject,
    ParserArgumentError,
    SpecValidationError,
)
from pysemantic_spark.fixtures import flowers_pdf, transcripts_spec
from pysemantic_spark.plans.compiler import compile_spec
from pysemantic_spark.spec import DatasetSpec, load_spec_file
from pysemantic_spark.sources.readers import get_md5_checksum, load_dataset

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_yaml_spec_matches_in_code_spec():
    specs = load_spec_file(os.path.join(REPO, "specs", "transcripts.yaml"))
    from_yaml = compile_spec(specs["transcripts"])
    from_code = compile_spec(transcripts_spec())
    assert from_yaml.check_names == from_code.check_names
    assert from_yaml.unique_keys == from_code.unique_keys


@pytest.mark.parametrize(
    "dataset", ["bad_min_max", "bad_dtype", "bad_nrows", "bad_rule_key"]
)
def test_bad_dictionary_raises_at_compile_time(dataset):
    with open(os.path.join(REPO, "specs", "bad_dictionary.yaml")) as f:
        raw = yaml.safe_load(f)
    with pytest.raises(SpecValidationError):
        DatasetSpec.from_dict(dataset, raw[dataset])


@pytest.fixture()
def project_env(tmp_path, monkeypatch):
    """A registry + specfile + csv fixture in an isolated cwd."""
    monkeypatch.chdir(tmp_path)
    csv_path = tmp_path / "flowers.csv"
    flowers_pdf().to_csv(csv_path, index=False)
    spec = {
        "flowers": {
            "path": str(csv_path),
            "dtypes": {
                "sepal_length": "float", "sepal_width": "float",
                "petal_length": "float", "petal_width": "float",
                "species": "str",
            },
            "column_rules": {
                "species": {
                    "unique_values": ["setosa", "versicolor", "virginica"],
                    "exclude": ["versicolor"],
                },
                "sepal_length": {"min": 0.1, "max": 10.0},
            },
        }
    }
    specfile = tmp_path / "dict.yaml"
    specfile.write_text(yaml.safe_dump(spec))
    conf = tmp_path / registry.CONF_FILE_NAME
    registry.add_project("testproj", str(specfile), config_path=str(conf))
    return tmp_path, str(conf), str(specfile), str(csv_path)


def test_registry_roundtrip(project_env):
    tmp_path, conf, specfile, _ = project_env
    assert registry.view_projects(conf) == [("testproj", specfile)]
    assert registry.get_default_specfile("testproj", conf) == specfile
    with pytest.raises(MissingProject):
        registry.get_default_specfile("nope", conf)
    registry.add_project("p2", specfile, config_path=conf)
    assert len(registry.view_projects(conf)) == 2
    assert registry.remove_project("p2", config_path=conf)
    assert len(registry.view_projects(conf)) == 1


def test_missing_config(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("HOME", str(tmp_path))
    with pytest.raises(MissingConfigError):
        registry.locate_config_file()


def test_schema_specs_roundtrip(project_env):
    _, conf, _, csv_path = project_env
    specs = registry.get_schema_specs("testproj", config_path=conf)
    assert "flowers" in specs
    registry.add_dataset("testproj", "f2", {"path": csv_path}, config_path=conf)
    assert "f2" in registry.get_datasets("testproj", config_path=conf)
    assert registry.remove_dataset("testproj", "f2", config_path=conf)
    # invalid specs rejected before persisting
    with pytest.raises(SpecValidationError):
        registry.set_schema_specs(
            "testproj", "flowers", {"nrows": -1}, config_path=conf
        )


def test_project_load_and_clean(spark, project_env):
    _, conf, _, _ = project_env
    proj = registry.Project("testproj", spark=spark, config_path=conf)
    assert proj.datasets == ["flowers"]
    raw = proj.load_dataset("flowers", clean=False)
    assert raw.count() == 150
    cleaned = proj.load_dataset("flowers", clean=True).toPandas()
    assert set(cleaned["species"]) == {"setosa", "virginica"}  # exclude applied
    assert len(cleaned) == 100
    res = proj.validate_dataset("flowers")
    counts = {r["check_name"]: r["n_violations"] for r in res.check_counts.collect()}
    assert counts["exclude:species"] == 50


def test_reader_errors(spark):
    with pytest.raises(ParserArgumentError):
        load_dataset(spark, DatasetSpec.from_dict("x", {"path": "/no/such/file.csv"}))
    with pytest.raises(ParserArgumentError):
        load_dataset(spark, DatasetSpec.from_dict("x", {}))


def test_md5_check(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("a,b\n1,2\n")
    good = get_md5_checksum(str(p))
    spec = DatasetSpec.from_dict("t", {"path": str(p), "md5": good})
    assert load_dataset(spark, spec).count() == 1
    bad = DatasetSpec.from_dict("t", {"path": str(p), "md5": "0" * 32})
    with pytest.raises(ParserArgumentError):
        load_dataset(spark, bad)


def test_reader_features(spark, tmp_path):
    p = tmp_path / "w.tsv"
    p.write_text("A\tB\tC\nx\t1\tNA\ny\t2\tz\nQ\t3\tw\n")
    spec = DatasetSpec.from_dict(
        "w",
        {
            "path": str(p),
            "format": "tsv",
            "column_names": {"A": "name"},
            "exclude_columns": [],
            "dtypes": {"B": "int"},
            "na_values": ["NA"],
            "nrows": 2,
            "column_rules": {"name": {"converters": ["upper"]}},
        },
    )
    pdf = load_dataset(spark, spec).toPandas()
    assert list(pdf.columns) == ["name", "B", "C"]
    assert len(pdf) == 2
    assert pdf["name"].tolist() == ["X", "Y"]  # converter (Arrow pandas_udf)
    assert pdf["B"].dtype.kind == "i"
    assert pdf["C"].isna().sum() == 1  # NA sentinel nulled


def test_cli_registry_commands(project_env):
    tmp, conf, specfile, _ = project_env
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-m", "pysemantic_spark.cli", "list"],
        capture_output=True, text=True, cwd=tmp, env=env,
    )
    assert out.returncode == 0
    assert "testproj" in out.stdout


def test_postprocessors_applied_to_clean_only(spark):
    """Column + df postprocessors run on survivors (reference clean() order)."""
    import pandas as pd
    from pysemantic_spark.operators.runner import validate
    from pysemantic_spark.sources.readers import register_postprocessor

    from pyspark.sql import functions as F

    register_postprocessor("add_tag", lambda df: df.withColumn("tag", F.lit("ok")))
    pdf = pd.DataFrame({"name": [" a ", " b ", None], "v": [1, 2, 3]})
    spec = DatasetSpec.from_dict(
        "t",
        {
            "column_rules": {"name": {"is_drop_na": True, "postprocessors": ["strip"]}},
            "postprocessors": ["add_tag"],
        },
    )
    res = validate(spark, spark.createDataFrame(pdf), spec)
    got = res.clean.orderBy("v").collect()
    assert [r["name"] for r in got] == ["a", "b"]      # stripped
    assert all(r["tag"] == "ok" for r in got)          # df postprocessor
    assert res.violations.count() == 1                  # null name dropped


def test_legacy_python_name_tags(tmp_path):
    p = tmp_path / "dict.yaml"
    p.write_text(
        """
iris:
  path: /tmp/iris.csv
  delimiter: ','
  dtypes:
    Species: !!python/name:__builtin__.str ''
    Petal Length: !!python/name:builtins.float ''
    Count: !!python/name:builtins.int ''
    Fresh: !!python/name:builtins.bool ''
"""
    )
    specs = load_spec_file(str(p))
    d = {c: r for c, r in specs["iris"].dtypes.items()}
    assert d == {
        "Species": "string",
        "Petal Length": "double",
        "Count": "int",
        "Fresh": "boolean",
    }


def test_legacy_python_name_tag_rejects_unknown(tmp_path):
    p = tmp_path / "bad.yaml"
    p.write_text(
        """
x:
  dtypes:
    c: !!python/name:os.system ''
"""
    )
    with pytest.raises(SpecValidationError, match="python/name"):
        load_spec_file(str(p))
