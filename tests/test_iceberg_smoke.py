"""Jar-less tests for the Iceberg dry-run script's argument plumbing.

The smoke cycle itself needs iceberg-spark-runtime (absent here by
design); these tests pin the conf keys, DDL, and bucket-pruning expression
so the first REAL cluster session runs tools/iceberg_smoke.py against a
known-good recipe instead of rediscovering it."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

# this checkout's tools, whatever the cwd
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools import iceberg_smoke as ism


def test_iceberg_confs_shape():
    confs = ism.iceberg_confs("/wh", catalog="c1")
    assert confs["spark.sql.catalog.c1"] == "org.apache.iceberg.spark.SparkCatalog"
    assert confs["spark.sql.catalog.c1.type"] == "hadoop"
    assert confs["spark.sql.catalog.c1.warehouse"] == "/wh"
    assert "IcebergSparkSessionExtensions" in confs["spark.sql.extensions"]


def test_create_table_ddl_buckets_conv_id():
    fq, ddl = ism.create_table_ddl("smoke", 16)
    assert fq == "smoke.db.transcripts_smoke"
    assert "USING iceberg" in ddl
    assert "bucket(16, conv_id)" in ddl
    # transcript schema per BASELINE input_hint
    for col in ("conv_id STRING", "turn_idx INT", "role STRING",
                "text STRING", "tool STRING", "ts TIMESTAMP"):
        assert col in ddl, col


def test_bucket_filter_expr_matches_table_transform():
    assert ism.bucket_filter_expr("smoke", 16) == "smoke.system.bucket(16, conv_id)"


def test_iceberg_unavailable_detection(spark):
    # this sandbox has no runtime jar: detection must say so (and the CLI
    # exits 2 / prints SKIP on that path rather than stack-tracing)
    assert ism.iceberg_available(spark) is False


def test_main_skips_cleanly_without_jar(spark, tmp_path):
    rc = ism.main(["--warehouse", str(tmp_path / "wh")])
    assert rc == 2
