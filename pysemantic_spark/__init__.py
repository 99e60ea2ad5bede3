"""pysemantic_spark — a PySpark-native schema + constraint validation engine.

A from-scratch reimplementation of the *capabilities* of jaidevd/pysemantic
(a traits-based, YAML-driven validation/cleaning library for pandas), rebuilt
Spark-first for Iceberg/Parquet tables of multi-turn conversation transcripts
at 10^12-turn scale:

- YAML trait specs (dtype, min/max, regex, nullability, uniqueness,
  referential integrity, categorical levels) compile to **vectorized
  DataFrame constraint predicates** — one fused projection pass, all JVM-side
  whole-stage-codegen, no per-row Python.
- One per-bucket summary aggregation (row and violating-row counts,
  per-check counts, per-column nulls / min / max / theta distinct sketch);
  table-level stats are its merge, so chunked and resumed runs report the
  same numbers as one run.
- Uniqueness on (conv_id, turn_idx) via sort-merge dedup counts; referential
  checks via broadcast existence joins; KS/PSI drift from bin-count sketches
  (one JVM ``groupBy(bucket, column, bin)`` count).
- Per-partition pass/fail rows + violation-row DataFrames written back to the
  table store; resumable from a checkpoint manifest with per-partition
  lineage, metrics and summary rows (``tableio.table_report`` merges them).

Reference semantics: pysemantic/validator.py (SchemaValidator /
SeriesValidator / DataFrameValidator), pysemantic/project.py (registry +
load_dataset), per SURVEY.md. This is a re-expression on Spark, not a port.
"""

from pysemantic_spark.errors import (
    MissingConfigError,
    MissingProject,
    ParserArgumentError,
    SpecValidationError,
)
from pysemantic_spark.spec import ColumnRules, DatasetSpec, load_spec_file
from pysemantic_spark.plans.compiler import CheckPlan, compile_spec
from pysemantic_spark.operators.runner import ValidationResult, execute, validate
from pysemantic_spark.registry import Project

__version__ = "0.1.0"

__all__ = [
    "MissingProject",
    "MissingConfigError",
    "ParserArgumentError",
    "SpecValidationError",
    "DatasetSpec",
    "ColumnRules",
    "load_spec_file",
    "CheckPlan",
    "compile_spec",
    "ValidationResult",
    "validate",
    "execute",
    "Project",
]
