"""Spec → CheckPlan: compile YAML trait rules into SQL predicates.

This is the analog of the reference's SchemaValidator.get_parser_args()
(pysemantic/validator.py, the 'kwargs dict' physical plan) — except our IR is
a set of **Boolean SQL expressions as text** plus aggregation/join specs. The
runner splices every check of a plan into ONE ``spark.sql`` statement, which
Spark parses and analyses once per query: Catalyst folds constants, fuses
the whole rule set into one whole-stage-codegen projection, and pushes
column pruning to the scan. Text costs no Py4J round trip per expression,
where each Column call costs one or more.

Check kinds:
- row checks (violation = Boolean expr per row):
    not_null, min, max, regex, levels, exclude, bad_cast
- key checks: unique_key (composite-key duplicate detection)
- join checks: referential, a correlated ``NOT EXISTS`` against the dim
  table, which Spark plans as a broadcast existence join: the dim key need
  not be unique, so it is never deduplicated, and the fact side is never
  shuffled
- distribution checks: drift (KS/PSI vs a baseline sketch; operators/drift.py)

Violation-predicate semantics (match the reference SeriesValidator.clean()
row-drop behavior, SURVEY.md §2.2):
- value-based checks (min/max/regex/levels/bad_cast) do NOT fire on NULL —
  nullability is its own rule (`is_drop_na`), so a null row is counted once.
- `exclude` fires only on listed values; a row survives cleaning iff it fires
  no check (conjunction), which makes rule order irrelevant for survivors.

The text is written for ``spark.sql(text, **frames)``, which formats it
with ``str.format`` to splice in the frame parameters: every identifier and
literal built here (:func:`_q`, :func:`_lit`) has its braces doubled.
"""

from __future__ import annotations

import datetime
import numbers
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import types as T

from pysemantic_spark.errors import SpecValidationError
from pysemantic_spark.spec import ColumnRules, DatasetSpec

_SPARK_TYPES: dict[str, T.DataType] = {
    "string": T.StringType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "timestamp": T.TimestampType(),
    "date": T.DateType(),
}


def spark_type(canonical: str) -> T.DataType:
    return _SPARK_TYPES[canonical]


def _braces(text: str) -> str:
    return text.replace("{", "{{").replace("}", "}}")


def _q(name: str) -> str:
    """``name`` as a SQL identifier (braces doubled, see the module
    docstring)."""
    return "`" + _braces(name.replace("`", "``")) + "`"


def _lit(value: Any) -> str:
    """``value`` as a SQL literal of the type ``F.lit`` would give it
    (braces doubled, see the module docstring): an int is INT, or BIGINT
    past 32 bits, exact at any size; a float is DOUBLE; a date or datetime
    is a DATE or TIMESTAMP (in the session time zone); a string is a quoted
    string, its backslashes and quotes escaped."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, numbers.Integral):
        return str(int(value))
    if isinstance(value, numbers.Real):
        return f"CAST({_lit(repr(float(value)))} AS DOUBLE)"
    if isinstance(value, datetime.datetime):
        return f"TIMESTAMP {_lit(value.isoformat(sep=' '))}"
    if isinstance(value, datetime.date):
        return f"DATE {_lit(value.isoformat())}"
    if isinstance(value, str):
        return "'" + _braces(value.replace("\\", "\\\\").replace("'", "\\'")) + "'"
    raise SpecValidationError(f"no SQL literal for {value!r} ({type(value).__name__})")


def _in(column: str, values: list) -> str:
    """``column IN (values)``; FALSE for an empty list, as ``isin()``."""
    if not values:
        return "FALSE"
    return f"{column} IN ({', '.join(_lit(v) for v in values)})"


@dataclass
class Check:
    """One compiled check. ``name`` keys every downstream artifact
    (violation rows, stats counters, partition report columns)."""

    name: str
    kind: str
    column: str | None = None
    key: list[str] = field(default_factory=list)
    params: dict[str, Any] = field(default_factory=dict)

    def violation_sql(self) -> str:
        """SQL text, TRUE where a row violates the check, never NULL: the
        predicate is wrapped in ``coalesce(…, FALSE)`` so three-valued logic
        cannot leak a NULL into the violation bitmap."""
        c = _q(self.column)
        k = self.kind
        if k == "not_null":
            return f"{c} IS NULL"
        if k in ("min", "max"):
            v = self.params["value"]
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                # ANSI mode: comparing a raw string column to a numeric
                # literal would THROW on unparseable values; try_cast makes
                # them NULL (they surface via bad_cast / null-rate instead).
                # Integral declared types compare as BIGINT — routing longs
                # through double would lose exactness past 2^53.
                declared = self.params.get("col_dtype")
                if declared in ("int", "long") and isinstance(v, int):
                    cc, bound = f"try_cast({c} AS BIGINT)", _lit(int(v))
                else:
                    cc, bound = f"try_cast({c} AS DOUBLE)", _lit(float(v))
            else:
                cc, bound = c, _lit(v)
            expr = f"{c} IS NOT NULL AND {cc} {'<' if k == 'min' else '>'} {bound}"
        elif k == "regex":
            # RLIKE = unanchored search, matching the reference's re.search
            expr = f"{c} IS NOT NULL AND NOT {c} RLIKE {_lit(self.params['pattern'])}"
        elif k == "levels":
            expr = f"{c} IS NOT NULL AND NOT {_in(c, self.params['values'])}"
        elif k == "exclude":
            expr = f"{c} IS NOT NULL AND {_in(c, self.params['values'])}"
        elif k == "bad_cast":
            # try_cast, not cast: ANSI mode (Spark 4 default) makes a plain
            # cast THROW on malformed input instead of yielding NULL
            t = spark_type(self.params["dtype"]).simpleString()
            expr = f"{c} IS NOT NULL AND try_cast({c} AS {t}) IS NULL"
        else:
            raise SpecValidationError(f"{self.name}: not a row check ({k})")
        return f"coalesce({expr}, FALSE)"


@dataclass
class ReferentialCheck:
    name: str
    column: str
    dim_table: str  # logical name or path; resolved by the runner via `dims`
    dim_column: str

    def violation_sql(self, dim: str) -> str:
        """SQL text, TRUE where a fact row's non-NULL value has no match
        in the dim: a correlated ``NOT EXISTS`` over the frame parameter
        ``dim``, with the fact row aliased ``f``. Spark plans it as a
        ``BroadcastHashJoin … ExistenceJoin``: the dim is neither
        deduplicated nor shuffled, repeated dim keys cannot duplicate a fact
        row, and a NULL dim key matches nothing. Written as ``c IN (SELECT
        …)`` inside ``coalesce`` or ``CASE`` it would get the null-aware
        rewrite and plan as a ``BroadcastNestedLoopJoin``."""
        c = f"f.{_q(self.column)}"
        return (
            f"{c} IS NOT NULL AND NOT EXISTS (SELECT /*+ BROADCAST(d) */ 1"
            f" FROM {{{dim}}} d WHERE d.{_q(self.dim_column)} = {c})"
        )


@dataclass
class CheckPlan:
    """Compiled plan for one dataset spec."""

    spec: DatasetSpec
    row_checks: list[Check] = field(default_factory=list)
    unique_keys: list[list[str]] = field(default_factory=list)
    referential: list[ReferentialCheck] = field(default_factory=list)
    drop_duplicates: bool = False
    drop_na: bool = False
    # DriftSpec carried into the executable plan (None = no drift: block).
    # Consumed by execute(): current-side sketches in one fused scan,
    # compared against the baseline sketch file (operators/drift.py).
    drift: Any = None

    @property
    def check_names(self) -> list[str]:
        names = [c.name for c in self.row_checks]
        names += [r.name for r in self.referential]
        names += ["unique_key:" + ",".join(k) for k in self.unique_keys]
        return names


def _compile_column(rules: ColumnRules, declared_dtype: str | None) -> list[Check]:
    col = rules.column
    checks: list[Check] = []
    if rules.is_drop_na:
        checks.append(Check(f"not_null:{col}", "not_null", col))
    if rules.min is not None:
        checks.append(
            Check(f"min:{col}", "min", col,
                  params={"value": rules.min, "col_dtype": declared_dtype})
        )
    if rules.max is not None:
        checks.append(
            Check(f"max:{col}", "max", col,
                  params={"value": rules.max, "col_dtype": declared_dtype})
        )
    if rules.regex is not None:
        checks.append(Check(f"regex:{col}", "regex", col, params={"pattern": rules.regex}))
    if rules.unique_values is not None:
        checks.append(
            Check(f"levels:{col}", "levels", col, params={"values": rules.unique_values})
        )
    if rules.exclude is not None:
        checks.append(
            Check(f"exclude:{col}", "exclude", col, params={"values": rules.exclude})
        )
    return checks


def compile_spec(spec: DatasetSpec) -> CheckPlan:
    """Compile a validated DatasetSpec into a CheckPlan.

    Raises SpecValidationError for rule/dtype contradictions (the reference
    raises TraitError at SchemaValidator construction for its
    bad_dictionary.yaml fixtures — same compile-time timing here).
    """
    plan = CheckPlan(
        spec=spec, drop_duplicates=spec.drop_duplicates, drop_na=spec.drop_na
    )
    # dtype enforcement covers EVERY declared non-string dtype, with or
    # without other rules on the column
    for col, dtype in spec.dtypes.items():
        if dtype != "string":
            plan.row_checks.append(
                Check(f"bad_cast:{col}", "bad_cast", col, params={"dtype": dtype})
            )
    for col, rules in spec.column_rules.items():
        declared = spec.dtypes.get(col)
        plan.row_checks.extend(_compile_column(rules, declared))
        if rules.is_drop_duplicates:
            plan.unique_keys.append([col])
        if rules.reference is not None:
            plan.referential.append(
                ReferentialCheck(
                    name=f"referential:{col}",
                    column=col,
                    dim_table=rules.reference["table"],
                    dim_column=rules.reference["column"],
                )
            )
    for key in spec.uniqueness:
        plan.unique_keys.append(list(key))
    if spec.drift is not None:
        if not spec.drift.columns:
            raise SpecValidationError("drift: block needs a non-empty `columns` list")
        if spec.drift.n_bins <= 0:
            raise SpecValidationError(
                f"drift: n_bins must be positive, got {spec.drift.n_bins}"
            )
        plan.drift = spec.drift
    return plan
