"""YAML trait-spec model: the declarative surface of the engine.

Mirrors the reference's data-dictionary keys (pysemantic/validator.py ::
SchemaValidator traits — path, delimiter, header, column_names, use_columns,
exclude_columns, dtypes, na_values, nrows, md5; per-column rules from
SeriesValidator — is_drop_na, is_drop_duplicates, min, max, regex,
unique_values, exclude; DataFrameValidator rules — drop_duplicates, drop_na),
plus the scale-era additions the north_star requires: composite-key
uniqueness, referential integrity vs dimension tables, and distribution-drift
baselines.

Specs validate eagerly at construction (the reference raises TraitError on a
bad dictionary; we raise SpecValidationError with the same timing).
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field
from typing import Any

import yaml

from pysemantic_spark.errors import SpecValidationError

# Accepted dtype aliases → canonical Spark-ish type names.
_DTYPE_ALIASES: dict[Any, str] = {
    "str": "string", "string": "string", str: "string",
    "int": "int", "integer": "int", "int32": "int", int: "int",
    "long": "long", "int64": "long", "bigint": "long",
    "float": "double", "double": "double", "float64": "double", float: "double",
    "float32": "float",
    "bool": "boolean", "boolean": "boolean", bool: "boolean",
    "datetime": "timestamp", "timestamp": "timestamp", _dt.date: "timestamp",
    "date": "date", _dt.datetime: "timestamp",
}


class _LegacySpecLoader(yaml.SafeLoader):
    """SafeLoader + the ONE unsafe-looking construct real pysemantic data
    dictionaries use: ``!!python/name:`` dtype tags.

    The reference's dictionaries declare dtypes as Python type OBJECTS
    (``dtypes: {species: !!python/name:__builtin__.str}`` — SURVEY §1.1,
    SchemaValidator.dtypes), which plain safe_load rejects with a
    ConstructorError at the first line of any ported dictionary. We
    whitelist exactly the types the dtype alias table accepts — builtins
    str/int/float/bool (py2 ``__builtin__`` and py3 ``builtins`` module
    spellings) and datetime.date/datetime — and keep everything else
    (arbitrary callables, modules, object graphs) a hard
    SpecValidationError, so this stays a *dtype* compatibility shim, not
    an unsafe-load backdoor."""


_LEGACY_NAME_TAGS: dict[str, Any] = {}
for _mod in ("builtins", "__builtin__"):
    for _t in (str, int, float, bool):
        _LEGACY_NAME_TAGS[f"{_mod}.{_t.__name__}"] = _t
_LEGACY_NAME_TAGS["datetime.date"] = _dt.date
_LEGACY_NAME_TAGS["datetime.datetime"] = _dt.datetime


def _construct_python_name(loader: yaml.SafeLoader, suffix: str, node: yaml.Node):
    try:
        return _LEGACY_NAME_TAGS[suffix]
    except KeyError:
        raise SpecValidationError(
            f"unsupported !!python/name tag in spec: {suffix!r} "
            f"(whitelisted: {sorted(_LEGACY_NAME_TAGS)})"
        ) from None


_LegacySpecLoader.add_multi_constructor(
    "tag:yaml.org,2002:python/name:", _construct_python_name
)


def canonical_dtype(value: Any) -> str:
    key = value.strip().lower() if isinstance(value, str) else value
    try:
        return _DTYPE_ALIASES[key]
    except (KeyError, TypeError):
        raise SpecValidationError(f"unsupported dtype in spec: {value!r}") from None


@dataclass
class ColumnRules:
    """Per-column rule set (reference: SeriesValidator traits)."""

    column: str
    is_drop_na: bool = False
    is_drop_duplicates: bool = False
    min: Any = None
    max: Any = None
    regex: str | None = None
    unique_values: list[Any] | None = None
    exclude: list[Any] | None = None
    na_values: list[Any] | None = None
    # north_star addition: {"table": name-or-path, "column": colname}
    reference: dict[str, str] | None = None
    # named converter/postprocessor fns resolved from a user-supplied registry
    converters: list[str] = field(default_factory=list)
    postprocessors: list[str] = field(default_factory=list)

    def __post_init__(self) -> None:
        if self.min is not None and self.max is not None:
            try:
                if self.min > self.max:
                    raise SpecValidationError(
                        f"column {self.column!r}: min ({self.min!r}) > max ({self.max!r})"
                    )
            except TypeError:
                raise SpecValidationError(
                    f"column {self.column!r}: min/max not comparable"
                ) from None
        if self.unique_values is not None and not isinstance(self.unique_values, list):
            raise SpecValidationError(
                f"column {self.column!r}: unique_values must be a list"
            )
        if self.reference is not None:
            if not {"table", "column"} <= set(self.reference):
                raise SpecValidationError(
                    f"column {self.column!r}: reference needs 'table' and 'column'"
                )

    @classmethod
    def from_dict(cls, column: str, d: dict[str, Any]) -> "ColumnRules":
        known = {f for f in cls.__dataclass_fields__ if f != "column"}
        unknown = set(d) - known
        if unknown:
            raise SpecValidationError(
                f"column {column!r}: unknown rule keys {sorted(unknown)}"
            )
        return cls(column=column, **d)


@dataclass
class DriftSpec:
    """Distribution-drift check config (north_star addition)."""

    columns: list[str]
    baseline: str | None = None  # path to a baseline sketch JSON
    n_bins: int = 64
    ks_threshold: float = 0.1
    psi_threshold: float = 0.2
    # hard cap on distinct values per categorical drift column — the sketch
    # is bounded by construction; a miscategorized high-cardinality column
    # (user_id, free text) fails loudly instead of flooding the driver
    max_categories: int = 10_000
    # what execute()/run_resumable do when a drift metric crosses its
    # threshold: "ignore" (report rows only), "fail" (raise), or
    # "quarantine" (run_resumable marks each bucket whose own counts drift
    # quarantined and skips it on resume)
    on_drift: str = "ignore"

    def __post_init__(self) -> None:
        if self.on_drift not in ("ignore", "fail", "quarantine"):
            raise SpecValidationError(
                f"drift.on_drift must be ignore|fail|quarantine, got "
                f"{self.on_drift!r}"
            )


@dataclass
class DatasetSpec:
    """One dataset's full spec (reference: one YAML data-dictionary entry)."""

    name: str
    path: str | list[str] | None = None
    format: str | None = None  # csv|tsv|parquet|table ; inferred from path ext
    delimiter: str = ","
    header: int | None = 0
    column_names: list[str] | dict[str, str] | None = None
    use_columns: list[str] | None = None
    exclude_columns: list[str] | None = None
    dtypes: dict[str, str] = field(default_factory=dict)
    na_values: list[Any] | None = None
    # int → head-limit (reference: pandas nrows); dict → random sample
    # (reference SchemaValidator nrows dict form):
    #   {random: true, fraction: 0.01, seed: 42}  → df.sample (scale path)
    #   {random: true, count: 1000,   seed: 42}   → seeded rand top-k
    nrows: int | dict[str, Any] | None = None
    ncols: int | None = None
    md5: str | None = None
    drop_duplicates: bool = False  # df-level (reference: dataframe_rules)
    drop_na: bool = False
    # multi-column datetime combine (reference: parse_dates list-of-lists /
    # combine_dt_columns): {out_col: [src_col, ...]} — sources are
    # string-concatenated and parsed into ONE timestamp at load; source
    # columns are dropped (pandas keep_date_col=False semantics). Dict form
    # {out_col: {"columns": [...], "format": "yyyy M d"}} pins an explicit
    # Spark datetime pattern for the space-joined parts.
    combine_dt_columns: dict[str, list[str] | dict] = field(default_factory=dict)
    column_rules: dict[str, ColumnRules] = field(default_factory=dict)
    # list of composite keys, e.g. [["conv_id","turn_idx"]]
    uniqueness: list[list[str]] = field(default_factory=list)
    drift: DriftSpec | None = None
    # deterministic tie-break ordering for keep-first dedup, e.g. ["ts"]
    order_by: list[str] = field(default_factory=list)
    postprocessors: list[str] = field(default_factory=list)

    def __post_init__(self) -> None:
        if isinstance(self.nrows, dict):
            known = {"random", "fraction", "count", "seed"}
            unknown = set(self.nrows) - known
            if unknown:
                raise SpecValidationError(
                    f"nrows dict: unknown keys {sorted(unknown)} (allowed: {sorted(known)})"
                )
            if not self.nrows.get("random"):
                raise SpecValidationError(
                    "nrows dict form requires random: true (use a plain int for head-limit)"
                )
            frac, count = self.nrows.get("fraction"), self.nrows.get("count")
            if (frac is None) == (count is None):
                raise SpecValidationError(
                    "nrows random sampling needs exactly one of `fraction` or `count`"
                )
            if frac is not None and not (
                isinstance(frac, (int, float)) and 0 < frac <= 1
            ):
                raise SpecValidationError(f"nrows fraction must be in (0, 1], got {frac!r}")
            if count is not None and (not isinstance(count, int) or count <= 0):
                raise SpecValidationError(f"nrows count must be a natural number, got {count!r}")
            seed = self.nrows.get("seed", 42)
            if not isinstance(seed, int):
                raise SpecValidationError(f"nrows seed must be an int, got {seed!r}")
        elif self.nrows is not None and (not isinstance(self.nrows, int) or self.nrows <= 0):
            raise SpecValidationError(f"nrows must be a natural number, got {self.nrows!r}")
        if self.ncols is not None and (not isinstance(self.ncols, int) or self.ncols <= 0):
            raise SpecValidationError(f"ncols must be a natural number, got {self.ncols!r}")
        self.dtypes = {c: canonical_dtype(t) for c, t in (self.dtypes or {}).items()}
        for out, srcs in (self.combine_dt_columns or {}).items():
            if isinstance(srcs, dict):
                unknown = set(srcs) - {"columns", "format"}
                if unknown:
                    raise SpecValidationError(
                        f"combine_dt_columns[{out!r}]: unknown keys {sorted(unknown)} "
                        "(allowed: columns, format)"
                    )
                fmt = srcs.get("format")
                if fmt is not None and not isinstance(fmt, str):
                    raise SpecValidationError(
                        f"combine_dt_columns[{out!r}].format must be a string, got {fmt!r}"
                    )
                srcs = srcs.get("columns")
            if not isinstance(srcs, list) or not srcs or not all(
                isinstance(s, str) for s in srcs
            ):
                raise SpecValidationError(
                    f"combine_dt_columns[{out!r}] must be a non-empty list of "
                    f"source column names (or {{columns: [...], format: ...}}), "
                    f"got {srcs!r}"
                )
        for key in self.uniqueness:
            if not isinstance(key, list) or not key:
                raise SpecValidationError(f"uniqueness entries must be non-empty lists: {key!r}")

    @classmethod
    def from_dict(cls, name: str, d: dict[str, Any]) -> "DatasetSpec":
        d = dict(d)
        col_rules_raw = d.pop("column_rules", {}) or {}
        if not isinstance(col_rules_raw, dict):
            raise SpecValidationError(f"{name}: column_rules must be a mapping")
        drift_raw = d.pop("drift", None)
        # tolerate reference spelling `dataframe_rules: {drop_duplicates: {}, drop_na: {}}`
        df_rules = d.pop("dataframe_rules", None)
        if df_rules:
            if "drop_duplicates" in df_rules:
                d["drop_duplicates"] = True
            if "drop_na" in df_rules:
                d["drop_na"] = True
        known = {f for f in cls.__dataclass_fields__ if f != "name"}
        unknown = set(d) - known
        if unknown:
            raise SpecValidationError(f"{name}: unknown spec keys {sorted(unknown)}")
        spec = cls(name=name, **d)
        spec.column_rules = {
            c: ColumnRules.from_dict(c, r or {}) for c, r in col_rules_raw.items()
        }
        if drift_raw:
            spec.drift = DriftSpec(**drift_raw)
        return spec


def load_spec_file(path: str) -> dict[str, DatasetSpec]:
    """Parse a YAML data dictionary: {dataset_name: spec, ...}.

    Accepts legacy pysemantic dictionaries verbatim, including
    ``!!python/name:`` dtype tags (whitelisted types only — see
    :class:`_LegacySpecLoader`); everything else is SafeLoader-strict."""
    with open(path) as f:
        raw = yaml.load(f, Loader=_LegacySpecLoader)
    if not isinstance(raw, dict):
        raise SpecValidationError(f"spec file {path} must be a mapping of datasets")
    return {name: DatasetSpec.from_dict(name, d or {}) for name, d in raw.items()}
