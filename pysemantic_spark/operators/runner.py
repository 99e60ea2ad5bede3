"""Fused single-pass validation runner.

Execution shape (SURVEY.md §3.4 — designed for 10^12 rows, tested small):

    scan ──▶ [broadcast existence join per referential check]
         ──▶ ONE projection emitting the full violation bitmap
             (`_violations: array<string>` of failed check names)
         ──▶ artifacts:
             violations   explode of failing rows            (row stream)
             clean        bitmap-empty rows; keep-first dedup runs ONLY on
                          rows whose key is actually duplicated (semi-join
                          vs the dup-key set) — unique keys never shuffle
             summary      ONE groupBy(bucket): per bucket the row and
                          violating-row counts, per-check counts, and per
                          column nulls, typed min/max and a theta sketch
             report       per-bucket pass/fail and the table-level stats /
                          check counts, all merged from the summary rows
             dupes        sort-merge dedup counts on the composite key,
                          computed on a two-column pruned scan

Every query is ONE ``spark.sql`` statement of text (the checks come from
``plans.compiler`` as SQL), parsed and analysed once: the flagged frame over
``df`` with the dims as frame parameters, and the violations, the summary
and its merge each over the flagged frame. Built as Column trees, the same
queries cost hundreds of Py4J round trips per call.

Everything row-wise is a single whole-stage-codegen projection: the table is
scanned ONCE per full-width pass, not once per check. A referential check is
a correlated ``NOT EXISTS`` in the same projection, which Spark plans as a
``BroadcastHashJoin … ExistenceJoin``: one broadcast of the dim per query,
no ``distinct`` of its key (a semi-join needs no unique key) and no shuffle
of the fact side. When a filter on the bitmap is pushed below the
projection, it copies the ``NOT EXISTS`` and the copy reuses the broadcast.
The bitmap is a ``concat`` of one array per check, ``[name]`` or empty, not
``array_compact`` over nullable names: ``array_compact`` lowers to a
``filter`` lambda, a higher-order function with no codegen, which would
evaluate every check of every row interpreted.

The per-bucket summary (:func:`_bucket_summary`) is the one definition of
every count the runner reports. A row with any violation counts once in
``n_violating_rows``, and byte-identical rows count separately, as in
``n_rows``. Table-level numbers come from merging summary rows
(:func:`_report`): sums, min of mins, max of maxes, and the estimate of
the union of the per-bucket theta sketches (mergeable sketches, as in
"Approximate Distinct Counts for Billions of Datasets", SIGMOD 2019).
``validate()`` merges them lazily, ``execute()`` in the same statement as
the summary, and ``tableio.table_report`` from the rows a resumable run stored
per bucket, so all three report the same numbers.

`execute()` is the production orchestration: it plans only the flagged
frame and runs every job in one concurrent wave, with no job depending on
another. Helper threads run the summary (one collect: per-bucket rows and
their table-level merge), the duplicate-key groups (one per declared key,
grouped by the key alone; written to a sink, never collected, their count
observed on the write) and the drift sketch, keyed by the same bucket, so
its per-bucket counts merge by summing like the summary rows. Alongside
them the main thread writes the violations row stream. At 100 TB that is
the minimum I/O shape: full data crosses the scanner for the violations
and the summary; shuffles touch only ≤ n_buckets partial summaries per
task and (conv_id, turn_idx) pairs, and nothing unbounded lands on the
driver.

Semantics vs the reference (pysemantic/validator.py ::
DataFrameValidator.clean → SeriesValidator.clean loop): the reference drops
rows per-rule sequentially; because every rule only ever *drops* rows, the
surviving set equals "rows violating no rule" — a pure conjunction — so the
fused bitmap reproduces clean() row-for-row. Order matters only for
keep-first dedup, which we make deterministic via `order_by` + row_number.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pysemantic_spark.plans.compiler import CheckPlan, _lit, _q, compile_spec
from pysemantic_spark.spec import DatasetSpec

VIOLATIONS_COL = "_violations"
BUCKET_COL = "_bucket"
# lgNomEntries of every per-bucket theta sketch: relative error
# ~1/sqrt(2^9) = 4.4%, no worse than approx_count_distinct's default rsd of
# 5%. Theta, not HLL: a union of theta sketches keeps the k smallest hashes
# whatever the merge order, while an HLL union's estimate depends on the
# order the sketches arrive in (its HIP accumulator), so a resumed table
# would not report what one execute() reports.
_SKETCH_LG_K = 9
# to_json/from_json options for stored summary rows: microsecond
# timestamps, so a stored min/max reads back exactly
_JSON_OPTS = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
}


@dataclass
class ValidationResult:
    """Lazy handles to every artifact of one validation run.

    All fields are unevaluated DataFrames — callers pick what to write or
    collect. For the full-suite production run use :func:`execute`, which
    materializes everything in the minimum number of passes.
    """

    flagged: DataFrame          # input + _violations array + _bucket
    violations: DataFrame       # key cols + check_name  (one row per failure)
    clean: DataFrame            # surviving rows, original schema
    # per-column n_rows/n_nulls/null_rate/min/max/approx_distinct, merged
    # from the per-bucket summary (0, not NULL, on an empty input). NOTE:
    # stats, check_counts and partition_report each re-run the fused pass
    # when collected (lazy plans, PLANS.md §7); execute() computes the
    # summary once for all three.
    stats: DataFrame
    check_counts: DataFrame     # check_name, n_violations (merged summary)
    partition_report: DataFrame # bucket, n_rows, n_violating_rows, passed
    dupes: DataFrame | None     # composite-key duplicate groups (or None)
    check_names: list[str] = field(default_factory=list)


def _bucket_expr_default(key_col: str | None, n_buckets: int) -> Column:
    """Deterministic partition-bucket id: hashed key (matches the
    hashed-conv_id Iceberg partitioning of the target table), else the
    physical partition id."""
    if key_col is None:
        return F.spark_partition_id()
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


def _contains_map(dt: T.DataType) -> bool:
    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.ArrayType):
        return _contains_map(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    return False


def _summary_schema(schema: T.StructType, plan: CheckPlan) -> T.StructType:
    """Layout of the per-bucket summary of an input with ``schema``.

    One row per bucket: ``bucket``, ``n_rows``, ``n_violating_rows``, one
    ``__chk__<check>`` count per counted check, and per column
    ``<col>__nulls``, the typed ``<col>__min``/``__max`` and
    ``<col>__sketch``, a theta sketch of xxhash64 over the non-NULL values.
    Scale choices: min/max only for orderable non-string types (min/max
    over long text bodies is meaningless and drags the agg); the sketch
    hashes 8 bytes per row instead of the full body. Map-bearing columns get the null count
    only (maps are neither orderable nor hashable in Spark). The field
    names carry the kind, which is all :func:`_summary_agg` and
    :func:`_report_sql` dispatch on."""
    long = T.LongType()
    fields = [T.StructField("bucket", T.IntegerType())]
    fields += [T.StructField(n, long) for n in ("n_rows", "n_violating_rows")]
    fields += [T.StructField(f"__chk__{n}", long) for n in _counted_checks(plan)]
    for f_ in schema.fields:
        c = f_.name
        fields.append(T.StructField(f"{c}__nulls", long))
        if _contains_map(f_.dataType):
            continue
        if not isinstance(f_.dataType, T.StringType):
            fields += [T.StructField(f"{c}__{k}", f_.dataType) for k in ("min", "max")]
        fields.append(T.StructField(f"{c}__sketch", T.BinaryType()))
    return T.StructType(fields)


# The typed empty bitmap: array<string> with containsNull = false, folded
# to a literal. The DDL cast of array() to array<string> would make the
# bitmap and the sink's check_name nullable.
_EMPTY = "array_remove(array(''), '')"


def _summary_agg(name: str) -> str:
    """The aggregate over flagged rows that fills summary field ``name``."""
    if name == "n_rows":
        return "count(1)"
    if name == "n_violating_rows":
        return f"count_if(size({VIOLATIONS_COL}) > 0)"
    if name.startswith("__chk__"):
        return f"count_if(array_contains({VIOLATIONS_COL}, {_lit(name[len('__chk__'):])}))"
    c, kind = name.rsplit("__", 1)
    if kind == "nulls":
        return f"count_if({_q(c)} IS NULL)"
    if kind in ("min", "max"):
        return f"{kind}({_q(c)})"
    # xxhash64(NULL) is 42, not NULL: hash the non-NULL values only
    return (
        f"theta_sketch_agg(CASE WHEN {_q(c)} IS NOT NULL THEN xxhash64({_q(c)}) END,"
        f" {_SKETCH_LG_K})"
    )


def _summary_sql(layout: T.StructType) -> str:
    """The per-bucket summary (layout: :func:`_summary_schema`) of the
    frame parameter ``{flagged}``: ONE groupBy, partial+final, its only
    input-sized exchange keyed by the bucket."""
    aggs = ", ".join(f"{_summary_agg(n)} AS {_q(n)}" for n in layout.fieldNames()[1:])
    return f"SELECT {BUCKET_COL} AS bucket, {aggs} FROM {{flagged}} GROUP BY {BUCKET_COL}"


def _bucket_summary(flagged: DataFrame, layout: T.StructType) -> DataFrame:
    """:func:`_summary_sql` over ``flagged``."""
    return flagged.sparkSession.sql(_summary_sql(layout), flagged=flagged)


def _report_sql(layout: T.StructType, source: str, *extra: str) -> str:
    """The merge of the rows of ``source`` (SQL text of a relation of the
    summary ``layout``) as ONE row: the ``extra`` aggregates; every summary
    field (bar the bucket) merged under its own name — the sum of the
    counts, the min of the mins and the max of the maxes (as strings), the
    estimate of the union of the theta sketches; and ``stats`` (per input
    column: n_rows, n_nulls, null_rate, min, max, approx_distinct) and
    ``check_counts`` (check_name, n_violations) as arrays of structs.
    Counts are 0, not NULL, over no rows, and min/max NULL."""
    names = layout.fieldNames()
    merges = []
    for n in names[1:]:
        kind = n.rsplit("__", 1)[-1]
        if n.startswith("__chk__") or kind not in ("min", "max", "sketch"):
            agg = f"coalesce(sum({_q(n)}), 0)"
        elif kind in ("min", "max"):
            agg = f"CAST({kind}({_q(n)}) AS STRING)"
        else:
            agg = f"theta_sketch_estimate(theta_union_agg({_q(n)}, {_SKETCH_LG_K}))"
        merges.append(f"{agg} AS {_q(n)}")

    def field(name: str, dtype: str) -> str:
        return _q(name) if name in names else f"CAST(NULL AS {dtype})"

    stats = ", ".join(
        f"named_struct('column', {_lit(c)}, 'n_rows', n_rows, 'n_nulls', {_q(n)},"
        f" 'null_rate', CASE WHEN n_rows > 0 THEN {_q(n)} / n_rows ELSE 0D END,"
        f" 'min', {field(c + '__min', 'STRING')}, 'max', {field(c + '__max', 'STRING')},"
        f" 'approx_distinct', {field(c + '__sketch', 'BIGINT')})"
        for n in names
        if n.endswith("__nulls") and not n.startswith("__chk__")
        for c in [n[: -len("__nulls")]]
    )
    checks = ", ".join(
        f"named_struct('check_name', {_lit(n[len('__chk__'):])}, 'n_violations', {_q(n)})"
        for n in names
        if n.startswith("__chk__")
    )
    return (
        f"SELECT *, array({stats}) AS stats,"
        f" CAST(array({checks}) AS array<struct<check_name:string,n_violations:bigint>>)"
        f" AS check_counts FROM (SELECT {', '.join([*extra, *merges])} FROM {source})"
    )


def _report(summary: DataFrame, layout: T.StructType) -> DataFrame:
    """:func:`_report_sql` over the rows of ``summary``."""
    return summary.sparkSession.sql(_report_sql(layout, "{summary}"), summary=summary)


def _report_frames(row) -> tuple:
    """``stats`` and ``check_counts`` of a collected :func:`_report` row,
    as pandas."""
    import pandas as pd

    return tuple(pd.DataFrame([r.asDict() for r in row[k]]) for k in ("stats", "check_counts"))


def _counted_checks(plan: CheckPlan) -> list[str]:
    """Per-row checks; unique keys are counted as dup groups instead."""
    return [n for n in plan.check_names if not n.startswith("unique_key:")]


def _require_dims(plan: CheckPlan, names) -> None:
    """Raise SpecValidationError for the first referential check whose dim
    table is not among ``names``."""
    from pysemantic_spark.errors import SpecValidationError

    for ref in plan.referential:
        if ref.dim_table not in names:
            raise SpecValidationError(
                f"referential check {ref.name}: dim table {ref.dim_table!r} "
                f"not provided (have {sorted(names)})"
            )


def _flag(
    df: DataFrame, plan: CheckPlan, dims: dict[str, DataFrame], bucket_expr: Column
) -> DataFrame:
    """``df`` + the violation bitmap + the bucket id, as ONE ``spark.sql``
    statement over ``df`` (the bucket added) with the dims as frame
    parameters: every row check and every referential ``NOT EXISTS``
    (``plans.compiler``) in one fused projection, each referential check a
    broadcast existence join (fact side unshuffled, dim not deduplicated).
    df-level pre-rules are the caller's, applied before. A referential
    check whose dim is not in ``dims`` raises SpecValidationError here,
    before any job runs. ``spark.sql`` drops the temporary views of the
    frame parameters once the statement is analysed.

    The bitmap concatenates, per check, ``array(name)`` when it fails and
    the typed empty array ``_EMPTY`` when it passes, which codegens where
    ``array_compact(array(CASE WHEN … THEN name END, …))`` runs a
    ``filter`` lambda per row; the bitmap and the sink's ``check_name``
    stay non-nullable."""
    _require_dims(plan, dims)
    params: dict[str, str] = {}  # dim table -> frame parameter name
    checks = [(chk.name, chk.violation_sql()) for chk in plan.row_checks]
    for ref in plan.referential:
        dim = params.setdefault(ref.dim_table, f"dim{len(params)}")
        checks.append((ref.name, ref.violation_sql(dim)))
    flags = [
        f"CASE WHEN {cond} THEN array({_lit(name)}) ELSE {_EMPTY} END" for name, cond in checks
    ]
    bitmap = f"concat({', '.join(flags)})" if flags else _EMPTY
    cols = ", ".join(f"f.{_q(c)}" for c in df.columns)
    return df.sparkSession.sql(
        f"SELECT {cols}, {bitmap} AS {VIOLATIONS_COL}, f.{BUCKET_COL} FROM {{df}} f",
        df=df.withColumn(BUCKET_COL, bucket_expr),
        **{name: dims[table] for table, name in params.items()},
    )


def _violation_rows(flagged: DataFrame, key_cols: list[str]) -> DataFrame:
    """The violations row stream of ``flagged``: the key columns, one
    ``check_name`` per failed check, and the bucket. An outer explode and
    a ``check_name IS NOT NULL`` filter drop a row that fails no check:
    from an inner explode Spark infers ``size(_violations) > 0`` and
    pushes it below the projection, which evaluates the bitmap, every
    check and every ``NOT EXISTS`` a second time. The filter leaves
    ``check_name`` NULL-free, and the ``coalesce`` only restores its
    non-nullable type."""
    keys = ", ".join(_q(c) for c in key_cols)
    return flagged.sparkSession.sql(
        f"SELECT {keys}, coalesce(check_name, '') AS check_name, {BUCKET_COL} FROM"
        f" (SELECT {keys}, explode_outer({VIOLATIONS_COL}) AS check_name, {BUCKET_COL}"
        " FROM {flagged}) WHERE check_name IS NOT NULL",
        flagged=flagged,
    )


def validate(
    spark: SparkSession,
    df: DataFrame,
    spec: DatasetSpec | CheckPlan,
    dims: dict[str, DataFrame] | None = None,
    bucket_by: str | None = None,
    n_buckets: int = 32,
    bucket_expr: Column | None = None,
) -> ValidationResult:
    """Build the full lazy check-suite DAG over ``df``.

    dims: logical dim-table name → DataFrame, for referential checks.
    bucket_by: column whose hash defines the per-partition report buckets
        (e.g. "conv_id"); defaults to physical partition ids.
    bucket_expr: explicit bucket Column, overriding bucket_by (used when
        the bucket scheme must be reproducible outside Spark).
    """
    plan = spec if isinstance(spec, CheckPlan) else compile_spec(spec)
    input_cols = df.columns

    # --- optional df-level pre-rules (reference DataFrameValidator order) --
    if plan.drop_duplicates:
        df = df.dropDuplicates()
    if plan.drop_na:
        df = df.na.drop("any")

    if bucket_expr is None:
        bucket_expr = _bucket_expr_default(bucket_by, n_buckets)
    flagged = _flag(df, plan, dims or {}, bucket_expr)

    # --- violations row stream --------------------------------------------
    key_cols = plan.unique_keys[0] if plan.unique_keys else input_cols[:1]
    violations = _violation_rows(flagged, key_cols)

    # --- unique-key duplicate detection: sort-merge agg on a PRUNED scan --
    row_ok = F.size(VIOLATIONS_COL) == 0
    clean = flagged.filter(row_ok)
    dupes, key_groups = _dup_groups(df, plan)
    for key, d in zip(plan.unique_keys, key_groups):
        # keep-first dedup, but ONLY dup-key rows enter the window shuffle:
        # unique keys (the overwhelming majority) pass through untouched.
        # NULL-safe split: NULL keys group together (window semantics),
        # they don't all survive via a never-matching equi anti-join.
        from pysemantic_spark.operators.dedup import split_by_dup_keys

        dup_keys = d.select(*key)
        dup_part, uniq_part = split_by_dup_keys(clean, dup_keys, list(key))
        if plan.spec.order_by:
            order = [F.col(c) for c in plan.spec.order_by]
        else:
            # Deterministic auto-tiebreak: without a declared order_by,
            # row_number() over lit(1) would keep whichever duplicate the
            # partition layout happened to deliver first — a wrong-answer
            # risk on stage retries / repartitions. Order by every hashable
            # non-key column instead: a content-derived total order, so the
            # survivor is a pure function of the data. Rows identical on all
            # hashable columns remain interchangeable (any pick yields the
            # same output set). Property-tested under random repartitions.
            from pysemantic_spark.operators.skew import hashable_cols

            skip = set(key) | {VIOLATIONS_COL, BUCKET_COL}
            tiebreak = [c for c in hashable_cols(clean) if c not in skip]
            order = [F.col(c) for c in tiebreak] or [F.lit(1)]
        w = Window.partitionBy(*key).orderBy(*order)
        dup_kept = (
            dup_part.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        clean = uniq_part.unionByName(dup_kept)
    clean = clean.select(*input_cols)

    # --- postprocessors: applied to survivors only (reference order:
    # SeriesValidator.postprocessors on cleaned series, then df-level) -----
    clean = _apply_postprocessors(clean, plan.spec)

    # --- per-bucket summary; stats and check counts are its merge ---------
    layout = _summary_schema(df.schema, plan)
    summary = _bucket_summary(flagged, layout)
    report = _report(summary, layout)
    partition_report = summary.select(
        "bucket", "n_rows", "n_violating_rows",
        (F.col("n_violating_rows") == 0).alias("passed"),
    )

    return ValidationResult(
        flagged=flagged,
        violations=violations,
        clean=clean,
        stats=report.select(F.explode("stats").alias("s")).select("s.*"),
        check_counts=report.select(F.explode("check_counts").alias("s")).select("s.*"),
        partition_report=partition_report,
        dupes=dupes,
        check_names=plan.check_names,
    )


def _dup_groups(
    df: DataFrame, plan: CheckPlan
) -> tuple[DataFrame | None, list[DataFrame]]:
    """Duplicate-key groups (key columns + ``dup_count`` > 1) for EVERY
    declared unique key — composite ``uniqueness`` entries and per-column
    is_drop_duplicates alike: their union (None without keys) and the
    per-key frames. Each key is grouped by the key ALONE, never by (key,
    bucket): a bucket column not determined by the key would split a dup
    group across buckets and miss the duplicates."""
    groups = [
        df.groupBy(*key)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
        for key in plan.unique_keys
    ]
    dupes = None
    for d in groups:
        dupes = d if dupes is None else dupes.unionByName(d, allowMissingColumns=True)
    return dupes, groups


def execute(
    spark: SparkSession,
    df: DataFrame,
    spec: DatasetSpec | CheckPlan,
    dims: dict[str, DataFrame] | None = None,
    bucket_by: str | None = None,
    n_buckets: int = 32,
    violations_sink: str | None = None,
    dupes_sink: str | None = None,
) -> dict[str, Any]:
    """Production run: one concurrent wave of independent jobs.

    Plans only the flagged frame; validate()'s other artifacts are not built.
    Before pass 1 runs, helper threads start:
      - the per-bucket summary (:func:`_summary_sql`), collected as ONE
        row together with its table-level merge (:func:`_report_sql` over
        the ≤ n_buckets summary rows) in one statement: the partition
        report, per-column stats and per-check counts. It is a second
        full-width scan, and the call's tail waits for it;
      - for EVERY declared unique key, the duplicate-key groups (see
        :func:`_dup_groups`), written as Parquet to ``dupes_sink``
        (defaults to ``<violations_sink>_dupes``), never collected: their
        count is observed on that sink write (a ``count()`` of the
        persisted groups without a sink);
      - drift, when the spec has a ``drift:`` block: one drift sketch
        (``drift.spec_drift_report``) of the drift columns keyed by the
        bucket, computed on ``df`` (the dim joins stay out of its plan), in
        the layout of the baseline, which is loaded and checked before any
        job starts, so a bad block fails with no sink written. The
        table-level ``drift`` rows are scored over the sum of the buckets'
        counts, and each bucket's counts ride its partition report row.
    Pass 1 (main thread, full width) writes the violations row stream as
      Parquet to ``violations_sink``; without a sink nothing reads it, so
      it is skipped.
    ``on_drift: fail`` raises only after every job has finished; it
    scores the call's input as a whole.

    Helper threads inherit the caller's local properties (job group,
    description, scheduler pool) and session tags, so ``setJobGroup`` /
    ``cancelJobGroup`` cover every job of the call. An error in any job
    propagates after the other jobs finish; nothing stays persisted.

    Returns dict(stats=pandas, check_counts=pandas, partition_report=pandas,
    dupes=lazy DataFrame handle or None, n_dup_keys=int, dupes_path=...,
    n_rows=int, violations_path=..., drift=pandas or None, timings=dict).
    Tiny frames come back as pandas; anything that can grow with the data
    (violations, dupes) stays a path + lazy handle. ``partition_report``
    holds bucket, n_rows, n_violating_rows, passed, ``summary``: the
    bucket's whole summary row as JSON (``_JSON_OPTS``), and
    ``drift_counts``: the bucket's drift sketch rows as [column, bin, cnt]
    lists (None without a ``drift:`` block), both of which
    ``run_resumable`` keeps per bucket. ``timings`` holds driver wall-clock
    seconds: ``compile_and_plan`` (compile, baseline load, building the
    summary, helper submission, pass-1 planning), ``pass1_violations_write`` (pass 1's
    write, sharing the cores with the helpers) and ``pass2_overlapped``
    (the tail after pass 1: waiting for the summary, the dup-key groups
    and drift).
    """
    import time as _time
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    _t0 = _time.time()
    _timings: dict[str, float] = {}

    def _mark(name: str) -> None:
        nonlocal _t0
        now = _time.time()
        _timings[name] = round(now - _t0, 3)
        _t0 = now

    plan = spec if isinstance(spec, CheckPlan) else compile_spec(spec)
    if bucket_by is None:
        # spark_partition_id() is NOT stable across jobs (they scan
        # different column subsets → different splits); production
        # reports need a content-derived bucket
        raise ValueError(
            "execute() requires bucket_by (a column whose hash defines the "
            "partition buckets); physical partition ids are not comparable "
            "across passes"
        )
    baseline = None
    if plan.drift is not None:
        from pysemantic_spark.operators.drift import spec_drift_baseline

        baseline = spec_drift_baseline(plan.drift)

    # df-level pre-rules applied ONCE here so every job sees the same rows
    if plan.drop_duplicates:
        df = df.dropDuplicates()
    if plan.drop_na:
        df = df.na.drop("any")
    bucket = _bucket_expr_default(bucket_by, n_buckets)
    flagged = _flag(df, plan, dims or {}, bucket)
    layout = _summary_schema(df.schema, plan)

    # one statement, one row: the per-bucket rows as a sorted list, and
    # their merge. Built here, so the helper thread only runs it.
    opts = ", ".join(f"{_lit(k)}, {_lit(v)}" for k, v in _JSON_OPTS.items())
    buckets = (
        "array_sort(collect_list(named_struct('bucket', bucket, 'n_rows', n_rows,"
        " 'n_violating_rows', n_violating_rows, 'passed', n_violating_rows = 0,"
        f" 'summary', to_json(struct(*), map({opts}))))) AS _buckets"
    )
    summary = spark.sql(
        _report_sql(layout, f"({_summary_sql(layout)})", buckets), flagged=flagged
    )

    dupes, _ = _dup_groups(df, plan)
    if dupes is not None and dupes_sink is None and violations_sink is not None:
        dupes_sink = violations_sink.rstrip("/") + "_dupes"
    dupes_path = dupes_sink if dupes is not None else None

    def _dupes_job() -> tuple[DataFrame, int]:
        if dupes_sink:
            dup_obs = Observation("dup_keys")  # the count rides the write
            observed = dupes.observe(dup_obs, F.count(F.lit(1)).alias("n"))
            observed.write.mode("overwrite").parquet(dupes_sink)
            # read back with the schema just written: inference would cost a job
            handle = spark.read.schema(dupes.schema).parquet(dupes_sink)
            return handle, int(dup_obs.get["n"])
        return dupes, dupes.persist().count()

    def _drift_job():
        from pysemantic_spark.operators.drift import spec_drift_report

        # keyed by the bucket over df, not flagged: the dim joins stay out
        return spec_drift_report(df, plan.drift, bucket, baseline)

    n_dup_keys = 0
    drift_pdf = drift_counts = None
    try:
        with ThreadPoolExecutor(max_workers=3) as pool:

            def _submit(job):
                # one wrapper per job: each gets its own copy of the caller's
                # local properties (a thread holds them by reference, and
                # every SQL job sets its execution id in them)
                return pool.submit(inheritable_thread_target(spark)(job))

            summary_fut = _submit(summary.first)
            dupes_fut = None if dupes is None else _submit(_dupes_job)
            drift_fut = None if plan.drift is None else _submit(_drift_job)

            # ---- pass 1: the violations row stream -----------------------
            key_cols = plan.unique_keys[0] if plan.unique_keys else df.columns[:1]
            viol = _violation_rows(flagged, key_cols)
            _mark("compile_and_plan")
            if violations_sink:
                viol.write.mode("overwrite").parquet(violations_sink)
            _mark("pass1_violations_write")
            merged = summary_fut.result()
            if dupes_fut is not None:
                dupes, n_dup_keys = dupes_fut.result()
            if drift_fut is not None:
                drift_pdf, drift_counts = drift_fut.result()
        _mark("pass2_overlapped")

        if plan.drift is not None and plan.drift.on_drift == "fail":
            bad = drift_pdf[drift_pdf["drifted"]]
            if len(bad):
                from pysemantic_spark.errors import DriftDetectedError

                raise DriftDetectedError(
                    "distribution drift over threshold (on_drift: fail): "
                    + "; ".join(
                        f"{r.column}/{r.metric}={r.value} > {r.threshold}"
                        for r in bad.itertuples()
                    ),
                    report=drift_pdf,
                )
    except BaseException:
        if dupes is not None and not dupes_sink:
            dupes.unpersist(blocking=True)
        raise

    import pandas as pd

    report = pd.DataFrame(
        merged["_buckets"],
        columns=["bucket", "n_rows", "n_violating_rows", "passed", "summary"],
    )
    report["drift_counts"] = None if drift_counts is None else pd.Series(
        [drift_counts.get(b, []) for b in report["bucket"]], index=report.index, dtype=object
    )
    stats, check_counts = _report_frames(merged)

    return {
        "n_rows": merged["n_rows"],
        "stats": stats,
        "check_counts": check_counts,
        "partition_report": report,
        "dupes": dupes,
        "n_dup_keys": n_dup_keys,
        "dupes_path": dupes_path,
        "drift": drift_pdf,
        "violations_path": violations_sink,
        # wall-clock per phase (driver-observed) — the scaling protocol
        # uses this to attribute serial overhead (commits, driver
        # round-trips) separately from the parallelizable passes
        "timings": _timings,
    }


def _apply_postprocessors(df: DataFrame, spec: DatasetSpec) -> DataFrame:
    """Column postprocessors = named vectorized pandas Series fns (Arrow
    batches) resolved from the CONVERTER registry — register them with
    ``register_converter()`` (same callable shape as converters; only the
    application point differs: converters run at load, postprocessors run
    on the cleaned survivors). Df-level postprocessors = named
    DataFrame→DataFrame transforms from ``register_postprocessor()``.
    Unknown names raise ParserArgumentError at plan time, matching the
    converters path. No per-row Python anywhere."""
    from pysemantic_spark.errors import ParserArgumentError
    from pysemantic_spark.sources.readers import (
        CONVERTER_REGISTRY,
        POSTPROCESSOR_REGISTRY,
    )

    for col, rules in spec.column_rules.items():
        for name in rules.postprocessors:
            fn = CONVERTER_REGISTRY.get(name)
            if fn is None:
                raise ParserArgumentError(
                    f"{spec.name}: unknown column postprocessor {name!r} for "
                    f"{col!r} — register a pandas Series fn via "
                    "register_converter()"
                )
            udf = F.pandas_udf(fn, returnType=df.schema[col].dataType)
            df = df.withColumn(col, udf(F.col(col)))
    for name in spec.postprocessors:
        fn = POSTPROCESSOR_REGISTRY.get(name)
        if fn is None:
            raise ParserArgumentError(
                f"{spec.name}: unknown postprocessor {name!r} — register a "
                "DataFrame transform via register_postprocessor()"
            )
        df = df.transform(fn)
    return df
