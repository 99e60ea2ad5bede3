"""Fused single-pass validation runner.

Execution shape (SURVEY.md §3.4 — designed for 10^12 rows, tested small):

    scan ──▶ [broadcast left-outer join per referential dim]
         ──▶ ONE projection emitting the full violation bitmap
             (`_violations: array<string>` of failed check names)
         ──▶ artifacts:
             violations   explode of failing rows            (row stream)
             clean        bitmap-empty rows; keep-first dedup runs ONLY on
                          rows whose key is actually duplicated (semi-join
                          vs the dup-key set) — unique keys never shuffle
             stats        wide agg / observe()d on the main pass
             dupes        sort-merge dedup counts on the composite key,
                          computed on a two-column pruned scan
             report       per-bucket pass/fail, derived from tiny frames

Everything row-wise is a single whole-stage-codegen projection: the table is
scanned ONCE per full-width pass, not once per check. Referential checks ride
the same pass as broadcast hash joins (no shuffle of the fact side).

`execute()` is the production orchestration: it plans only the flagged
frame and runs every job in one concurrent wave. The jobs that read only
the input start first on helper threads: the per-bucket row counts and the
duplicate-key groups (one per declared key, grouped by the key alone;
written to a sink, never collected, their count observed on the write),
both skinny pruned-scan aggregations, and the drift scan. Alongside them
the main thread runs ONE full-width action (writing violations, with
stats/check-counts attached via `observe` so they cost nothing extra). Only
the per-bucket violating-row count waits, because it reads that action's
sink. At 100 TB that is the minimum I/O shape: full data crosses the
scanner once; shuffles touch only (conv_id, turn_idx) pairs and bucket
ids, and nothing unbounded lands on the driver.

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

from pysemantic_spark.plans.compiler import CheckPlan, compile_spec
from pysemantic_spark.spec import DatasetSpec

VIOLATIONS_COL = "_violations"
BUCKET_COL = "_bucket"


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
    # per-column count/nulls/min/max/approx_distinct. NOTE: collecting
    # `stats` separately re-runs the fused pass (lazy plan, PLANS.md §7);
    # the production path is execute(), where stats ride the violations
    # write via observe() for free.
    stats: DataFrame
    check_counts: DataFrame     # check_name, n_violations
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


def _is_string_type(dt: T.DataType) -> bool:
    return isinstance(dt, T.StringType)


def _contains_map(dt: T.DataType) -> bool:
    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.ArrayType):
        return _contains_map(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    return False


def _summary_exprs(df: DataFrame, plan: CheckPlan) -> list[Column]:
    """Wide per-column stats plus per-check violation counts over the
    flagged frame, in one partial+final agg: validate()'s lazy ``stats`` /
    ``check_counts`` aggregate them, execute() observes them on pass 1.

    Scale choices: min/max only for orderable non-string types (min/max over
    long text bodies is meaningless and drags the whole agg); distinct
    estimation runs HLL over xxhash64(col) for strings so the sketch hashes
    8 bytes/row instead of the full body. Map-bearing columns get null-count
    only (maps are neither orderable nor hashable in Spark)."""
    exprs: list[Column] = [F.count(F.lit(1)).alias("n_rows")]
    for f_ in df.schema.fields:
        c = f_.name
        exprs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
        if _contains_map(f_.dataType):
            exprs.append(F.lit(None).cast("string").alias(f"{c}__min"))
            exprs.append(F.lit(None).cast("string").alias(f"{c}__max"))
            exprs.append(F.lit(None).cast("long").alias(f"{c}__approx_distinct"))
        elif _is_string_type(f_.dataType):
            exprs.append(F.lit(None).cast("string").alias(f"{c}__min"))
            exprs.append(F.lit(None).cast("string").alias(f"{c}__max"))
            exprs.append(
                F.approx_count_distinct(F.xxhash64(c)).alias(f"{c}__approx_distinct")
            )
        else:
            exprs.append(F.min(c).cast("string").alias(f"{c}__min"))
            exprs.append(F.max(c).cast("string").alias(f"{c}__max"))
            exprs.append(F.approx_count_distinct(c).alias(f"{c}__approx_distinct"))
    exprs += [
        F.sum(F.array_contains(VIOLATIONS_COL, n).cast("long")).alias(f"__chk__{n}")
        for n in _counted_checks(plan)
    ]
    return exprs


def _counted_checks(plan: CheckPlan) -> list[str]:
    """Per-row checks; unique keys are counted as dup groups instead."""
    return [n for n in plan.check_names if not n.startswith("unique_key:")]


def _flag(
    df: DataFrame, plan: CheckPlan, dims: dict[str, DataFrame], bucket_expr: Column
) -> DataFrame:
    """``df`` + the violation bitmap + the bucket id: the referential
    marks as broadcast left-outer joins (fact side unshuffled), then ONE
    fused projection of every row check. df-level pre-rules are the
    caller's, applied before."""
    input_cols = df.columns
    work = df
    ref_flag_cols: list[tuple[str, Column]] = []
    for ref in plan.referential:
        if ref.dim_table not in dims:
            raise KeyError(
                f"referential check {ref.name}: dim table {ref.dim_table!r} "
                f"not provided (have {sorted(dims)})"
            )
        mark = f"__ref_ok__{ref.column}"
        dim = (
            dims[ref.dim_table]
            .select(F.col(ref.dim_column).alias(ref.column))
            .distinct()
            .withColumn(mark, F.lit(True))
        )
        work = work.join(F.broadcast(dim), on=ref.column, how="left")
        ref_flag_cols.append(
            (ref.name, F.col(ref.column).isNotNull() & F.col(mark).isNull())
        )

    flag_exprs: list[Column] = [
        F.when(chk.violation_expr(), F.lit(chk.name)) for chk in plan.row_checks
    ]
    flag_exprs += [
        F.when(F.coalesce(expr, F.lit(False)), F.lit(name))
        for name, expr in ref_flag_cols
    ]
    if flag_exprs:
        viol_arr = F.array_compact(F.array(*flag_exprs))
    else:
        viol_arr = F.array().cast("array<string>")
    return (
        work.withColumn(VIOLATIONS_COL, viol_arr)
        .withColumn(BUCKET_COL, bucket_expr)
        .select(*input_cols, VIOLATIONS_COL, BUCKET_COL)
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
    violations = (
        flagged.filter(F.size(VIOLATIONS_COL) > 0)
        .select(*key_cols, F.explode(VIOLATIONS_COL).alias("check_name"), BUCKET_COL)
    )

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

    # --- wide stats agg: one partial+final pass ----------------------------
    wide = flagged.agg(*_summary_exprs(df, plan))
    stats = _unpivot_stats(wide, input_cols)
    check_counts = _unpivot_checks(wide, plan)

    # --- per-bucket pass/fail ----------------------------------------------
    partition_report = (
        flagged.groupBy(F.col(BUCKET_COL).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((F.size(VIOLATIONS_COL) > 0).cast("long")).alias("n_violating_rows"),
        )
        .withColumn("passed", F.col("n_violating_rows") == 0)
    )

    return ValidationResult(
        flagged=flagged,
        violations=violations,
        clean=clean,
        stats=stats,
        check_counts=check_counts,
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


def _violating_rows_per_bucket(viol: DataFrame, key_cols: list[str]) -> DataFrame:
    """Per-bucket count of DISTINCT violating rows from the violations
    stream (one stream row per (row, failed check): a row violating 3
    checks is still ONE violating row).

    countDistinct(struct(...)) — NOT .distinct() then count — so the
    whole computation is aggregate-shaped: partial HashAggregates map-side
    combine before both exchanges, and every shuffle is keyed BY BUCKET
    (plus the dedup tuple), never a bucket-less global Distinct over the
    full violation output — at a pathological 100% violation rate that
    distinct re-shuffled the entire dataset after the sink write. The
    struct wrapper keeps rows with NULL key columns countable
    (count(DISTINCT a, b) drops any-null argument tuples; a never-null
    struct does not), matching the old distinct() set semantics exactly."""
    return viol.groupBy(F.col(BUCKET_COL).alias("bucket")).agg(
        F.countDistinct(F.struct(*key_cols, F.col("_row_hash"))).alias(
            "n_violating_rows"
        )
    )


def execute(
    spark: SparkSession,
    df: DataFrame,
    spec: DatasetSpec | CheckPlan,
    dims: dict[str, DataFrame] | None = None,
    bucket_by: str | None = None,
    n_buckets: int = 32,
    violations_sink: str | None = None,
    dupes_sink: str | None = None,
    sink_format: str = "parquet",
) -> dict[str, Any]:
    """Production run: one concurrent wave of jobs with one dependency.

    Plans only the flagged frame; validate()'s other artifacts are not built.
    Before pass 1 is planned, the jobs that read only the input start on
    helper threads:
      - bucket totals: one pruned scan of the ``bucket_by`` column;
      - for EVERY declared unique key, the duplicate-key groups (see
        :func:`_dup_groups`), written to ``dupes_sink`` (defaults to
        ``<violations_sink>_dupes``), never collected: their count is
        observed on that sink write (a ``count()`` of the persisted groups
        without a sink);
      - drift, when the spec has a ``drift:`` block: one fused scan of the
        drift columns against the baseline, which is loaded and checked
        before any job starts, so a bad block fails with no sink written.
    Pass 1 (main thread, full width): write/materialize the violations row
      stream, with per-column stats and per-check counts riding the same
      action via ``observe`` — zero extra scans for stats.
    The one dependent job then runs: the per-bucket violating-row counts,
      read from pass 1's sink. ``on_drift: fail`` raises only after every
      job has finished. Sinks are read back with the schema just written,
      so a read-back runs no job.

    Helper threads inherit the caller's local properties (job group,
    description, scheduler pool) and session tags, so ``setJobGroup`` /
    ``cancelJobGroup`` cover every job of the call. An error in any job
    propagates after the other jobs finish; nothing stays persisted.

    Returns dict(stats=pandas, check_counts=pandas, partition_report=pandas,
    dupes=lazy DataFrame handle or None, n_dup_keys=int, dupes_path=...,
    n_rows=int, violations_path=..., drift=pandas or None, timings=dict).
    Tiny frames come back as pandas; anything that can grow with the data
    (violations, dupes) stays a path + lazy handle. ``timings`` holds
    driver wall-clock seconds: ``compile_and_plan`` (compile, baseline
    load, helper submission, pass-1 planning), ``pass1_violations_write``
    (pass 1's action, sharing the cores with the helpers) and
    ``pass2_overlapped`` (the tail after pass 1: the violating-row count
    plus waiting for the helpers).
    """
    import time as _time
    from concurrent.futures import ThreadPoolExecutor

    import pandas as pd
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
    bucket_expr = _bucket_expr_default(bucket_by, n_buckets)

    def _sink(frame: DataFrame, path: str) -> DataFrame:
        frame.write.format(sink_format).mode("overwrite").save(path)
        # read back with the schema just written: inference would cost a job
        return spark.read.format(sink_format).schema(frame.schema).load(path)

    def _totals_job() -> pd.DataFrame:
        return (
            df.select(bucket_expr.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .toPandas()
        )

    dupes, _ = _dup_groups(df, plan)
    if dupes is not None and dupes_sink is None and violations_sink is not None:
        dupes_sink = violations_sink.rstrip("/") + "_dupes"
    dupes_path = dupes_sink if dupes is not None else None

    def _dupes_job() -> tuple[DataFrame, int]:
        if dupes_sink:
            dup_obs = Observation("dup_keys")  # the count rides the write
            handle = _sink(
                dupes.observe(dup_obs, F.count(F.lit(1)).alias("n")), dupes_sink
            )
            return handle, int(dup_obs.get["n"])
        return dupes, dupes.persist().count()

    def _drift_job() -> pd.DataFrame:
        from pysemantic_spark.operators.drift import spec_drift_report

        return spec_drift_report(df, plan.drift, baseline)

    n_dup_keys = 0
    viol = drift_pdf = None
    try:
        with ThreadPoolExecutor(max_workers=3) as pool:

            def _submit(job):
                # one wrapper per job: each gets its own copy of the caller's
                # local properties (a thread holds them by reference, and
                # every SQL job sets its execution id in them)
                return pool.submit(inheritable_thread_target(spark)(job))

            totals_fut = _submit(_totals_job)
            dupes_fut = None if dupes is None else _submit(_dupes_job)
            drift_fut = None if plan.drift is None else _submit(_drift_job)

            # ---- pass 1: violations + observe(stats, check counts) -------
            obs = Observation("validation_stats")
            observed = _flag(df, plan, dims or {}, bucket_expr).observe(
                obs, *_summary_exprs(df, plan)
            )
            key_cols = plan.unique_keys[0] if plan.unique_keys else df.columns[:1]
            # deterministic per-row discriminator so two different rows
            # sharing the unique key (the very thing the engine detects)
            # each count as a violating row; byte-identical full rows still
            # collapse — those are exactly what drop_duplicates removes when
            # declared
            from pysemantic_spark.operators.skew import hashable_cols

            row_hash = F.xxhash64(*[F.col(c) for c in hashable_cols(df)]).alias(
                "_row_hash"
            )
            viol = observed.filter(F.size(VIOLATIONS_COL) > 0).select(
                *key_cols,
                F.explode(VIOLATIONS_COL).alias("check_name"),
                BUCKET_COL,
                row_hash,
            )
            _mark("compile_and_plan")
            if violations_sink:
                viol_small = _sink(viol, violations_sink)
            else:
                viol_small = viol.persist()
                viol_small.count()  # force the pass
            metrics = obs.get
            _mark("pass1_violations_write")
            # the one job that depends on pass 1: it reads pass 1's sink
            viol_rows_per_bucket = _violating_rows_per_bucket(
                viol_small, key_cols
            ).toPandas()
            bucket_totals = totals_fut.result()
            if dupes_fut is not None:
                dupes, n_dup_keys = dupes_fut.result()
            if drift_fut is not None:
                drift_pdf = drift_fut.result()
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
    finally:
        if viol is not None and not violations_sink:
            viol.unpersist(blocking=True)

    report = bucket_totals.merge(viol_rows_per_bucket, on="bucket", how="left")
    report["n_violating_rows"] = (
        report["n_violating_rows"].fillna(0).astype("int64")
    )
    report["passed"] = report["n_violating_rows"] == 0
    report = report.sort_values("bucket").reset_index(drop=True)

    # ---- unpack observe() metrics into tall frames ------------------------
    n_rows = int(metrics["n_rows"])
    stats_rows = []
    for f_ in df.schema.fields:
        c = f_.name
        stats_rows.append(
            {
                "column": c,
                "n_rows": n_rows,
                "n_nulls": int(metrics[f"{c}__nulls"] or 0),
                "null_rate": (int(metrics[f"{c}__nulls"] or 0) / n_rows) if n_rows else 0.0,
                "min": metrics[f"{c}__min"],
                "max": metrics[f"{c}__max"],
                "approx_distinct": int(metrics[f"{c}__approx_distinct"] or 0),
            }
        )
    counts_rows = [
        {"check_name": n, "n_violations": int(metrics[f"__chk__{n}"] or 0)}
        for n in _counted_checks(plan)
    ]

    return {
        "n_rows": n_rows,
        "stats": pd.DataFrame(stats_rows),
        "check_counts": pd.DataFrame(counts_rows),
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


def _unpivot_stats(wide: DataFrame, stat_cols: list[str]) -> DataFrame:
    parts = []
    for c in stat_cols:
        parts.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("n_rows").alias("n_rows"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                (F.col(f"{c}__nulls") / F.col("n_rows")).alias("null_rate"),
                F.col(f"{c}__min").alias("min"),
                F.col(f"{c}__max").alias("max"),
                F.col(f"{c}__approx_distinct").alias("approx_distinct"),
            )
        )
    return wide.select(F.explode(F.array(*parts)).alias("s")).select("s.*")


def _unpivot_checks(wide: DataFrame, plan: CheckPlan) -> DataFrame:
    names = _counted_checks(plan)
    if not names:
        return wide.sparkSession.createDataFrame(
            [], "check_name string, n_violations long"
        )
    parts = [
        F.struct(F.lit(n).alias("check_name"), F.col(f"__chk__{n}").alias("n_violations"))
        for n in names
    ]
    return wide.select(F.explode(F.array(*parts)).alias("s")).select("s.*")
