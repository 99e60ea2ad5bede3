"""Table storage with per-partition checkpoint/resume.

Two implementations behind one interface:

- `IcebergIO` — used when an Iceberg catalog is configured on the cluster
  (`iceberg-spark-runtime` jar; NOT available in this sandbox). Buckets map
  to Iceberg's `bucket(N, conv_id)` partition transform; the manifest rides
  Iceberg snapshot metadata.
- `ParquetManifestIO` — self-contained fallback with identical semantics:
  hash-bucketed Parquet layout (`bucket=NNN/` directories → Spark partition
  pruning prunes scans to pending buckets) plus a JSON checkpoint manifest
  recording per-bucket lineage (input fingerprint), row counts, status,
  wall time, the bucket's own summary row (the runner's per-bucket
  summary: counts, per-check counts, per-column nulls, min/max and distinct
  sketch) and its own drift sketch counts with the id of the baseline they
  were binned under, with the summary layout and the drift scoring (the
  baseline, columns and thresholds) once per manifest. The first bucket of
  each chunk also carries the chunk record: phase timings and the chunk's
  duplicate-key count and sink.

Resume contract (north_star): a killed job restarts and re-validates ONLY
buckets not marked done in the manifest; the bucket filter is a partition-
directory filter, so pruning happens at the file index — done buckets are
never even listed, let alone scanned. `table_report` merges the stored
summaries and drift counts of the done buckets, so a killed-and-resumed
table reports what one `execute()` over the same rows reports, distinct
counts and drift rows included. ``on_drift: quarantine`` parks exactly the
buckets whose own counts score drifted, whatever the chunk size.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BUCKET_PART_COL = "bucket"


@dataclass
class BucketEntry:
    bucket: int
    status: str = "pending"  # pending | done | failed | quarantined
    n_rows: int = 0
    n_violating_rows: int = 0
    passed: bool | None = None
    input_fingerprint: str = ""
    run_id: str = ""
    wall_time_sec: float = 0.0
    stats: dict = field(default_factory=dict)  # the chunk record, first bucket only
    summary: str = ""  # the bucket's summary row as JSON ("" when empty)
    drift_counts: list = field(default_factory=list)  # [column, bin, cnt] rows
    drift_baseline: str = ""  # id of the baseline drift_counts were binned under


@dataclass
class Manifest:
    n_buckets: int
    bucket_key: str
    entries: dict[int, BucketEntry] = field(default_factory=dict)
    summary_schema: dict = field(default_factory=dict)  # StructType JSON
    # the table's StructType JSON as written, the bucket column last; {} in
    # a manifest written before it was kept (reads then infer the schema)
    table_schema: dict = field(default_factory=dict)
    # the last run's drift scoring: base (the baseline sketch), columns,
    # psi_threshold and ks_threshold; {} without a drift: block
    drift: dict = field(default_factory=dict)

    def pending(self) -> list[int]:
        # quarantined buckets are parked, not retried: their data drifted
        # past threshold and needs human/baseline action before revalidation
        return [
            b for b in range(self.n_buckets)
            if self.entries.get(b, BucketEntry(b)).status
            not in ("done", "quarantined")
        ]

    def quarantined(self) -> list[int]:
        return [
            b for b in range(self.n_buckets)
            if self.entries.get(b, BucketEntry(b)).status == "quarantined"
        ]

    def to_json(self) -> str:
        return json.dumps(asdict(self), indent=1)

    @classmethod
    def from_json(cls, s: str) -> "Manifest":
        d = json.loads(s)
        d["entries"] = {
            int(b): BucketEntry(**e) for b, e in d.get("entries", {}).items()
        }
        return cls(**d)


class ParquetManifestIO:
    """Hash-bucketed Parquet table + atomic JSON checkpoint manifest."""

    def __init__(self, root: str):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.manifest_path = os.path.join(root, "_manifest", "manifest.json")

    # ---- layout -----------------------------------------------------------

    def write_bucketed(
        self, df: DataFrame, bucket_key: str, n_buckets: int,
        salt_factor: int = 4, entropy_cols: tuple[str, ...] | None = None,
    ) -> Manifest:
        """Materialize the table partitioned by hashed bucket_key.

        bucket = pmod(xxhash64(key), n_buckets), from the runner's own
        bucket rule (``runner._bucket_expr_default``) so the written
        buckets are the runner's partition-report buckets; the drop-in
        analog of Iceberg's bucket() transform.

        The write repartitions on (bucket, salt) — the explicit salted
        repartitioning the north_rule requires: a conversation holding 1%
        of 10^12 rows would otherwise pin its entire bucket's write to one
        task; the salt spreads each bucket over salt_factor writer tasks
        (directory layout is unchanged — partitionBy(bucket) still routes
        rows to bucket=NNN/, just from several tasks in parallel)."""
        from pysemantic_spark.operators.runner import _bucket_expr_default
        from pysemantic_spark.operators.skew import salt_expr

        # deterministic entropy (full-row hash by default) — a random or
        # nondeterministic salt used as a shuffle key corrupts data on
        # stage retries
        from pysemantic_spark.operators.skew import hashable_cols
        entropy = tuple(entropy_cols) if entropy_cols else hashable_cols(df)
        out = df.withColumn(
            BUCKET_PART_COL, _bucket_expr_default(bucket_key, n_buckets)
        )
        (
            out.withColumn("_salt", salt_expr(salt_factor, *entropy))
            .repartition(n_buckets * salt_factor, F.col(BUCKET_PART_COL), F.col("_salt"))
            .drop("_salt")
            .write.mode("overwrite")
            .partitionBy(BUCKET_PART_COL)
            .parquet(self.data_dir)
        )
        manifest = Manifest(
            n_buckets=n_buckets, bucket_key=bucket_key,
            table_schema=json.loads(out.schema.json()),
        )
        for b in range(n_buckets):
            manifest.entries[b] = BucketEntry(
                bucket=b, input_fingerprint=self._bucket_fingerprint(b)
            )
        self.save_manifest(manifest)
        return manifest

    def read_buckets(self, spark: SparkSession, buckets: list[int]) -> DataFrame:
        """Partition-pruned scan of the given buckets only.

        The filter on the partition column resolves at the file index —
        `.explain` shows PartitionFilters, zero files from done buckets. The
        scan reads with the schema the manifest keeps, so no Parquet schema
        inference job runs; only a manifest written before the schema was
        kept falls back to inference."""
        reader = spark.read
        schema = self.load_manifest().table_schema
        if schema:
            reader = reader.schema(T.StructType.fromJson(schema))
        return reader.parquet(self.data_dir).filter(F.col(BUCKET_PART_COL).isin(buckets))

    # ---- manifest ---------------------------------------------------------

    def load_manifest(self) -> Manifest:
        with open(self.manifest_path) as f:
            return Manifest.from_json(f.read())

    def save_manifest(self, manifest: Manifest) -> None:
        os.makedirs(os.path.dirname(self.manifest_path), exist_ok=True)
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(manifest.to_json())
        os.replace(tmp, self.manifest_path)  # atomic on POSIX

    def _bucket_fingerprint(self, bucket: int) -> str:
        """Lineage fingerprint: names+sizes of the bucket's data files."""
        d = os.path.join(self.data_dir, f"{BUCKET_PART_COL}={bucket}")
        if not os.path.isdir(d):
            return ""
        parts = sorted(
            f"{fn}:{os.path.getsize(os.path.join(d, fn))}"
            for fn in os.listdir(d)
            if fn.endswith(".parquet")
        )
        import hashlib

        return hashlib.md5("|".join(parts).encode()).hexdigest()


def requalify_buckets(
    io: "ParquetManifestIO", buckets: list[int] | None = None
) -> list[int]:
    """Return quarantined buckets to the validation pool: the operator
    half of the quarantine lifecycle. ``on_drift: quarantine`` parks a
    drifted bucket (status="quarantined"; pending() skips it) until a
    human decides the drift is expected and refreshes the baseline —
    this call then flips the status back to "pending" so the next
    ``run_resumable`` revalidates it against the new baseline.

    ``buckets=None`` requalifies every quarantined bucket; an explicit
    list must name only quarantined buckets (naming a done/pending one
    raises — requalify is a quarantine-release action, not a generic
    status reset; use the CLI validate without --resume for a full
    re-run). The drift evidence recorded in each entry (``drift_counts``
    and ``drift_baseline``) is kept for audit until the bucket is
    revalidated. Returns the buckets requalified."""
    manifest = io.load_manifest()
    quarantined = set(manifest.quarantined())
    if buckets is None:
        targets = sorted(quarantined)
    else:
        bad = [b for b in buckets if b not in quarantined]
        if bad:
            states = {
                b: manifest.entries.get(b, BucketEntry(b)).status for b in bad
            }
            raise ValueError(
                f"requalify: buckets {states} are not quarantined — only "
                f"parked buckets can be requalified (quarantined: "
                f"{sorted(quarantined)})"
            )
        targets = sorted(set(buckets))
    for b in targets:
        manifest.entries[b].status = "pending"
    io.save_manifest(manifest)
    return targets


class IcebergIO:
    """Iceberg-backed variant: same interface, activates when the runtime
    jar + catalog are configured (real cluster). Bucketing uses the native
    `bucket(N, key)` partition transform; lineage rides snapshot ids.

    Not constructible in this sandbox (no jar, no network) — methods raise
    with a clear message so accidental use fails loudly rather than
    silently falling back."""

    def __init__(self, table: str):
        self.table = table

    def _unavailable(self):
        raise RuntimeError(
            "IcebergIO requires iceberg-spark-runtime on the classpath and a "
            "configured catalog; use ParquetManifestIO in jar-less "
            "environments (identical resume semantics)."
        )

    def write_bucketed(self, df: DataFrame, bucket_key: str, n_buckets: int):
        self._unavailable()

    def read_buckets(self, spark: SparkSession, buckets: list[int]):
        self._unavailable()


# ---------------------------------------------------------------------------
# Resumable validation driver
# ---------------------------------------------------------------------------

def _baseline_id(base: dict) -> str:
    """Identity of a loaded drift baseline: md5 of its canonical JSON."""
    import hashlib

    return hashlib.md5(json.dumps(base, sort_keys=True).encode()).hexdigest()


def run_resumable(
    spark: SparkSession,
    io: ParquetManifestIO,
    spec,
    dims: dict[str, DataFrame] | None = None,
    chunk_size: int = 8,
    max_chunks: int | None = None,
    violations_dir: str | None = None,
) -> dict:
    """Validate all pending buckets, checkpointing the manifest per chunk.

    Buckets are processed in chunks of ``chunk_size``; after each chunk the
    manifest is atomically rewritten, so a kill loses at most one chunk of
    work. ``max_chunks`` bounds this run (used by tests to simulate a kill).

    Each bucket's entry keeps its own summary row and drift sketch counts
    from execute()'s partition report, and the id of the baseline the
    counts were binned under; the manifest keeps the summary layout and
    the drift scoring, for :func:`table_report`. The chunk's first bucket
    also keeps the chunk record: ``phase_timings``, and ``n_dup_keys`` and
    ``dupes_path`` of the chunk's duplicate-key groups.

    Drift action (spec ``drift.on_drift``): ``ignore`` records the counts
    and completes the buckets; ``quarantine`` marks status="quarantined"
    exactly the buckets whose OWN counts score drifted, so the parked set
    does not depend on ``chunk_size``. A bucket with no rows is never
    quarantined; one whose drift column is all NULL is drifted (the
    empty-side rule of ``drift._drift_rows``). Parked buckets are NOT
    revalidated on resume (pending() skips them) until an operator
    requalifies them. ``fail`` propagates DriftDetectedError from
    execute(), which scores the chunk's input as a whole, with the chunk
    left pending (at-least-once semantics: rerun revalidates it).

    Returns {"processed": [...buckets], "skipped": [...already-done],
    "quarantined": [...buckets parked this or earlier runs]}.
    """
    from pysemantic_spark.operators.drift import _drift_rows, spec_drift_baseline
    from pysemantic_spark.operators.runner import _summary_schema, execute
    from pysemantic_spark.plans.compiler import CheckPlan, compile_spec

    plan = spec if isinstance(spec, CheckPlan) else compile_spec(spec)
    manifest = io.load_manifest()
    pending = manifest.pending()
    # skipped = verifiably DONE buckets only; quarantined buckets are
    # parked-for-drift, reported separately (disjoint from skipped) so a
    # caller counting skipped as completed never counts drifted data
    skipped = [
        b
        for b in range(manifest.n_buckets)
        if manifest.entries.get(b) is not None
        and manifest.entries[b].status == "done"
    ]
    run_id = uuid.uuid4().hex[:12]
    violations_dir = violations_dir or os.path.join(io.root, "violations")
    scoring, baseline_id = {}, ""
    if plan.drift is not None:
        d = plan.drift
        scoring = {"base": spec_drift_baseline(d), "columns": d.columns,
                   "psi_threshold": d.psi_threshold, "ks_threshold": d.ks_threshold}
        baseline_id = _baseline_id(scoring["base"])
    quarantine = plan.drift is not None and plan.drift.on_drift == "quarantine"

    processed: list[int] = []
    chunks = [
        pending[i:i + chunk_size] for i in range(0, len(pending), chunk_size)
    ]
    if max_chunks is not None:
        chunks = chunks[:max_chunks]

    for chunk in chunks:
        t0 = time.time()
        df = io.read_buckets(spark, chunk).drop(BUCKET_PART_COL)
        sink = os.path.join(violations_dir, f"run={run_id}", f"chunk={chunk[0]}")
        out = execute(
            spark, df, plan, dims=dims, bucket_by=manifest.bucket_key,
            n_buckets=manifest.n_buckets, violations_sink=sink,
        )
        wall = time.time() - t0
        report = out["partition_report"].set_index("bucket")
        manifest.summary_schema = json.loads(_summary_schema(df.schema, plan).json())
        manifest.drift = scoring
        for b in chunk:
            e = manifest.entries.get(b) or BucketEntry(b)
            counts = None
            if b in report.index:
                e.n_rows = int(report.loc[b, "n_rows"])
                e.n_violating_rows = int(report.loc[b, "n_violating_rows"])
                e.passed = bool(report.loc[b, "passed"])
                e.summary = report.loc[b, "summary"]
                counts = report.loc[b, "drift_counts"]
            else:  # bucket empty
                e.n_rows, e.n_violating_rows, e.passed, e.summary = 0, 0, True, ""
            e.drift_counts, e.drift_baseline = counts or [], baseline_id
            drifted = (
                quarantine and counts is not None
                and bool(_drift_rows(counts=counts, **scoring)["drifted"].any())
            )
            e.status = "quarantined" if drifted else "done"
            e.run_id = run_id
            e.wall_time_sec = round(wall / len(chunk), 3)
            e.input_fingerprint = io._bucket_fingerprint(b)
            e.stats = {}
            if b == chunk[0]:
                # the chunk record: per-phase wall clock (a resumed job's
                # operator can spot a degrading phase without any external
                # metrics store) and the chunk's dup-key facts
                e.stats = {
                    "phase_timings": out["timings"],
                    "n_dup_keys": out["n_dup_keys"],
                    "dupes_path": out["dupes_path"],
                }
            manifest.entries[b] = e
        io.save_manifest(manifest)
        processed.extend(chunk)

    return {
        "processed": processed,
        "skipped": skipped,
        "run_id": run_id,
        "quarantined": manifest.quarantined(),
    }


def table_report(io: ParquetManifestIO) -> dict:
    """Table-level report of the done buckets, merged from the summary
    rows stored in their manifest entries with the merge execute() uses
    (runner._report: sums, min of mins, max of maxes, the union of the
    per-bucket theta sketches). A table validated in killed-and-resumed
    chunks therefore reports exactly what one execute() over the same rows
    reports, ``approx_distinct`` included. The buckets must have been
    validated under one spec (the manifest keeps one summary layout).

    Returns dict(n_rows=int, n_violating_rows=int, all_passed=bool,
    stats=pandas, check_counts=pandas, partition_report=pandas,
    drift=pandas or None, drift_excluded=list) with execute()'s columns;
    partition_report lists every done bucket, an empty one with 0 rows,
    where execute() lists only buckets with rows.

    ``drift`` is execute()'s drift rows (``drift._drift_rows``) over the
    summed drift counts of the done buckets, scored with the manifest's
    drift scoring (None when the last run had no ``drift:`` block): sums
    of exact counts, so a resumed table reports what one execute() reports.
    Counts merge only under one baseline: a refreshed baseline bins with
    new lo/hi, so only done buckets whose counts were binned under the
    manifest's current baseline (same ``drift_baseline`` id) enter the
    sum. The other done buckets are named in ``drift_excluded`` (sorted);
    they leave ``drift`` and enter every other number.

    Duplicate keys are NOT merged: each chunk's
    ``n_dup_keys``/``dupes_path`` stay on its chunk record, because a key
    whose copies span chunks is in no chunk's groups (ROADMAP item 1(a)),
    so a sum would undercount. Runs one small Spark job on the active
    session; the stored rows enter it as one JSON literal, so no Python
    worker starts. The drift sums are plain Python, with no Spark job.
    """
    import pandas as pd

    from pysemantic_spark.operators.drift import _drift_rows
    from pysemantic_spark.operators.runner import _JSON_OPTS, _report, _report_frames

    m = io.load_manifest()
    if not m.summary_schema:
        raise ValueError(f"{io.root}: no bucket validated by run_resumable yet")
    done = [m.entries[b] for b in sorted(m.entries) if m.entries[b].status == "done"]
    layout = T.StructType.fromJson(m.summary_schema)
    rows = F.lit("[" + ",".join(e.summary for e in done if e.summary) + "]")
    summary = SparkSession.active().range(1).select(
        F.explode(F.from_json(rows, T.ArrayType(layout), _JSON_OPTS)).alias("s")
    )
    merged = _report(summary.select("s.*"), layout).first()
    stats, check_counts = _report_frames(merged)
    report = pd.DataFrame(
        [(e.bucket, e.n_rows, e.n_violating_rows, bool(e.passed)) for e in done],
        columns=["bucket", "n_rows", "n_violating_rows", "passed"],
    )
    drift, excluded = None, []
    if m.drift:
        bid = _baseline_id(m.drift["base"])
        excluded = [e.bucket for e in done if e.drift_baseline != bid]
        counts = [t for e in done if e.drift_baseline == bid for t in e.drift_counts]
        drift = _drift_rows(counts=counts, **m.drift)
    return {
        "n_rows": merged["n_rows"],
        "n_violating_rows": merged["n_violating_rows"],
        "all_passed": merged["n_violating_rows"] == 0,
        "stats": stats,
        "check_counts": check_counts,
        "partition_report": report,
        "drift": drift,
        "drift_excluded": excluded,
    }
