"""CLI: parity with the reference's ``semantic`` command (pysemantic/cli.py)
plus the scale-era ``validate`` job entry for spark-submit.

    python -m pysemantic_spark.cli list
    python -m pysemantic_spark.cli add <project> <specfile>
    python -m pysemantic_spark.cli remove <project>
    python -m pysemantic_spark.cli set-schema <project> <specfile>
    python -m pysemantic_spark.cli add-dataset <project> <dataset> --path P
    python -m pysemantic_spark.cli remove-dataset <project> <dataset>
    python -m pysemantic_spark.cli export <project> <dataset> <outpath>
    python -m pysemantic_spark.cli drift-baseline --source P --columns a,b \
        --out baseline.json [--n-bins 64]
    python -m pysemantic_spark.cli requalify --table T [--bucket N ...]
    python -m pysemantic_spark.cli validate --spec S --dataset D --table T \
        --out OUT [--resume] [--buckets N] [--chunk-size K]

The ``validate`` subcommand is the spark-submit entry:
    spark-submit --py-files pysemantic_spark.zip -m pysemantic_spark.cli ...
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="pysemantic_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list")
    a = sub.add_parser("add"); a.add_argument("project"); a.add_argument("specfile")
    r = sub.add_parser("remove"); r.add_argument("project")
    s = sub.add_parser("set-schema"); s.add_argument("project"); s.add_argument("specfile")
    ad = sub.add_parser("add-dataset")
    ad.add_argument("project"); ad.add_argument("dataset"); ad.add_argument("--path", required=True)
    rd = sub.add_parser("remove-dataset"); rd.add_argument("project"); rd.add_argument("dataset")
    ex = sub.add_parser("export")
    ex.add_argument("project"); ex.add_argument("dataset"); ex.add_argument("outpath")
    ex.add_argument("--format", default="csv")

    b = sub.add_parser("bucketize", help="materialize a hash-bucketed table + manifest")
    b.add_argument("--source", required=True, help="input parquet path")
    b.add_argument("--table", required=True, help="output table root")
    b.add_argument("--bucket-key", required=True)
    b.add_argument("--buckets", type=int, default=64)
    b.add_argument("--salt-factor", type=int, default=4)

    db = sub.add_parser(
        "drift-baseline",
        help="sketch a baseline table for YAML drift: blocks "
             "(numeric → histogram, string/boolean → categorical counts)",
    )
    db.add_argument("--source", required=True, help="baseline parquet path")
    db.add_argument("--columns", required=True,
                    help="comma-separated drift columns")
    db.add_argument("--out", required=True, help="baseline sketch JSON path")
    db.add_argument("--n-bins", type=int, default=64)

    rq = sub.add_parser(
        "requalify",
        help="return quarantined (drift-parked) buckets to the validation "
             "pool after the drift baseline has been refreshed",
    )
    rq.add_argument("--table", required=True, help="bucketed table root")
    rq.add_argument("--bucket", action="append", type=int, default=[],
                    metavar="N", help="bucket id (repeatable; default: all "
                    "quarantined)")

    v = sub.add_parser("validate")
    v.add_argument("--spec", required=True, help="YAML data dictionary")
    v.add_argument("--dataset", required=True, help="dataset name in the spec")
    v.add_argument("--table", required=True, help="bucketed table root (ParquetManifestIO)")
    v.add_argument("--resume", action="store_true")
    v.add_argument("--buckets", type=int, default=64)
    v.add_argument("--chunk-size", type=int, default=8)
    v.add_argument("--dim", action="append", default=[],
                   metavar="NAME=PATH", help="dimension table (repeatable)")

    args = p.parse_args(argv)

    from pysemantic_spark import registry

    if args.cmd == "list":
        for name, specfile in registry.view_projects():
            print(f"{name}\t{specfile}")
        return 0
    if args.cmd == "add" or args.cmd == "set-schema":
        registry.add_project(args.project, args.specfile)
        return 0
    if args.cmd == "remove":
        return 0 if registry.remove_project(args.project) else 1
    if args.cmd == "add-dataset":
        registry.add_dataset(args.project, args.dataset, {"path": args.path})
        return 0
    if args.cmd == "remove-dataset":
        return 0 if registry.remove_dataset(args.project, args.dataset) else 1
    if args.cmd == "export":
        registry.Project(args.project).export_dataset(
            args.dataset, args.outpath, fmt=args.format
        )
        return 0
    if args.cmd == "bucketize":
        return _bucketize(args)
    if args.cmd == "drift-baseline":
        return _drift_baseline(args)
    if args.cmd == "requalify":
        return _requalify(args)
    if args.cmd == "validate":
        return _validate(args)
    return 2


def _requalify(args) -> int:
    # pure manifest edit — no Spark session needed
    from pysemantic_spark.sources.tableio import ParquetManifestIO, requalify_buckets

    io = ParquetManifestIO(args.table)
    try:
        requalified = requalify_buckets(io, args.bucket or None)
        m = io.load_manifest()
    except ValueError as e:
        print(str(e), file=sys.stderr)
        return 1
    except FileNotFoundError as e:
        # bucketize never ran / wrong --table path: operator-facing verbs
        # exit 1 with a message, never a raw traceback
        print(
            f"no checkpoint manifest at {io.manifest_path} ({e}) — run "
            f"`pysemantic-spark bucketize --source … --table {args.table} "
            f"--bucket-key …` first",
            file=sys.stderr,
        )
        return 1
    except OSError as e:
        # other I/O failures (permissions, disk) are NOT a missing
        # manifest — don't mislead the operator (round-6 ADVICE)
        print(f"requalify failed reading {io.manifest_path}: {e}", file=sys.stderr)
        return 1
    print(json.dumps({
        "table": args.table,
        "requalified": requalified,
        "still_quarantined": m.quarantined(),
        "pending": m.pending(),
    }))
    return 0


def _drift_baseline(args) -> int:
    from pysemantic_spark.operators.drift import save_drift_baseline
    from pysemantic_spark.session import get_spark

    spark = get_spark(app_name="pysemantic_spark:drift_baseline")
    df = spark.read.parquet(args.source)
    cols = [c.strip() for c in args.columns.split(",") if c.strip()]
    baseline = save_drift_baseline(df, cols, args.out, n_bins=args.n_bins)
    print(json.dumps({
        "out": args.out, "n_bins": args.n_bins,
        "columns": {c: e["kind"] for c, e in baseline["columns"].items()},
    }))
    return 0


def _bucketize(args) -> int:
    from pysemantic_spark.session import get_spark
    from pysemantic_spark.sources.tableio import ParquetManifestIO

    spark = get_spark(app_name="pysemantic_spark:bucketize")
    df = spark.read.parquet(args.source)
    io = ParquetManifestIO(args.table)
    m = io.write_bucketed(
        df, args.bucket_key, args.buckets, salt_factor=args.salt_factor
    )
    print(json.dumps({"table": args.table, "buckets": m.n_buckets,
                      "bucket_key": m.bucket_key}))
    return 0


def _validate(args) -> int:
    from pysemantic_spark.errors import SpecValidationError
    from pysemantic_spark.operators.drift import spec_drift_baseline
    from pysemantic_spark.operators.runner import _require_dims
    from pysemantic_spark.plans.compiler import compile_spec
    from pysemantic_spark.session import get_spark
    from pysemantic_spark.sources.tableio import ParquetManifestIO, run_resumable, table_report
    from pysemantic_spark.spec import load_spec_file

    specs = load_spec_file(args.spec)
    if args.dataset not in specs:
        print(f"dataset {args.dataset!r} not in {args.spec}", file=sys.stderr)
        return 1
    spec = specs[args.dataset]
    dim_paths = dict(d.split("=", 1) for d in args.dim)
    # before the session starts and a fresh run resets the manifest
    plan = compile_spec(spec)
    try:
        _require_dims(plan, dim_paths)
        if plan.drift is not None:
            spec_drift_baseline(plan.drift)
    except SpecValidationError as e:
        print(f"{args.spec}: {e}", file=sys.stderr)
        return 1
    io = ParquetManifestIO(args.table)
    import os

    if not os.path.exists(io.manifest_path):
        print(
            f"no checkpoint manifest at {io.manifest_path} — run "
            f"`pysemantic-spark bucketize --source … --table {args.table} "
            f"--bucket-key …` first",
            file=sys.stderr,
        )
        return 1
    spark = get_spark(app_name="pysemantic_spark:validate")
    dims = {name: spark.read.parquet(path) for name, path in dim_paths.items()}
    if not args.resume:
        # fresh run: reset manifest statuses by rewriting pending entries
        m = io.load_manifest()
        for e in m.entries.values():
            e.status = "pending"
        io.save_manifest(m)
    try:
        out = run_resumable(spark, io, plan, dims=dims, chunk_size=args.chunk_size)
    except SpecValidationError as e:  # e.g. a drift column past the sketch's category bound
        print(f"{args.spec}: {e}", file=sys.stderr)
        return 1
    report = {
        k: v.to_dict(orient="records") if hasattr(v, "to_dict") else v
        for k, v in table_report(io).items()
    }
    print(json.dumps({
        "processed_buckets": len(out["processed"]),
        "skipped_buckets": len(out["skipped"]),
        "quarantined_buckets": len(out["quarantined"]),
        **report,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
