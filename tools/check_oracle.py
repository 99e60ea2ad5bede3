"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01; compare row count, schema,
and order-insensitive value hash (columns sorted by name, rows sorted)."""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

# this checkout's package, on the driver and (via PYTHONPATH, when unset)
# on the Python workers, whatever the cwd
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ.setdefault("PYTHONPATH", ROOT)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        col = pdf[c]
        if col.dtype.kind == "f":
            pdf[c] = col.round(6)
        if str(col.dtype).startswith("datetime"):
            pdf[c] = col.astype("datetime64[us]")
    pdf = pdf.astype(str)
    rows = sorted(",".join(r) for r in pdf.itertuples(index=False, name=None))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main(sf_dir: str = "/root/testdata/sf0.01", only: list[str] | None = None) -> int:
    from pysemantic_spark.session import get_spark
    import __spark_entry__ as entrymod

    # no console progress bar: its carriage returns, mixed into the result
    # lines of a combined stdout/stderr log, break `grep '^OK'`
    spark = get_spark(
        app_name="oracle_check",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"rows-only {name}: {len(got)} rows ({dt:.1f}s)")
            continue
        try:
            exp = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:200]}")
            failures += 1
            continue
        problems = []
        if len(got) != len(exp):
            problems.append(f"rows {len(got)} != {len(exp)}")
        if sorted(got.columns) != sorted(exp.columns):
            problems.append(f"cols {sorted(got.columns)} != {sorted(exp.columns)}")
        elif norm_hash(got) != norm_hash(exp):
            problems.append("value hash mismatch")
        if problems:
            failures += 1
            print(f"FAIL {name}: {'; '.join(problems)} ({dt:.1f}s)")
            if len(got) and len(exp) and sorted(got.columns) == sorted(exp.columns):
                g = got[sorted(got.columns)].astype(str)
                e = exp[sorted(exp.columns)].astype(str)
                gs = set(map(tuple, g.itertuples(index=False, name=None)))
                es = set(map(tuple, e.itertuples(index=False, name=None)))
                print("  only-spark:", list(gs - es)[:3])
                print("  only-duck :", list(es - gs)[:3])
        else:
            print(f"OK   {name}: {len(got)} rows ({dt:.1f}s)")
    print("failures:", failures)
    return failures


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--sf-dir", default="/root/testdata/sf0.01", help="parquet fixture dir"
    )
    ap.add_argument(
        "--only", default=None, help="comma-separated query-name filter"
    )
    # positional compatibility: an arg containing a path separator (or
    # starting with '.') is the sf dir; anything else is the query filter.
    # Unlike isdir() sniffing, a filter name that happens to match a
    # directory under the cwd is never mistaken for the data dir.
    ap.add_argument("legacy", nargs="*", help="[sf_dir] [query,names]")
    ns = ap.parse_args()
    sf_dir, only = ns.sf_dir, ns.only.split(",") if ns.only else None
    for a in ns.legacy:
        if os.path.sep in a or a.startswith("."):
            sf_dir = a
        else:
            only = a.split(",")
    raise SystemExit(main(sf_dir=sf_dir, only=only))
