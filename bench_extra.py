"""Round-7 per-query isolation bench (guide §1.4): times individual
declared queries with the noop sink on a warm engine and captures
``explain("formatted")`` plans, WITHOUT touching the frozen ``bench.py``.

Usage:
    python bench_extra.py [--plans DIR] [--sf SF_DIR] [--repeats N] q1 q2 ...

Prints one JSON line {"queries": {name: [sec,...]}, "sf": ...} and, with
--plans, writes DIR/<query>.txt containing the formatted plan.

A 0.2 s spin probe runs between queries and is reported per query
(VERDICT r06 item 8: attribute host-throttle windows per query instead of
poisoning a whole round's numbers).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _spin_probe(target_sec: float = 0.2) -> float:
    """Single-process spin rate relative to a calibrated constant: ~1.0 on
    a healthy host, <0.7 when the sandbox is being throttled."""
    n = 0
    t0 = time.perf_counter()
    deadline = t0 + target_sec
    while time.perf_counter() < deadline:
        for _ in range(10000):
            n += 1
    rate = n / (time.perf_counter() - t0)
    return round(rate / 25_000_000, 3)  # ~25M loops/s on a healthy core


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--plans", default=None, help="dir for explain output")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0"))
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--suffix", default="", help="plan filename suffix, e.g. _before")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from pysemantic_spark.operators.cache import release_intermediates
    from pysemantic_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="bench_extra", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.read.parquet(f"{args.sf}/lineitem.parquet").count()  # warm IO/JVM

    raw = entrymod._RAW_QUERIES
    out: dict[str, list[float]] = {}
    probes: dict[str, float] = {}
    for name in args.names:
        probes[name] = _spin_probe()
        release_intermediates()
        spark.sparkContext.setJobDescription(f"{name}: warmup")
        df = raw[name](spark, args.sf)
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            with open(os.path.join(args.plans, f"{name}{args.suffix}.txt"), "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        _noop(df)  # warmup: codegen/JIT
        runs = []
        for _ in range(args.repeats):
            if name == "cosine_topk_embeddings":
                # each timed repeat computes the top-k, not a replay of the
                # rows the warm-up (or the previous repeat) memoized
                entrymod._EXACT_TOPK_MEMO.clear()
            spark.sparkContext.setJobDescription(f"{name}: timed")
            t0 = time.time()
            _noop(raw[name](spark, args.sf))
            runs.append(round(time.time() - t0, 3))
        out[name] = runs
        release_intermediates()
    print(json.dumps({"queries": out, "spin_probes": probes, "sf": args.sf}))


if __name__ == "__main__":
    main()
