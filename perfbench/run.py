"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload validate_resume --seed 1 --seconds 2 --trace 0

Run it from the root of a checkout. Load is one closed-loop client in this
process: calls run back to back on Spark ``local[<cores>]``, with no extra
threads. A run

1. makes the workload's inputs and expected results from ``--seed`` (cached
   under ``.perfbench_work/inputs`` per seed and size);
2. sets up three times: a fresh driver JVM, then two SparkContext restarts
   in it, each followed by the workload's cold first call. ``setup_s`` is
   the median of the three (session start + first call);
3. runs the workload's untimed warm-up passes, for the calls its first
   call leaves cold;
4. runs passes for ``--seconds`` (at least one) and checks every output.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` wraps the
library entry points with spans, alternates untraced and traced passes
(at least three, starting and ending untraced), and reports the per-layer
metrics, including the tracing overhead; the spans are written to
``.perfbench_work/spans``. See ``perfbench/README.md`` for what each
metric means.

The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``. An operation is one
first call or pass; it fails if it raises, if Spark reports a failed
task or job, or if a correctness check mismatches.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

SETUPS = 3

END_TO_END = {"setup_s": "s", "rows_per_s": "rows/s", "peak_rss_mb": "MB"}

DEDUP_OPS = ("ngram_jaccard_pairs", "minhash_lsh_pairs", "simhash_near_dup_pairs",
             "duplicate_clusters")
SIMILARITY_OPS = ("cosine_pairs_exact", "embedding_near_dup_pairs", "ivf_topk")
# Spans whose self time is reported in seconds per iteration (the
# compiler in milliseconds per call). A layer that does no work on a
# workload reads 0 there, as do its counts.
SPANNED = (
    "runner.execute", "drift.spec_drift_report",
    "tableio.write_bucketed", "tableio.read_buckets", "tableio.save_manifest",
    *(f"dedup.{op}" for op in DEDUP_OPS),
    *(f"similarity.{op}" for op in SIMILARITY_OPS),
)
# per-call phases from the ``timings`` that ``execute`` returns
PHASES = {
    "runner.compile_and_plan_s": "compile_and_plan",
    "runner.pass1_s": "pass1_violations_write",
    "runner.pass2_s": "pass2_overlapped",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.first_call_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "iteration_s": "s",
    "compiler.compile_spec_ms": "ms",
    **{f"{name}_s": "s" for name in SPANNED},
    **{name: "s" for name in PHASES},
    "runner.calls": "count",
    "runner.violation_rows": "count",
    "runner.dup_keys": "count",
    "runner.sink_bytes_per_row": "B/row",
    "tableio.ingest_rows_per_s": "rows/s",
    "tableio.files_written": "count",
    "tableio.bytes_written_per_input_byte": "B/B",
    "tableio.chunks": "count",
    "tableio.chunk_s": "s",
    "tableio.chunk_overhead_s": "s",
    **{f"dedup.{op}_rows": "count" for op in DEDUP_OPS},
    "dedup.minhash_recall": "frac",
    **{f"similarity.{op}_rows": "count" for op in SIMILARITY_OPS},
    "similarity.lsh_recall": "frac",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "failed_frac": "frac",
    "trace.overhead_frac": "frac",
}


def host_env(root: Path, work: Path) -> None:
    """Size the session to this host from outside, through the environment
    the library reads; no Spark conf is passed, so the session's own
    defaults stay in force. Everything Spark and the JVM write goes under
    ``work``."""
    with open("/proc/meminfo") as f:
        mem_mb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal")) // 1024
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": f"{max(1024, min(2048, mem_mb // 4))}m",
        # Python workers import the library too
        "PYTHONPATH": os.pathsep.join(filter(None, [str(root), os.environ.get("PYTHONPATH")])),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })


def become_subreaper() -> None:
    """Have orphaned descendants (Python workers whose JVM or daemon has
    exited) handed to this process, so that ``reap_children`` can wait for
    every process the run started."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_spark(spark) -> None:
    """Stop the session and the driver JVM, and wait until the JVM has
    ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def reap_children(timeout: float = 30.0) -> None:
    """Wait until this process has no child left; as a subreaper it then
    has no descendant left either. What outlives ``timeout`` is killed."""
    from spans import descendants

    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in descendants(os.getpid()):
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
        time.sleep(0.05)


def _per(total: float, n: int) -> float:
    return total / n if n else 0.0


def layer_values(tracer, i: int, r, outs: list[dict], jobs: dict) -> dict[str, float]:
    """Per-layer values of one traced iteration."""
    st = tracer.self_times(i)
    v = {f"{name}_s": st.get(name, 0.0) for name in SPANNED}
    v["compiler.compile_spec_ms"] = 1000.0 * _per(
        st.get("compiler.compile_spec", 0.0), tracer.count("compiler.compile_spec", i))
    for metric, phase in PHASES.items():
        v[metric] = _per(sum(o["timings"].get(phase, 0.0) for o in outs), len(outs))
    viol_rows = sum(int(o["check_counts"]["n_violations"].sum()) for o in outs)
    chunks = tracer.count("tableio.read_buckets", i)
    rr = tracer.total("tableio.run_resumable", i)
    v.update({
        "iteration_s": r.wall,
        "runner.calls": len(outs),
        "runner.violation_rows": viol_rows,
        "runner.dup_keys": sum(o["n_dup_keys"] for o in outs),
        "runner.sink_bytes_per_row": _per(r.layer.get("sink_bytes", 0), viol_rows),
        "tableio.chunks": chunks,
        "tableio.chunk_s": _per(rr, chunks),
        "tableio.chunk_overhead_s": _per(
            rr - tracer.total("runner.execute", i, under="tableio.run_resumable"), chunks),
        **{f"spark.{k}": jobs[k] for k in ("jobs", "stages", "tasks")},
    })
    for k in PER_LAYER:
        if k not in v and k in r.layer:
            v[k] = r.layer[k]
    return v


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    root = Path(__file__).resolve().parent.parent
    if not (root / "pysemantic_spark" / "__init__.py").is_file():
        print(f"perfbench: no pysemantic_spark package in {root}", file=sys.stderr)
        return 2
    work = root / ".perfbench_work"
    host_env(root, work)
    become_subreaper()
    sys.path.insert(0, str(root))

    from spans import JobCounter, Tracer, peak_rss_mb
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    tracer = Tracer()
    wl = WORKLOADS[args.workload](args.size, args.seed, work, tracer)
    marks = [("start", time.perf_counter())]
    wl.prepare()
    marks.append(("prepare", time.perf_counter()))

    from pyspark import SparkContext

    from pysemantic_spark.session import get_spark

    attempted = failed = failed_tasks = 0
    errors: list[str] = []

    def account(errs: list[str]) -> None:
        nonlocal attempted, failed
        attempted += 1
        if errs:
            failed += 1
            errors.extend(errs)

    spark = None
    try:
        setups = []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark(app_name="perfbench")
            t1 = time.perf_counter()
            account(wl.first_call(spark))
            setups.append((t1 - t0, time.perf_counter() - t1))
        marks.append(("setup", time.perf_counter()))
        jc = JobCounter(spark.sparkContext)

        def run_pass():
            """One checked pass; it counts as one operation."""
            nonlocal failed_tasks
            wl.exec_outs.clear()
            try:
                r = wl.iteration(spark)
                errs = r.errors
            except Exception:  # counted as a failed operation
                r, errs = None, [traceback.format_exc()]
            tracer.enabled = False
            jobs = jc.delta()
            failed_tasks += jobs["failed_tasks"]
            if jobs["failed_tasks"] or jobs["failed_jobs"]:
                errs = [*errs, f"spark: {jobs}"]
            account(errs)
            return r, jobs

        for _ in range(wl.warmup_passes):
            run_pass()
        marks.append(("warmup", time.perf_counter()))
        if args.trace:
            wl.instrument()

        slots = int(os.environ["SPARK_GRAFT_CPUS"])
        jvm = SparkContext._gateway.proc.pid
        iters, traced, rss = [], [], [peak_rss_mb(slots, jvm)]
        deadline = time.perf_counter() + args.seconds
        # A traced run traces every second pass and ends on an untraced
        # one, so that each traced pass has an untraced pass after it to
        # compare with.
        min_passes = 3 if args.trace else 1
        while (time.perf_counter() < deadline or len(iters) < min_passes
               or (args.trace and len(iters) % 2 == 0)):
            i = len(iters)
            tracer.iteration = i
            tracer.enabled = bool(args.trace) and i % 2 == 1
            r, jobs = run_pass()
            rss.append(peak_rss_mb(slots, jvm))
            iters.append(r)
            if r is not None and args.trace and i % 2 == 1:
                traced.append(layer_values(tracer, i, r, list(wl.exec_outs), jobs))
        marks.append(("measure", time.perf_counter()))
    finally:
        try:
            if args.trace:
                tracer.unwrap_all()
            stop_spark(spark)
            wl.cleanup()
        finally:
            reap_children()
    marks.append(("teardown", time.perf_counter()))

    plain = [r for i, r in enumerate(iters) if r is not None and not (args.trace and i % 2 == 1)]
    if not plain or (args.trace and not traced):
        print("perfbench: no iteration completed", file=sys.stderr)
        print("\n".join(errors[:20]), file=sys.stderr)
        return 1
    rates = [r.rows / r.rate_wall for r in plain]
    summary = {
        "workload": args.workload, "seed": args.seed, "iterations": len(iters),
        "attempted": attempted, "failed": failed, "failed_frac": failed / attempted,
        "rows_per_s": statistics.median(rates),
        "phase_s": {b[0]: round(b[1] - a[1], 2) for a, b in zip(marks, marks[1:])},
        "setups_s": [[round(s, 3), round(f, 3)] for s, f in setups],
        "iteration_s": [round(r.wall, 3) for r in iters if r is not None],
        "jvm_peak_rss_mb": max(j for _, j in rss),
    }
    ingest = [r.layer["tableio.ingest_rows_per_s"] for r in plain
              if "tableio.ingest_rows_per_s" in r.layer]
    if ingest:
        summary["ingest_rows_per_s"] = statistics.median(ingest)

    if args.trace:
        values = {k: statistics.median(t[k] for t in traced) if k in traced[0] else 0.0
                  for k in PER_LAYER}
        values.update({
            "session.start_s": setups[0][0],
            "session.first_call_s": setups[0][1],
            "session.jvm_peak_rss_mb": summary["jvm_peak_rss_mb"],
            "spark.failed_tasks": failed_tasks,
            "failed_frac": failed / attempted,
            # against the untraced passes after the first, which is colder
            "trace.overhead_frac": statistics.median(t["iteration_s"] for t in traced)
            / statistics.median(r.wall for r in plain[1:] or plain) - 1.0,
        })
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
        dump = work / "spans" / f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
        dump.parent.mkdir(parents=True, exist_ok=True)
        dump.write_text(json.dumps({"setups": setups, "spans": tracer.dump()}))
    else:
        values = {
            "setup_s": statistics.median(s + f for s, f in setups),
            "rows_per_s": summary["rows_per_s"],
            "peak_rss_mb": max(p for p, _ in rss),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    if errors:
        print("\n".join(errors[:20]), file=sys.stderr)
    print("summary " + json.dumps(summary))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
