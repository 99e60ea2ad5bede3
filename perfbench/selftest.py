"""Self-test of the benchmark at tiny sizes.

    python3 perfbench/selftest.py

Runs every workload in ``BENCHMARK.json`` untraced and traced at the tiny
size and checks that each run passes its correctness checks and emits
exactly the declared metrics, with ``failed_frac == 0``. Then checks that
a copy holding only ``BENCHMARK.json`` and ``perfbench/`` exits non-zero
without printing a result.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    problems: list[str] = []
    for w in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            before = len(problems)
            p = run(ROOT, w, trace)
            tag = f"{w} --trace {trace}"
            if p.returncode != 0:
                problems.append(f"{tag}: exit {p.returncode}\n{p.stderr[-3000:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            units = {k: v["unit"] for k, v in res["metrics"].items()}
            if units != declared[trace]:
                problems.append(f"{tag}: metrics differ from BENCHMARK.json: "
                                f"{sorted(set(units) ^ set(declared[trace]))}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: {res['failed']} of {res['attempted']} failed"
                                f"\n{p.stderr[-3000:]}")
            if trace and res["metrics"]["failed_frac"]["value"] != 0:
                problems.append(f"{tag}: failed_frac != 0")
            print(f"{tag}: {'ok' if len(problems) == before else 'FAILED'}", flush=True)

    bare = ROOT / ".perfbench_work" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    p = run(bare, bench["workloads"][0]["name"], 0)
    shutil.rmtree(bare)
    if p.returncode == 0 or p.stdout.strip():
        problems.append("a copy without the library did not fail cleanly")

    print("\n".join(problems) or "selftest passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
