#!/usr/bin/env python3
"""Self-test of the benchmark: python3 perfbench/selftest.py

Runs every workload untraced and traced, with the vendored sf0.001
catalog and the tiny generated graph, and asserts:

- every end-to-end metric (untraced) and per-layer metric (traced) named
  in BENCHMARK.json is printed, with its unit;
- every operation passes its check;
- tracing adds zero Spark jobs;
- a directory holding only the benchmark exits non-zero and prints no
  result.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _run(cwd: Path, workload: str, trace: int) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--graph-size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    for wl in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            code, lines = _run(ROOT, wl, trace)
            if code != 0 or len(lines) < 2:
                problems.append(f"{wl} trace={trace}: exit {code}, {len(lines)} stdout lines")
                continue
            info, result = json.loads(lines[-2])["perfbench"], json.loads(lines[-1])
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != wanted[trace]:
                problems.append(f"{wl} trace={trace}: metrics differ from BENCHMARK.json: "
                                f"{sorted(set(got) ^ set(wanted[trace]))}")
            if not result["correct"] or result["failed"] or info["errors"]:
                problems.append(f"{wl} trace={trace}: checks failed: {info['errors']}")
            if trace and set(info["traced_jobs_per_pass"]) != set(info["jobs_per_pass"]):
                problems.append(f"{wl}: tracing changed the job count: {info['traced_jobs_per_pass']} "
                                f"vs {info['jobs_per_pass']}")
            print(f"{wl} trace={trace}: ok={not problems} jobs/pass={info['jobs_per_pass']}", flush=True)

    bare = ROOT / ".bench_build" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
        code, lines = _run(bare, spec["workloads"][0]["name"], 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or any(line.startswith('{"correct"') for line in lines):
        problems.append(f"bare directory: exit {code}, printed {lines}")

    for p in problems:
        print("FAIL", p)
    print("selftest", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
