#!/usr/bin/env python3
"""spark-graft PR-gate benchmark: one workload, one process, one client.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 5 --trace 0

Runs one operation at a time (a closed loop with one client) on
``local[nproc]``: untimed warm-up passes, then timed passes in a
seed-shuffled order until ``--seconds`` have been measured. Every
collected result is checked afterwards. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` alternates untraced and traced passes
and reports the per-layer metrics. The last stdout line is the JSON
result; the line before it records the environment and the failures.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import procfs  # noqa: E402
import workloads  # noqa: E402
from layers import LAYER_MODULES, Tracer, parse_event_log  # noqa: E402

# Heap for the local driver JVM. The package default (16g) is sized for
# sf10 runs; sf0.001 needs far less, and a small heap keeps the
# machine's shared memory free. (1g made GC, and so CPU, noisier.)
HEAP_MIB = 2048
DRIVER_MEM = f"{HEAP_MIB}m"
END_TO_END = {
    "wall_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MiB",
    "setup_s": "s",
}


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith("task_skew"):
        return "ratio"
    return "count"


PER_LAYER = [
    "session.start_s",
    "session.warmup_s",
    "inputs.gen_s",
    "functions.calls",
    "functions.self_s",
    "queries.build_s",
    "queries.build_jobs",
    "queries.action_s",
    "queries.action_jobs",
    *(
        f"{layer}.{m}"
        for layer in LAYER_MODULES
        if layer != "functions"
        for m in ("calls", "self_s", "jobs")
    ),
    *(
        f"spark.{m}"
        for m in (
            "jobs stages tasks failed_tasks job_s executor_run_s executor_cpu_s gc_s "
            "input_mb shuffle_write_mb shuffle_read_mb spill_mb task_skew"
        ).split()
    ),
    "plan.exchanges",
    "driver.nonjob_s",
    "pyworker.cpu_s",
    "trace.overhead_s",
    "trace.untraced_jobs",
]

# What the per-layer metrics cannot see from outside the package.
UNMEASURED = [
    "functions.jobs: expression builders start no job; the jobs their "
    "expressions run are counted under the operator or queries.action span",
    "per-layer split of executor and Python-worker time: stage metrics go "
    "to the job's innermost layer as a whole (spark.*), worker CPU per pass",
    "driver.nonjob_s does not separate Python, Catalyst planning and py4j",
]


def _git_head() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _pin_environment(runtime: Path, ncpu: int) -> None:
    """Everything the session and its Python workers read from the
    environment, set before the JVM starts."""
    for sub in ("local", "tmp", "events"):
        (runtime / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(ncpu),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": str(runtime / "local"),
            "TMPDIR": str(runtime / "tmp"),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            # Python workers unpickle package functions by import path
            "PYTHONPATH": os.pathsep.join(
                p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    tempfile.tempdir = str(runtime / "tmp")
    sys.path.insert(0, str(ROOT))


def _spark_conf(runtime: Path, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(runtime / "warehouse"),
        # The whole heap is committed and touched at start, so resident
        # memory does not follow the collector's resizing (peak resident
        # memory varied by 15% between runs without it).
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={runtime / 'tmp'} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
        ),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(runtime / "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


class Runner:
    """Runs passes over one workload's operations and keeps their results."""

    def __init__(self, spark, ops: dict, seed: int):
        self.spark = spark
        self.ops = ops
        self.rng = random.Random(seed)
        self.results: dict[str, list] = defaultdict(list)
        self.raised: dict[str, list[str]] = defaultdict(list)
        self.attempted = 0
        self.tracker = spark.sparkContext.statusTracker()

    def _ungrouped_jobs(self) -> set:
        return set(self.tracker.getJobIdsForGroup(None))

    def run_pass(self, tracer: Tracer | None = None, idx: int = 0) -> dict:
        """One pass over every operation in a fresh seeded order."""
        order = self.rng.sample(sorted(self.ops), len(self.ops))
        walls, build_s, action_s = [], 0.0, 0.0
        jobs0 = self._ungrouped_jobs()
        r0 = procfs.TreeReading()
        for name in order:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    df = self.ops[name](self.spark)
                    t1 = time.perf_counter()
                    rows = df.collect()
                else:
                    with tracer.phase(idx, name, "build"):
                        df = self.ops[name](self.spark)
                    t1 = time.perf_counter()
                    with tracer.phase(idx, name, "action"):
                        rows = df.collect()
                t2 = time.perf_counter()
            except Exception:  # noqa: BLE001 - one operation must not end the run
                walls.append(time.perf_counter() - t0)
                self.raised[name].append(traceback.format_exc(limit=3))
                print(f"perfbench: {name} raised\n{self.raised[name][-1]}", file=sys.stderr)
                continue
            walls.append(t2 - t0)
            build_s += t1 - t0
            action_s += t2 - t1
            self.results[name].append(workloads.Result(df, rows))
        r1 = procfs.TreeReading()
        return {
            "wall_s": sum(walls),
            "op_walls": walls,
            "order": order,
            "build_s": build_s,
            "action_s": action_s,
            "cpu_s": r1.cpu_s - r0.cpu_s,
            "pyworker_cpu_s": r1.pyworker_cpu_s - r0.pyworker_cpu_s,
            "untraced_jobs": len(self._ungrouped_jobs() - jobs0),
        }


def _layer_metrics(traced: list[dict], untraced: list[dict], events: dict, setup: dict) -> dict:
    per_pass = []
    for p in traced:
        m = defaultdict(float, events.get(p["idx"], {}))
        for layer in LAYER_MODULES:
            m[f"{layer}.calls"] = p["calls"].get(layer, 0)
            m[f"{layer}.self_s"] = p["self_s"].get(layer, 0.0)
        m["queries.build_s"] = p["build_s"]
        m["queries.action_s"] = p["action_s"]
        m["driver.nonjob_s"] = p["wall_s"] - m["spark.job_s"]
        m["pyworker.cpu_s"] = p["pyworker_cpu_s"]
        per_pass.append(m)
    out = {k: statistics.median(m[k] for m in per_pass) for k in PER_LAYER if k not in setup}
    out.update(setup)
    out["trace.overhead_s"] = statistics.median(p["wall_s"] for p in traced) - statistics.median(
        p["wall_s"] for p in untraced
    )
    out["trace.untraced_jobs"] = statistics.median(p["untraced_jobs"] for p in untraced)
    return out


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit.

    The JVM exits when its stdin closes; its pyspark daemon goes with it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    origin = time.monotonic() - procfs.process_age_s()
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=workloads.NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--graph-size", choices=sorted(workloads.GRAPH_SIZES), default="full",
                    help="graph_distributed input size; 'tiny' is for the self-test")
    args = ap.parse_args(argv)

    needed = [ROOT / "data_mining_map_reduce_spark" / "__init__.py", ROOT / "scripts" / "driver_sim.py"]
    missing = [str(p.relative_to(ROOT)) for p in needed if not p.exists()]
    if missing or not workloads.TABLES:
        print(f"perfbench: not a spark-graft checkout (missing {missing or 'catalog'})", file=sys.stderr)
        return 2

    ncpu = len(os.sched_getaffinity(0))
    runtime = ROOT / ".bench_build" / "perfbench" / f"run-{os.getpid()}"
    try:
        _pin_environment(runtime, ncpu)
        return _run(args, origin, runtime, ncpu)
    finally:
        shutil.rmtree(runtime, ignore_errors=True)


def _run(args, origin: float, runtime: Path, ncpu: int) -> int:
    import pyspark

    env = {
        "nproc": ncpu,
        "git_head": _git_head(),
        "spark": pyspark.__version__,
        "python": sys.version.split()[0],
        "loadavg_start": list(os.getloadavg()),
        "driver_mem": DRIVER_MEM,
    }
    wl = workloads.workload(args.workload, args.graph_size)
    t = time.perf_counter()
    env["inputs"] = wl.prepare(runtime, args.seed)
    inputs_gen_s = time.perf_counter() - t

    from data_mining_map_reduce_spark import session

    t = time.perf_counter()
    spark = session.get_spark(app_name="perfbench", cpus=ncpu, extra_conf=_spark_conf(runtime, bool(args.trace)))
    session_start_s = time.perf_counter() - t
    stopped = False
    try:
        runner = Runner(spark, wl.ops(), args.seed)
        warmup = [runner.run_pass() for _ in range(wl.warmup_passes)]
        setup_s = time.monotonic() - origin

        passes = []
        tracer = Tracer(spark.sparkContext) if args.trace else None
        deadline = time.perf_counter() + args.seconds
        with procfs.PeakRss() as rss:
            while True:
                traced = bool(args.trace) and len(passes) % 2 == 1
                if traced:
                    tracer.reset()
                    tracer.install()
                try:
                    p = runner.run_pass(tracer if traced else None, len(passes))
                finally:
                    if traced:
                        tracer.uninstall()
                p.update(idx=len(passes), traced=traced)
                if traced:
                    p.update(calls=dict(tracer.calls), self_s=dict(tracer.self_s))
                passes.append(p)
                # traced runs measure at least one pass of each kind
                if time.perf_counter() >= deadline and (not args.trace or traced):
                    break
        t = time.perf_counter()
        _stop(spark)
        stopped = True
        stop_s = time.perf_counter() - t
    finally:
        if not stopped:
            _stop(spark)

    t = time.perf_counter()
    errors = {k: list(v) for k, v in runner.raised.items()}
    for name, errs in wl.verify(ROOT, runner.results).items():
        errors.setdefault(name, []).extend(errs)
    verify_s = time.perf_counter() - t
    failed = sum(len(v) for v in errors.values())
    correct = failed == 0

    info = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "env": env,
        "passes": len(passes),
        "ops_per_pass": len(runner.ops),
        # one operation's wall at this sample size, so printed, not gated
        "query_p50_s": statistics.median(w for p in passes if not p["traced"] for w in p["op_walls"]),
        "query_samples": sum(len(p["op_walls"]) for p in passes if not p["traced"]),
        "cold_wall_s": warmup[0]["wall_s"],
        "warmup_wall_s": [p["wall_s"] for p in warmup],
        "warmup_cpu_s": [p["cpu_s"] for p in warmup],
        "op_wall_s": {
            n: statistics.median(w for p in passes if not p["traced"] for o, w in zip(p["order"], p["op_walls"]) if o == n)
            for n in sorted(runner.ops)
        },
        "stop_s": stop_s,
        "verify_s": verify_s,
        "jobs_per_pass": [p["untraced_jobs"] for p in passes if not p["traced"]],
        "pass_wall_s": [p["wall_s"] for p in passes],
        "pass_cpu_s": [p["cpu_s"] for p in passes],
        "failed_ratio": failed / runner.attempted,
        "errors": errors,
    }
    if args.trace:
        traced = [p for p in passes if p["traced"]]
        untraced = [p for p in passes if not p["traced"]]
        logs = list((runtime / "events").iterdir())
        events = parse_event_log(str(logs[0])) if len(logs) == 1 else {}
        setup = {
            "session.start_s": session_start_s,
            "session.warmup_s": sum(p["wall_s"] for p in warmup),
            "inputs.gen_s": inputs_gen_s,
        }
        metrics = _layer_metrics(traced, untraced, events, setup)
        # Tracing must start no job: every traced pass runs exactly the
        # jobs of the untraced passes beside it.
        traced_jobs = [events.get(p["idx"], {}).get("spark.jobs", 0) for p in traced]
        info["traced_jobs_per_pass"] = traced_jobs
        info["unmeasured"] = UNMEASURED
        if set(traced_jobs) != set(info["jobs_per_pass"]):
            correct = False
            info["errors"]["tracing"] = [f"traced passes ran {traced_jobs} jobs, untraced {info['jobs_per_pass']}"]
        units = {k: _unit(k) for k in PER_LAYER}
    else:
        metrics = {
            "wall_s": statistics.median(p["wall_s"] for p in passes),
            "cpu_s": statistics.median(p["cpu_s"] for p in passes),
            # the pre-touched heap is resident whatever the program
            # does, so only the memory beyond it is reported
            "peak_rss_mb": rss.peak_bytes / 2**20 - HEAP_MIB,
            "setup_s": setup_s,
        }
        units = END_TO_END
    print(json.dumps({"perfbench": info}, default=str))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": runner.attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
