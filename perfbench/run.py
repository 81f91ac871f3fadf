#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <cdc_steady|board_mix> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the runner
(perfbench/build.py), runs one workload in one JVM with local[N]
(N = min(4, cpus)), and prints as its last stdout line one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end_to_end
metrics of BENCHMARK.json with --trace 0, the per_layer ones with
--trace 1. A traced run also writes its spans to
.bench_build/traces/<workload>-seed<n>.json. Everything the run writes
stays under .bench_build/ in the checkout.

Options for the benchmark's own tests: --size tiny (small inputs),
--plant drop_delete|stale_row|board_value (a planted output defect the
checks must catch).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("cdc_steady", "board_mix")
RUN_LIMIT_S = 175
FIRST_RUN_LIMIT_S = 890

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--size", default="full", choices=("full", "tiny"))
    p.add_argument("--plant", default="none",
                   choices=("none", "drop_delete", "stale_row", "board_value"))
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    t_start = time.monotonic()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    if not (ROOT / "src" / "main" / "scala").is_dir():
        print("perfbench: the program's sources (src/main/scala) are not in this directory",
              file=sys.stderr)
        return 2

    fixture = build.BUILD / "fixture" / "board_sf0.1"
    need_fixture = args.workload == "board_mix" and not (fixture / "_PERFBENCH_FIXTURE_COMPLETE").is_file()
    first = need_fixture or not (build.CLASSES / ".stamp").is_file()
    classes = build.build()
    deadline = t_start + (FIRST_RUN_LIMIT_S if first else RUN_LIMIT_S)

    work = build.BUILD / "work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    traces = build.BUILD / "traces"
    traces.mkdir(parents=True, exist_ok=True)
    # one core stays free for the driver thread, JIT and GC, which this
    # driver-heavy workload keeps busy next to the tasks
    cores = max(1, min(3, (os.cpu_count() or 2) - 1))
    java = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # C1 only: a run lasts about a minute and never reaches C2's
        # steady state, while C2's compile threads compete with the tasks
        # for the cores; with C2 the run-to-run spread was near 33 %
        "-XX:TieredStopAtLevel=1",
        # serial GC: no GC threads compete with the tasks for the cores
        "-XX:+UseSerialGC", "-Xmx3g", "-Xss8m",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
        "-cp", f"{classes}{os.pathsep}{build.spark_jars()}{os.sep}*",
    ])
    argv = [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores), "--work", str(work), "--fixture", str(fixture),
        "--golden", str(HERE / "golden" / "board_mix.json"),
        "--size", args.size, "--plant", args.plant,
    ] + (["--trace-out", str(traces / f"{args.workload}-seed{args.seed}.json")] if args.trace else [])
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep its
    # scratch files inside the checkout either way
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "local"))

    def java_main(cls):
        """Runs one JVM; returns (exit code, stdout), or None on timeout."""
        proc = subprocess.Popen(java + [cls] + argv, cwd=work, env=env, stdout=subprocess.PIPE,
                                stderr=sys.stderr, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(10.0, deadline - time.monotonic()))
            return proc.returncode, out
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()

    try:
        # the board's fixture is an input: generated once per checkout, in
        # a JVM of its own, so it is never part of a measured run
        if need_fixture:
            done = java_main("graft.perfbench.Fixture")
            if done is None or done[0] != 0:
                print("perfbench: generating the board fixture failed", file=sys.stderr)
                return 4
        done = java_main("graft.perfbench.Main")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if done is None:
        print(f"perfbench: {args.workload} did not finish in time", file=sys.stderr)
        return 3
    code, out = done
    if code != 0:
        print(f"perfbench: runner exited with {code}", file=sys.stderr)
        return 4
    lines = [l for l in out.splitlines() if l.startswith('{"correct"')]
    if not lines:
        print("perfbench: runner printed no result", file=sys.stderr)
        return 5
    res = json.loads(lines[-1])
    metrics = {}
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None:
            print(f"perfbench: runner did not measure {m['name']}", file=sys.stderr)
            return 6
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
