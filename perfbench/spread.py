#!/usr/bin/env python3
"""Run-to-run spread and tracing overhead of the benchmark.

    python3 perfbench/spread.py --workloads cdc_steady,board_mix --seeds 1-10 [--overhead] [--out f.json]

Runs perfbench/run.py once per (workload, seed), one run at a time, and
prints for every metric its median, quartiles and spread: the distance
between the first and third quartile (statistics.quantiles, n=4) as a
share of the median, next to the end_to_end bound from BENCHMARK.json.
A metric is steady when its spread is below a third of its bound.

With --overhead each seed runs twice, untraced and then traced, and the
report gives the median over seeds of traced minus untraced op wall
(`op_p50_s`), op CPU (`op_cpu_s`) and run wall: the tracing overhead.
The traced run's end-to-end values are read back from its trace file.
Pairing each traced run with an untraced run of the same seed, right
before it, keeps the machine's drift out of the difference.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds(spec: str) -> list:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    t0 = time.monotonic()
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "1" if trace else "0"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.monotonic() - t0
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    values = {k: v["value"] for k, v in res["metrics"].items()}
    if trace:
        counts = json.loads((ROOT / ".bench_build" / "traces" / f"{workload}-seed{seed}.json")
                            .read_text())["counts"]
        values.update({f"traced.{k}": counts[k] for k in ("op_p50_s", "op_cpu_s") if k in counts})
    values["run_wall_s"] = wall
    print(f"{workload} seed {seed}: correct={res['correct']} failed={res['failed']} "
          f"wall={wall:.1f}s", file=sys.stderr)
    return {"correct": res["correct"], "failed": res["failed"], "values": values}


def summary(runs: list, bounds: dict) -> dict:
    out = {}
    for name in runs[0]["values"]:
        xs = [r["values"][name] for r in runs]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0], 0, xs[0])
        spread = (q3 - q1) / med if med else 0.0
        out[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "bound": bounds.get(name)}
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="cdc_steady,board_mix")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("--out")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = a.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {}
    for w in a.workloads.split(","):
        runs, traced = [], []
        for s in seeds(a.seeds):
            runs.append(run(w, s, seconds, False))
            if a.overhead:
                traced.append(run(w, s, seconds, True))
        report[w] = {"runs": runs, "summary": summary(runs, bounds)}
        print(f"\n{w}: {sum(r['correct'] for r in runs)}/{len(runs)} correct")
        for name, s in report[w]["summary"].items():
            flag = ""
            if s["bound"] is not None:
                flag = "steady" if s["spread"] < s["bound"] / 3 else "UNSTEADY"
            print(f"  {name:44s} median {s['median']:<14.6g} spread {s['spread']:7.2%}"
                  f"  bound {s['bound'] if s['bound'] is not None else '-':<5} {flag}")
        if a.overhead:
            report[w]["traced_runs"] = traced
            report[w]["overhead"] = {}
            for k in ("op_p50_s", "op_cpu_s", "run_wall_s"):
                diffs = [t["values"][f"traced.{k}" if k != "run_wall_s" else k] - u["values"][k]
                         for u, t in zip(runs, traced)]
                d = statistics.median(diffs)
                base = report[w]["summary"][k]["median"]
                report[w]["overhead"][k] = {"median_diff": d, "share": d / base, "diffs": diffs}
                print(f"  tracing overhead {k}: {d:+.4f} ({d / base:+.1%} of untraced median)")
    if a.out:
        Path(a.out).write_text(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
