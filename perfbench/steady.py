"""Steadiness check: repeat one workload over several seeds and report, for
each metric, the median, the quartiles and the spread (Q3 - Q1) / median.

    python3 perfbench/steady.py --workload write_mix --seeds 1-10 [--trace]

Each run is a fresh ``perfbench/run.py`` process with the ``run_seconds``
of BENCHMARK.json. Without ``--trace`` the end-to-end metrics are checked
against their bound from BENCHMARK.json (a spread must stay under a third
of the bound; ``setup_s`` is exempt, as it is one set-up per run). With
``--trace`` the per-layer metrics are summarised and the tracing overhead
is reported against the untraced runs saved by an earlier call. Raw results
are kept in ``.perfbench/steady-<workload>[-trace].json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def summarize(values: list[float]) -> dict[str, float]:
    """Median, quartiles (``statistics.quantiles(n=4)``) and spread."""
    med = statistics.median(values)
    q1, _q2, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def _value(run: dict, name: str) -> float:
    """A metric of an untraced run: from its JSON line, or for a wall-clock
    figure from its report line ``  <name>  <value> <unit> n=<count>``."""
    if name in run["metrics"]:
        return run["metrics"][name]["value"]
    line = next(line for line in run["report"] if line.split()[:1] == [name])
    return float(line.split()[1])


def run_once(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "1" if trace else "0"]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise SystemExit(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["seed"], result["wall_s"] = seed, time.monotonic() - t0
    result["report"] = proc.stdout.strip().splitlines()[:-1]
    return result


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", action="store_true")
    args = p.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for seed in parse_seeds(args.seeds):
        r = run_once(args.workload, seed, bench["run_seconds"], args.trace)
        runs.append(r)
        steal = next((line.split("steal=")[1] for line in r["report"] if "steal=" in line), "?")
        print(f"seed {seed}: correct={r['correct']} failed={r['failed']}/{r['attempted']} "
              f"wall={r['wall_s']:.1f}s host cpu steal={steal}", flush=True)
    out_dir = os.path.join(ROOT, ".perfbench")
    os.makedirs(out_dir, exist_ok=True)
    suffix = "-trace" if args.trace else ""
    with open(os.path.join(out_dir, f"steady-{args.workload}{suffix}.json"), "w") as f:
        json.dump(runs, f, indent=1)

    ok = all(r["correct"] for r in runs)
    print(f"\n{args.workload}: {len(runs)} runs, wall median {statistics.median(r['wall_s'] for r in runs):.1f}s")
    print(f"{'metric':<38} {'median':>14} {'q1':>14} {'q3':>14} {'spread':>8} {'bound':>6}")
    names = list(runs[0]["metrics"]) + ([] if args.trace else ["latency_p50_ms", "latency_p90_ms", "throughput_ops"])
    for name in names:
        s = summarize([_value(r, name) for r in runs])
        bound = None if args.trace else bounds.get(name)
        verdict = ""
        if bound is not None and name != "setup_s":
            steady = s["spread"] < bound / 3
            ok &= steady
            verdict = "ok" if steady else "WIDE"
        print(f"{name:<38} {s['median']:14.3f} {s['q1']:14.3f} {s['q3']:14.3f} {s['spread']:8.3f} "
              f"{bound if bound is not None else '':>6} {verdict}")
    if args.trace:
        untraced = os.path.join(out_dir, f"steady-{args.workload}.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
            pairs = (("cpu_ms_per_op", "trace.cpu_ms_per_op"), ("latency_p50_ms", "latency_p50_ms"))
            for plain_name, traced_name in pairs:
                plain = statistics.median(_value(r, plain_name) for r in base)
                traced = statistics.median(r["metrics"][traced_name]["value"] for r in runs)
                print(f"tracing overhead on {plain_name}: {traced - plain:+.1f} ms ({(traced - plain) / plain:+.1%}) "
                      f"traced median {traced:.1f} vs untraced {plain:.1f}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
