"""Steadiness check and smoke test for the benchmark.

    python3 perfbench/steady.py --workload search --seeds 1-5
    python3 perfbench/steady.py --workload ingest --seeds 1-10 --trace
    python3 perfbench/steady.py --smoke

The first form runs one workload once per seed and prints, for every
end-to-end metric, its values, median and quartile spread (IQR / median,
from ``statistics.quantiles(values, n=4)``) against the bound in
BENCHMARK.json. ``--trace`` adds a traced run per seed and prints the
tracing overhead on the op latency. ``--smoke`` runs every workload at a
tiny size, traced and untraced, and fails unless each metric named in
BENCHMARK.json is printed with its unit and sample count; it also checks
that the benchmark refuses to run where the engine is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec(root: str = ROOT) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload: str, seed: int, seconds: float, trace: bool,
             size: str = "full", cwd: str = ROOT, timeout: float = 900):
    """(exit code, stdout lines, parsed result or None)."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))]
    if size != "full":
        cmd += ["--size", size]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=timeout)
    lines = p.stdout.strip().splitlines()
    result = None
    if p.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    return p.returncode, lines, result


def spread(values) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def parse_seeds(text: str):
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in text.split(",")]


def steadiness(args, spec) -> int:
    seeds = parse_seeds(args.seeds)
    seconds = args.seconds or spec["run_seconds"]
    values = {m["name"]: [] for m in spec["end_to_end"]}
    overhead = []
    bad = 0
    for seed in seeds:
        code, lines, res = run_once(args.workload, seed, seconds, trace=False)
        if res is None or not res["correct"]:
            bad += 1
            print(f"seed {seed}: exit {code}, result {res and res['failed']} failed")
            print("\n".join(lines[-15:]))
            continue
        for k in values:
            values[k].append(res["metrics"][k]["value"])
        line = " ".join(f"{k}={res['metrics'][k]['value']:.4g}" for k in values)
        print(f"seed {seed}: attempted={res['attempted']} {line}", flush=True)
        if args.trace:
            _c, _l, tres = run_once(args.workload, seed, seconds, trace=True)
            if tres is not None:
                t = tres["metrics"]["trace.op_p50_ms"]["value"]
                overhead.append(t - res["metrics"]["op_p50_ms"]["value"])
                print(f"seed {seed}: traced op_p50_ms={t:.4g}", flush=True)
    print(f"\n{args.workload}: {len(seeds) - bad}/{len(seeds)} runs correct")
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        if len(xs) < 2:
            continue
        s = spread(xs)
        verdict = "steady" if s < m["bound"] / 3 else ("within" if s <= m["bound"] else "WIDE")
        print(f"  {m['name']:28s} median {statistics.median(xs):12.4f} {m['unit']:7s} "
              f"spread {s:6.3f} bound {m['bound']:.3f} {verdict}")
    if overhead:
        print(f"  tracing overhead on op_p50_ms: median {statistics.median(overhead):.1f} ms "
              f"over {len(overhead)} seed(s)")
    return 1 if bad else 0


METRIC_LINE = re.compile(r"^\s+(\S+)\s+(-?[0-9.]+(?:e[-+]?\d+)?)\s+(\S+)\s+n=(\d+)")


def smoke(spec) -> int:
    problems = []
    for w in spec["workloads"]:
        for trace, key in ((False, "end_to_end"), (True, "per_layer")):
            code, lines, res = run_once(w["name"], 1, 3, trace, size="tiny")
            tag = f"{w['name']} trace={int(trace)}"
            if res is None:
                problems.append(f"{tag}: exit {code}, no result")
                print("\n".join(lines[-20:]))
                continue
            printed = {m.group(1): (m.group(3), int(m.group(4)))
                       for m in map(METRIC_LINE.match, lines) if m}
            want = {m["name"]: m["unit"] for m in spec[key]}
            for name, unit in want.items():
                if name not in printed:
                    problems.append(f"{tag}: {name} not printed")
                elif printed[name][0] != unit:
                    problems.append(f"{tag}: {name} printed as {printed[name][0]}, spec says {unit}")
                got = res["metrics"].get(name)
                if got is None or got["unit"] != unit:
                    problems.append(f"{tag}: {name} missing or wrong unit in the JSON result")
            extra = set(res["metrics"]) - set(want)
            if extra:
                problems.append(f"{tag}: unexpected metrics {sorted(extra)}")
            if not res["correct"]:
                problems.append(f"{tag}: {res['failed']} of {res['attempted']} ops failed")
            print(f"{tag}: {len(want)} metrics checked, attempted={res['attempted']}", flush=True)
    # without the engine beside it, the benchmark must fail and print no result
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, lines, res = run_once(spec["workloads"][0]["name"], 1, 3, False, cwd=bare, timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or res is not None:
        problems.append(f"bare directory: exit {code}, result printed: {res is not None}")
    for p in problems:
        print("PROBLEM:", p)
    print("smoke:", "ok" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    spec = load_spec()
    if args.smoke:
        return smoke(spec)
    if not args.workload:
        ap.error("--workload or --smoke is required")
    return steadiness(args, spec)


if __name__ == "__main__":
    sys.exit(main())
