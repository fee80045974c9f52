"""Run the benchmark on sets of seeds and report, per workload and
end-to-end metric, the median, the quartiles and the quartile spread as
a share of the median (``statistics.quantiles(values, n=4)``), next to
the metric's bound from BENCHMARK.json. With two sets it also reports
how far the second set's median is from the first's, in the metric's
worse direction.

    python3 perfbench/steadiness.py --seeds 31-40 --seeds 41-50 [--workloads graph_read] [--out FILE]

Runs are sequential, one process at a time, from the repository root.
The sets are interleaved (first seed of every set, then the second, ...)
so that a host that drifts slower or faster during the measurement
shifts every set alike.
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


def seed_list(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        if "-" in part:
            a, b = part.split("-")
            out.extend(range(int(a), int(b) + 1))
        else:
            out.append(int(part))
    return out


def run_once(cmd: list[str], workload: str, seed: int, seconds: int) -> tuple[dict, float]:
    t0 = time.time()
    proc = subprocess.run(
        [*cmd, "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    result["steal_pct"] = json.loads(lines[-2])["detail"]["host.steal_pct"]
    return result, time.time() - t0


def spread(values: list[float]) -> dict:
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "values": values}


def summarize(runs: list[dict], walls: list[float], bench: dict) -> dict:
    entry = {
        "all_correct": all(r["correct"] and r["failed"] == 0 for r in runs),
        "process_wall_s": spread(walls),
        "host_steal_pct": [r["steal_pct"] for r in runs],
        "metrics": {},
    }
    for m in bench["end_to_end"]:
        s = spread([r["metrics"][m["name"]]["value"] for r in runs])
        s["bound"] = m["bound"]
        s["spread_within_bound"] = s["spread"] <= m["bound"]
        entry["metrics"][m["name"]] = s
    return entry


def measure(bench: dict, workloads: list[str], seed_sets: list[list[int]]) -> list[dict]:
    raw = [{wl: ([], []) for wl in workloads} for _ in seed_sets]
    for i in range(max(len(s) for s in seed_sets)):
        for wl in workloads:
            for k, seeds in enumerate(seed_sets):
                if i >= len(seeds):
                    continue
                res, wall = run_once(bench["command"], wl, seeds[i], bench["run_seconds"])
                raw[k][wl][0].append(res)
                raw[k][wl][1].append(wall)
                print(f"set {k + 1} {wl} seed {seeds[i]}: correct={res['correct']} "
                      f"failed={res['failed']} steal={res['steal_pct']:.1f}% wall={wall:.1f}s "
                      + " ".join(f"{n}={v['value']:.4f}" for n, v in res["metrics"].items()),
                      file=sys.stderr, flush=True)
    return [
        {"seeds": seeds,
         "workloads": {wl: summarize(*raw[k][wl], bench) for wl in workloads}}
        for k, seeds in enumerate(seed_sets)
    ]


def compare(bench: dict, first: dict, second: dict) -> dict:
    """Second set's median against the first's, as a share of the first,
    positive when worse."""
    out = {}
    for wl, entry in second["workloads"].items():
        out[wl] = {}
        for m in bench["end_to_end"]:
            a = first["workloads"][wl]["metrics"][m["name"]]["median"]
            b = entry["metrics"][m["name"]]["median"]
            worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
            out[wl][m["name"]] = {"worse_by": worse, "within_bound": worse <= m["bound"]}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", action="append", required=True,
                    help="a seed set, e.g. 31-40 or 3,5,8; give it twice to compare two sets")
    ap.add_argument("--workloads", default=None, help="comma list; default all")
    ap.add_argument("--out", default=None)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    report = {"run_seconds": bench["run_seconds"],
              "sets": measure(bench, names, [seed_list(s) for s in args.seeds])}
    if len(report["sets"]) > 1:
        report["second_vs_first"] = compare(bench, report["sets"][0], report["sets"][1])
    text = json.dumps(report, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
