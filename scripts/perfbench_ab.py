"""Interleaved perfbench A/B between two checkouts of the repository.

Runs ``perfbench/run.py`` for one workload from a parent checkout and a
change checkout, ``pairs`` times, one seed per pair, the side that runs
first alternating pair to pair. Every run's end-to-end metrics, failed
ops and ``host.steal_pct`` go to ``out_json``. It then prints, per
metric, both sides' medians, their quartile spreads (IQR/median), how
many pairs the change won, the quartiles of the change/parent ratio
within pairs, and the verdict against the bounds that the
change checkout's ``BENCHMARK.json`` declares (read, never written).
Per op type it prints both sides' median p50 and the quartiles of the
within-pair p50 ratio, which place a gap in the op types it sits in.
The verdicts:

- *unresolved*: a side's quartile spread is wider than the bound, so
  the runs cannot tell a change inside the bound from noise (unless
  every change run is better than every parent run);
- *worse*: resolved, and the change's median is worse than the
  parent's by more than the bound;
- *gain*: resolved, the change won at least nine of ten pairs, and its
  median is better than the parent's by more than the parent's
  interquartile range;
- *unchanged*: resolved, and neither of the above.

Usage::

    python3 scripts/perfbench_ab.py <parent_dir> <change_dir> <workload> <pairs> <out_json>
        [--seed0 N] [--trace 0|1]

Seeds run from ``--seed0`` (default 101) up, one per pair. With
``--trace 1`` the runs report per-layer metrics instead, which are
recorded and summarised without a verdict.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

RUN_TIMEOUT_S = 240


def run_once(repo_dir: str, bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable if c in ("python", "python3") else c for c in bench["command"]]
    cmd += ["--workload", workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    t0 = time.time()
    out = subprocess.run(cmd, cwd=repo_dir, capture_output=True, text=True,
                         timeout=RUN_TIMEOUT_S)
    lines = [json.loads(l) for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines or "metrics" not in lines[-1]:
        tail = (out.stderr or "").strip().splitlines()[-5:]
        raise RuntimeError(f"no result line from {repo_dir} (exit {out.returncode}): {tail}")
    result, detail = lines[-1], (lines[-2].get("detail", {}) if len(lines) > 1 else {})
    return {
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "host_steal_pct": detail.get("host.steal_pct"),
        "process_s": round(time.time() - t0, 1),
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
        "per_type_p50_s": {t: v["p50_s"] for t, v in detail.get("per_type", {}).items()},
        "layer_split_per_type": detail.get("layer_split_per_type"),
    }


def quartiles(xs: list) -> tuple:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def pair_ratios(runs: list, value) -> list:
    """change/parent ratio of ``value(run)`` within each pair that has
    both sides: host drift across the runs widens both sides' spreads
    but cancels in these ratios."""
    pairs = {}
    for r in runs:
        v = value(r)
        if v is not None:
            pairs.setdefault(r["pair"], {})[r["side"]] = v
    return [v["change"] / v["parent"] for v in pairs.values() if len(v) == 2 and v["parent"]]


def per_type_summary(runs: list) -> dict:
    """Per op type: both sides' median p50 and the quartiles of the
    change/parent p50 ratio within pairs — whether a gap sits in op
    types the change touched or in ones it did not."""
    types = sorted({t for r in runs for t in r.get("per_type_p50_s", {})})
    out = {}
    for t in types:
        row = {}
        for s in ("parent", "change"):
            xs = [r["per_type_p50_s"][t] for r in runs
                  if r["side"] == s and t in r.get("per_type_p50_s", {})]
            if xs:
                row[s] = statistics.median(xs)
        ratios = pair_ratios(runs, lambda r: r.get("per_type_p50_s", {}).get(t))
        if ratios:
            row["pair_ratio_quartiles"] = quartiles(ratios)
            row["pairs"] = len(ratios)
        out[t] = row
    return out


def summarize(runs: list, metrics: list) -> dict:
    out = {}
    for m in metrics:
        name, better, bound = m["name"], m.get("better", "lower"), m.get("bound")
        sides = {s: [r["metrics"][name] for r in runs if r["side"] == s and name in r["metrics"]]
                 for s in ("parent", "change")}
        if not sides["parent"] or not sides["change"]:
            continue
        row = {"better": better, "bound": bound}
        for s, xs in sides.items():
            q1, med, q3 = quartiles(xs)
            row[s] = {"median": med, "iqr": q3 - q1,
                      "spread": (q3 - q1) / med if med else float("inf")}
        p, c = row["parent"]["median"], row["change"]["median"]
        sign = 1.0 if better == "lower" else -1.0
        # positive: the change is worse than the parent
        row["worse_by"] = sign * (c - p) / p if p else 0.0
        pairs = {}
        for r in runs:
            if name in r["metrics"]:
                pairs.setdefault(r["pair"], {})[r["side"]] = r["metrics"][name]
        row["change_wins"] = sum(1 for v in pairs.values()
                                 if len(v) == 2 and sign * (v["change"] - v["parent"]) < 0)
        row["pairs"] = len(pairs)
        ratios = pair_ratios(runs, lambda r: r["metrics"].get(name))
        if ratios:
            row["pair_ratio_quartiles"] = quartiles(ratios)
        # every change run better than every parent run resolves a
        # metric however wide the spreads
        apart = (max(sign * x for x in sides["change"])
                 < min(sign * x for x in sides["parent"]))
        if bound is not None:
            if max(row["parent"]["spread"], row["change"]["spread"]) > bound and not apart:
                row["verdict"] = "unresolved"
            elif row["worse_by"] > bound:
                row["verdict"] = "worse"
            elif (sign * (p - c) > row["parent"]["iqr"]
                  and row["change_wins"] >= 0.9 * row["pairs"]):
                row["verdict"] = "gain"
            else:
                row["verdict"] = "unchanged"
        out[name] = row
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("workload")
    ap.add_argument("pairs", type=int)
    ap.add_argument("out_json")
    ap.add_argument("--seed0", type=int, default=101)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(args.change_dir, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"] if args.trace == 0 else bench["per_layer"]
    dirs = {"parent": os.path.abspath(args.parent_dir),
            "change": os.path.abspath(args.change_dir)}
    runs = []
    for pair in range(args.pairs):
        seed = args.seed0 + pair
        order = ("parent", "change") if pair % 2 == 0 else ("change", "parent")
        for side in order:
            try:
                r = run_once(dirs[side], bench, args.workload, seed, args.trace)
            except (RuntimeError, subprocess.TimeoutExpired) as exc:
                r = {"correct": False, "attempted": 0, "failed": None, "host_steal_pct": None,
                     "metrics": {}, "error": str(exc)[:500]}
            r.update(workload=args.workload, seed=seed, pair=pair, side=side,
                     first=order[0], trace=args.trace)
            runs.append(r)
            shown = {k: round(v, 4) for k, v in r["metrics"].items()
                     if k in {m["name"] for m in bench["end_to_end"]}}
            print(f"pair {pair + 1} seed {seed} {side}: failed={r['failed']} "
                  f"steal={r['host_steal_pct']} {shown or r.get('error', '')}", flush=True)
            with open(args.out_json, "w") as f:
                json.dump({"runs": runs}, f, indent=1)

    summary = summarize(runs, metrics)
    steal = [r["host_steal_pct"] for r in runs if r["host_steal_pct"] is not None]
    result = {
        "what": f"interleaved perfbench A/B, workload {args.workload}, trace {args.trace}",
        "method": (f"{' '.join(bench['command'])} --workload {args.workload} --seed S "
                   f"--seconds {bench['run_seconds']} --trace {args.trace}; seeds "
                   f"{args.seed0}-{args.seed0 + args.pairs - 1}, one per pair, the side that "
                   "runs first alternating pair to pair; spread = IQR/median"),
        "host": {"cpus": os.cpu_count(),
                 "steal_pct_median": statistics.median(steal) if steal else None,
                 "steal_pct_max": max(steal) if steal else None},
        "failed_ops": {s: sum((r["failed"] or 0) for r in runs if r["side"] == s)
                       for s in ("parent", "change")},
        "runs_without_result": sum(1 for r in runs if not r["metrics"]),
        "summary": summary,
        "per_type": per_type_summary(runs),
        "runs": runs,
    }
    with open(args.out_json, "w") as f:
        json.dump(result, f, indent=1)
    print(f"host steal median {result['host']['steal_pct_median']} "
          f"max {result['host']['steal_pct_max']}; failed ops {result['failed_ops']}")
    for name, row in summary.items():
        print(f"  {name:32s} parent {row['parent']['median']:.4g} [{row['parent']['spread']:.3f}]"
              f"  change {row['change']['median']:.4g} [{row['change']['spread']:.3f}]"
              f"  worse_by {row['worse_by']:+.3f}  wins {row['change_wins']}/{row['pairs']}"
              f"  pair ratio {'/'.join(f'{x:.3f}' for x in row.get('pair_ratio_quartiles', ()))}"
              f"  {row.get('verdict', '')}")
    for t, row in result["per_type"].items():
        print(f"  {t:32s} parent p50 {row.get('parent', float('nan')):.4g}"
              f"  change p50 {row.get('change', float('nan')):.4g}"
              f"  pair ratio {'/'.join(f'{x:.3f}' for x in row.get('pair_ratio_quartiles', ()))}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
