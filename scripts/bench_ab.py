"""Interleaved A/B bench — the BENCH_AB standing protocol.

Runs bench.py alternately from two checkouts (A = baseline worktree,
B = current tree), n pairs, alternating order within each pair to cancel
slow-window bias. Records every sample's per-query timings and reports
per-query minimums (the honest engine-cost estimate under multiplicative
host noise, per BENCH_AB_r10.json).

Usage: python scripts/bench_ab.py <dirA> <dirB> <pairs> <out_json>
"""

from __future__ import annotations

import json
import os
import subprocess
import sys


def run_bench(repo_dir: str) -> dict:
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    out = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=repo_dir, env=env, capture_output=True, text=True, timeout=1800,
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main():
    dir_a, dir_b = sys.argv[1], sys.argv[2]
    pairs = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    out_path = sys.argv[4] if len(sys.argv) > 4 else "/tmp/bench_ab.json"
    samples: dict[str, list[dict]] = {"A": [], "B": []}
    for i in range(pairs):
        order = ["A", "B"] if i % 2 == 0 else ["B", "A"]
        for side in order:
            r = run_bench(dir_a if side == "A" else dir_b)
            samples[side].append(r)
            print(f"pair {i + 1} {side}: {r['value']}s", flush=True)

    def mins(side):
        qs = {}
        for s in samples[side]:
            for q, t in s["queries"].items():
                qs[q] = min(qs.get(q, t), t)
        return qs

    ma, mb = mins("A"), mins("B")
    result = {
        "what": "interleaved A/B at sf0.1, per-query minimums protocol",
        "A_dir": dir_a, "B_dir": dir_b,
        "totals_A": [s["value"] for s in samples["A"]],
        "totals_B": [s["value"] for s in samples["B"]],
        "per_query_min_A": ma,
        "per_query_min_B": mb,
        "sum_min_A": round(sum(ma.values()), 3),
        "sum_min_B": round(sum(mb.values()), 3),
        "samples": samples,
    }
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print(f"sum of per-query mins: A={result['sum_min_A']}  B={result['sum_min_B']}")
    for q in sorted(ma, key=lambda q: -(ma[q] - mb.get(q, 0))):
        d = ma[q] - mb.get(q, ma[q])
        print(f"  {q:38s} A={ma[q]:6.3f} B={mb.get(q, float('nan')):6.3f} Δ={d:+.3f}")


if __name__ == "__main__":
    main()
