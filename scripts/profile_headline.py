"""Per-query job/stage attribution for the headline bench.

Runs each headline query with the noop sink (bench methodology), grouped
under a per-query job group, then pulls the UI REST API to attribute
jobs, stages, task time, shuffle read/write and input bytes per query.

Usage: python scripts/profile_headline.py [out_json] [query ...]
Env: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in bench.py.

Two passes like the bench (pass 1 warms the memoized adjacency /
code-gen; pass 2 numbers are the steady-state attribution). Wall time is
the min of the two; task metrics come from pass 2 only.
"""

from __future__ import annotations

import json
import os
import pathlib
import sys
import time
import urllib.request

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from nornicdb_spark import get_spark  # noqa: E402
from nornicdb_spark.queries import QUERIES  # noqa: E402

from bench import HEADLINE  # noqa: E402


def rest(app_url: str, path: str):
    with urllib.request.urlopen(app_url + path, timeout=30) as r:
        return json.load(r)


def main():
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/profile_headline.json"
    names = sys.argv[2:] or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    spark = get_spark(
        app_name="headline-profile", extra_conf={"spark.ui.enabled": "true"}
    )
    sc = spark.sparkContext
    ui = sc.uiWebUrl  # e.g. http://host:4040
    app_id = sc.applicationId
    base = f"{ui}/api/v1/applications/{app_id}"

    def run(name: str, tag: str) -> float:
        sc.setJobGroup(f"{tag}:{name}", name)
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        dt = time.perf_counter() - t0
        sc.setJobGroup("", "")
        return round(dt, 3)

    # warmup (bench does the same)
    run("q1_pricing_summary", "warmup")

    walls: dict[str, list[float]] = {n: [] for n in names}
    for tag in ("p1", "p2"):
        for n in names:
            walls[n].append(run(n, tag))

    # attribute pass-2 jobs/stages per query
    jobs = rest(base, "/jobs?status=succeeded") + rest(base, "/jobs?status=failed")
    stages = {
        s["stageId"]: s
        for s in rest(base, "/stages?status=COMPLETE")
        + rest(base, "/stages?status=FAILED")
    }
    per_q: dict[str, dict] = {}
    for j in jobs:
        group = j.get("jobGroup") or ""
        if not group.startswith("p2:"):
            continue
        qname = group[3:]
        d = per_q.setdefault(
            qname,
            {
                "jobs": 0,
                "stages": 0,
                "tasks": 0,
                "task_time_ms": 0,
                "input_mb": 0.0,
                "shuffle_read_mb": 0.0,
                "shuffle_write_mb": 0.0,
                "spill_disk_mb": 0.0,
            },
        )
        d["jobs"] += 1
        for sid in j.get("stageIds", []):
            s = stages.get(sid)
            if s is None:
                continue  # skipped stage (reused exchange)
            d["stages"] += 1
            d["tasks"] += s.get("numCompleteTasks", 0)
            d["task_time_ms"] += s.get("executorRunTime", 0)
            d["input_mb"] += s.get("inputBytes", 0) / 1e6
            d["shuffle_read_mb"] += s.get("shuffleReadBytes", 0) / 1e6
            d["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / 1e6
            d["spill_disk_mb"] += s.get("diskBytesSpilled", 0) / 1e6
    result = {}
    for n in names:
        d = per_q.get(n, {})
        d = {k: (round(v, 2) if isinstance(v, float) else v) for k, v in d.items()}
        d["wall_s"] = walls[n]
        d["wall_min_s"] = min(walls[n])
        result[n] = d
    result["_total_wall_min_s"] = round(
        sum(min(w) for w in walls.values()), 3
    )
    pathlib.Path(out_path).write_text(json.dumps(result, indent=1))
    print(json.dumps(result, indent=1))


if __name__ == "__main__":
    main()
