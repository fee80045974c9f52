"""Smoke test of ``bench.py``'s traced row loop: the one-line JSON keeps
its keys, and each row's per-pass layer record splits that pass's wall
time. Runs bench.py in its own Spark process, because it installs the
benchmark tracer's wrappers for the life of the process."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from perfbench.trace import JOB_LAYER, REST_LAYER, SPAN_LAYERS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROWS = ["cypher_orders_pipeline", "graph_pagerank"]


def test_bench_rows_split_their_wall_time(sf_dir):
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_DRIVER_MEM="2g")
    proc = subprocess.run(
        [sys.executable, "bench.py", *ROWS],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert {"metric", "value", "unit", "queries", "sf"} <= set(out)
    assert out["unit"] == "sec"
    assert set(out["queries"]) == set(out["layers"]) == set(ROWS)
    assert out["value"] == round(sum(out["queries"].values()), 3)
    for name, recs in out["layers"].items():
        assert len(recs) == 3, name
        assert out["queries"][name] == min(round(r["wall_s"], 3) for r in recs)
        for rec in recs:
            split = sum(rec.get(k, 0.0) for k in (JOB_LAYER, REST_LAYER, *SPAN_LAYERS))
            assert abs(split - rec["wall_s"]) <= 1e-3, (name, rec)
            assert rec["spark.jobs_per_op"] >= 1, (name, rec)
            assert rec["py4j.commands"] > 0, (name, rec)
            assert rec["catalyst.analysis_s"] is None, (name, rec)
