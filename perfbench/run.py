"""The repository benchmark: one workload per process, one closed-loop
client, a seeded schedule of fixed length, a correctness check on every
timed op.

    python3 perfbench/run.py --workload graph_read --seed 1 --seconds 22 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones. The line before it carries the run's detail: the
pinned settings, per-op-type medians and tails, and (traced) the
per-type layer split. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("graph_read", "ingest")
# per-layer metrics and their units, in BENCHMARK.json order
LAYER_UNITS = {
    "spark.session_start_s": "s",
    "catalog.graph_build_s": "s",
    "cypher.parse_s": "s",
    "cypher.compile_s": "s",
    "engine.cypher_s": "s",
    "engine.result_cache_hit_ratio": "ratio",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.job_s": "s",
    "spark.task_s": "s",
    "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.python_udf_nodes": "count",
    "driver.unattributed_s": "s",
    "operators.checkpoints_per_op": "count",
    "operators.cached_mb_end": "MB",
    "jvm.gc_s": "s",
    "store.write_s": "s",
    "streaming.append_s": "s",
    "streaming.remove_s": "s",
    "streaming.compact_s": "s",
    "streaming.files_per_batch": "count",
    "streaming.search_s": "s",
    "search.bm25_s": "s",
    "search.vector_s": "s",
    "host.steal_pct": "%",
    "trace.overhead_ratio": "ratio",
}
# hard limit on one process, below the 180 s a run may take
PROCESS_LIMIT_S = 170.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "smoke"), default="bench")
    return ap.parse_args(argv)


def load_workload(name: str):
    import importlib

    return importlib.import_module(f"perfbench.{name}").Workload


def layer_metrics(log, tracer_missing, extra: dict) -> tuple[dict, dict]:
    """Mean per traced op of every layer figure, the setup-time layers,
    and the per-type split (detail)."""
    import statistics

    from perfbench.harness import geomean
    from perfbench.trace import JOB_LAYER, REST_LAYER, SPAN_LAYERS

    split_keys = (*SPAN_LAYERS, JOB_LAYER, REST_LAYER)
    sums: dict = {}
    per_type: dict = {}
    worst = 0.0
    for op_type, _group, wall, rec in log.traced:
        for k, v in rec.items():
            sums[k] = sums.get(k, 0.0) + v
        t = per_type.setdefault(op_type, {"n": 0, "wall_s": 0.0})
        t["n"] += 1
        t["wall_s"] += wall
        for k in split_keys:
            t[k] = t.get(k, 0.0) + rec.get(k, 0.0)
        worst = max(worst, abs(sum(rec.get(k, 0.0) for k in split_keys) - wall))
    n = max(1, len(log.traced))
    metrics = {k: 0.0 for k in LAYER_UNITS}
    for k, v in sums.items():
        if k in metrics:
            metrics[k] = v / n
    for t in per_type.values():
        cnt = t.pop("n")
        for k in list(t):
            t[k] /= cnt
        t["n"] = cnt
    ratios = {}
    for group, xs in log.untraced.items():
        traced = [w for _t, g, w, _r in log.traced if g == group]
        if xs and traced:
            ratios[group] = statistics.median(traced) / statistics.median(xs)
    metrics["trace.overhead_ratio"] = geomean(list(ratios.values())) if ratios else 1.0
    metrics.update({k: v for k, v in extra.items() if k in metrics})
    detail = {
        "traced_ops": len(log.traced),
        "layer_split_per_type": per_type,
        "split_identity_max_err_s": worst,
        "trace_overhead_per_group": ratios,
        "unwrapped_targets": tracer_missing,
    }
    return metrics, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.seconds < 1:
        print("--seconds must be at least 1", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import nornicdb_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine or its dependencies from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    from perfbench import datagen, harness, trace

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    harness.remove_tree(work)
    data_dir = os.path.join(work, "data")
    spark = None
    try:
        env = harness.pin_environment(work)
        t0 = time.time()
        datagen.generate(data_dir, args.seed, args.scale)
        wl = load_workload(args.workload)(data_dir, args.seed, args.seconds, args.scale)
        inputs_s = time.time() - t0  # the benchmark's own input and reference work

        spark = harness.start_spark(env)
        session_s = time.time() - T_PROCESS - inputs_s
        tracer = None
        if args.trace:
            tracer = trace.Tracer(spark)
            tracer.install()
        wl.setup(spark, work)
        setup_s = time.time() - T_PROCESS - inputs_s

        steal0 = trace.steal_ticks()
        deadline = min(
            time.time() + max(3.0 * args.seconds, args.seconds + 30.0),
            T_PROCESS + PROCESS_LIMIT_S - 15.0,
        )
        log = harness.run_schedule(spark, wl.ops, deadline, tracer)
        steal = trace.steal_pct(steal0, trace.steal_ticks())
        summary = harness.summarize(log)
        extra = {}
        if not log.jvm_lost:
            extra = wl.finish(spark)
            extra["operators.cached_mb_end"] = trace.cached_mb(spark.sparkContext)
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        harness.remove_tree(work)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "settings": {k: v for k, v in env.items() if k != "extra_conf"},
        "schedule_ops": len(wl.ops),
        "deadline_hit": log.deadline_hit,
        "inputs_s": inputs_s,
        "setup_parts_s": {"session": session_s, "graph_build": wl.graph_build_s,
                          "warmup": wl.warmup_s},
        "host.steal_pct": steal,
        "ops_per_s": summary["ops_per_s"],
        "ops_per_s_per_cycle": summary["ops_per_s_per_cycle"],
        "ops_per_s_whole_phase": summary["ops_per_s_whole_phase"],
        "per_type": summary["per_type"],
        "errors": log.errors[:20],
        "jvm_lost": log.jvm_lost,
    }
    for k in ("read_tail_s", "write_p50_s", "write_tail_s"):
        if k in summary:
            detail[k] = summary[k]
    detail.update({k: v for k, v in extra.items() if k not in LAYER_UNITS})
    if args.trace:
        extra.update({
            "spark.session_start_s": session_s,
            "catalog.graph_build_s": wl.graph_build_s,
            "host.steal_pct": steal,
            "engine.result_cache_hit_ratio": (
                wl.cache.hits / wl.cache.attempts if wl.cache.attempts else 0.0
            ),
        })
        values, tdetail = layer_metrics(log, tracer.missing, extra)
        detail.update(tdetail)
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in values.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "ops_per_s": {"value": summary["ops_per_s"], "unit": "1/s"},
            "read_p50_s": {"value": summary.get("read_p50_s", 0.0), "unit": "s"},
        }
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": log.failed == 0 and log.attempted > 0,
        "attempted": max(1, log.attempted),
        "failed": log.failed if log.attempted else 1,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
