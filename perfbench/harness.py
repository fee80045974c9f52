"""Run-time pieces shared by the three workloads: the pinned Spark
environment, the op record, the closed-loop runner and the statistics.

A workload is a list of ``Op``. The runner executes them one after the
other (one closed-loop client), times each from the call until its
result rows are on the driver, checks each result against a reference
prepared before Spark started, and counts exceptions, JVM loss and
wrong results as failed ops.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import tempfile
import time
from dataclasses import dataclass, field
from typing import Callable

DRIVER_MEMORY = "3g"


@dataclass
class Op:
    type: str
    kind: str  # "read" or "write"
    # runs the op; returns (frames for the trace, result value)
    run: Callable[[], tuple[list, object]]
    # True when the value is right
    check: Callable[[object], bool]
    # ops of one group are alike (a type, or a type's cache-hit repeats);
    # a traced run traces every other op of each group
    group: str = ""
    # index of the schedule cycle the op belongs to; every cycle of a
    # schedule has the same op mix
    cycle: int = 0


@dataclass
class RunLog:
    latencies: dict = field(default_factory=dict)  # op type -> [s]
    kinds: dict = field(default_factory=dict)  # op type -> kind
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    traced: list = field(default_factory=list)  # (op type, group, wall_s, layer record)
    untraced: dict = field(default_factory=dict)  # group -> [wall s], trace runs only
    phase_s: float = 0.0
    cycle_s: dict = field(default_factory=dict)  # cycle -> wall s
    cycle_done: dict = field(default_factory=dict)  # cycle -> ops that passed
    jvm_lost: bool = False
    deadline_hit: bool = False


class CacheProbe:
    """Counts ``Engine.cypher`` result-cache hits from outside: a call is
    a hit when it returns the very DataFrame object that the previous
    call with the same (query, params) returned."""

    def __init__(self):
        self.last: dict = {}
        self.hits = 0
        self.attempts = 0

    def cypher(self, engine, query: str, params: dict | None = None):
        df = engine.cypher(query, params)
        key = (query, repr(sorted((params or {}).items())))
        self.attempts += 1
        if self.last.get(key) is df:
            self.hits += 1
        self.last[key] = df
        return df


def pin_environment(work: str) -> dict:
    """Environment for the Spark driver, set before the JVM starts:
    driver memory below box RAM, ``local[nproc]``, and every scratch
    directory (Spark local dirs, JVM and Python temp) under ``work``."""
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # also reaches the launcher JVM that spark-submit starts first
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "master": f"local[{cpus}]",
        "driver_memory": DRIVER_MEMORY,
        "shuffle_partitions": cpus,
        "spark_local_dirs": "<work>/spark-local",
        "java_tmpdir": "<work>/tmp",
        "extra_conf": {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    }


def start_spark(env: dict):
    from nornicdb_spark import get_spark

    return get_spark(
        app_name="perfbench",
        master=env["master"],
        shuffle_partitions=env["shuffle_partitions"],
        extra_conf=env["extra_conf"],
    )


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    except Exception:  # the JVM may already be gone
        pass
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def jvm_alive(spark) -> bool:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc is None or proc.poll() is None


def run_schedule(spark, ops: list[Op], deadline: float, tracer=None) -> RunLog:
    """Closed loop over ``ops``. With a tracer, every other op of each
    group is traced (the first one included), so traced and untraced
    latencies of alike ops come from the same run."""
    log = RunLog()
    seen: dict = {}
    t_phase = time.perf_counter()
    for i, op in enumerate(ops):
        if log.jvm_lost or time.time() > deadline:
            # the rest of a fixed schedule counts as failed, so a run cut
            # short cannot pass as correct
            if not log.jvm_lost and not log.deadline_hit:
                log.deadline_hit = True
                log.errors.append(f"deadline passed before op {i} of {len(ops)}")
            log.attempted += 1
            log.failed += 1
            continue
        log.attempted += 1
        log.kinds[op.type] = op.kind
        group = op.group or op.type
        seen[group] = seen.get(group, 0) + 1
        traced = tracer is not None and seen[group] % 2 == 1
        job_group = f"perfbench-op-{i}"
        if traced:
            tracer.begin_op(job_group)
        w0 = time.time()
        t0 = time.perf_counter()
        ok, frames = False, []
        try:
            frames, value = op.run()
            dt = time.perf_counter() - t0
            w1 = time.time()
            ok = bool(op.check(value))
            if not ok:
                log.errors.append(f"{op.type}#{i}: wrong result")
        except Exception as exc:  # an op failure must not stop the run
            w1 = time.time()
            log.errors.append(f"{op.type}#{i}: {type(exc).__name__}: {str(exc)[:200]}")
            if not jvm_alive(spark) or type(exc).__name__ == "Py4JNetworkError":
                log.jvm_lost = True
        if traced:
            if log.jvm_lost:
                tracer.active = False
            else:
                rec = tracer.finish_op(job_group, w0, w1, frames)
                log.traced.append((op.type, group, w1 - w0, rec))
        # closed loop: the next op starts now, so the cycle's wall time
        # runs up to here
        log.cycle_s[op.cycle] = log.cycle_s.get(op.cycle, 0.0) + time.perf_counter() - t0
        if not ok:
            log.failed += 1
            continue
        log.cycle_done[op.cycle] = log.cycle_done.get(op.cycle, 0) + 1
        log.latencies.setdefault(op.type, []).append(dt)
        if tracer is not None and not traced:
            log.untraced.setdefault(group, []).append(w1 - w0)
    log.phase_s = time.perf_counter() - t_phase
    return log


# -- statistics ---------------------------------------------------------------

def tail_stat(xs: list[float]) -> tuple[float, float] | None:
    """(percentile, value) for the highest percentile that leaves at
    least 10 samples above it; None under 11 samples."""
    n = len(xs)
    if n < 11:
        return None
    s = sorted(xs)
    idx = n - 11  # s[idx] has exactly 10 samples above it
    return 100.0 * (idx + 1) / n, s[idx]


def geomean(xs: list[float]) -> float:
    xs = [x for x in xs if x > 0]
    if not xs:
        return 0.0
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def summarize(log: RunLog) -> dict:
    """End-to-end figures of one run, plus the per-type detail."""
    per_type = {}
    for t, xs in sorted(log.latencies.items()):
        tail = tail_stat(xs)
        per_type[t] = {
            "kind": log.kinds[t],
            "n": len(xs),
            "p50_s": statistics.median(xs),
            "tail_pct": tail[0] if tail else None,
            "tail_s": tail[1] if tail else None,
            "samples_s": [round(x, 4) for x in xs],
        }
    out = {"per_type": per_type}
    done = sum(len(xs) for xs in log.latencies.values())
    out["ops_per_s_whole_phase"] = done / log.phase_s if log.phase_s > 0 else 0.0
    # the median cycle's throughput: a burst of host contention that
    # slows one cycle moves the mean over the phase, not the median
    rates = [log.cycle_done.get(c, 0) / s for c, s in sorted(log.cycle_s.items()) if s > 0]
    out["ops_per_s_per_cycle"] = rates
    out["ops_per_s"] = statistics.median(rates) if rates else 0.0
    for kind in ("read", "write"):
        types = [v for v in per_type.values() if v["kind"] == kind]
        if not types:
            continue
        out[f"{kind}_p50_s"] = geomean([v["p50_s"] for v in types])
        if all(v["tail_s"] is not None for v in types):
            out[f"{kind}_tail_s"] = geomean([v["tail_s"] for v in types])
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
