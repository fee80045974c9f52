"""Benchmark-side tracing: timing spans around the engine's public
functions, one Spark job group per op, and readers for Spark's status
store, Catalyst phase tracker and JVM counters.

Nothing here changes the engine. ``install`` replaces public functions
and methods with wrappers that record a span while a traced op is
running and otherwise call straight through. Spans are kept in memory
per op; ``Tracer.finish_op`` turns them, together with the op's Spark
jobs, into an exclusive split of the op's wall time:

- each instant covered by a Spark job of the op counts as ``spark.job_s``;
- each other instant inside a span counts to the innermost span's layer;
- the rest is ``driver.unattributed_s``.

The parts therefore add up to the op's wall time by construction.
"""

from __future__ import annotations

import functools
import importlib
import time
from collections import defaultdict

# (module, attribute or Class.method, layer). Only names that exist are
# wrapped; a missing one is reported in the run's detail line.
SPAN_TARGETS = (
    ("nornicdb_spark.engine", "Engine.cypher", "engine.cypher_s"),
    ("nornicdb_spark.engine", "parse", "cypher.parse_s"),
    ("nornicdb_spark.cypher.compiler", "Compiler.compile", "cypher.compile_s"),
    ("nornicdb_spark.search.bm25", "BM25Index.build", "search.bm25_s"),
    ("nornicdb_spark.search.bm25", "BM25Index.search", "search.bm25_s"),
    ("nornicdb_spark.search.bm25", "BM25Index.search_many", "search.bm25_s"),
    ("nornicdb_spark.search.bm25", "score_exact_candidates", "search.bm25_s"),
    ("nornicdb_spark.search.bm25", "score_many_candidates", "search.bm25_s"),
    ("nornicdb_spark.search.vector", "cosine_topk", "search.vector_s"),
    ("nornicdb_spark.search.vector", "cosine_topk_many", "search.vector_s"),
    ("nornicdb_spark.cypher.store", "GraphStore.create_node", "store.write_s"),
    ("nornicdb_spark.cypher.store", "GraphStore.create_nodes_bulk", "store.write_s"),
    ("nornicdb_spark.cypher.store", "GraphStore.create_edge", "store.write_s"),
    ("nornicdb_spark.cypher.store", "GraphStore.set_props", "store.write_s"),
    ("nornicdb_spark.cypher.store", "GraphStore.set_edge_props", "store.write_s"),
    ("nornicdb_spark.cypher.store", "GraphStore.delete_nodes", "store.write_s"),
    ("nornicdb_spark.streaming.ivf", "MaintainedIVFIndex.process_batch", "streaming.append_s"),
    ("nornicdb_spark.streaming.ivf", "MaintainedIVFIndex.remove_batch", "streaming.remove_s"),
    ("nornicdb_spark.streaming.ivf", "MaintainedIVFIndex.compact", "streaming.compact_s"),
    ("nornicdb_spark.streaming.ivf", "MaintainedIVFIndex.search", "streaming.search_s"),
    ("nornicdb_spark.streaming.ivf", "MaintainedIVFIndex.search_many", "streaming.search_s"),
)

SPAN_LAYERS = tuple(dict.fromkeys(layer for _m, _a, layer in SPAN_TARGETS))
JOB_LAYER = "spark.job_s"
REST_LAYER = "driver.unattributed_s"

# counted, not timed: checkpoints the operators take
CHECKPOINT_TARGETS = (
    ("pyspark.sql.classic.dataframe", "DataFrame.localCheckpoint"),
    ("pyspark.sql.classic.dataframe", "DataFrame.checkpoint"),
)


class Tracer:
    """Per-process span recorder. ``active`` is true only inside a traced
    op, so wrapped functions cost one attribute read otherwise."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.active = False
        self.spans: list[tuple[str, float, float, int]] = []
        self.checkpoints = 0
        self._depth = 0
        self.missing: list[str] = []

    # -- instrumentation -----------------------------------------------------
    def install(self) -> None:
        for mod_name, attr, layer in SPAN_TARGETS:
            self._patch(mod_name, attr, self._span_wrapper(layer))
        for mod_name, attr in CHECKPOINT_TARGETS:
            self._patch(mod_name, attr, self._count_wrapper)

    def _patch(self, mod_name: str, attr: str, make) -> None:
        mod = importlib.import_module(mod_name)
        owner = mod
        parts = attr.split(".")
        for p in parts[:-1]:
            owner = getattr(owner, p, None)
        fn = getattr(owner, parts[-1], None) if owner is not None else None
        if fn is None:
            self.missing.append(f"{mod_name}.{attr}")
            return
        raw = owner.__dict__.get(parts[-1], fn)
        if isinstance(raw, classmethod):
            wrapped = classmethod(make(raw.__func__))
        elif isinstance(raw, staticmethod):
            wrapped = staticmethod(make(raw.__func__))
        else:
            wrapped = make(fn)
        setattr(owner, parts[-1], wrapped)

    def _span_wrapper(self, layer: str):
        tracer = self

        def make(fn):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                if not tracer.active:
                    return fn(*args, **kwargs)
                tracer._depth += 1
                t0 = time.time()
                try:
                    return fn(*args, **kwargs)
                finally:
                    tracer._depth -= 1
                    tracer.spans.append((layer, t0, time.time(), tracer._depth))

            return wrapper

        return make

    def _count_wrapper(self, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer.active:
                tracer.checkpoints += 1
            return fn(*args, **kwargs)

        return wrapper

    # -- per op ----------------------------------------------------------------
    def begin_op(self, group: str) -> None:
        self.spans = []
        self.checkpoints = 0
        self._gc0 = gc_seconds(self.sc)
        self.sc.setJobGroup(group, group)
        self.active = True

    def finish_op(self, group: str, t0: float, t1: float, frames=()) -> dict:
        """Close the op that ran over wall-clock [t0, t1] and return its
        layer record (seconds and counts for this op)."""
        self.active = False
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jobs = _group_jobs(jsc.statusStore(), group)
        rec = defaultdict(float)
        intervals = []
        for job in jobs:
            rec["spark.jobs_per_op"] += 1
            rec["spark.tasks_per_op"] += job["tasks"]
            rec["spark.task_s"] += job["task_s"]
            rec["spark.shuffle_mb"] += job["shuffle_mb"]
            rec["spark.spill_mb"] += job["spill_mb"]
            intervals.append((max(job["start"], t0), min(job["end"], t1)))
        rec.update(split_wall(t0, t1, self.spans, intervals))
        rec["operators.checkpoints_per_op"] = float(self.checkpoints)
        rec["jvm.gc_s"] = gc_seconds(self.sc) - self._gc0
        for df in frames:
            for phase, secs in catalyst_phases(df, t0, t1).items():
                rec[f"catalyst.{phase}_s"] += secs
            rec["spark.python_udf_nodes"] += python_udf_nodes(df)
        return dict(rec)


def split_wall(t0: float, t1: float, spans, jobs) -> dict:
    """Exclusive split of [t0, t1]: job time first, then the innermost
    open span's layer, then unattributed. Returns seconds per layer."""
    cuts = {t0, t1}
    for _l, a, b, _d in spans:
        cuts.update((min(max(a, t0), t1), min(max(b, t0), t1)))
    for a, b in jobs:
        if b > a:
            cuts.update((a, b))
    cuts = sorted(cuts)
    out = defaultdict(float)
    out[JOB_LAYER] += 0.0
    out[REST_LAYER] += 0.0
    for a, b in zip(cuts, cuts[1:]):
        if b <= a:
            continue
        mid = (a + b) / 2
        if any(ja <= mid < jb for ja, jb in jobs):
            out[JOB_LAYER] += b - a
            continue
        best = None
        for layer, sa, sb, depth in spans:
            if sa <= mid < sb and (best is None or depth > best[0]):
                best = (depth, layer)
        out[best[1] if best else REST_LAYER] += b - a
    return dict(out)


def _group_jobs(store, group: str) -> list[dict]:
    out = []
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        g = j.jobGroup()
        if not (g.isDefined() and g.get() == group):
            continue
        start = j.submissionTime()
        end = j.completionTime()
        if not (start.isDefined() and end.isDefined()):
            continue
        rec = {
            "start": start.get().getTime() / 1000.0,
            "end": end.get().getTime() / 1000.0,
            "tasks": 0, "task_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0,
        }
        sit = j.stageIds().iterator()
        while sit.hasNext():
            try:
                st = store.lastStageAttempt(sit.next())
            except Exception:  # stage evicted from the store
                continue
            rec["tasks"] += st.numTasks()
            rec["task_s"] += st.executorRunTime() / 1000.0
            rec["shuffle_mb"] += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / 1e6
            rec["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
        out.append(rec)
    return out


def catalyst_phases(df, t0: float, t1: float) -> dict:
    """Analysis / optimization / planning seconds of a DataFrame's query
    execution, from Catalyst's own phase tracker, counting only phases
    that started inside the op's wall-clock window [t0, t1]. A frame the
    engine's result cache hands back was compiled by an earlier op; its
    phases lie before t0 and count nothing here."""
    out = {}
    try:
        phases = df._jdf.queryExecution().tracker().phases()
    except Exception:  # a frame without a JVM query execution
        return out
    # the JVM clock has millisecond resolution
    lo, hi = t0 * 1000.0 - 1.0, t1 * 1000.0 + 1.0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined() and lo <= opt.get().startTimeMs() <= hi:
            out[name] = opt.get().durationMs() / 1000.0
    return out


def python_udf_nodes(df) -> int:
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    except Exception:
        return 0
    return plan.count("BatchEvalPython") + plan.count("ArrowEvalPython")


def gc_seconds(sc) -> float:
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def cached_mb(sc) -> float:
    """Memory plus disk held by persisted RDDs and checkpoint blocks."""
    return sum(
        (i.memSize() + i.diskSize()) / 1e6 for i in sc._jsc.sc().getRDDStorageInfo()
    )


def steal_ticks() -> tuple[int, int] | None:
    """(steal, total) jiffies from /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()[1:]
    except OSError:
        return None
    vals = [int(x) for x in fields]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(before, after) -> float:
    if before is None or after is None or after[1] <= before[1]:
        return 0.0
    return 100.0 * (after[0] - before[0]) / (after[1] - before[1])
