"""Maintained graph connectivity index — streaming edge ingest with
incremental weakly-connected components.

The reference keeps its adjacency (and everything derived from it) live
as edges arrive (pkg/storage engine CreateEdge updates the adjacency
maps in place; apoc.algo.wcc then runs over the CURRENT graph). The
batch analogue here (`operators/algorithms.connected_components`)
recomputes labels from scratch in O(diameter) full-edge-set shuffles —
correct, but at 100 TB you cannot re-run it per micro-batch of edges.
:class:`MaintainedGraphIndex` maintains the same component labels
incrementally with per-batch work proportional to the BATCH, not the
corpus, using the classic union-find-as-merge-log formulation:

- ``<path>/nodes``  : (node, src_batch, hk) — every node ever seen,
  partitionBy(hk), ``hk = pmod(xxhash64(node), n_pk)``. Membership
  checks (which batch endpoints are new?) prune to the batch's hk
  buckets — the payload-table pattern of streaming/neardup.py.
- ``<path>/merges`` : (old, new, src_batch, mk) — the union-find forest
  as a parent-pointer log, partitionBy(mk), ``mk = pmod(xxhash64(old),
  n_pk)``. A row (old → new) records that component root ``old`` was
  merged into root ``new`` (always the smaller label — see invariant).
  Resolution chases pointers with mk-pruned joins (``PartitionFilters``,
  plan-tested); nothing ever rewrites the corpus' label rows.

Per micro-batch of n_b edges against a graph of N nodes / E edges:
  resolve    = chase the ≤ 2·n_b batch endpoints through the forest —
               ``depth`` joins, each reading only the frontier labels'
               mk buckets (≤ n_pk dirs; O(n_b·depth) rows touched)
  contract   = map batch edges to resolved roots, drop loops — the
               contracted graph has ≤ n_b edges, ≤ 2·n_b roots
  mini-WCC   = min-label propagation over the CONTRACTED graph only
               (O(contracted diameter) shuffles of ≤ n_b rows)
  append     = merge rows for roots whose label changed (≤ 2·n_b) +
               node rows for unseen endpoints (≤ 2·n_b)
so steady-state ingest is O(n_b · depth) — independent of N and E. The
alternative design (maintain a materialized node→label table) was
rejected because a single merge can relabel an arbitrarily large losing
component, forcing unbounded partition rewrites per batch; the merge
log moves that cost to read time, where :meth:`components` flattens the
forest by pointer doubling in O(log depth) self-joins — the one-shot
analytical read that batch WCC would have paid O(diameter) full-edge
shuffles for.

Label invariant (what makes the incremental result EQUAL the batch
recompute, not just isomorphic to it): merges always point the larger
root at the smaller, so by induction a component's current root is the
MINIMUM node id it contains — exactly
``connected_components``' canonical label. ``stream_graph_wcc`` shares
``graph_connected_components``' DuckDB oracle verbatim on that basis.

Forest depth: a root gains depth only when a LATER batch merges the
root it points at, so depth is bounded by the number of cross-batch
merge generations (adversarial edge orderings can chain it — the
union-by-rank bound is deliberately traded for the min-label
invariant). :meth:`compact` is the antidote: a maintenance-window
flatten of the log to depth 1 (the family's fenced fold; compacted rows
land in the src_batch=-1 era).

Failure model (foreachBatch is at-least-once): resolution EXCLUDES
merge rows the replayed batch itself wrote (``src_batch`` column), so
the recomputed merges/nodes are byte-identical to the first run's, and
both appends are anti-joined against the already-present rows — a
fully-processed batch replays as a no-op, and a batch torn between the
merges append and the nodes append self-heals (the missing rows are
re-derived and appended; present rows are skipped). Guarded commits,
appends and the fold are the shared maintained-table protocol, described
once on ``sources/layout.BatchTable``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nornicdb_spark.operators import scope
from nornicdb_spark.sources.layout import (
    BatchTable,
    MaintainedIndex,
    hash_bucket,
)

__all__ = ["MaintainedGraphIndex"]

# hash-partition bucket count for nodes/merges — one home for the whole
# maintained family (sizing story + cluster retune point live there)
from nornicdb_spark.sources.layout import DEFAULT_N_PK as N_PK


class MaintainedGraphIndex(MaintainedIndex):
    """Streaming union-find over an edge stream: per-batch contracted
    merges into a parent-pointer log, component labels resolved on read.
    Edge direction is ignored (weak connectivity). A fresh path needs no
    bootstrap — every node is its own component until a merge says
    otherwise."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        src_col: str = "src",
        dst_col: str = "dst",
        n_pk: int = N_PK,
        max_depth: int = 64,
    ):
        super().__init__(spark, path)
        self.src_col = src_col
        self.dst_col = dst_col
        self.n_pk = int(n_pk)
        # resolution-chase ceiling: hitting it means the forest needs a
        # compact() (depth grows only via cross-batch merge generations)
        self.max_depth = int(max_depth)
        # chase depth of the most recent _resolve on THIS instance —
        # the per-batch observable that drives the compaction cadence
        self.last_resolve_depth = 0
        self.nodes = BatchTable(
            spark, self.path, f"{self.path}/nodes",
            "node {it}, src_batch bigint, hk int", "hk", id_col="node",
        )
        self.merges = BatchTable(
            spark, self.path, f"{self.path}/merges",
            "old {it}, new {it}, src_batch bigint, mk int", "mk", id_col="old",
        )

    # -- paths / schemas ----------------------------------------------------
    @property
    def nodes_path(self) -> str:
        return self.nodes.path

    @property
    def merges_path(self) -> str:
        return self.merges.path

    def _id_type(self, df: DataFrame, col: str) -> str:
        return df.schema[col].dataType.simpleString()

    def _nodes(self, it: str) -> DataFrame:
        return self.nodes.read(it)

    def _merges(self, it: str, exclude_batch: int | None = None) -> DataFrame:
        df = self.merges.read(it)
        if exclude_batch is not None:
            df = df.filter(F.col("src_batch") != int(exclude_batch))
        return df

    def _hk(self, col: str = "node"):
        return hash_bucket(self.n_pk, col)

    def _mk(self, col: str = "old"):
        return hash_bucket(self.n_pk, col)

    # -- depth metric ---------------------------------------------------------
    # Per-batch resolve cost is O(n_b · depth) pruned joins and each
    # join is a driver round trip, so forest depth is the ingest-latency
    # knob — and only compact() resets it. The latest batch's measured
    # chase depth is persisted beside the guard marker so an operator
    # (or an ingest hook) can apply the cadence rule without replaying
    # anything: compact when chase_depth() > d0 (SCALING.md §maintained;
    # d0 defaults to 8 — resolution stays ≤ 8 joins per batch while
    # compaction itself costs only O(log depth) self-joins of the LOG).
    _DEPTH_MARKER = "_chase_depth"

    def chase_depth(self) -> int | None:
        """Parent-pointer chase depth measured by the LATEST batch's
        resolution (None before any batch has resolved). Decreases only
        via :meth:`compact`."""
        return self.merges.marker(self._DEPTH_MARKER)

    def needs_compact(self, d0: int = 8) -> bool:
        """The compaction cadence rule: True once the latest batch's
        chase depth exceeds ``d0``."""
        d = self.chase_depth()
        return d is not None and d > int(d0)

    # -- resolution ---------------------------------------------------------
    def _resolve(
        self, frontier: DataFrame, it: str, exclude_batch: int | None = None
    ) -> DataFrame:
        """(node) → (node, root): chase the parent-pointer log until no
        pointer matches. Each step reads ONLY the frontier labels' mk
        buckets (literal isin on the partition column → PartitionFilters
        — the IVF-PQ/neardup probe pattern), so a chase touches
        O(|frontier|·depth) rows however big the log is. A label with
        several outgoing pointers (post-compaction shortcuts coexisting
        with originals) may follow any of them — all chains end at the
        same current root — so the step takes min(new) per node for
        determinism."""
        # Job budget: ONE job per chase step. The per-step driver stats —
        # the frontier labels' distinct mk buckets (pruning literals for
        # the NEXT step's pointer scan) and whether anything moved
        # (termination) — come from a single groupBy-collect that also
        # materializes the step's lazy checkpoint. The previous shape
        # (eager checkpoint + mk collect + moved count = 3 jobs/step)
        # tripled the driver round trips for identical results.
        lab = frontier.select("node", F.col("node").alias("lbl")).localCheckpoint(
            eager=False
        )

        def _stats(frame: DataFrame) -> tuple[list[int], bool]:
            rows = (
                frame.groupBy(self._mk("lbl").alias("mk"))
                .agg(F.max("_moved").alias("mv"))
                .collect()
            )
            return [r.mk for r in rows], any(r.mv for r in rows)

        lab = lab.withColumn("_moved", F.lit(False))
        mks, _ = _stats(lab)  # materializes the seed checkpoint too
        self.last_resolve_depth = 0
        try:
            for _ in range(self.max_depth):
                if not mks:
                    break
                ptrs = (
                    self._merges(it, exclude_batch)
                    .filter(F.col("mk").isin(mks))
                    .groupBy("old")
                    .agg(F.min("new").alias("_next"))
                )
                stepped = lab.join(ptrs, lab.lbl == ptrs.old, "left").select(
                    "node",
                    F.coalesce(F.col("_next"), F.col("lbl")).alias("lbl"),
                    F.col("_next").isNotNull().alias("_moved"),
                )
                nxt = stepped.localCheckpoint(eager=False)
                mks, moved = _stats(nxt)  # one job: materialize + stats
                scope.unpersist_frame(lab)
                lab = nxt
                if not moved:
                    break
                self.last_resolve_depth += 1
            else:
                raise RuntimeError(
                    f"merge-forest depth exceeds {self.max_depth}; run "
                    "compact() in a maintenance window"
                )
            return lab.select("node", F.col("lbl").alias("root"))
        finally:
            # caller consumes the RESULT plan, which reads lab's blocks —
            # defer the release to the session registry
            scope.escape_frame(lab)

    # -- per-batch contraction ----------------------------------------------
    @staticmethod
    def _mini_wcc(edges: DataFrame) -> DataFrame:
        """Min-label propagation over the CONTRACTED merge graph (≤ n_b
        edges — tiny relative to the corpus). Returns (old, new) rows
        for roots whose component minimum is a different root."""
        # lazy checkpoints: the per-round changed-count action (and the
        # first round's join) materialize them — one job per round
        # instead of eager-materialize + count
        und = edges.select(
            F.col("ra").alias("s"), F.col("rb").alias("d")
        ).unionByName(edges.select(F.col("rb").alias("s"), F.col("ra").alias("d")))
        und = und.distinct().localCheckpoint(eager=False)
        lab = (
            und.select(F.col("s").alias("id"))
            .distinct()
            .select("id", F.col("id").alias("comp"))
            .localCheckpoint(eager=False)
        )
        try:
            while True:
                nbr_min = (
                    lab.join(und, lab.id == und.s)
                    .groupBy(F.col("d").alias("id"))
                    .agg(F.min("comp").alias("nbr"))
                )
                upd = lab.join(nbr_min, "id", "left").select(
                    "id",
                    F.least(
                        F.col("comp"), F.coalesce(F.col("nbr"), F.col("comp"))
                    ).alias("comp"),
                    (F.coalesce(F.col("nbr"), F.col("comp")) < F.col("comp")).alias(
                        "_chg"
                    ),
                )
                nxt = upd.localCheckpoint(eager=False)
                changed = nxt.filter("_chg").count()
                scope.unpersist_frame(lab)
                lab = nxt
                if changed == 0:
                    break
            return lab.filter(F.col("id") != F.col("comp")).select(
                F.col("id").alias("old"), F.col("comp").alias("new")
            )
        finally:
            scope.unpersist_frame(und)
            scope.escape_frame(lab)

    # -- ingest ---------------------------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body: resolve endpoints → contract → mini-WCC →
        append merges + new nodes, a guarded commit (a stale batch id
        would make the replay anti-join silently drop new merges —
        permanent connectivity corruption — so it is refused)."""
        with self.merges.guarded(batch_id):
            it = self._id_type(batch_df, self.src_col)
            # lazy checkpoints throughout the batch body: each frame is
            # materialized by the FIRST action that needs it (resolution's
            # first stats job pins edges+endpoints, the mini-WCC's first
            # round pins roots, the mk collect pins merges) — the eager
            # variants added one materialization-only job per frame for
            # byte-identical results
            edges = batch_df.select(
                F.col(self.src_col).alias("src"), F.col(self.dst_col).alias("dst")
            ).localCheckpoint(eager=False)
            endpoints = (
                edges.select(F.col("src").alias("node"))
                .unionByName(edges.select(F.col("dst").alias("node")))
                .distinct()
                .localCheckpoint(eager=False)
            )
            roots = self._resolve(
                endpoints, it, exclude_batch=int(batch_id)
            ).localCheckpoint(eager=False)
            self.merges.marker(self._DEPTH_MARKER, self.last_resolve_depth)
            contracted = (
                edges.join(roots.withColumnRenamed("node", "src"), "src")
                .withColumnRenamed("root", "ra")
                .join(
                    roots.select(F.col("node").alias("dst"), F.col("root").alias("rb")),
                    "dst",
                )
                .filter(F.col("ra") != F.col("rb"))
                .select("ra", "rb")
            )
            merges = (
                self._mini_wcc(contracted)
                .withColumn("src_batch", F.lit(int(batch_id)).cast("bigint"))
                .withColumn("mk", self._mk())
                .localCheckpoint(eager=False)
            )
            # replay idempotency: merges this batch already wrote are
            # recomputed byte-identically (resolution excluded them) and
            # skipped; node membership skips every already-seen endpoint
            # (including this batch's own on replay)
            self.merges.append_unseen(merges, batch_id, ["old"], it)
            self.nodes.append_unseen(
                endpoints.withColumn("hk", self._hk()), batch_id, ["node"], it,
                own_batch=False,
            )
        for frame in (edges, endpoints, roots, merges):
            scope.escape_frame(frame)

    def bootstrap(self, edges_df: DataFrame) -> None:
        """(Re)build the index from a static edge corpus: one batch-WCC
        label propagation over the FULL edge set (the one-time cost the
        incremental loop exists to avoid paying per batch), written as a
        depth-1 forest in the src_batch=-1 era — every later batch then
        resolves endpoints in a single pruned join until cross-batch
        merges start chaining. Equivalent to process_batch(all edges,
        -1) but the merge rows land pre-flattened."""
        edges = edges_df.select(
            F.col(self.src_col).alias("ra"), F.col(self.dst_col).alias("rb")
        )
        merges = (
            self._mini_wcc(edges)
            .withColumn("src_batch", F.lit(-1).cast("bigint"))
            .withColumn("mk", self._mk())
        )
        self.merges.write(merges.select(*self.merges.columns), "overwrite")
        nodes = (
            edges.select(F.col("ra").alias("node"))
            .unionByName(edges.select(F.col("rb").alias("node")))
            .distinct()
            .withColumn("src_batch", F.lit(-1).cast("bigint"))
            .withColumn("hk", self._hk())
        )
        self.nodes.write(nodes.select(*self.nodes.columns), "overwrite")
        self.merges.restart_era()

    # -- reads ----------------------------------------------------------------
    def flat_roots(self, it: str) -> DataFrame:
        """(old, root) for every label that was ever merged away —
        the forest flattened by pointer doubling: each round replaces
        every pointer by its target's pointer, so depth halves per
        round (O(log depth) self-joins of the LOG, never the corpus)."""
        # lazy checkpoints — the per-round moved-count materializes them
        # (one job per pointer-doubling round instead of two)
        r = (
            self._merges(it)
            .groupBy("old")
            .agg(F.min("new").alias("root"))
            .localCheckpoint(eager=False)
        )
        try:
            for _ in range(self.max_depth):
                hop = r.select(
                    F.col("old").alias("_o"), F.col("root").alias("_r")
                )
                jumped = r.join(hop, r.root == hop._o, "left").select(
                    "old",
                    F.coalesce(F.col("_r"), F.col("root")).alias("root"),
                    F.col("_r").isNotNull().alias("_moved"),
                )
                nxt = jumped.localCheckpoint(eager=False)
                moved = nxt.filter("_moved").count()
                scope.unpersist_frame(r)
                r = nxt
                if moved == 0:
                    break
            else:
                raise RuntimeError(
                    f"merge-forest depth exceeds 2^{self.max_depth}"
                )
            return r.select("old", "root")
        finally:
            scope.escape_frame(r)

    def components(self, nodes_df: DataFrame | None = None) -> DataFrame:
        """(node, component) over the ingested graph — component = min
        node id, byte-identical to batch ``connected_components`` over
        the same edges. Pass ``nodes_df`` (a ``node`` column) to include
        nodes the edge stream never touched (isolated → singletons)."""
        if nodes_df is not None:
            it = self._id_type(nodes_df, "node")
            nodes = nodes_df.select("node").unionByName(
                self._nodes(it).select("node")
            ).distinct()
        else:
            # infer the id type from the stored table's schema on disk
            it = self.nodes.stored_id_type()
            if it is None:
                raise ValueError(
                    "components(): the index has no stored nodes yet — "
                    "ingest a batch, bootstrap, or pass nodes_df"
                )
            nodes = self._nodes(it).select("node")
        flat = self.flat_roots(it)
        return nodes.join(flat, nodes.node == flat.old, "left").select(
            "node", F.coalesce(F.col("root"), F.col("node")).alias("component")
        )

    # -- maintenance ------------------------------------------------------------
    def compact(self) -> None:
        """Maintenance-window flatten: rewrite the merge log as direct
        (old → current root) rows, depth 1 (resolution chases become a
        single pruned join) — the family's fenced fold; compacted rows
        land in the src_batch=-1 era so no future replay can exclude
        them."""
        cs = scope.CkptScope()
        try:
            folded = self.merges.fold(
                lambda _df, it: cs.ckpt(  # read before overwrite
                    self.flat_roots(it)
                    .select(
                        "old",
                        F.col("root").alias("new"),
                        F.lit(-1).cast("bigint").alias("src_batch"),
                    )
                    .withColumn("mk", self._mk())
                )
            )
        finally:
            cs.finish()
        if folded:
            # the forest is depth 1 now — reset the cadence metric so
            # needs_compact() stops firing until chains regrow
            self.merges.marker(self._DEPTH_MARKER, 1)
